package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench

/** Dev scaling experiment: replicate the FACT side (orders+lineitem)
  * `factor`× with shifted order keys — dims unchanged, so the
  * fact:dim ratio grows the way a real warehouse grows — and time the
  * headline queries at both scales in one warm session. Near-linear
  * ratios are the evidence that the plans (broadcast star, map-side
  * partial aggs, single-shuffle windows) hold as data outgrows the
  * test SF; a super-linear ratio would flag a hidden quadratic or a
  * broadcast about to tip over.
  *
  * Usage: runMain graft.tools.ScaleBench [srcSf] [factor] [query...]
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val names = if (args.length > 2 && args(2) == "ALL")
      graft.SparkEntry.queries.keys.toSeq.sorted
    else if (args.length > 2) args.drop(2).toSeq
    else Seq("q01_purchase_summary", "q11_daily_items",
             "q19_category_revenue", "q24_median_order_value")
    val dst = s"${sys.props("java.io.tmpdir")}/graft-scale$factor"
    val spark = Bench.session(Bench.cpus)
    // events.parquet carries ns timestamps (see TestData.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val done = new org.apache.hadoop.fs.Path(dst, "_DONE6")
    val fs = done.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(done)) {
      def t(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
      val maxOrder = t("orders").agg(max("o_orderkey")).head().getLong(0) + 1
      val copies = explode(array(Seq.tabulate(factor)(i => lit(i.toLong)): _*))
      t("orders").withColumn("__i", copies)
        .withColumn("o_orderkey", col("o_orderkey") + col("__i") * maxOrder)
        .drop("__i")
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      t("lineitem").withColumn("__i", copies)
        .withColumn("l_orderkey", col("l_orderkey") + col("__i") * maxOrder)
        .drop("__i")
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
      // documents scale with a per-copy VOCABULARY REMAP: stopwords
      // pass through unchanged; every other token maps to a real
      // corpus word vocab[xxhash64(tok) mod W] carrying a copy suffix
      // ("…q<copy>"). Four properties at once:
      //  - within-copy duplicate structure is preserved (the map is a
      //    pure function of the token within a copy, so identical/
      //    overlapping token sets stay identical/overlapping) → dedup
      //    output grows ×factor, not ×factor² (identical-text
      //    replication would merge every dup group across copies);
      //  - copies are mutually dissimilar (content-word images are
      //    DISJOINT across copies — only the ~10 shared stopwords
      //    overlap, cross-copy jaccard ≈ 0.03 ≪ any pair threshold);
      //  - VOCABULARY GROWS WITH THE CORPUS (Heaps-style: ×factor
      //    content vocabulary) and per-word document frequency stays
      //    at its base-corpus level, so the Zipf tail that rare-first
      //    prefix filtering (PPJoin j01/j02/d11) depends on survives
      //    the scale-up. The earlier copy-seeded remap collapsed the
      //    whole ×100 corpus onto ONE 2000-word vocabulary — every
      //    token common, every prefix bucket hot — which measures the
      //    operators against a vocabulary pathology no natural corpus
      //    (Heaps' law) exhibits; that ceiling is kept in BENCH_NOTES
      //    as an adversarial stress row, not as the scaling number;
      //  - the text stays STATISTICALLY NATURAL — stopword mass is
      //    untouched and content tokens are real corpus words (plus a
      //    short suffix), so quality scoring, stopword ratios, and
      //    char-n-gram language ID behave as on real data and the
      //    curation pipelines (c01/c02/c06) keep their selectivity
      //    (the earlier tag-prefix transform zeroed the stopword
      //    ratio and the filters dropped every doc).
      val maxDoc = t("documents").agg(max("doc_id")).head().getLong(0) + 1
      val vocab = t("documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("__t"))
        .groupBy("__t").count().orderBy(desc("count"), asc("__t")).limit(2000)
        .collect().map(_.getString(0))
      val vocabLit = array(vocab.toIndexedSeq.map(lit): _*)
      val stopLit = array(
        graft.text.TextFunctions.EnglishStopwords.map(lit): _*)
      t("documents").withColumn("__i", copies)
        .withColumn("doc_id", col("doc_id") + col("__i") * maxDoc)
        .withColumn("text", array_join(
          transform(split(col("text"), "\\s+"), tok =>
            when(array_contains(stopLit, lower(tok)), tok)
              .otherwise(concat(
                element_at(vocabLit,
                  (pmod(xxhash64(tok), lit(vocab.length)) + 1)
                    .cast("int")),
                lit("q"), col("__i")))), " "))
        .drop("__i")
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      // customer scales with COPY-ISOLATED names: each copy's names are
      // prefixed with its copy digit repeated 3× ("000_", "111_", …), so
      // within-copy edit-distance structure is preserved exactly (a
      // shared prefix shifts every deletion variant identically) while
      // cross-copy name distance is ≥ 3 — outside j02's radius. True
      // fuzzy-pair output grows ×factor (linear), like documents. The
      // extra customers are unreferenced by orders, so inner-join
      // queries (q53/q55) keep their semantics and merely scan more.
      val maxCust = t("customer").agg(max("c_custkey")).head().getLong(0) + 1
      t("customer").withColumn("__i", copies)
        .withColumn("c_custkey", col("c_custkey") + col("__i") * maxCust)
        .withColumn("c_name",
          concat(repeat(col("__i").cast("string"), 3), lit("_"), col("c_name")))
        .drop("__i")
        .write.mode("overwrite").parquet(s"$dst/customer.parquet")
      // events scale with COPY-SHIFTED ids: per-user session/sequence
      // structure (sessionize, last-event-per-user, interval joins) is
      // preserved exactly within each copy, keyed output grows
      // ×factor; time-bucketed aggregates keep their group count and
      // get ×factor denser buckets — the realistic "same window, more
      // traffic" growth shape.
      val maxEvt = t("events").agg(max("event_id")).head().getLong(0) + 1
      val maxUser = t("events").agg(max("user_id")).head().getLong(0) + 1
      t("events").withColumn("__i", copies)
        .withColumn("event_id", col("event_id") + col("__i") * maxEvt)
        .withColumn("user_id", col("user_id") + col("__i") * maxUser)
        .drop("__i")
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      // embeddings stay at base size here — their ×10 discipline
      // (sign-flip gapless + planted linear-output modes) lives in
      // EmbeddingScaleBench; copying them through keeps the e/s
      // queries runnable at dst for end-to-end catalog sweeps.
      for (n <- Seq("region", "nation", "supplier", "part", "embeddings"))
        t(n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
      fs.create(done).close()
    }

    // wall time on 32 local cores is fixed-cost-bound; the metric that
    // scales with cluster network is shuffle bytes — account both
    // (the BloomCrossoverBench listener)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffled.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    for (dir <- Seq(src, dst); pass <- 1 to 2; name <- names) {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      shuffled.set(0L)
      val t0 = System.nanoTime()
      // full materialization (not count()): count on top would let
      // Catalyst prune computed columns that don't affect cardinality.
      // Guarded operators may REFUSE at scale instead of running (the
      // d04 exact-decontamination budget): record the refusal as the
      // row — it is the designed behavior, not a sweep failure.
      try {
        val n = graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.toRdd.count()
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        println(f"[scale] $dir pass$pass $name: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, " +
          f"${shuffled.get / 1048576.0}%.1f MB shuffled)")
      } catch {
        case e: IllegalArgumentException =>
          println(s"[scale] $dir pass$pass $name: REFUSED " +
            s"(${e.getMessage.takeWhile(_ != '.')})")
      }
    }

    // Bucket-boundedness probes: the d02/j02 hot paths materialize one
    // collect_list ARRAY per bucket inside the agg buffer, so the
    // number that must stay modest as data scales is the LARGEST
    // actual bucket — d02's emission is additionally capped at
    // maxBucket (over-cap buckets take the min-anchor star), j02's is
    // bounded by deletion-key selectivity. Print the distribution tail
    // at both scales so "stays bounded" is measured, not assumed.
    def bucketStats(what: String, counts: DataFrame): Unit = {
      val r = counts.agg(max("cnt").as("mx"),
        expr("percentile_approx(cnt, 0.999)").as("p999"),
        sum(when(col("cnt") > 200, 1L).otherwise(0L)).as("over200"),
        count(lit(1)).as("buckets")).head()
      println(s"[scale] $what: maxBucket=${r.get(0)} p999=${r.get(1)} " +
        s"over200=${r.get(2)} buckets=${r.get(3)}")
    }
    for (dir <- Seq(src, dst)) {
      if (names.contains("d02_minhash_neardups")) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        bucketStats(s"$dir d02 band-buckets",
          graft.dedup.Dedup.bandSignatures(docs, "doc_id", "text", 1, 32, 4)
            .select(posexplode(col("__bk")).as(Seq("band", "key")))
            .groupBy("band", "key").agg(count(lit(1)).as("cnt")))
      }
      if (names.contains("j02_fuzzy_name_pairs")) {
        val cust = spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_name").as("__s"))
        bucketStats(s"$dir j02 deletion-key buckets",
          cust.select(explode(array_union(
              array(col("__s")),
              transform(sequence(lit(1), length(col("__s"))), i =>
                concat(col("__s").substr(lit(1), i - 1),
                       col("__s").substr(i + 1, length(col("__s")))))))
            .as("__key"))
            .groupBy("__key").agg(count(lit(1)).as("cnt")))
      }
    }
    spark.stop()
  }
}
