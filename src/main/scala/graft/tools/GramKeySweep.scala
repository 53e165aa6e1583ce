package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench
import graft.dedup.Dedup
import graft.text.TextFunctions

/** The 8-byte-gram-key scale experiment: the catalog queries keep raw
  * gram STRINGS so the DuckDB oracle mirrors them exactly, but every
  * gram-keyed exchange has a `hashGrams`/hashed-token form that ships
  * xxhash64 longs instead. This sweep runs t21 (source overlap), d15
  * (cross-doc gram stats) and d16 (containment decontamination) in
  * BOTH forms on a scaled corpus with shuffle-byte accounting — the
  * number that matters on a cluster network — so "≈5-10× narrower
  * shuffle" is measured, not claimed. Warm pass2 is the reported row,
  * mirroring the ScaleBench protocol.
  *
  * Usage: runMain graft.tools.GramKeySweep [corpusDir]
  */
object GramKeySweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft-scale100")
    val spark = Bench.session(Bench.cpus)

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

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    def tok = docs.select(col("doc_id"), col("source"),
      array_distinct(TextFunctions.tokens(col("text"))).as("w"))
    def d16(frame: DataFrame): DataFrame = {
      val isBench = col("source").isin("src0", "src1")
      Dedup.containmentJoinAcross(
        frame.filter(!isBench), frame.filter(isBench), "doc_id", "w", 0.9)
        .groupBy(col("a").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
             max(col("containment")).as("max_containment"))
    }

    // BM25 probe terms for the scaled corpus: the catalog t22's fixed
    // terms don't survive the ×N vocabulary remap, so draw 2 frequent
    // + 2 mid-frequency tokens from the corpus itself (computed here,
    // OUTSIDE the timed thunks).
    lazy val bm25Terms: Seq[String] = {
      val freq = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .groupBy("t").count()
      val top = freq.orderBy(col("count").desc, col("t")).limit(2)
        .collect().map(_.getString(0))
      val mid = freq.filter(col("count").between(100, 10000))
        .orderBy("t").limit(2).collect().map(_.getString(0))
      (top ++ mid).toSeq
    }

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "t22 bm25" -> (() =>
        graft.text.Retrieval.bm25TopK(docs, "doc_id", "text",
          bm25Terms, 20)),
      "t21 string" -> (() =>
        Dedup.sourceOverlap(docs, "source", "text", 5)),
      "t21 hashed" -> (() =>
        Dedup.sourceOverlap(docs, "source", "text", 5, hashGrams = true)),
      "d15 string" -> (() =>
        Dedup.crossDocGramStats(docs, "doc_id", "text", 5)),
      "d15 hashed" -> (() =>
        Dedup.crossDocGramStats(docs, "doc_id", "text", 5, hashGrams = true)),
      "d16 string" -> (() => d16(tok)),
      // hashed TOKENS: set containment is key-agnostic, so the whole
      // prefix-filter exchange runs on 8-byte keys
      "d16 hashed" -> (() => d16(tok.withColumn("w",
        transform(col("w"), t => xxhash64(t))))),
      // c10 DSIR: raw-token features (the catalog/oracle form, model
      // state grows with the vocabulary) vs the hashed-feature scale
      // form (state bounded at 2^16 buckets — the paper's regime,
      // rank agreement pinned in DsirSpec)
      "c10 exact" -> (() =>
        graft.text.Mixture.importanceWeights(docs, "doc_id", "text",
            col("source") === graft.text.Mixture.DsirTargetSource)
          .orderBy(col("logratio").desc, col("doc_id"))
          .limit(graft.text.Mixture.DsirTopK)),
      "c10 hashed" -> (() =>
        graft.text.Mixture.importanceWeights(docs, "doc_id", "text",
            col("source") === graft.text.Mixture.DsirTargetSource,
            hashBuckets = 1 << 16)
          .orderBy(col("logratio").desc, col("doc_id"))
          .limit(graft.text.Mixture.DsirTopK)),
      // t23/t24 Gopher repetition: ROW-LOCAL native kernels — the
      // expected scale row is ~linear wall with ZERO shuffle beyond
      // the final global order (per-doc stats never exchange)
      "t23 repetition" -> (() =>
        graft.Queries.all("t23_gopher_repetition")(spark, dir)),
      "t24 linestats" -> (() =>
        graft.Queries.all("t24_line_stats")(spark, dir)))

    // optional arg 2+: run only variants whose name contains a token
    val only = args.drop(1).toSeq
    val selected = if (only.isEmpty) variants
      else variants.filter { case (n, _) => only.exists(n.contains) }
    for (pass <- 1 to 2; (name, mk) <- selected) {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      shuffled.set(0L)
      val t0 = System.nanoTime()
      val n = mk().queryExecution.toRdd.count()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      println(f"[gramkey] $dir pass$pass $name: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows, " +
        f"${shuffled.get / 1048576.0}%.1f MB shuffled)")
    }
    spark.stop()
  }
}
