package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TestData
import graft.text.TextFunctions

/** Semantics of the round-4 curation operators beyond the oracle's
  * hash check: packing invariants, sample determinism under
  * repartitioning, and frame-window reassembly. */
class CurationSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  test("t12: sequences are contiguous, disjoint doc-id ranges per source") {
    val out = Queries.all("t12_sequence_packing")(spark, sf)
      .orderBy("source", "seq_id").collect()
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      // ranges [first_doc, last_doc] must be strictly increasing and
      // non-overlapping in seq order, with n_docs covering the range
      // exactly (doc_ids are dense per source in seq order).
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(1) < b.getLong(1), "seq_ids increase")
          assert(a.getLong(5) < b.getLong(4),
            s"ranges overlap: ${a.mkString(",")} vs ${b.mkString(",")}")
        case _ => ()
      }
    }
  }

  test("t12: every multi-doc sequence stays under the 2048-token budget at entry") {
    // A doc is packed into the sequence where it STARTS, so for every
    // doc the start offset (cum - tok) lies inside its sequence's
    // window [seq*2048, (seq+1)*2048).
    val docs = TestData.table(spark, sf, "documents")
      .select(col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val checked = docs
      .withColumn("start", sum(col("tok")).over(w) - col("tok"))
      .withColumn("seq", floor(col("start") / 2048L))
      .filter(col("start") < col("seq") * 2048L ||
              col("start") >= (col("seq") + 1) * 2048L)
    assert(checked.count() == 0)
  }

  test("d07: exactly k per source, stable under repartitioning") {
    val out = Queries.all("d07_stratified_sample")(spark, sf)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.nonEmpty)
    perSource.foreach(r => assert(r.getLong(1) == 5L,
      s"source ${r.getString(0)} sampled ${r.getLong(1)} docs"))

    // determinism: same picks regardless of input partitioning
    val a = out.collect().map(_.toString).sorted
    val repart = TestData.table(spark, sf, "documents").repartition(7)
    repart.createOrReplaceTempView("graft_curation_docs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val b = repart
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("pick_hash"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 5)
      .select(col("source"), col("doc_id"), col("pick_hash"),
        col("__rn").cast("long").as("sample_rank"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("d08: weighted sample — k per source, driver-exact priority, weight bias") {
    val out = Queries.all("d08_weighted_sample")(spark, sf).cache()
    try {
      out.groupBy("source").count().collect()
        .foreach(r => assert(r.getLong(1) == 5L))

      // the engine's priority equals a driver-side recomputation of the
      // A-ES grid math (md5 → u32 → -ln grid → integer divide)
      def driverPriority(key: String, w: Long): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val u32 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val u = (u32.toDouble + 0.5) / 4294967296.0
        val grid = math.floor(-math.log(u) * 1e9).toLong
        grid / math.max(w, 1L)
      }
      out.collect().foreach { r =>
        val exp = driverPriority(r.getAs[Any]("doc_id").toString,
          r.getAs[Long]("weight"))
        assert(r.getAs[Long]("priority") == exp,
          s"doc ${r.get(1)}: priority ${r.get(3)} != driver $exp")
      }

      // the sample is weight-biased: sampled docs are longer on average
      // than the corpus (token-count weights span a wide range here)
      val docs = TestData.table(spark, sf, "documents")
        .select(TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      val corpusMean = docs.agg(avg("w")).head().getDouble(0)
      val sampleMean = out.agg(avg("weight")).head().getDouble(0)
      assert(sampleMean > corpusMean,
        s"weighted sample mean $sampleMean <= corpus mean $corpusMean")
    } finally { out.unpersist(); () }

    // planted dominance: one overwhelming weight wins its stratum for
    // any hash draw (priority <= 22 vs >= ~1e7 for unit weights)
    val planted = spark.createDataFrame(Seq(
      ("heavy", "s", 1000000000L)) ++
      (1 to 50).map(i => (s"u$i", "s", 1L))).toDF("doc_id", "source", "weight")
    val top = graft.text.Mixture
      .weightedSample(planted, "doc_id", "source", "weight", 1)
      .head()
    assert(top.getAs[String]("doc_id") == "heavy")
  }

  test("d10: MinKAgg weighted sample equals the d08 window form") {
    val win = Queries.all("d08_weighted_sample")(spark, sf)
      .collect().map(_.toString).toSeq
    val agg = Queries.all("d10_weighted_sample_agg")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(win == agg, s"agg form diverged: ${win.length} vs ${agg.length}")

    // partitioning invariance of the mergeable form
    val docs = TestData.table(spark, sf, "documents")
      .select(col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("weight"))
    val a = graft.text.Mixture
      .weightedSampleAgg(docs, "doc_id", "source", "weight", 5)
      .collect().map(_.toString).sorted.toSeq
    val b = graft.text.Mixture
      .weightedSampleAgg(docs.repartition(7), "doc_id", "source", "weight", 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("t14: redaction masks each pattern class, stepwise counts consistent") {
    import graft.text.TextFunctions
    val rows = Seq(
      (1L, "contact bob.smith+x@mail.example.org for details"),
      (2L, "session 0123456789abcdef0123 expired"),
      (3L, "card 123456789 and pin 000042 leaked"),
      (4L, "mixed a1b2@ex.io then 99887766 done"),
      (5L, "clean text with no sensitive tokens at all"),
      (6L, "short 12345 hex abc123 stay"))
    val rowsDf = spark.createDataFrame(rows).toDF("id", "text")
    val got = rowsDf.select(col("id"), TextFunctions.redact(col("text")).as("r"))
      .select(col("id"), col("r.redacted").as("t"), col("r.n_redacted").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == ("contact [REDACTED] for details", 1L))
    assert(got(2L) == ("session [REDACTED] expired", 1L))
    assert(got(3L) == ("card [REDACTED] and pin [REDACTED] leaked", 2L))
    // the email is masked FIRST, so its digits are not double-counted
    assert(got(4L) == ("mixed [REDACTED] then [REDACTED] done", 2L))
    assert(got(5L)._2 == 0L && got(5L)._1.startsWith("clean"))
    // below-threshold runs (5 digits, 6 hex chars) stay untouched
    assert(got(6L) == ("short 12345 hex abc123 stay", 0L))

    // every customer name carries a digit run → one redaction per row
    val t14 = Queries.all("t14_redaction")(spark, sf)
    assert(t14.filter(col("n_redacted") =!= 1L).count() == 0)
    assert(t14.filter(col("redacted_name").contains("[REDACTED]")).count()
      == t14.count())
  }

  test("c08: shard manifest conserves c06's sequences, docs, and tokens") {
    val c06 = Queries.all("c06_export_packed")(spark, sf).cache()
    val c08 = Queries.all("c08_shard_manifest")(spark, sf).cache()
    try {
      val seqs = c06.count()
      val toks = c06.agg(sum("seq_tokens")).head().getLong(0)
      val docsN = c06.agg(sum("n_docs")).head().getLong(0)
      assert(c08.agg(sum("n_seqs")).head().getLong(0) == seqs)
      assert(c08.agg(sum("shard_tokens")).head().getLong(0) == toks)
      assert(c08.agg(sum("n_docs")).head().getLong(0) == docsN)
      val ids = c08.select("shard_id").collect().map(_.getLong(0))
      assert(ids.forall(i => i >= 0 && i < 8))
      assert(ids.distinct.length == ids.length)
    } finally { c06.unpersist(); c08.unpersist(); () }
  }

  test("c07: funnel is monotone per stage and n_final matches c03 per source") {
    val f = Queries.all("c07_curation_funnel")(spark, sf).cache()
    val c03 = Queries.all("c03_curation_semantic")(spark, sf)
      .groupBy("source").agg(count(lit(1)).as("n")).cache()
    try {
      // each cumulative stage can only lose docs
      val bad = f.filter(!(col("n_raw") >= col("n_admitted") &&
        col("n_admitted") >= col("n_lexical_kept") &&
        col("n_lexical_kept") >= col("n_semantic_kept") &&
        col("n_semantic_kept") >= col("n_unbenched") &&
        col("n_unbenched") >= col("n_final") && col("n_final") >= 0))
      assert(bad.count() == 0)
      // the funnel's terminal count IS the c03 survivor count
      val mismatch = f.join(c03, Seq("source"), "left")
        .filter(col("n_final") =!= coalesce(col("n"), lit(0L)))
      assert(mismatch.count() == 0)
      // bench sources are fully excluded at the unbenched stage
      val benchRows = f.filter(col("source").isin("src0", "src1"))
      assert(benchRows.filter(col("n_unbenched") =!= 0).count() == 0)
      // raw totals conserve the corpus
      val totalRaw = f.agg(sum("n_raw")).head().getLong(0)
      assert(totalRaw ==
        TestData.table(spark, sf, "documents").count())
    } finally { f.unpersist(); c03.unpersist(); () }
  }

  test("d17: representative has max quality in its cluster; policy differs from min-id keep") {
    val out = Queries.all("d17_quality_keep")(spark, sf).cache()
    val clusters = Queries.all("d05_dup_clusters")(spark, sf)
    val quality = Queries.all("t02_quality_scores")(spark, sf)
      .select("doc_id", "quality_score")
    // the kept doc really is its cluster's argmax (min doc_id on ties)
    val best = clusters.join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("n"))).as("b"))
      .select(col("cluster_id"), (-col("b.n")).as("expect_id"),
        col("b.quality_score").as("expect_q"))
    val joined = out.join(best, "cluster_id").cache()
    assert(joined.filter(col("keep_doc_id") =!= col("expect_id") ||
      col("keep_quality") =!= col("expect_q")).count() == 0)
    // membership counts agree with d06 — both directions (⊆ plus
    // equal cardinality ⇒ multiset equality, so a silently dropped
    // cluster cannot hide)
    val d06 = Queries.all("d06_dedup_keep")(spark, sf)
    assert(out.select("cluster_id", "n_members").exceptAll(d06).count() == 0)
    assert(out.count() == d06.count())
    // and the policy BITES: some cluster keeps a non-min-id member
    assert(out.filter(col("keep_doc_id") =!= col("cluster_id")).count() > 0,
      "quality argmax always picked the min id — corpus can't see the policy")
    joined.unpersist(); out.unpersist()
  }

  test("d15: cross-doc gram sharing — planted boilerplate, copies, uniques, short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),  // grams {a b c d e, b c d e f}; fully copied by doc 4
      (2L, "a b c d e x"),  // shares exactly one of its two grams
      (3L, "p q r s t u"),  // fully unique
      (4L, "a b c d e f"),  // exact copy of doc 1
      (5L, "a b c")         // < 5 tokens: no windows, absent
    ).toDF("doc_id", "text")
    val out = graft.dedup.Dedup
      .crossDocGramStats(docs, "doc_id", "text", 5)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0),
      (4L, 2L, 2L, 1.0)))
  }

  test("d15: hashGrams form equals the string form on real documents") {
    val docs = TestData.table(spark, sf, "documents")
    val str = graft.dedup.Dedup
      .crossDocGramStats(docs, "doc_id", "text", 5)
    val hsh = graft.dedup.Dedup
      .crossDocGramStats(docs, "doc_id", "text", 5, hashGrams = true)
    assert(str.exceptAll(hsh).count() == 0)
    assert(hsh.exceptAll(str).count() == 0)
  }

  test("m02: frame windows reassemble into the content prefix") {
    val docs = Queries.all("m02_multimodal_frames")(spark, sf)
    // frame0 ∥ frame1 ∥ frame2 ∥ frame3 == first 256 bytes
    val assets = graft.multimodal.Multimodal
      .assetsFromDocuments(TestData.table(spark, sf, "documents"))
    val frames = assets.withColumn("__f",
        graft.multimodal.Multimodal.frameSample(col("content"), 4, 64))
      .select(col("asset_id"),
        concat((1 to 4).map(i => element_at(col("__f"), i)): _*).as("joined"),
        graft.multimodal.Multimodal.thumbnail(col("content"), 256).as("prefix"))
      .filter(col("joined") =!= col("prefix"))
    assert(frames.count() == 0)
    assert(docs.count() > 0)
  }

  test("c04: mixture is deterministic, monotone in budget, and keeps unbounded sources whole") {
    import spark.implicits._
    import graft.text.Mixture
    val docs = TestData.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    def sample(budgets: Seq[(String, Long)], d: org.apache.spark.sql.DataFrame) =
      Mixture.tokenBudgetMixture(d, "doc_id", "source", "text",
          budgets.toDF("source", "token_budget"))
        .select("doc_id").as[Long].collect().toSet

    val base = sample(Mixture.DemoBudgets, docs)
    // deterministic under repartitioning: the keep decision is a pure
    // function of (key, budgets, totals)
    assert(sample(Mixture.DemoBudgets, docs.repartition(7)) == base)

    // monotone: doubling every budget keeps a superset
    val doubled = sample(Mixture.DemoBudgets.map { case (s2, b) => (s2, b * 2) }, docs)
    assert(base.subsetOf(doubled), "bigger budget dropped kept docs")

    // unbounded (odd) sources keep every doc; bounded (even) sources
    // keep a strict, non-empty subset on the shipped corpus
    val perSource = Mixture.tokenBudgetMixture(docs, "doc_id", "source",
        "text", Mixture.DemoBudgets.toDF("source", "token_budget"))
      .groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val totals = docs.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    Mixture.DemoBudgets.foreach { case (src, b) =>
      if (b >= 1000000L)
        assert(perSource.getOrElse(src, 0L) == totals(src),
          s"unbounded $src not kept whole")
      else {
        assert(perSource.getOrElse(src, 0L) < totals(src),
          s"bounded $src not downsampled")
        assert(perSource.getOrElse(src, 0L) > 0L, s"bounded $src emptied")
      }
    }
  }

  test("c05: upsampled sources repeat floor(w) times; w<1 sources reduce to the c04 sample") {
    import spark.implicits._
    import graft.text.Mixture
    val docs = TestData.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    val budgets = Mixture.EpochBudgets.toDF("source", "token_budget")
    val out = Mixture.tokenBudgetMixtureEpochs(docs, "doc_id", "source",
        "text", budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))

    val totals = docs
      .select(col("source"),
        graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val wBySource = Mixture.EpochBudgets.toMap.map { case (s2, b) =>
      (s2, b.toDouble / totals(s2)) }

    val copies = out.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
      // epochs are dense 1..n per doc
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"epochs not dense for $k")
      (k, rows.length.toLong)
    }
    copies.foreach { case ((_, src), n) =>
      val full = math.floor(wBySource(src)).toLong
      assert(n == full || n == full + 1,
        s"$src copies $n outside {${full}, ${full + 1}}")
    }
    // the upsampled regime is actually exercised: some even source has
    // docs at both floor(w) and floor(w)+1 with floor(w) >= 2
    assert(wBySource.exists { case (s2, w) =>
      w >= 2 && copies.exists { case ((_, src), n) => src == s2 && n >= 2 } })

    // w<1 sources: c05's kept set == the clamp-free c04 sample on the
    // same budgets (epoch-1-only regime)
    val subBudget = Mixture.EpochBudgets.filter { case (s2, _) => wBySource(s2) < 1 }
    if (subBudget.nonEmpty) {
      val c04kept = Mixture.tokenBudgetMixture(docs, "doc_id", "source",
          "text", subBudget.toDF("source", "token_budget"))
        .select("doc_id").as[Long].collect().toSet
      val c05kept = out.filter(t => subBudget.exists(_._1 == t._2))
        .map(_._1).toSet
      assert(c05kept == c04kept, "w<1 regime diverged from the c04 sample")
    }
  }

  test("t13: oov rate is 0 for docs made only of vocab tokens") {
    // every token with df >= 5 is in-vocab; a doc whose tokens all have
    // df >= 5 must report n_oov = 0
    val out = Queries.all("t13_oov_rate")(spark, sf)
    assert(out.filter(col("n_oov") === 0).count() > 0)
    assert(out.filter(col("oov_rate") < 0 || col("oov_rate") > 1).count() == 0)
  }
}
