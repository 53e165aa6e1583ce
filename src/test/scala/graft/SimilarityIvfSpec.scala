package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity
import graft.sources.TestData

class SimilarityIvfSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("IVF ANN: probed lists scan a fraction and overlap the exact top-k") {
    val emb = TestData.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val corpus = emb.filter(col("vec_id") =!= 0)

    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", k = 16)
    assert(cents.length == 16)
    val listed = Similarity.withIvfLists(corpus, "embedding", cents).cache()
    // every vector lands in a real list
    assert(listed.filter(col("ivf_list") < 0 || col("ivf_list") >= 16).count() == 0)
    // lists are reasonably balanced for this data (no list owns everything)
    val maxList = listed.groupBy("ivf_list").count()
      .agg(max("count")).head().getLong(0)
    val total = listed.count()
    assert(maxList < total / 2, s"degenerate quantizer: $maxList/$total in one list")

    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val probed = listed.filter(col("ivf_list").isin(
      // recompute the probe set exactly as ivfTopK does
      cents.sortBy { case (_, c) =>
        q.zip(c).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
      }.take(4).map(_._1).toIndexedSeq: _*)).count()
    assert(probed < total, "IVF probe must not scan the whole corpus")

    val ann = Similarity.ivfTopK(listed, "vec_id", "embedding", q, 10,
      cents, nProbe = 4).as[(Long, Double)].collect().map(_._1).toSet
    assert(ann.intersect(exact).size >= 3,
      s"IVF recall too low: ${ann.intersect(exact).size}/10 (scanned $probed/$total)")
    listed.unpersist()
  }

  test("persisted ANN indexes: probes are partition-pruned reads, same results") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = TestData.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString

    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f
      }.get

    // LSH: indexed probe == recomputed probe, and the scan prunes on bucket
    val lshIdx = Similarity.ensureLshIndex(corpus, "embedding", s"$dir/lsh")
    val fromIndex = Similarity.annTopK(lshIdx, "vec_id", "embedding", q, 10)
    val pf = scanOf(fromIndex).metadata("PartitionFilters")
    assert(pf.contains("bucket"), s"probe not partition-pruned: $pf")
    val recomputed = Similarity.annTopK(
      Similarity.withLshBuckets(corpus, "embedding"), "vec_id", "embedding", q, 10)
    assert(fromIndex.collect().toSeq == recomputed.collect().toSeq)

    // IVF: ditto on ivf_list, centroids round-trip through the sidecar
    val (ivfIdx, cents) = Similarity.ensureIvfIndex(
      corpus, "vec_id", "embedding", s"$dir/ivf", 16)
    assert(cents.length == 16)
    val ivfProbe = Similarity.ivfTopK(ivfIdx, "vec_id", "embedding", q, 10,
      cents, nProbe = 4)
    val pf2 = scanOf(ivfProbe).metadata("PartitionFilters")
    assert(pf2.contains("ivf_list"), s"IVF probe not partition-pruned: $pf2")
    val centsDirect = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
    assert(cents.toSeq == centsDirect.toSeq, "sidecar centroids must round-trip")
    val ivfDirect = Similarity.ivfTopK(
      Similarity.withIvfLists(corpus, "embedding", centsDirect),
      "vec_id", "embedding", q, 10, centsDirect, nProbe = 4)
    assert(ivfProbe.collect().toSeq == ivfDirect.collect().toSeq)

    // second ensure* reuses the files (no rebuild): same results instantly
    val again = Similarity.ensureLshIndex(corpus, "embedding", s"$dir/lsh")
    assert(Similarity.annTopK(again, "vec_id", "embedding", q, 10)
      .collect().toSeq == recomputed.collect().toSeq)
  }

  test("probeBuckets: driver-side bucket matches the codegen'd expression, zero Spark jobs") {
    import graft.functions.vectors.vector_lsh_bucket
    val emb = TestData.table(spark, sf, "embeddings").limit(50)
      .select(col("vec_id"), col("embedding"),
        vector_lsh_bucket(col("embedding"), 8, 42L).as("b"))
      .collect()
    emb.foreach { r =>
      val local = org.apache.spark.sql.graft.VectorLshBucket
        .evalLocal(r.getSeq[Float](1), 8, 42L)
      assert(local == r.getLong(2), s"vec ${r.getLong(0)}: hash parity broken")
    }

    // a probe must not schedule any Spark job before the pruned scan
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = emb.head.getSeq[Float](1)
      val probes = Similarity.probeBuckets(q, 8, 42L)
      assert(probes.length == 9 && probes.head == emb.head.getLong(2))
      Thread.sleep(1000) // listener events post asynchronously
      assert(jobs.get() == 0, s"probeBuckets scheduled ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("multi-table LSH ANN: pushdown-pruned probes, recall@10 pinned (sf0.1)") {
    // the single-table probe measures ~0 recall@10 on this corpus (no
    // similarity gap — true neighbors sit at cosine ≈ 0.3 where sign
    // patterns are near-random); 8 OR-amplified tables measure 0.61
    // (AnnRecall tool). Deterministic, so the floor is a hard pin.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = TestData.table(spark, "/root/testdata/sf0.1", "embeddings").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-multi").toString
    val idx = Similarity.ensureLshIndexMulti(emb, "embedding",
      s"$dir/lsh", tables = 8)

    val queries = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // the probe predicate reaches the parquet scan (footer-stat file
    // skipping over the tb-range-sorted layout)
    val probe0 = Similarity.annTopKMulti(
      idx.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
      queries.head._2, 10, tables = 8)
    probe0.count() // the dedup exchange wraps the plan in AQE
    val plan = probe0.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val pushed = plan.collectFirst {
      case f: FileSourceScanExec => f.metadata("PushedFilters")
    }.get
    assert(pushed.contains("tb"), s"probe predicate not pushed: $pushed")

    val recalls = queries.map { case (qid, q) =>
      val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val ann = Similarity.annTopKMulti(
        idx.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10,
        tables = 8).collect().map(_.getLong(0)).toSet
      ann.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.55, s"multi-table ANN recall regressed: $mean")
    emb.unpersist()
  }

  test("one Lloyd pass improves IVF recall@10 on the bench corpus (pinned)") {
    // measured on sf0.1 (IvfRecall tool): stride seeds 0.52, one Lloyd
    // pass 0.56 mean recall@10 over the first 10 queries at nProbe=4 —
    // deterministic (decimal means), so the floor is a hard pin.
    val emb = TestData.table(spark, "/root/testdata/sf0.1", "embeddings").cache()
    val queries = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val recalls = Seq(0, 1).map { steps =>
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        k = 16, refineSteps = steps)
      val listed = Similarity.withIvfLists(emb, "embedding", cents).cache()
      val rs = queries.map { case (qid, q) =>
        val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        val ann = Similarity.ivfTopK(listed.filter(col("vec_id") =!= qid),
          "vec_id", "embedding", q, 10, cents, nProbe = 4)
          .collect().map(_.getLong(0)).toSet
        ann.intersect(exact).size / 10.0
      }
      listed.unpersist()
      rs.sum / rs.length
    }
    assert(recalls(1) > recalls(0),
      s"Lloyd pass no longer improves recall: ${recalls(0)} -> ${recalls(1)}")
    assert(recalls(1) >= 0.55, s"refined recall regressed: ${recalls(1)}")
    emb.unpersist()
  }

  test("planted separated corpus: LSH and IVF ANN reach recall@10 >= 0.9") {
    // The shipped embeddings corpus has NO similarity gap (background
    // cosine p99.9 ≈ 0.377 vs τ = 0.4), so s02/s03's honest pins there
    // are 0.55-0.61 — corpus pathology, not operator quality. This
    // fixture separates the two: 20 planted clusters (unit-normalized
    // center + small noise, within-cluster cosine ≈ 0.98) over a
    // random background (cosine ~N(0, 1/√64)), i.e. a real near-dup
    // corpus shape. Same index parameters and probe budgets as the
    // catalog queries; recall must be high where a gap exists.
    // Deterministic generator → hard pins.
    val dim = 64; val nClusters = 20; val m = 12; val nBackground = 300
    val rnd = new scala.util.Random(0xC0FFEE)
    def gauss(n: Int) = Array.fill(n)(rnd.nextGaussian().toFloat)
    def normalize(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n).toSeq
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
    for (c <- 0 until nClusters) {
      val center = gauss(dim)
      for (j <- 0 until m) {
        val v = center.zip(gauss(dim)).map { case (x, e) => x + 0.15f * e }
        rows += ((c.toLong * m + j, normalize(v)))
      }
    }
    for (b <- 0 until nBackground)
      rows += ((nClusters.toLong * m + b, normalize(gauss(dim))))
    val emb = rows.toSeq.toDF("vec_id", "embedding").cache()
    val queries = (0 until nClusters)
      .map(c => rows(c * m)._1 -> rows(c * m)._2)

    def recallOf(ann: (Long, Seq[Float]) => Set[Long]): Double =
      queries.map { case (qid, q) =>
        val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        ann(qid, q).intersect(exact).size / 10.0
      }.sum / queries.length

    // s02's shape: multi-table LSH index, single-bit-flip probes
    val dir = java.nio.file.Files.createTempDirectory("graft-planted").toString
    val idx = Similarity.ensureLshIndexMulti(emb, "embedding",
      s"$dir/lsh", tables = 8)
    val lshRecall = recallOf((qid, q) => Similarity.annTopKMulti(
      idx.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10,
      tables = 8).collect().map(_.getLong(0)).toSet)
    info(f"planted-corpus multi-table LSH recall@10: $lshRecall%.3f")
    assert(lshRecall >= 0.9,
      s"multi-table LSH recall on a SEPARATED corpus: $lshRecall (pin 0.9)")

    // s03's shape: IVF with one Lloyd pass, nProbe = 4 of k = 16
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      k = 16, refineSteps = 1)
    val listed = Similarity.withIvfLists(emb, "embedding", cents).cache()
    val ivfRecall = recallOf((qid, q) => Similarity.ivfTopK(
      listed.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10,
      cents, nProbe = 4).collect().map(_.getLong(0)).toSet)
    info(f"planted-corpus IVF recall@10: $ivfRecall%.3f")
    assert(ivfRecall >= 0.9,
      s"IVF recall on a SEPARATED corpus: $ivfRecall (pin 0.9)")

    // ranked multiprobe with a margin budget: where a gap exists, the
    // same recall costs a FRACTION of the fixed-nProbe scan — most
    // queries sit deep inside their cell and probe 1-2 lists
    var probedLists = 0
    val adaptiveRecall = recallOf { (qid, q) =>
      probedLists += Similarity.adaptiveProbes(q, cents).length
      Similarity.ivfTopKAdaptive(
        listed.filter(col("vec_id") =!= qid), "vec_id", "embedding", q, 10,
        cents).collect().map(_.getLong(0)).toSet
    }
    val meanLists = probedLists.toDouble / queries.length
    info(f"adaptive multiprobe recall@10: $adaptiveRecall%.3f at $meanLists%.2f lists/query (fixed budget: 4)")
    assert(adaptiveRecall >= 0.9,
      s"adaptive multiprobe recall: $adaptiveRecall (pin 0.9)")
    assert(meanLists <= 3.0,
      s"margin budget did not concentrate: $meanLists lists/query (pin 3.0)")
    listed.unpersist(); emb.unpersist()
  }
}
