package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.ConnectedComponents
import graft.similarity.Similarity
import graft.sources.TestData
import graft.streaming.IncrementalEmbeddingDedup

/** Streaming ≡ batch for SEMANTIC dedup maintenance: vectors arriving
  * in micro-batches must converge to exactly the embedding clusters
  * the one-shot e05 pipeline (multi-table LSH pairs → connected
  * components) computes over the accumulated corpus — multi-probe key
  * collisions, exact cosine verification, and min-label components
  * all crossing batch boundaries intact. */
class StreamingEmbeddingDedupSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val P = IncrementalEmbeddingDedup.Params()

  private def referenceClusters() = {
    val emb = TestData.table(spark, sf, "embeddings")
    val pairs = Similarity.cosineNearDuplicatesMulti(
      emb, "vec_id", "embedding", P.threshold, P.numPlanes, P.tables,
      P.seed, P.maxBucket)
    ConnectedComponents.dupClusters(emb.select("vec_id"), "vec_id",
      pairs.select(col("a"), col("b")), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  test("streaming micro-batches converge to the one-shot e05 clusters") {
    val emb = TestData.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val statePath = Files.createTempDirectory("graft-incsem-s").toString
    val ref = referenceClusters()

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = IncrementalEmbeddingDedup.attach(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      statePath, P,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    val all = emb.as[(Long, Seq[Float])].collect().sortBy(_._1)
    all.grouped(math.max(1, all.length / 4)).foreach { b =>
      stream.addData(b.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()

    val got = IncrementalEmbeddingDedup.clusters(
        emb.select("vec_id"), "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ref)
  }

  test("replay is idempotent; a paraphrase arriving later joins its twin's cluster") {
    val emb = TestData.table(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val statePath = Files.createTempDirectory("graft-incsem-b").toString
    val ref = referenceClusters()

    val parts = emb.as[(Long, Seq[Float])].collect().sortBy(_._1)
      .grouped(150).map(_.toSeq.toDF("vec_id", "embedding")).toSeq
    IncrementalEmbeddingDedup.processBatch(parts(0), "vec_id", "embedding",
      statePath, P)
    // foreachBatch retry: the same batch replays in full
    IncrementalEmbeddingDedup.processBatch(parts(0), "vec_id", "embedding",
      statePath, P)
    parts.drop(1).foreach(b => IncrementalEmbeddingDedup.processBatch(
      b, "vec_id", "embedding", statePath, P))

    val got = IncrementalEmbeddingDedup.clusters(
        emb.select("vec_id"), "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ref)

    // replayed appends left no duplicate key or vector rows
    val bands = graft.streaming.IndexDirs
      .readWithL0(spark, s"$statePath/bands").get
    assert(bands.count() == bands.dropDuplicates("__id", "tk").count())
    val vecs = graft.streaming.IndexDirs
      .readWithL0(spark, s"$statePath/vectors").get
    assert(vecs.count() == vecs.dropDuplicates("__id").count())
    assert(vecs.count() == emb.count())

    // a vector identical to an existing one, arriving much later,
    // must fold into that vector's cluster (cross-batch collision)
    val twinOf = 7L
    val twinVec = emb.filter(col("vec_id") === twinOf)
      .head().getSeq[Float](1)
    IncrementalEmbeddingDedup.processBatch(
      Seq((1000000L, twinVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", statePath, P)
    val after = IncrementalEmbeddingDedup.clusters(
        emb.select("vec_id").unionByName(Seq(1000000L).toDF("vec_id")),
        "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after(1000000L) == after(twinOf),
      "late twin did not join its cluster")
    // pre-existing clusters are untouched by the twin's arrival
    emb.select("vec_id").as[Long].collect().foreach { id =>
      assert(after(id) == ref(id), s"cluster of $id drifted")
    }
  }

  test("compaction collapses per-batch files; maintenance continues identically afterwards") {
    val p = IncrementalEmbeddingDedup.Params(numPlanes = 4, tables = 4,
      indexBuckets = 8)
    val statePath = Files.createTempDirectory("graft-incsem-c").toString
    def vecs(seed: Int, from: Int, n: Int) = {
      val rnd = new scala.util.Random(seed)
      (from until from + n).map(i =>
          (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    (0 until 3).foreach(b => IncrementalEmbeddingDedup.processBatch(
      vecs(b + 1, b * 100, 100), "vec_id", "embedding", statePath, p))

    // reader-visible files = the newest live version of each state dir
    // (the previous version is retained one generation by
    // IndexDirs.retire, so total on-disk counts may grow)
    def liveDir(dir: String): java.io.File = new java.io.File(
      graft.streaming.IndexDirs.currentDir(spark, dir).get)
    def fileCount(dir: java.io.File): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).count(_.getName.endsWith(".parquet"))
    }
    def liveCount(dir: String): Long =
      graft.streaming.IndexDirs.readWithL0(spark, dir).get.count()
    val ids = (0L until 300L).toSeq.toDF("vec_id")
    def clusterMap() = IncrementalEmbeddingDedup
      .clusters(ids, "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val before = clusterMap()
    val bandsBefore = liveCount(s"$statePath/bands")
    val vecsBefore = liveCount(s"$statePath/vectors")
    val dirsBefore =
      Seq(liveDir(s"$statePath/bands"), liveDir(s"$statePath/vectors"))
    // pre-compact: one L0 file per batch per store, nothing bucketed
    assert(dirsBefore.forall(d =>
      fileCount(new java.io.File(d, "_l0")) == 3),
      "expected one L0 file per appended batch per store")
    IncrementalEmbeddingDedup.compact(spark, statePath)
    val dirsAfter =
      Seq(liveDir(s"$statePath/bands"), liveDir(s"$statePath/vectors"))
    // post-compact: L0 drained, one sorted run per bucket dir
    dirsAfter.foreach { d =>
      assert(fileCount(new java.io.File(d, "_l0")) == 0,
        s"compaction left L0 files behind in $d")
      val buckets = d.listFiles().filter(f =>
        f.isDirectory && f.getName.contains("=")).toSeq
      assert(buckets.nonEmpty && buckets.forall(b => fileCount(b) == 1),
        s"compaction did not leave one run per bucket in $d")
    }
    assert(dirsBefore.forall(_.exists),
      "previous versions not retained for in-flight readers")
    assert(liveCount(s"$statePath/bands") == bandsBefore)
    assert(liveCount(s"$statePath/vectors") == vecsBefore)
    assert(clusterMap() == before, "compaction changed clusters")

    // probe + verify still work on the compacted layout: an exact twin
    // of an old vector folds into its cluster
    val twinVec = vecs(1, 0, 100).filter(col("vec_id") === 7L)
      .head().getSeq[Float](1)
    IncrementalEmbeddingDedup.processBatch(
      Seq((1000000L, twinVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", statePath, p)
    val after = IncrementalEmbeddingDedup.clusters(
        ids.unionByName(Seq(1000000L).toDF("vec_id")), "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after(1000000L) == after(7L),
      "post-compaction arrival missed its twin")

    // crashed rewrite on the bands dir: a version whose _SUCCESS never
    // landed is invisible — maintenance continues on the live version
    val stale = graft.streaming.IndexDirs.nextDir(spark, s"$statePath/bands")
    Seq((0L, 0L, 0)).toDF("__id", "tk", "pk").write.parquet(stale)
    assert(new java.io.File(s"$stale/_SUCCESS").delete())
    IncrementalEmbeddingDedup.processBatch(
      Seq((1000001L, twinVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", statePath, p)
    val after2 = IncrementalEmbeddingDedup.clusters(
        ids.unionByName(Seq(1000000L, 1000001L).toDF("vec_id")),
        "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after2(1000001L) == after2(7L),
      "crashed-rewrite leftover disturbed live-index maintenance")
  }

  test("probe volume stays ~flat at 10x corpus when planes grow with log n") {
    // The per-key candidate load is n/2^planes, so planes grow with
    // log n and a fixed-size delta's probe reads about the same number
    // of colliding key rows, not 10x. Background vectors only (no true
    // dups) — pure index-growth pressure.
    def vecs(seed: Int, from: Int, n: Int) = {
      val rnd = new scala.util.Random(seed)
      (from until from + n).map(i =>
          (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    val small = IncrementalEmbeddingDedup.Params(numPlanes = 4, tables = 4,
      indexBuckets = 8)
    val big = IncrementalEmbeddingDedup.Params(numPlanes = 8, tables = 4,
      indexBuckets = 32)
    val s1 = Files.createTempDirectory("graft-incsem-g1").toString
    val s2 = Files.createTempDirectory("graft-incsem-g2").toString
    IncrementalEmbeddingDedup.processBatch(vecs(1, 0, 200),
      "vec_id", "embedding", s1, small)
    (0 until 4).foreach(b => IncrementalEmbeddingDedup.processBatch(
      vecs(100 + b, b * 500, 500), "vec_id", "embedding", s2, big))

    // The quantity the bucket discipline controls is the PER-KEY load:
    // index rows colliding with one probed key ≈ n·(planes+1)/2^planes,
    // flat when planes track log n. (TOTAL probe volume additionally
    // scales with the delta's own multiprobe width tables·(planes+1) —
    // that is the probe budget, not index pressure.)
    val delta = vecs(999, 1000000, 3)
    def perKeyLoad(statePath: String,
                   p: IncrementalEmbeddingDedup.Params): Double = {
      val keys = IncrementalEmbeddingDedup
        .keyRows(delta, "vec_id", "embedding", p, statePath)
        .select("tk").distinct()
      val rows = keys
        .join(graft.streaming.IndexDirs
          .readWithL0(spark, s"$statePath/bands").get, Seq("tk"))
        .count()
      rows.toDouble / keys.count()
    }
    val l1 = perKeyLoad(s1, small)
    val l2 = perKeyLoad(s2, big)
    val i2 = graft.streaming.IndexDirs.readWithL0(spark, s"$s2/bands")
      .get.count()
    assert(i2 == 2000L * big.tables * (big.numPlanes + 1),
      s"big key index wrong size: $i2")
    // expected ≈ 200·5/16 = 62.5 vs 2000·9/256 ≈ 70 — flat within
    // hash noise; bound at 2x
    assert(l2 <= 2 * l1 + 5, s"per-key load grew with corpus: $l1 -> $l2")
  }

  test("vacuum prunes labels and retires index generations; clusters unchanged, folding continues") {
    val p = IncrementalEmbeddingDedup.Params(numPlanes = 4, tables = 4,
      indexBuckets = 8)
    val statePath = Files.createTempDirectory("graft-incsem-v").toString
    def vecs(seed: Int, from: Int, n: Int) = {
      val rnd = new scala.util.Random(seed)
      (from until from + n).map(i =>
          (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    (0 until 3).foreach(b => IncrementalEmbeddingDedup.processBatch(
      vecs(b + 1, b * 100, 100), "vec_id", "embedding", statePath, p))
    // a compaction leaves a superseded previous generation on each
    // index dir; plant a crashed uncommitted label leftover too
    IncrementalEmbeddingDedup.compact(spark, statePath)
    assert(new java.io.File(s"$statePath/labels/v0/part-0").mkdirs())

    val ids = (0L until 300L).toSeq.toDF("vec_id")
    def clusterMap() = IncrementalEmbeddingDedup
      .clusters(ids, "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val before = clusterMap()
    IncrementalEmbeddingDedup.vacuum(spark, statePath, keep = 1)
    // superseded index generations gone: exactly one version remains
    // on each state dir; the crashed label leftover swept
    for (d <- Seq("bands", "vectors")) {
      val vs = new java.io.File(s"$statePath/$d").list()
        .filter(_.matches("v\\d+")).toSeq
      assert(vs.size == 1, s"$d retained $vs after vacuum(keep=1)")
    }
    assert(!new java.io.File(s"$statePath/labels/v0").exists,
      "crashed uncommitted label leftover survived vacuum")
    assert(clusterMap() == before, "vacuum changed clusters")

    // maintenance continues: an exact twin still folds into its cluster
    val twinVec = vecs(1, 0, 100).filter(col("vec_id") === 7L)
      .head().getSeq[Float](1)
    IncrementalEmbeddingDedup.processBatch(
      Seq((1000000L, twinVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", statePath, p)
    val after = IncrementalEmbeddingDedup.clusters(
        ids.unionByName(Seq(1000000L).toDF("vec_id")), "vec_id", statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after(1000000L) == after(7L),
      "post-vacuum arrival missed its twin")
  }
}
