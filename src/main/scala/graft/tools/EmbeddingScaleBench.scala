package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.similarity.Similarity

/** Dev scaling experiment for the embedding suite (the e03/e04/s02
  * analogue of [[ScaleBench]]'s dedup table). Two modes, two findings
  * (both tabulated in BENCH_NOTES.md round 6):
  *
  * DEFAULT (gapless ×factor): replicate the shipped embeddings
  * `factor`× with per-copy Rademacher sign-flip diagonals
  * (deterministic ±1 per (copy, coordinate) from xxhash64 — a
  * diagonal orthogonal transform, so every within-copy cosine is
  * preserved exactly). Cross-copy cosines become random-sign sums
  * ~N(0, 1/√64) — but at d = 64 that tail still crosses τ = 0.4
  * (P ≈ 7e-4), and the shipped corpus's own background sits at
  * p99.9 ≈ 0.377: the TRUE pair output is quadratic in corpus size
  * no matter the algorithm. This mode therefore measures the
  * output-bound regime honestly: pair enumeration at a threshold
  * inside the background distribution does not scale, and the
  * scale-safe contracts are the argmax/top-k forms and the ANN
  * probe (whose latency this mode shows is FLAT at ×10).
  *
  * PLANTED (`planted` as arg 1): a separated corpus — k planted
  * clusters (within-cluster cosine ≈ 0.978) over random background,
  * scaled ×factor by adding MORE clusters and background (true pair
  * output exactly linear: clusters × C(m,2)) — with the LSH plane
  * count grown with log n (2^planes ≈ n), the textbook discipline.
  * This measures the ALGORITHM's scaling where output is linear:
  * per-row candidate load should FALL as planes grow, wall ~linear,
  * recall stays 1.0 (verification is exact, collisions near-certain
  * at hamming ≤ 2 for cosine 0.978).
  *
  * Usage: runMain graft.tools.EmbeddingScaleBench [srcSf|planted] [factor]
  */
object EmbeddingScaleBench {

  def time[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[embscale] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Bench.session(Bench.cpus)

    if (mode == "planted") planted(spark, factor)
    else gapless(spark, mode, factor)
    spark.stop()
  }

  /** Candidate volume of the multi-table pair join (same bucket +
    * bit-flip probe construction as cosineNearDuplicatesMulti,
    * counted pre-verification). */
  private def candidateCount(corpus: DataFrame, planes: Int, tables: Int,
                             maxBucket: Int): Long = {
    val seeds = Seq.tabulate(tables)(t => 42L + t * 0x5851F42D4C957F2DL)
    val homes = array(seeds.map(s =>
      graft.functions.vectors.vector_lsh_bucket(col("embedding"), planes, s)): _*)
    corpus
      .select(col("vec_id").as("__id"), posexplode(homes).as(Seq("__t", "__b")))
      .select(col("__id"), col("__t"),
        explode(array(col("__b") +: Seq.tabulate(planes)(p =>
          col("__b").bitwiseXOR(lit(1L << p))): _*)).as("__bk"))
      .groupBy("__t", "__bk")
      .agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(col("__ids"), explode(col("__ids")).as("a"))
      .select(col("a"), explode(col("__ids")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
  }

  private def suite(spark: SparkSession, tag: String, df: DataFrame,
                    threshold: Double, planes: Int, tables: Int,
                    idxPath: String): Unit = {
    for (pass <- 1 to 2) {
      val n = df.count()
      val cands = time(s"$tag pass$pass candidates")(
        candidateCount(df, planes, tables, maxBucket = 4000))
      val pairsDf = Similarity.cosineNearDuplicatesMulti(df, "vec_id",
        "embedding", threshold, numPlanes = planes, tables = tables)
      val pairs = time(s"$tag pass$pass e03 pair join")(pairsDf.count())
      val nn = time(s"$tag pass$pass e04 argmax")(
        Similarity.nearestFromPairs(pairsDf).count())
      val idx = Similarity.ensureLshIndexMulti(df, "embedding", idxPath,
        tables = 8)
      val q = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
      val topk = time(s"$tag pass$pass s02 probe")(
        Similarity.annTopKMulti(idx, "vec_id", "embedding", q, 10,
          tables = 8).collect().length)
      // the bytes-pruning family: flat PQ scans every row's CODES
      // (linear rows, ~1/30 bytes); IVF-PQ adds the rows prune
      val (pqIdx, books) = Similarity.ensurePqIndex(df, "vec_id",
        "embedding", s"$idxPath-pq")
      val pqK = time(s"$tag pass$pass s04 PQ probe")(
        Similarity.pqTopK(pqIdx, "vec_id", "embedding", q, 10, books)
          .collect().length)
      val (ipqIdx, cents, ipqBooks) = Similarity.ensureIvfPqIndex(df,
        "vec_id", "embedding", s"$idxPath-ivfpq")
      val ipqK = time(s"$tag pass$pass s05 IVF-PQ probe")(
        Similarity.ivfPqTopK(ipqIdx, "vec_id", "embedding", q, 10,
          cents, ipqBooks).collect().length)
      println(s"[embscale] $tag pass$pass rows=$n planes=$planes " +
        s"candidates=$cands pairs=$pairs nn_rows=$nn topk=$topk " +
        s"pq_topk=$pqK ivfpq_topk=$ipqK")
    }
  }

  private def gapless(spark: SparkSession, src: String, factor: Int): Unit = {
    val dst = s"${sys.props("java.io.tmpdir")}/graft-embscale$factor"
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .select("vec_id", "embedding")
    val done = new org.apache.hadoop.fs.Path(dst, "_SUCCESS")
    val fs = done.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(done)) {
      val maxId = emb.agg(max("vec_id")).head().getLong(0) + 1
      emb.withColumn("__i",
          explode(array(Seq.tabulate(factor)(i => lit(i.toLong)): _*)))
        .select((col("vec_id") + col("__i") * maxId).as("vec_id"),
          transform(col("embedding"), (x, k) =>
            when(pmod(xxhash64(col("__i"), k), lit(2)) === 0, x).otherwise(-x))
            .as("embedding"))
        .write.mode("overwrite").parquet(dst)
    }
    for ((tag, df) <- Seq("1x" -> emb, s"${factor}x" -> spark.read.parquet(dst)))
      suite(spark, tag, df, Similarity.PairThreshold, planes = 8,
        tables = Similarity.PairTables, idxPath = s"$dst-idx-$tag")
  }

  /** Deterministic separated corpus: `clusters` planted clusters of
    * `m` members (center + 0.15·noise, within-cluster cosine ≈ 0.978)
    * plus `bg` random background vectors, all unit-normalized, d = 64.
    * True pairs at τ = 0.8 are exactly clusters·C(m,2) — background
    * cosine ~N(0, 1/8) never reaches 0.8 (P ≈ 1e-10). */
  private def plantedCorpus(spark: SparkSession, clusters: Int, m: Int,
                            bg: Int): DataFrame = {
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(0xC0FFEE)
    def gauss(n: Int) = Array.fill(n)(rnd.nextGaussian().toFloat)
    def normalize(v: Array[Float]) = {
      val nrm = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / nrm).toSeq
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
    for (c <- 0 until clusters) {
      val center = gauss(dim)
      for (j <- 0 until m)
        rows += ((c.toLong * m + j,
          normalize(center.zip(gauss(dim)).map { case (x, e) => x + 0.15f * e })))
    }
    for (b <- 0 until bg)
      rows += ((clusters.toLong * m + b, normalize(gauss(dim))))
    rows.toSeq.toDF("vec_id", "embedding").repartition(32)
  }

  private def planted(spark: SparkSession, factor: Int): Unit = {
    val (clusters, m, bg) = (40, 12, 600)
    val tmp = sys.props("java.io.tmpdir")
    for ((tag, f) <- Seq("1x" -> 1, s"${factor}x" -> factor)) {
      val df = plantedCorpus(spark, clusters * f, m, bg * f).cache()
      val n = df.count()
      // 2^planes ≈ n: the log-n plane discipline that keeps per-row
      // candidate load bounded as the corpus grows.
      val planes = math.max(8,
        math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
      val expected = clusters.toLong * f * m * (m - 1) / 2
      println(s"[embscale] $tag planted expected_pairs=$expected")
      suite(spark, s"planted-$tag", df, threshold = 0.8, planes = planes,
        tables = 8, idxPath = s"$tmp/graft-embscale-planted-$tag")
      df.unpersist()
    }
  }
}
