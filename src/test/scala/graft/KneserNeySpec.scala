package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t20 beyond the oracle: the KN probability arithmetic against an
  * independent plain-JVM recompute, and the smoothing's defining
  * property — continuation weighting — which add-1 (t16) provably
  * cannot express. */
class KneserNeySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val D = 0.75

  private def writeDocs(corpus: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-kn").toString
    corpus.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Plain-Scala interpolated-KN per-doc mean NLL on the 1e-6 grid —
    * no Spark SQL, no DuckDB: a third independent implementation. */
  private def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    val bgs = docs.flatMap { case (id, text) =>
      text.trim.toLowerCase.split("\\s+").toSeq
        .sliding(2).filter(_.size == 2).map(p => (id, p.head, p(1)))
    }
    val cb = bgs.groupBy(b => (b._2, b._3)).map { case (k, v) => k -> v.size }
    val c1 = bgs.groupBy(_._2).map { case (k, v) => k -> v.size }
    val n1f = cb.keys.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n1b = cb.keys.groupBy(_._2).map { case (k, v) => k -> v.size }
    val t = cb.size
    bgs.groupBy(_._1).map { case (id, rows) =>
      val ms = rows.map { case (_, w1, w2) =>
        val p = ((cb((w1, w2)) - D) + (D * n1f(w1)) *
          (n1b(w2).toDouble / t)) / c1(w1)
        math.round(-math.log(p) * 1e6)
      }
      id -> (rows.size.toLong,
        BigDecimal(ms.sum.toDouble / ms.size / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  private def run(q: String, dir: String): Map[Long, (Long, Double)] =
    try Queries.all(q)(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    finally Queries.release(spark, dir)

  test("t20 == plain-JVM interpolated-KN recompute") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "a cat and a dog met"),
      (4L, "the cat and the dog sat"))
    assert(run("t20_kneser_ney", writeDocs(corpus)) == reference(corpus))
  }

  test("continuation weighting separates what add-1 cannot") {
    // "a" is continued from FIVE distinct contexts, "c" from one; every
    // bigram occurs exactly once and every context word occurs exactly
    // once, so add-1 (t16) scores the two probe docs IDENTICALLY while
    // KN must prefer the wide-continuation word:
    //   P_KN(a|x1) = 0.25 + 0.75·(5/6) = 0.875
    //   P_KN(c|w)  = 0.25 + 0.75·(1/6) = 0.375
    val corpus = Seq(
      (1L, "x1 a"), (2L, "x2 a"), (3L, "x3 a"), (4L, "x4 a"),
      (5L, "x5 a"), (6L, "w c"))
    val dir = writeDocs(corpus)
    val kn = run("t20_kneser_ney", dir)
    assert(kn == reference(corpus))
    assert(kn(1L)._2 < kn(6L)._2,
      "KN must score the wide-continuation bigram more probable")
    val add1 = run("t16_bigram_logprob", dir)
    assert(add1(1L)._2 == add1(6L)._2,
      "add-1 is blind to continuation breadth by construction")
  }
}
