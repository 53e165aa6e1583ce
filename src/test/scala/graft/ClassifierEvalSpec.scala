package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Window ≡ histogram equivalence for the classifier eval report
  * (t19 vs t25): the histogram formulation derives every row's
  * average-tie ×2-grid rank from cumulative counts over DISTINCT
  * (source, score) rows — the 100 TB shape, since its exchange and
  * sort are histogram-sized instead of corpus-sized. The two must be
  * bit-for-bit identical on the real corpus AND on adversarial
  * random frames (heavy score ties, zero-positive sources,
  * all-positive sources, single-row sources). */
class ClassifierEvalSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("label", BooleanType, nullable = false),
    StructField("score_micro", LongType, nullable = false),
    StructField("pred", BooleanType, nullable = false)))

  private def frame(rows: Seq[(Long, String, Boolean, Long, Boolean)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3, r._4, r._5)), 4),
      schema)

  private def same(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)))
    assert(a.collect().toSeq === b.collect().toSeq)
  }

  test("window and histogram reports agree on random adversarial frames") {
    val rnd = new Random(421)
    for (round <- 1 to 5) {
      val rows = (0 until 400).map { i =>
        val src = round match {
          case 1 => s"s${rnd.nextInt(3)}"          // few sources, many ties
          case 2 => s"s${rnd.nextInt(40)}"         // many tiny sources
          case _ => s"s${rnd.nextInt(8)}"
        }
        // a COARSE score grid forces heavy ties (the average-tie rank
        // path); zero/all-positive sources arise from the label rule
        val score = (rnd.nextInt(7) - 3).toLong * 500L
        val label = round match {
          case 3 => src == "s0" || rnd.nextBoolean()  // all-pos source
          case 4 => src != "s1" && rnd.nextInt(4) == 0 // zero-pos source
          case _ => rnd.nextInt(3) == 0
        }
        (i.toLong, src, label, score, score > 0L)
      } ++ Seq((9999L, "lone", true, 42L, true)) // single-row source
      val scored = frame(rows)
      same(Queries.evalWindowOf(scored), Queries.evalHistOf(scored))
    }
  }

  test("window and histogram reports are bit-identical on the real corpus") {
    val win = Queries.all("t19_classifier_eval")(spark, sf)
    val hist = Queries.all("t25_eval_histogram")(spark, sf)
    same(win, hist)
  }

  test("histogram rank-sum matches the window rp2 on every source") {
    // the internal num/den frames too, not just the guarded report:
    // rp2 is the only column the two formulations derive differently
    // (window: sum of per-row r2 over positives; histogram:
    // Σ p(v)·(2·S(v)+c(v)+1)); NULL-vs-0 on zero-positive sources is
    // the one allowed difference (the report's guards erase it)
    val rnd = new Random(7)
    val rows = (0 until 300).map { i =>
      (i.toLong, s"s${rnd.nextInt(5)}", rnd.nextInt(3) == 0,
        (rnd.nextInt(5) - 2).toLong * 1000L, rnd.nextBoolean())
    }
    val scored = frame(rows)
    val w = Queries.aggOf(Queries.rankedOf(scored))
      .selectExpr("source", "coalesce(rp2, 0L) AS rp2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val h = Queries.histAggOf(scored)
      .selectExpr("source", "rp2").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w === h)
  }
}
