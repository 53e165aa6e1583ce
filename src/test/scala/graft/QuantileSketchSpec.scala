package graft

import graft.functions.{DigestBuckets, QuantileSketchAgg}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Contract of the mergeable quantile sketch (QuantileSketchAgg):
  * bucketing is value-order-preserving and exact below 100, merge is
  * commutative/associative (partitioning-independent results), and
  * estimates stay within the 5 % relative-error guarantee vs the
  * exact percentile on real catalog data.
  */
class QuantileSketchSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  test("bucket index preserves value order; representative is exact below 100") {
    val rng = new Random(7)
    val vs = (Seq(-1000000L, -101L, -100L, -99L, -10L, -9L, -1L, 0L, 1L, 9L,
      10L, 99L, 100L, 101L, 999L, 1000L, 123456789L) ++
      Seq.fill(2000)(rng.nextLong() % 1000000000L)).distinct.sorted
    // order-preserving: idx monotone non-decreasing in v
    vs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(DigestBuckets.indexOf(a) <= DigestBuckets.indexOf(b),
          s"index order violated at $a < $b")
      case _ =>
    }
    // exact singleton buckets below 100 (both signs)
    for (v <- -99L to 99L) {
      val idx = DigestBuckets.indexOf(v)
      assert(DigestBuckets.representative(idx) === v)
    }
    // representative lands inside its own bucket, within 5 % relative
    for (v <- vs if math.abs(v) >= 100) {
      val idx = DigestBuckets.indexOf(v)
      val rep = DigestBuckets.representative(idx)
      assert(DigestBuckets.indexOf(rep) === idx, s"rep $rep escaped bucket of $v")
      assert(math.abs(rep - v).toDouble / math.abs(v).toDouble <= 0.05,
        s"rep $rep off by >5% from $v")
    }
  }

  test("merge is commutative/associative: any split of the input agrees") {
    val rng = new Random(11)
    val vs = Seq.fill(5000)(math.abs(rng.nextLong()) % 10000000L)
    val agg = QuantileSketchAgg.of(0.5, 0.9, 0.99)
    def sketchOf(xs: Seq[Long]) = xs.foldLeft(agg.zero)(agg.reduce)
    val whole = agg.finish(sketchOf(vs))
    // three random 4-way splits, merged in different orders
    for (seed <- 1 to 3) {
      val r = new Random(seed)
      val parts = vs.groupBy(_ => r.nextInt(4)).values.map(sketchOf).toList
      val leftFold = agg.finish(parts.reduceLeft(agg.merge))
      val rightFold = agg.finish(parts.reverse.reduceLeft(agg.merge))
      assert(leftFold === whole && rightFold === whole,
        s"merge order changed the answer (seed $seed)")
    }
  }

  test("sketch quantiles within 5% of exact percentile on catalog data") {
    val cents = Queries.all("q01_purchase_summary")(spark, sf)
      .select(expr("CAST(ROUND(total_price * 100) AS BIGINT)").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length
    val agg = QuantileSketchAgg.of(0.5, 0.9, 0.99)
    val est = agg.finish(cents.foldLeft(agg.zero)(agg.reduce))
    for ((q, e) <- Seq(0.5, 0.9, 0.99).zip(est)) {
      val exact = cents(math.max(0, math.ceil(q * n).toInt - 1))
      assert(math.abs(e - exact).toDouble / exact <= 0.05,
        s"p$q sketch $e vs exact $exact")
    }
  }

  test("distributed result is partitioning-independent and matches local") {
    import spark.implicits._
    val rng = new Random(13)
    val vs = Seq.fill(20000)(math.abs(rng.nextLong()) % 100000000L)
    val agg = QuantileSketchAgg.of(0.5, 0.9, 0.99)
    val local = agg.finish(vs.foldLeft(agg.zero)(agg.reduce))
    for (parts <- Seq(1, 7, 32)) {
      val got = vs.toDS().repartition(parts)
        .groupByKey(_ => 0)
        .agg(agg.toColumn.name("qv"))
        .head()._2
      assert(got === local, s"parts=$parts diverged from local")
    }
  }
}
