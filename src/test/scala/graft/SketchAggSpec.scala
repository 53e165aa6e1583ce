package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB aggregation path: single-pass, bounded-memory, mergeable
  * sketches (HLL++ for distinct counts, KLL/GK for quantiles). The
  * exact catalog forms (q08 distinct, q51 percentiles) are their
  * oracles here — at corpus scale one runs the sketch, at test scale
  * both, and the spec pins the accuracy contract.
  */
class SketchAggSpec extends AnyFunSuite with ReleasesCatalog {
  import SparkTestSession._

  private lazy val summary =
    Queries.all("q01_purchase_summary")(spark, sf).cache()

  test("approx_count_distinct (HLL++) within its rsd bound of exact") {
    val exact = summary.select(countDistinct(col("customer_id")))
      .head().getLong(0).toDouble
    val approx = summary.select(approx_count_distinct(col("customer_id"), 0.02))
      .head().getLong(0).toDouble
    // 0.02 rsd → ±3σ = 6%; generous but deterministic bound
    assert(math.abs(approx - exact) / exact < 0.06,
      s"HLL estimate $approx vs exact $exact")
  }

  test("approx_percentile within rank-error bound of exact percentile") {
    val cents = summary.select(
      expr("CAST(ROUND(total_price * 100) AS BIGINT)").as("c"))
    val exact = cents.agg(
      expr("percentile(c, array(0.25D, 0.5D, 0.75D))")).head()
      .getSeq[Double](0)
    val approx = cents.agg(
      expr("approx_percentile(c, array(0.25D, 0.5D, 0.75D), 10000)")).head()
      .getSeq[Long](0)
    val n = cents.count()
    // accuracy 10000 → rank error ≤ n/10000; translate to a value
    // tolerance by measuring the value at the shifted rank
    val sorted = cents.orderBy("c").collect().map(_.getLong(0))
    for (((e, a), p) <- exact.zip(approx).zip(Seq(0.25, 0.5, 0.75))) {
      val rank = (p * (n - 1)).toLong
      val slack = math.max(1L, n / 10000)
      val lo = sorted(math.max(0, rank - slack).toInt)
      val hi = sorted(math.min(n - 1, rank + slack).toInt)
      assert(a >= lo && a <= hi,
        s"approx p$p=$a outside rank-error window [$lo,$hi] (exact $e)")
    }
  }

  test("sketches merge: per-partition partials equal the global sketch") {
    // mergeability is the scale contract: groupBy on a salt then
    // re-aggregating must land on the same estimate as one pass
    val global = summary.select(
      approx_count_distinct(col("customer_id"), 0.02)).head().getLong(0)
    val sharded = summary
      .withColumn("__shard", pmod(col("customer_id"), lit(17)))
      .repartition(8, col("__shard"))
      .select(approx_count_distinct(col("customer_id"), 0.02))
      .head().getLong(0)
    assert(global === sharded, "HLL estimate must be partition-invariant")
  }
}
