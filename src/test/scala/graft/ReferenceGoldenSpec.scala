package graft

import scala.io.Source

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dashboard, PurchaseSummary}
import graft.sources.ReferenceCsv

/** Golden end-to-end test: seed the four reference-shaped tables from
  * the reference's own CSVs and check the flagship view against an
  * independent plain-Scala computation of the same query.
  */
class ReferenceGoldenSpec extends AnyFunSuite {
  import SparkTestSession._

  private val csvDir = ReferenceCsv.seedDir

  // naive CSV parse is safe: no quoted/escaped fields in the seed data
  private def rows(name: String): Seq[Array[String]] = {
    val src = Source.fromFile(s"$csvDir/$name.csv")
    try src.getLines().drop(1).map(_.split(",", -1)).toList
    finally src.close()
  }

  private lazy val tables = ReferenceCsv.loadAll(spark, csvDir)
  private lazy val view = PurchaseSummary.customerPurchaseSummary(
    tables("transactions"), tables("customers"),
    tables("products"), tables("merchants"))

  test("seed CSVs load with declared schemas and reference row counts") {
    assert(tables("customers").count() == 1804)
    assert(tables("merchants").count() == 14)
    assert(tables("products").count() == 12)
    assert(tables("transactions").count() == 1000)
  }

  test("un-broadcast flagship join degrades to shuffled joins with identical rows") {
    // the huge-dimension path: no broadcast hints + broadcast disabled
    // → Catalyst picks shuffled hash / sort-merge joins on the equi-
    // keys; rows must match the broadcast plan exactly
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = PurchaseSummary.customerPurchaseSummary(
        tables("transactions"), tables("customers"),
        tables("products"), tables("merchants"), broadcastDims = false)
      val planStr = shuffled.queryExecution.executedPlan.toString
      assert(!planStr.contains("BroadcastHashJoin"), planStr)
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
        planStr)
      assert(shuffled.exceptAll(view).count() == 0 &&
             view.exceptAll(shuffled).count() == 0,
        "shuffled and broadcast plans must produce identical rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("flagship view matches an independent in-memory computation") {
    val customerAge = rows("customers").map(r => r(0).toInt -> r(3).toInt).toMap
    val product = rows("products").map(r => r(0).toInt -> (r(2), r(3).toDouble)).toMap
    val merchantCat = rows("merchants").map(r => r(0).toInt -> r(2)).toMap

    // the view joins all three dims and keeps only rows whose merchant
    // and product categories agree (0_start_here.ipynb:242-245)
    val expected = rows("transactions").flatMap { t =>
      val (txId, custId, prodId, merchId, qty) =
        (t(0), t(1).toInt, t(2).toInt, t(3).toInt, t(6).toInt)
      for {
        age <- customerAge.get(custId)
        (pCat, price) <- product.get(prodId)
        mCat <- merchantCat.get(merchId)
        if mCat == pCat
      } yield (txId, qty * price)
    }

    val got = view.select("transaction_id", "total_price")
      .collect().map(r => (r.getString(0), r.getDouble(1)))

    assert(got.length == expected.length)
    assert(got.sortBy(_._1).toSeq == expected.sortBy(_._1))
    // category-mismatched seed rows must be dropped: strictly fewer than 1000
    assert(got.length < 1000 && got.length > 0)
  }

  test("view recomputes total_price from the dimension price, not the stored amount") {
    // In the seed data stored totals happen to equal quantity*price, so
    // perturb one product's price: the view must follow the new price
    // (recompute, 0_start_here.ipynb:233) while stored totals don't move.
    val bumped = tables("products")
      .withColumn("price", col("price") + lit(100.0))
    val v2 = PurchaseSummary.customerPurchaseSummary(
      tables("transactions"), tables("customers"), bumped, tables("merchants"))
    val moved = v2.alias("v2")
      .join(view.select(col("transaction_id"),
        col("total_price").as("orig_total")).alias("v1"), "transaction_id")
      .filter(abs(col("v2.total_price") - (col("orig_total") +
        col("v2.quantity") * 100.0)) > 0.005)
      .count()
    assert(moved == 0, "every view row's total must shift by quantity*Δprice")
  }

  test("typed Dataset surface: same rows as the untyped plan, fields checked at compile time") {
    val typed = PurchaseSummary.customerPurchaseSummaryTyped(
      graft.sources.ReferenceCsv.transactions(spark, csvDir),
      graft.sources.ReferenceCsv.customers(spark, csvDir),
      graft.sources.ReferenceCsv.products(spark, csvDir),
      graft.sources.ReferenceCsv.merchants(spark, csvDir))
    // compile-time field access + runtime equality with the untyped view
    val typedTotal = typed.collect().map(r => r.total_price).sum
    assert(typed.count() == view.count())
    assert(typed.filter(r => r.quantity < 1).isEmpty)
    assert(typedTotal > 0)
  }

  test("dashboard pipeline runs on reference-shaped data with reference thresholds") {
    val spending = Dashboard.calculateCustomerSpending(view) // 4000/6000 defaults
    val counts = Dashboard.spendStatusCounts(spending).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("High Spenders", "Medium Spenders", "Low Spenders"))
    assert(counts.values.sum == spending.filter(col("total_price") > 0).count())

    val aged = Dashboard.categorizeByAge(view)
    // reference ages run 18-90 → every row buckets
    assert(aged.filter(col("age_group").isNull).count() == 0)
    val top = Dashboard.topMerchants(view, 1).collect()
    assert(top.length == 1 && top.head.getString(0).nonEmpty)
  }
}
