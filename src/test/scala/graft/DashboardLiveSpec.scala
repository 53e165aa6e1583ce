package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.operators.{Dashboard, PurchaseSummary}
import graft.sources.ReferenceCsv
import graft.streaming.DynamicTable

/** The reference's ACTUAL user journey, end to end: the Streamlit
  * dashboard (`customer_spending_dashboard.py:48-204`) reads the LIVE
  * dynamic table while CDC keeps landing — not a parquet snapshot.
  * At two mid-stream boundaries this spec runs the full dashboard
  * pipeline (spend bucketing → age groups → applyFilters → every
  * chart aggregation A7–A10 + top-merchant) over the maintained view
  * AND over a batch recompute of the same fact snapshot, and asserts
  * row-for-row equality — the incrementally maintained state is
  * indistinguishable from a fresh build at every consistency point. */
class DashboardLiveSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$hint: live view and batch recompute diverge")

  /** Every read the dashboard renders, as (hint, frame) pairs: the
    * filter panel applied (date range + category + spend status),
    * then each chart aggregation over the filtered rows. */
  private def dashboardReads(view: DataFrame): Seq[(String, DataFrame)] = {
    val spending = Dashboard.calculateCustomerSpending(view)
    val aged = Dashboard.categorizeByAge(view)
    val filtered = Dashboard.applyFilters(aged, spending,
      startDate = "2000-01-01", endDate = "2100-01-01",
      category = Some("Purchase"), spendStatus = Some("High Spenders"))
    val unfiltered = Dashboard.applyFilters(aged, spending,
      startDate = "2000-01-01", endDate = "2100-01-01")
    Seq(
      "spend_status_counts" -> Dashboard.spendStatusCounts(spending),
      "filtered_rows" -> filtered,
      "daily_items_A7" -> Dashboard.dailyItems(filtered),
      "card_counts_A8" -> Dashboard.cardCounts(filtered),
      "category_counts_A9" -> Dashboard.categoryCounts(filtered),
      "merchant_stats_A10" -> Dashboard.merchantStats(filtered),
      "top_merchants" -> Dashboard.topMerchants(unfiltered, 3),
      "total_spent" -> Dashboard.totalSpent(unfiltered),
      "distinct_customers" -> Dashboard.distinctCustomers(unfiltered))
  }

  test("live dashboard over the maintained view ≡ batch dashboard over the same snapshot, mid-stream") {
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    def viewOf(tx: DataFrame): DataFrame =
      PurchaseSummary.customerPurchaseSummary(
        tx, tables("customers"), tables("products"), tables("merchants"))

    val dir = Files.createTempDirectory("graft-dash-live").toString
    val fact = new ReplicatedTable(spark, s"$dir/tx", Seq("transaction_id"))
    val result = new ReplicatedTable(spark, s"$dir/view", Seq("transaction_id"))
    fact.snapshot(tables("transactions"))
    val dt = new DynamicTable(fact, result, viewOf)
    dt.fullRefresh()

    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 300, seed = 11L, startLsn = 100L).as[TxChange].collect()
    // a delete of a seed row currently in the view, folded into the
    // second half — the dashboard must keep agreeing through removals
    val seedId = result.current().select("transaction_id")
      .orderBy("transaction_id").head().getString(0)
    val edits = Seq(TxChange(seedId, 0, 0, 0, null, null, 0, 0.0, null,
      null, CdcApply.Delete, 2000L, new Timestamp(0)))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[TxChange]
    val q = dt.start(stream.toDF(), s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // boundary 1: mid-stream, half the CDC landed
      stream.addData(gen.take(150).toIndexedSeq)
      q.processAllAvailable()
      val batch1 = viewOf(fact.current())
      dashboardReads(result.current()).zip(dashboardReads(batch1))
        .foreach { case ((hint, live), (_, batch)) =>
          assertSameRows(live, batch, s"boundary1/$hint") }

      // boundary 2: the rest plus a view-row delete
      stream.addData((gen.drop(150) ++ edits).toIndexedSeq)
      q.processAllAvailable()
      val batch2 = viewOf(fact.current())
      assert(result.current()
        .filter(col("transaction_id") === seedId).count() == 0,
        "deleted seed row still in the live view")
      dashboardReads(result.current()).zip(dashboardReads(batch2))
        .foreach { case ((hint, live), (_, batch)) =>
          assertSameRows(live, batch, s"boundary2/$hint") }
    } finally q.stop()
  }
}
