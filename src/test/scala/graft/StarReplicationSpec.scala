package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.operators.PurchaseSummary
import graft.sources.ReferenceCsv

case class ProdChange(product_id: Int, product_name: String,
                      product_category: String, price: Double,
                      _op: String, _lsn: Long, _commit_ts: Timestamp)
case class CustChange(customer_id: Int, firstname: String, lastname: String,
                      age: Int, email: String, phone_number: String,
                      _op: String, _lsn: Long, _commit_ts: Timestamp)
case class MerchChange(merchant_id: Int, merchant_name: String,
                       merchant_category: String,
                       _op: String, _lsn: Long, _commit_ts: Timestamp)

class StarReplicationSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$hint: view and full recompute diverge")

  test("four-table star pipeline: changes on every table maintain the view") {
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    val dir = Files.createTempDirectory("graft-star").toString
    val star = new StarReplication(spark, s"$dir/star")
    star.snapshotAll(tables("transactions"), tables("customers"),
      tables("products"), tables("merchants"))

    def expect(): DataFrame = PurchaseSummary.customerPurchaseSummary(
      star.transactions.current(), star.customers.current(),
      star.products.current(), star.merchants.current())
    assertSameRows(star.view.current(), expect(), "after snapshot")

    // 1. fact inserts land in a fresh date partition
    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 80, seed = 5L, startLsn = 10L, date = "2025-03-03")
    star.applyBatch("transactions", gen)
    assertSameRows(star.view.current(), expect(), "after fact batch")

    // pick a product/customer/merchant that the view references
    val probe = star.view.current()
      .select("product_id", "customer_id", "merchant_id", "product_category")
      .orderBy("transaction_id").head()
    val (pid, cid, mid) = (probe.getInt(0), probe.getInt(1), probe.getInt(2))

    // 2. product price + category update: every view row of that
    // product recomputes; the category flip breaks the merchant
    // conjunct for rows whose merchant stays in the old category
    val before = star.view.current()
      .filter(col("product_id") === pid).count()
    assert(before > 0)
    val newCat = star.merchants.current()
      .filter(col("merchant_category") =!= probe.getString(3))
      .select("merchant_category").orderBy("merchant_category").head().getString(0)
    star.applyBatch("products", Seq(ProdChange(pid, "renamed", newCat, 123.45,
      CdcApply.Update, 100L, new Timestamp(100))).toDF())
    assertSameRows(star.view.current(), expect(), "after product update")

    // 3. customer age update: value-only change flows into customer_age
    star.applyBatch("customers", Seq(CustChange(cid, "f", "l", 99, "e", "p",
      CdcApply.Update, 101L, new Timestamp(101))).toDF())
    assertSameRows(star.view.current(), expect(), "after customer update")
    assert(star.view.current().filter(col("customer_id") === cid)
      .select("customer_age").distinct().collect().forall(_.getInt(0) == 99))

    // 4. merchant delete: drop-out — its rows leave the view
    star.applyBatch("merchants", Seq(MerchChange(mid, null, null,
      CdcApply.Delete, 102L, new Timestamp(102))).toDF())
    assertSameRows(star.view.current(), expect(), "after merchant delete")
    assert(star.view.current().filter(col("merchant_id") === mid).count() == 0)

    // 5. merchant re-insert: join-in — previously dropped rows return.
    // Category chosen from a product this merchant actually sells (the
    // probe product's own category changed in step 2), so at least one
    // fact row must re-join.
    val rejoinCat = star.transactions.current()
      .filter(col("merchant_id") === mid)
      .join(star.products.current(), "product_id")
      .select("product_category").orderBy("product_category").head().getString(0)
    star.applyBatch("merchants", Seq(MerchChange(mid, "back",
      rejoinCat, CdcApply.Insert, 103L, new Timestamp(103))).toDF())
    assertSameRows(star.view.current(), expect(), "after merchant reinsert")
    assert(star.view.current().filter(col("merchant_id") === mid).count() > 0)

    // 6. streaming phase: fact + product feeds as independent queries,
    // with the per-table monitoring surface attached
    implicit val sq = spark.sqlContext
    val monitor = new CdcPipeline.ReplicationMonitor
    spark.streams.addListener(monitor)
    val txStream = MemoryStream[TxChange]
    val prodStream = MemoryStream[ProdChange]
    val queries = star.startAll(
      Map("transactions" -> txStream.toDF(), "products" -> prodStream.toDF()),
      s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    val gen2 = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 60, seed = 9L, startLsn = 200L, date = "2025-03-04")
    txStream.addData(gen2.as[TxChange].collect().toIndexedSeq)
    prodStream.addData(ProdChange(pid, "renamed-again", probe.getString(3),
      9.99, CdcApply.Update, 300L, new Timestamp(300)))
    queries.values.foreach(_.processAllAvailable())
    queries.values.foreach(_.stop())
    assertSameRows(star.view.current(), expect(), "after streamed feeds")

    // REPLICATION_STATE surface: per-table progress rows, named per feed
    val progressNames = monitor.progress(spark)
      .select("query").distinct().collect().map(_.getString(0)).toSet
    spark.streams.removeListener(monitor)
    assert(Set("star-transactions", "star-products").subsetOf(progressNames),
      s"monitor saw: $progressNames")

    // partition-scoped: the 2025-03-03 fact batch never rewrote the
    // 2025-03-04 partition afterwards (dates are append-disjoint), and
    // the view is date-partitioned like the fact
    assert(star.view.partitionVersion(Date.valueOf("2025-03-04")).isDefined)
  }
}
