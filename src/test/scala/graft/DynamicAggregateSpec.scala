package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.operators.{Dashboard, PurchaseSummary}
import graft.sources.ReferenceCsv
import graft.streaming.DynamicAggregate

class DynamicAggregateSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$hint: incremental aggregate and full recompute diverge")

  test("property: incremental aggregate ≡ full groupBy over random sequences", Slow) {
    def viewOf(f: DataFrame): DataFrame =
      f.groupBy("grp").agg(sum(col("qty")).as("total"),
                           count(lit(1)).as("n"))
    for (seed <- Seq(3, 13, 31)) {
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory(s"graft-agg-$seed").toString
      val fact = new ReplicatedTable(spark, s"$dir/fact", Seq("item_id"))
      val result = new ReplicatedTable(spark, s"$dir/agg", Seq("grp"))
      val da = new DynamicAggregate(fact, result, Seq("grp"), viewOf)

      fact.snapshot(
        (0 until 12).map(i => Item(i, rnd.nextInt(5), 1 + rnd.nextInt(9))).toDF())
      da.fullRefresh()
      var lsn = 0L
      for (batch <- 1 to 5) {
        val ops = (0 until 20).map { _ =>
          lsn += 1
          val id = rnd.nextInt(24)
          rnd.nextInt(3) match {
            // updates draw a fresh grp — group-MOVING updates are the
            // hard case (old group must shrink, new group must grow)
            case 0 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
              CdcApply.Insert, lsn, new Timestamp(lsn))
            case 1 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
              CdcApply.Update, lsn, new Timestamp(lsn))
            case _ => ItemChange(id, 0, 0, CdcApply.Delete, lsn,
              new Timestamp(lsn))
          }
        }
        // NOTE: refresh() owns the fact merge (it must observe the
        // pre-merge group memberships) — no separate applyChanges
        da.refresh(ops.toDF())
        assertSameRows(result.current(), viewOf(fact.current()),
          s"seed=$seed batch=$batch")
      }
    }
  }

  test("flagship: customer_spending maintained incrementally under CDC") {
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    def viewOf(tx: DataFrame): DataFrame =
      Dashboard.calculateCustomerSpending(
        PurchaseSummary.customerPurchaseSummary(
          tx, tables("customers"), tables("products"), tables("merchants")))

    val dir = Files.createTempDirectory("graft-agg-flag").toString
    val fact = new ReplicatedTable(spark, s"$dir/tx", Seq("transaction_id"))
    val result = new ReplicatedTable(spark, s"$dir/spending", Seq("customer_id"))
    fact.snapshot(tables("transactions"))
    val da = new DynamicAggregate(fact, result, Seq("customer_id"), viewOf)
    da.fullRefresh()
    assert(result.current().count() > 0)

    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 150, seed = 21L, startLsn = 500L)
    da.refresh(gen)
    assertSameRows(result.current(), viewOf(fact.current()), "flagship spending")

    // spend_status buckets present and consistent with the totals
    val bad = result.current().filter(
      (col("total_price") < 4000 && col("spend_status") =!= "Low Spenders") ||
      (col("total_price") >= 4000 && col("total_price") < 6000 &&
        col("spend_status") =!= "Medium Spenders") ||
      (col("total_price") >= 6000 && col("spend_status") =!= "High Spenders"))
    assert(bad.count() == 0)
  }
}
