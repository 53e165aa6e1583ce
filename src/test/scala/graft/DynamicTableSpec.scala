package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.operators.PurchaseSummary
import graft.sources.ReferenceCsv
import graft.streaming.DynamicTable

case class Item(item_id: Int, grp: Int, qty: Int)
case class ItemChange(item_id: Int, grp: Int, qty: Int,
                      _op: String, _lsn: Long, _commit_ts: Timestamp)
case class DimChange(grp: Int, factor: Int,
                     _op: String, _lsn: Long, _commit_ts: Timestamp)
case class TxChange(transaction_id: String, customer_id: Int, product_id: Int,
                    merchant_id: Int, transaction_date: Date,
                    transaction_time: String, quantity: Int,
                    total_price: Double, transaction_card: String,
                    transaction_category: String,
                    _op: String, _lsn: Long, _commit_ts: Timestamp)

class DynamicTableSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$hint: incremental and full recompute diverge")
  }

  test("property: incremental refresh ≡ full recompute over random change sequences") {
    // dim covers only grp 0..2 → inserts/updates into grp 3..4 drop out
    // of the view, exercising membership flips, not just value changes.
    val dim = Seq((0, 2), (1, 3), (2, 5)).toDF("grp", "factor")
    def viewOf(fact: DataFrame): DataFrame =
      fact.join(broadcast(dim), Seq("grp"))
        .select(col("item_id"), col("grp"),
                (col("qty") * col("factor")).as("measure"))

    for (seed <- Seq(1, 7, 42)) {
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory(s"graft-ivm-$seed").toString
      val fact = new ReplicatedTable(spark, s"$dir/fact", Seq("item_id"))
      val result = new ReplicatedTable(spark, s"$dir/view", Seq("item_id"))
      val dt = new DynamicTable(fact, result, viewOf)

      fact.snapshot(
        (0 until 10).map(i => Item(i, rnd.nextInt(5), 1 + rnd.nextInt(9))).toDF())
      dt.fullRefresh()
      var lsn = 0L
      for (batch <- 1 to 4) {
        val ops = (0 until 25).map { _ =>
          lsn += 1
          val id = rnd.nextInt(20)
          rnd.nextInt(3) match {
            case 0 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
              CdcApply.Insert, lsn, new Timestamp(lsn))
            case 1 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
              CdcApply.Update, lsn, new Timestamp(lsn))
            case _ => ItemChange(id, 0, 0, CdcApply.Delete, lsn,
              new Timestamp(lsn))
          }
        }
        val changes = ops.toDF()
        fact.applyChanges(changes)
        dt.incrementalRefresh(changes)
        assertSameRows(result.current(), viewOf(fact.current()),
          s"seed=$seed batch=$batch")
      }
    }
  }

  test("property: dynamic tables compose into a DAG — two-hop incremental ≡ full", Slow) {
    // tier 1: the usual dim-join view; tier 2 reads tier 1's OUTPUT as
    // its fact (filter + derived column, row-local in the tier-1 key).
    // Each refresh returns the view-change batch it applied; feeding
    // that batch downstream is the whole composition contract.
    val dim = Seq((0, 2), (1, 3), (2, 5)).toDF("grp", "factor")
    def viewOf1(fact: DataFrame): DataFrame =
      fact.join(broadcast(dim), Seq("grp"))
        .select(col("item_id"), col("grp"),
                (col("qty") * col("factor")).as("measure"))
    def viewOf2(v1: DataFrame): DataFrame =
      v1.filter(col("measure") >= 10)
        .select(col("item_id"), col("grp"), col("measure"),
                (col("measure") * lit(100)).as("cents"))

    for (seed <- Seq(5, 13, 31)) {
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory(s"graft-dag-$seed").toString
      val fact = new ReplicatedTable(spark, s"$dir/fact", Seq("item_id"))
      val mid = new ReplicatedTable(spark, s"$dir/mid", Seq("item_id"))
      val top = new ReplicatedTable(spark, s"$dir/top", Seq("item_id"))
      val dt1 = new DynamicTable(fact, mid, viewOf1)
      val dt2 = new DynamicTable(mid, top, viewOf2)

      fact.snapshot(
        (0 until 10).map(i => Item(i, rnd.nextInt(5), 1 + rnd.nextInt(9))).toDF())
      dt2.incrementalRefresh(dt1.fullRefresh())
      assertSameRows(top.current(), viewOf2(viewOf1(fact.current())),
        s"seed=$seed initial")
      var lsn = 0L
      for (batch <- 1 to 4) {
        val ops = (0 until 25).map { _ =>
          lsn += 1
          val id = rnd.nextInt(20)
          rnd.nextInt(3) match {
            case 0 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
              CdcApply.Insert, lsn, new Timestamp(lsn))
            case 1 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
              CdcApply.Update, lsn, new Timestamp(lsn))
            case _ => ItemChange(id, 0, 0, CdcApply.Delete, lsn,
              new Timestamp(lsn))
          }
        }
        val changes = ops.toDF()
        fact.applyChanges(changes)
        val midDelta = dt1.incrementalRefresh(changes)
        dt2.incrementalRefresh(midDelta)
        assertSameRows(mid.current(), viewOf1(fact.current()),
          s"seed=$seed batch=$batch tier1")
        assertSameRows(top.current(), viewOf2(viewOf1(fact.current())),
          s"seed=$seed batch=$batch tier2")
      }
    }
  }

  test("streamed DAG: one trigger maintains the whole two-hop chain") {
    val dim = Seq((0, 2), (1, 3), (2, 5)).toDF("grp", "factor")
    def viewOf1(fact: DataFrame): DataFrame =
      fact.join(broadcast(dim), Seq("grp"))
        .select(col("item_id"), col("grp"),
                (col("qty") * col("factor")).as("measure"))
    def viewOf2(v1: DataFrame): DataFrame =
      v1.filter(col("measure") >= 10)
        .select(col("item_id"), col("measure"))

    val rnd = new Random(17)
    val dir = Files.createTempDirectory("graft-dag-stream").toString
    val fact = new ReplicatedTable(spark, s"$dir/fact", Seq("item_id"))
    val mid = new ReplicatedTable(spark, s"$dir/mid", Seq("item_id"))
    val top = new ReplicatedTable(spark, s"$dir/top", Seq("item_id"))
    val dt1 = new DynamicTable(fact, mid, viewOf1)
    val dt2 = new DynamicTable(mid, top, viewOf2)

    fact.snapshot(
      (0 until 10).map(i => Item(i, rnd.nextInt(5), 1 + rnd.nextInt(9))).toDF())
    dt2.incrementalRefresh(dt1.fullRefresh())

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[ItemChange]
    val q = dt1.startDag(stream.toDF(), s"$dir/ckpt", Seq(dt2),
      trigger = Trigger.ProcessingTime(0))
    var lsn = 0L
    for (_ <- 1 to 3) {
      val ops = (0 until 20).map { _ =>
        lsn += 1
        val id = rnd.nextInt(20)
        rnd.nextInt(3) match {
          case 0 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
            CdcApply.Insert, lsn, new Timestamp(lsn))
          case 1 => ItemChange(id, rnd.nextInt(5), 1 + rnd.nextInt(9),
            CdcApply.Update, lsn, new Timestamp(lsn))
          case _ => ItemChange(id, 0, 0, CdcApply.Delete, lsn,
            new Timestamp(lsn))
        }
      }
      stream.addData(ops)
      q.processAllAvailable()
      assertSameRows(mid.current(), viewOf1(fact.current()), "dag tier1")
      assertSameRows(top.current(), viewOf2(viewOf1(fact.current())), "dag tier2")
    }
    q.stop()

    // wiring a chain whose tables don't connect is rejected
    assertThrows[IllegalArgumentException] {
      dt1.startDag(stream.toDF(), s"$dir/ckpt2", Seq(dt1))
    }
  }

  test("property: incremental ≡ full under interleaved fact AND dimension changes") {
    // dim keys roam 0..5; the dim holding only a subset at any moment
    // exercises all three dim effects: value updates (factor change),
    // drop-outs (dim delete → fact rows leave the view), and join-ins
    // (dim insert → previously-dropped fact rows enter the view).
    for (seed <- Seq(2, 11, 23)) {
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory(s"graft-ivm-dim-$seed").toString
      val fact = new ReplicatedTable(spark, s"$dir/fact", Seq("item_id"))
      val dim = new ReplicatedTable(spark, s"$dir/dim", Seq("grp"))
      val result = new ReplicatedTable(spark, s"$dir/view", Seq("item_id"))
      // viewOf reads dim.current() at CALL time — each refresh sees the
      // dim as maintained (the DynamicTable contract)
      def viewOf(f: DataFrame): DataFrame =
        f.join(broadcast(dim.current()), Seq("grp"))
          .select(col("item_id"), col("grp"),
                  (col("qty") * col("factor")).as("measure"))
      val dt = new DynamicTable(fact, result, viewOf,
        dims = Map("dim" -> DynamicTable.DimBinding(dim, "grp")))

      fact.snapshot(
        (0 until 12).map(i => Item(i, rnd.nextInt(6), 1 + rnd.nextInt(9))).toDF())
      dim.snapshot(Seq((0, 2), (1, 3), (2, 5)).toDF("grp", "factor"))
      dt.fullRefresh()
      var lsn = 0L
      for (batch <- 1 to 6) {
        lsn += 1
        if (rnd.nextBoolean()) {
          val ops = (0 until 15).map { _ =>
            lsn += 1
            val id = rnd.nextInt(24)
            rnd.nextInt(3) match {
              case 0 => ItemChange(id, rnd.nextInt(6), 1 + rnd.nextInt(9),
                CdcApply.Insert, lsn, new Timestamp(lsn))
              case 1 => ItemChange(id, rnd.nextInt(6), 1 + rnd.nextInt(9),
                CdcApply.Update, lsn, new Timestamp(lsn))
              case _ => ItemChange(id, 0, 0, CdcApply.Delete, lsn,
                new Timestamp(lsn))
            }
          }
          val changes = ops.toDF()
          fact.applyChanges(changes)
          dt.incrementalRefresh(changes)
        } else {
          val ops = (0 until 4).map { _ =>
            lsn += 1
            val g = rnd.nextInt(6)
            rnd.nextInt(3) match {
              case 0 => DimChange(g, 2 + rnd.nextInt(7),
                CdcApply.Insert, lsn, new Timestamp(lsn))
              case 1 => DimChange(g, 2 + rnd.nextInt(7),
                CdcApply.Update, lsn, new Timestamp(lsn))
              case _ => DimChange(g, 0, CdcApply.Delete, lsn,
                new Timestamp(lsn))
            }
          }
          val dimChanges = ops.toDF()
          dim.applyChanges(dimChanges) // dim replica first …
          dt.dimensionRefresh("dim", dimChanges) // … then the view
        }
        assertSameRows(result.current(), viewOf(fact.current()),
          s"seed=$seed batch=$batch")
      }
    }
  }

  test("flagship dynamic table: streamed CDC lands in the view (end-to-end)") {
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    def viewOf(tx: DataFrame): DataFrame =
      PurchaseSummary.customerPurchaseSummary(
        tx, tables("customers"), tables("products"), tables("merchants"))

    val dir = Files.createTempDirectory("graft-dt").toString
    val fact = new ReplicatedTable(spark, s"$dir/tx", Seq("transaction_id"))
    val result = new ReplicatedTable(spark, s"$dir/view", Seq("transaction_id"))
    fact.snapshot(tables("transactions"))
    val dt = new DynamicTable(fact, result, viewOf)
    dt.fullRefresh()
    val viewRowsBefore = result.current().count()
    assert(viewRowsBefore > 0 && viewRowsBefore < 1000)

    // tail: generated inserts + a hand-built update & delete of seed rows
    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 200, seed = 7L, startLsn = 100L)
    val genChanges = gen.as[TxChange].collect()
    val seedIds = result.current().select("transaction_id")
      .orderBy("transaction_id").limit(2).collect().map(_.getString(0))
    val seedRow = tables("transactions")
      .filter(col("transaction_id") === seedIds(0)).as[TxRow].head()
    val tailEdits = Seq(
      // bump quantity of a seed row that is currently in the view
      TxChange(seedRow.transaction_id, seedRow.customer_id, seedRow.product_id,
        seedRow.merchant_id, seedRow.transaction_date, seedRow.transaction_time,
        seedRow.quantity + 1, seedRow.total_price, seedRow.transaction_card,
        seedRow.transaction_category, CdcApply.Update, 1000L, new Timestamp(0)),
      // delete another row that is currently in the view
      TxChange(seedIds(1), 0, 0, 0, null, null, 0, 0.0, null, null,
        CdcApply.Delete, 1001L, new Timestamp(0)))

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[TxChange]
    val q = dt.start(stream.toDF(), s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    stream.addData(genChanges.take(100).toIndexedSeq)
    q.processAllAvailable()
    stream.addData(genChanges.drop(100).toIndexedSeq ++ tailEdits)
    q.processAllAvailable()
    q.stop()

    // invariant: materialized view ≡ full recompute over the final fact
    assertSameRows(result.current(), viewOf(fact.current()), "flagship")
    // the deleted seed row left the view; the updated row reflects new qty
    assert(result.current()
      .filter(col("transaction_id") === seedIds(1)).count() == 0)
    val updated = result.current()
      .filter(col("transaction_id") === seedRow.transaction_id).collect()
    updated.foreach { r =>
      assert(r.getAs[Int]("quantity") == seedRow.quantity + 1)
    }
    // generated purchases joined in: view grew
    assert(result.current().count() > viewRowsBefore - 2)
  }
}

case class TxRow(transaction_id: String, customer_id: Int, product_id: Int,
                 merchant_id: Int, transaction_date: Date,
                 transaction_time: String, quantity: Int, total_price: Double,
                 transaction_card: String, transaction_category: String)

class PartitionedDynamicTableSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("partition-scoped pipeline: partitioned fact AND partitioned view") {
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    def viewOf(tx: DataFrame): DataFrame =
      PurchaseSummary.customerPurchaseSummary(
        tx, tables("customers"), tables("products"), tables("merchants"))

    val dir = Files.createTempDirectory("graft-pdt").toString
    val fact = new PartitionedReplicatedTable(
      spark, s"$dir/tx", Seq("transaction_id"), "transaction_date")
    val result = new PartitionedReplicatedTable(
      spark, s"$dir/view", Seq("transaction_id"), "transaction_date")
    fact.snapshot(tables("transactions"))
    val dt = new DynamicTable(fact, result, viewOf)
    dt.fullRefresh()

    // one view row to delete — its fact DELETE event carries the date
    // (replica identity includes the partition key)
    val victim = result.current().select("transaction_id", "transaction_date")
      .orderBy("transaction_id").head()
    val untouchedDate = result.current()
      .filter(col("transaction_date") =!= victim.getDate(1))
      .select("transaction_date").orderBy("transaction_date").head().getDate(0)

    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 50, seed = 3L, startLsn = 50L, date = "2025-02-02")
    val del = Seq(TxChange(victim.getString(0), 0, 0, 0, victim.getDate(1),
      null, 0, 0.0, null, null, CdcApply.Delete, 999L,
      new java.sql.Timestamp(0))).toDF()
    val batch = gen.unionByName(del)

    fact.applyChanges(batch)
    dt.incrementalRefresh(batch)

    val expect = viewOf(fact.current())
    val got = result.current()
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
    assert(got.filter(col("transaction_id") === victim.getString(0)).count() == 0)
    // partition-scoped maintenance: a view partition not in the batch
    // was not rewritten
    assert(result.partitionVersion(untouchedDate).contains("v=0"))
  }
}
