package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.sources.ReferenceCsv

case class Kv(k: Int, v: String)
case class KvChange(k: Int, v: String, _op: String, _lsn: Long,
                    _commit_ts: Timestamp)

class CdcSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("applyBatch: insert, update, delete, last-writer-wins, idempotence") {
    val current = Seq(Kv(1, "a"), Kv(2, "b"), Kv(3, "c"), Kv(4, "d")).toDF()
    val changes = Seq(
      KvChange(2, "b-old", CdcApply.Update, 5, ts(5)),
      KvChange(2, "b-new", CdcApply.Update, 7, ts(7)), // later lsn wins
      KvChange(3, null, CdcApply.Delete, 6, ts(6)),
      KvChange(5, "e", CdcApply.Insert, 8, ts(8)),
      KvChange(6, "f", CdcApply.Insert, 9, ts(9)),
      KvChange(6, null, CdcApply.Delete, 10, ts(10)) // net: never lands
    ).toDF()

    val result = CdcApply.applyBatch(current, changes, Seq("k"))
      .as[Kv].collect().sortBy(_.k)
    assert(result.toSeq == Seq(Kv(1, "a"), Kv(2, "b-new"), Kv(4, "d"), Kv(5, "e")))

    // re-applying the same batch changes nothing (at-least-once safety)
    val again = CdcApply.applyBatch(result.toSeq.toDF(), changes, Seq("k"))
      .as[Kv].collect().sortBy(_.k)
    assert(again.toSeq == result.toSeq)
  }

  test("replicated table: snapshot then incremental versions with atomic pointer") {
    val dir = Files.createTempDirectory("graft-repl").toString
    val table = new ReplicatedTable(spark, s"$dir/kv", Seq("k"))
    assert(!table.isSnapshotDone)
    table.snapshot(Seq(Kv(1, "a"), Kv(2, "b")).toDF())
    assert(table.currentVersion.contains(0))

    table.applyChanges(Seq(
      KvChange(1, "a2", CdcApply.Update, 1, ts(1)),
      KvChange(3, "c", CdcApply.Insert, 2, ts(2))).toDF())
    assert(table.currentVersion.contains(1))
    assert(table.current().as[Kv].collect().sortBy(_.k).toSeq ==
      Seq(Kv(1, "a2"), Kv(2, "b"), Kv(3, "c")))

    table.applyChanges(Seq(
      KvChange(2, null, CdcApply.Delete, 3, ts(3))).toDF())
    assert(table.current().as[Kv].collect().sortBy(_.k).toSeq ==
      Seq(Kv(1, "a2"), Kv(3, "c")))

    // vacuum keeps the newest `keep` versions; reads and later applies
    // are untouched by the sweep
    val fsys = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def versions() = fsys.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/kv"))
      .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    assert(versions() == Seq("v=0", "v=1", "v=2"))
    table.vacuum(keep = 1)
    assert(versions() == Seq("v=2"))
    assert(table.current().as[Kv].collect().sortBy(_.k).toSeq ==
      Seq(Kv(1, "a2"), Kv(3, "c")))
    table.applyChanges(Seq(
      KvChange(4, "d", CdcApply.Insert, 4, ts(4))).toDF())
    assert(table.current().count() == 3)
  }

  test("streaming replication: snapshot + tail equals batch apply") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val table = new ReplicatedTable(spark, s"$dir/kv", Seq("k"))
    table.snapshot(Seq(Kv(1, "a"), Kv(2, "b")).toDF())

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[KvChange]
    val q = CdcPipeline.replicate(
      stream.toDF(), table, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))

    stream.addData(
      KvChange(2, "b2", CdcApply.Update, 1, ts(1)),
      KvChange(3, "c", CdcApply.Insert, 2, ts(2)))
    q.processAllAvailable()
    stream.addData(KvChange(1, null, CdcApply.Delete, 3, ts(3)))
    q.processAllAvailable()
    q.stop()

    assert(table.current().as[Kv].collect().sortBy(_.k).toSeq ==
      Seq(Kv(2, "b2"), Kv(3, "c")))
    assert(table.currentVersion.contains(2)) // one version per micro-batch
  }

  test("generator: reference invariants hold and output is reproducible") {
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 3000, seed = 42L).cache()

    assert(gen.count() == 3000)
    assert(gen.select("transaction_id").distinct().count() == 3000)
    // quantity ∈ [1,7]  (postgresql_setup.sql:104)
    assert(gen.filter(col("quantity") < 1 || col("quantity") > 7).count() == 0)
    // card ∈ the 4-value array  (postgresql_setup.sql:110)
    val cardSet = gen.select("transaction_card").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cardSet == Set("American Express", "Visa", "Mastercard", "Discover"))
    // ~80% Purchase  (postgresql_setup.sql:111)
    val purchases = gen.filter(col("transaction_category") === "Purchase").count()
    assert(purchases > 2200 && purchases < 2600, s"got $purchases/3000")
    // FK closure over the dims
    assert(gen.join(tables("customers"), Seq("customer_id"), "left_anti").count() == 0)
    assert(gen.join(tables("products"), Seq("product_id"), "left_anti").count() == 0)
    assert(gen.join(tables("merchants"), Seq("merchant_id"), "left_anti").count() == 0)
    // total_price = quantity * product price  (postgresql_setup.sql:106-109)
    val bad = gen.join(tables("products"), "product_id")
      .filter(abs(col("total_price") - col("quantity") * col("price")) > 1e-9)
    assert(bad.count() == 0)

    // reproducible: same seed → identical frame
    val gen2 = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 3000, seed = 42L)
    assert(gen.exceptAll(gen2).count() == 0 && gen2.exceptAll(gen).count() == 0)
  }

  test("generator: BIGINT dimension keys (the testdata star) keep their type") {
    val st = graft.sources.TestData.star(spark, sf)
    val gen = TransactionGenerator.generate(
      spark, st.customers, st.products, st.merchants, n = 500, seed = 7L)
      .cache()
    assert(gen.count() == 500)
    for ((fk, dim) <- Seq("customer_id" -> st.customers,
                          "product_id" -> st.products,
                          "merchant_id" -> st.merchants)) {
      assert(gen.schema(fk).dataType == dim.schema(fk).dataType, fk)
      assert(gen.join(dim, Seq(fk), "left_anti").count() == 0, s"$fk closure")
    }
    val bad = gen.join(st.products, "product_id")
      .filter(abs(col("total_price") - col("quantity") * col("price")) > 1e-9)
    assert(bad.count() == 0)
    gen.unpersist()
  }
}
