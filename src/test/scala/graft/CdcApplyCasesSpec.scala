package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcApply

case class Kv2(a: Int, b: String, v: String)
case class Kv2Change(a: Int, b: String, v: String, _op: String, _lsn: Long,
                     _commit_ts: Timestamp)

/** Cases of the CDC merge that CdcSpec's mixed batch and the random
  * sequences of CdcApplyProps do not name: an empty batch, the replay
  * limits `CdcApply`'s doc states, composite keys, and the two-step
  * form over materialized winners. */
class CdcApplyCasesSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def change(k: Int, v: String, op: String, lsn: Long) =
    KvChange(k, v, op, lsn, ts(lsn))
  private def apply(current: Seq[Kv], changes: Seq[KvChange]): Seq[Kv] =
    CdcApply.applyBatch(current.toDF(), changes.toDF(), Seq("k"))
      .as[Kv].collect().sortBy(_.k).toSeq

  private val table = Seq(Kv(1, "a"), Kv(2, "b"))

  test("an empty batch leaves the table unchanged") {
    assert(apply(table, Nil) == table)
  }

  test("replay: the last batch again is a no-op; an older batch after a newer one restores older images") {
    val older = Seq(change(1, "a1", CdcApply.Update, 1),
                    change(3, "c1", CdcApply.Insert, 2))
    val newer = Seq(change(1, "a2", CdcApply.Update, 3),
                    change(3, null, CdcApply.Delete, 4))
    val afterBoth = apply(apply(table, older), newer)
    assert(afterBoth == Seq(Kv(1, "a2"), Kv(2, "b")))
    assert(apply(afterBoth, newer) == afterBoth)
    // the merge keeps no per-row lsn: the old batch's winners land again
    assert(apply(afterBoth, older) == Seq(Kv(1, "a1"), Kv(2, "b"), Kv(3, "c1")))
  }

  test("composite keys: only the full key matches") {
    val current = Seq(Kv2(1, "x", "p"), Kv2(1, "y", "q"), Kv2(2, "x", "r")).toDF()
    val changes = Seq(
      Kv2Change(1, "x", "p2", CdcApply.Update, 1, ts(1)),
      Kv2Change(2, "y", "s", CdcApply.Insert, 2, ts(2)),
      Kv2Change(1, "y", null, CdcApply.Delete, 3, ts(3))).toDF()
    val got = CdcApply.applyBatch(current, changes, Seq("a", "b"))
      .as[Kv2].collect().sortBy(r => (r.a, r.b)).toSeq
    assert(got == Seq(Kv2(1, "x", "p2"), Kv2(2, "x", "r"), Kv2(2, "y", "s")))
  }

  test("mergeWinners over materialized latest equals applyBatch") {
    // events arrive out of lsn order; the winner is the highest lsn
    val changes = Seq(
      change(2, "b3", CdcApply.Update, 9), change(2, "b1", CdcApply.Update, 4),
      change(1, null, CdcApply.Delete, 6), change(1, "a1", CdcApply.Update, 5),
      change(5, "e", CdcApply.Insert, 7)).toDF()
    val winners = CdcApply.latest(changes, Seq("k")).collect()
    assert(winners.length == 3)
    val win = spark.createDataFrame(
      spark.sparkContext.parallelize(winners.toSeq), changes.schema)
    val twoStep = CdcApply.mergeWinners(table.toDF(), win, Seq("k"))
      .as[Kv].collect().sortBy(_.k).toSeq
    assert(twoStep == apply(table, changes.as[KvChange].collect().toSeq))
    assert(twoStep == Seq(Kv(2, "b3"), Kv(5, "e")))
  }
}
