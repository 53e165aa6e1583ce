package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._
import graft.sources.ReferenceCsv

case class PKv(k: Int, day: String, v: String)
case class PKvChange(k: Int, day: String, v: String,
                     _op: String, _lsn: Long, _commit_ts: Timestamp)
case class ZKv(k: Int, day: String, amt: Option[Long], tag: String)
case class TKv(k: Int, day: String, ts: Timestamp, x: Double,
               amt: Option[Long])
case class ZKvChange(k: Int, day: String, amt: Option[Long], tag: String,
                     _op: String, _lsn: Long, _commit_ts: Timestamp)

class PartitionedReplicatedTableSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("partition-scoped merge touches only affected partitions") {
    val dir = Files.createTempDirectory("graft-ptab").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")

    t.snapshot(Seq(
      PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-01", "b"),
      PKv(3, "2024-01-02", "c"), PKv(4, "2024-01-03", "d")).toDF())
    assert(t.partitionVersion("2024-01-01").contains("v=0"))
    assert(t.partitionVersion("2024-01-03").contains("v=0"))

    // batch touching only day 1 and 2
    t.applyChanges(Seq(
      PKvChange(1, "2024-01-01", "a-stale", CdcApply.Update, 1, ts(1)),
      PKvChange(1, "2024-01-01", "a2", CdcApply.Update, 2, ts(2)), // LWW
      PKvChange(5, "2024-01-02", "e", CdcApply.Insert, 3, ts(3))).toDF())

    assert(t.partitionVersion("2024-01-01").contains("v=1"))
    assert(t.partitionVersion("2024-01-02").contains("v=1"))
    // THE invariant: the untouched partition was not rewritten
    assert(t.partitionVersion("2024-01-03").contains("v=0"))

    assert(t.current().as[PKv].collect().sortBy(_.k).toSeq == Seq(
      PKv(1, "2024-01-01", "a2"), PKv(2, "2024-01-01", "b"),
      PKv(3, "2024-01-02", "c"), PKv(4, "2024-01-03", "d"),
      PKv(5, "2024-01-02", "e")))

    // delete every row of day 2 → partition goes EMPTY; others untouched
    t.applyChanges(Seq(
      PKvChange(3, "2024-01-02", null, CdcApply.Delete, 4, ts(4)),
      PKvChange(5, "2024-01-02", null, CdcApply.Delete, 5, ts(5))).toDF())
    assert(t.partitionVersion("2024-01-02").contains("EMPTY"))
    assert(t.partitionVersion("2024-01-01").contains("v=1"))
    assert(t.current().count() == 3)

    // reinsert into the emptied partition
    t.applyChanges(Seq(
      PKvChange(6, "2024-01-02", "f", CdcApply.Insert, 6, ts(6))).toDF())
    assert(t.partitionVersion("2024-01-02").contains("v=2"))
    assert(t.current().filter($"day" === "2024-01-02").count() == 1)
  }

  test("time travel: asOf(v) serves each committed snapshot; vacuum bounds the window loudly") {
    val dir = Files.createTempDirectory("graft-ptab-tt").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    t.snapshot(Seq(
      PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-02", "b")).toDF())
    t.applyChanges(Seq(PKvChange(1, "2024-01-01", "a1",
      CdcApply.Update, 1, ts(1))).toDF())
    t.applyChanges(Seq(
      PKvChange(3, "2024-01-02", "c", CdcApply.Insert, 2, ts(2)),
      PKvChange(2, "2024-01-02", null, CdcApply.Delete, 3, ts(3))).toDF())

    assert(t.versions() == Seq(0, 1, 2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[PKv].collect().sortBy(_.k).toSeq
    assert(rows(t.asOf(0)) == Seq(
      PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-02", "b")))
    assert(rows(t.asOf(1)) == Seq(
      PKv(1, "2024-01-01", "a1"), PKv(2, "2024-01-02", "b")))
    assert(rows(t.asOf(2)) == rows(t.current()))

    // the touched partition's OLD version dir must survive vacuum while
    // a retained manifest references it (keepManifests=2 keeps m=1,m=2)
    t.vacuum(keepManifests = 2)
    assert(t.versions() == Seq(1, 2))
    assert(rows(t.asOf(1)) == Seq(
      PKv(1, "2024-01-01", "a1"), PKv(2, "2024-01-02", "b")))
    val err = intercept[IllegalArgumentException](t.asOf(0))
    assert(err.getMessage.contains("not retained"))

    // a crashed writer's staged-but-uncommitted manifest (m=N above
    // the head pointer) is never listed and never served
    val fsTT = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/t/m=9")
    val out = fsTT.create(orphan, true)
    out.write("deadbeef\tv=7\n".getBytes("UTF-8")); out.close()
    assert(t.versions() == Seq(1, 2), "uncommitted manifest leaked into versions()")
    assert(intercept[IllegalArgumentException](t.asOf(9))
      .getMessage.contains("not retained"))
    fsTT.delete(orphan, false)

    // flat layout: same contract
    val f = new ReplicatedTable(spark, s"$dir/f", Seq("k"))
    f.snapshot(Seq(PKv(1, "d", "x")).toDF())
    f.applyChanges(Seq(PKvChange(1, "d", "y",
      CdcApply.Update, 1, ts(1))).toDF())
    assert(f.versions() == Seq(0, 1))
    assert(f.asOf(0).as[PKv].collect().toSeq == Seq(PKv(1, "d", "x")))
    assert(f.asOf(1).as[PKv].collect().toSeq == Seq(PKv(1, "d", "y")))
    f.vacuum(keep = 1)
    assert(f.versions() == Seq(1))
    assert(intercept[IllegalArgumentException](f.asOf(0))
      .getMessage.contains("not retained"))
    // a crashed apply's written-but-unpointed version dir is refused
    Seq(PKv(9, "d", "junk")).toDF()
      .write.mode("overwrite").parquet(s"$dir/f/v=2")
    assert(f.versions() == Seq(1), "uncommitted version leaked into versions()")
    assert(intercept[IllegalArgumentException](f.asOf(2))
      .getMessage.contains("not retained"))
  }

  test("vacuum sweeps superseded versions, old manifests, and crashed stages; reads unchanged") {
    val dir = Files.createTempDirectory("graft-ptab-vac").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    t.snapshot(Seq(
      PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-02", "b")).toDF())
    for (i <- 1 to 3)
      t.applyChanges(Seq(PKvChange(1, "2024-01-01", s"a$i",
        CdcApply.Update, i.toLong, ts(i.toLong))).toDF())

    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    def versionsOf(e: String) = {
      val pd = new org.apache.hadoop.fs.Path(root, s"p=$e")
      fs.listStatus(pd).map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
    }
    def manifests() = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("m=")).sorted.toSeq
    // three rewrites accumulated four versions of day 1, four manifests
    assert(versionsOf("x323032342D30312D3031").size == 4)
    assert(manifests().size == 4)
    // plant a crashed staging dir
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_stage-123"))

    val before = t.current().orderBy("k").collect().map(_.toString).toSeq
    // default grace window: a FRESH stage dir (possibly an in-flight
    // apply's) survives the sweep...
    t.vacuum(keepManifests = 2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_stage-123")))
    // ...and only an aged-out one is treated as crashed leftovers
    t.vacuum(keepManifests = 2, stageGraceMs = 0L)
    assert(t.current().orderBy("k").collect().map(_.toString).toSeq == before)
    // the two retained manifests reference day-1 v=2 and v=3 (the
    // reader grace window) and day-2 v=0; v=0/v=1 of day 1 are swept
    assert(versionsOf("x323032342D30312D3031") == Seq("v=2", "v=3"))
    assert(versionsOf("x323032342D30312D3032") == Seq("v=0"))
    assert(manifests().size == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_stage-123")))

    // the table keeps working after the sweep (and version reuse is safe)
    t.applyChanges(Seq(PKvChange(2, "2024-01-02", "b9",
      CdcApply.Update, 9, ts(9))).toDF())
    assert(t.current().filter(col("k") === 2).head().getAs[String]("v") == "b9")
    t.vacuum(keepManifests = 1)
    assert(t.current().count() == 2)
  }

  test("reader holding a retained manifest survives a concurrent apply+vacuum; full-sweep version reuse stays correct") {
    val dir = Files.createTempDirectory("graft-ptab-conc").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    t.snapshot(Seq(
      PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-02", "b")).toDF())

    // a reader resolves the CURRENT manifest (m=0) and holds its lazy
    // plan across a concurrent writer's apply + vacuum — the snapshot-
    // isolation contract: keepManifests=2 retains exactly the previous
    // generation, so every dir the reader's manifest references
    // survives the sweep and the read completes on ITS snapshot, not
    // the writer's
    val reader = t.current()
    t.applyChanges(Seq(PKvChange(1, "2024-01-01", "a2",
      CdcApply.Update, 1, ts(1))).toDF())            // m=1, day1 v=1
    t.vacuum(keepManifests = 2, stageGraceMs = 0L)
    assert(reader.as[PKv].collect().sortBy(_.k).toSeq == Seq(
      PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-02", "b")),
      "grace-window reader did not complete on its own snapshot")
    // while a fresh resolve sees the writer's commit
    assert(t.current().filter(col("k") === 1)
      .head().getAs[String]("v") == "a2")

    // FULL sweep of a partition, then version-number reuse: empty
    // day2, vacuum to keep only the head manifest — every v dir of
    // day2 is unreferenced and goes; the partition dir survives with
    // no v children
    t.applyChanges(Seq(PKvChange(2, "2024-01-02", null,
      CdcApply.Delete, 2, ts(2))).toDF())            // day2 EMPTY
    t.vacuum(keepManifests = 1, stageGraceMs = 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val day2 = new org.apache.hadoop.fs.Path(
      s"$dir/t/p=x323032342D30312D3032")
    assert(!fs.exists(day2) || fs.listStatus(day2).toSeq
      .forall(!_.getPath.getName.startsWith("v=")),
      "fully swept partition still holds version dirs")
    // reinsert: the writer's next-version probe keys off dirs that
    // still EXIST, so the fully swept partition restarts at v=0 —
    // reuse is safe because nothing references the old v numbers
    t.applyChanges(Seq(PKvChange(3, "2024-01-02", "c",
      CdcApply.Insert, 3, ts(3))).toDF())
    assert(t.partitionVersion("2024-01-02").contains("v=0"))
    assert(t.current().as[PKv].collect().sortBy(_.k).toSeq == Seq(
      PKv(1, "2024-01-01", "a2"), PKv(3, "2024-01-02", "c")))
    // and the next vacuum over the reused numbers stays consistent
    t.vacuum(keepManifests = 1, stageGraceMs = 0L)
    assert(t.current().count() == 2)
  }

  test("partition values needing escaping survive the round trip") {
    // ':' and space URL-encode to %-sequences, 'ü' is non-ASCII, '%' is
    // the escape char itself, "" is empty — all historically mangled by
    // Hive-style partition-name escaping. Hex encoding is escape-free.
    val dir = Files.createTempDirectory("graft-ptab-enc").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    val funky = Seq("2024-01-01T10:30:00", "a b c", "a%3Ab", "münchen", "")
    t.snapshot(funky.zipWithIndex.map { case (d, i) => PKv(i, d, s"v$i") }.toDF())
    for (d <- funky) {
      assert(t.partitionVersion(d).contains("v=0"), s"missing partition for '$d'")
      assert(t.currentForValues(Seq(d)).count() == 1, s"pruned read miss for '$d'")
    }
    assert(t.current().count() == funky.size.toLong)

    // update one funky partition; the others stay at v=0
    t.applyChanges(Seq(
      PKvChange(0, "2024-01-01T10:30:00", "v0b", CdcApply.Update, 1, ts(1))).toDF())
    assert(t.partitionVersion("2024-01-01T10:30:00").contains("v=1"))
    assert(t.partitionVersion("a%3Ab").contains("v=0"))
    assert(t.current().as[PKv].collect().find(_.k == 0).map(_.v).contains("v0b"))

    // delete all rows of the '%' partition → EMPTY, still addressable
    t.applyChanges(Seq(
      PKvChange(2, "a%3Ab", null, CdcApply.Delete, 2, ts(2))).toDF())
    assert(t.partitionVersion("a%3Ab").contains("EMPTY"))
    assert(t.current().count() == funky.size.toLong - 1)
  }

  test("snapshot with a null partition value is rejected") {
    val dir = Files.createTempDirectory("graft-ptab-null").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    val e = intercept[IllegalArgumentException] {
      t.snapshot(Seq(PKv(1, null, "a")).toDF())
    }
    assert(e.getMessage.contains("day"))
  }

  test("delete without partition value is rejected (replica identity contract)") {
    val dir = Files.createTempDirectory("graft-ptab2").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    t.snapshot(Seq(PKv(1, "2024-01-01", "a")).toDF())
    val e = intercept[IllegalArgumentException] {
      t.applyChanges(Seq(
        PKvChange(1, null, null, CdcApply.Delete, 1, ts(1))).toDF())
    }
    assert(e.getMessage.contains("day"))
  }

  test("date-partitioned transactions: partitioned ≡ flat replica under generated CDC") {
    val dir = Files.createTempDirectory("graft-ptab3").toString
    val tables = ReferenceCsv.loadAll(spark, ReferenceCsv.seedDir)
    val flat = new ReplicatedTable(spark, s"$dir/flat", Seq("transaction_id"))
    val part = new PartitionedReplicatedTable(
      spark, s"$dir/part", Seq("transaction_id"), "transaction_date")
    flat.snapshot(tables("transactions"))
    part.snapshot(tables("transactions"))

    val gen = TransactionGenerator.generate(
      spark, tables("customers"), tables("products"), tables("merchants"),
      n = 300, seed = 11L, startLsn = 10L, date = "2025-01-01")
    flat.applyChanges(gen)
    part.applyChanges(gen)

    // generated rows all land on one date → exactly one new partition
    assert(part.partitionVersion(Date.valueOf("2025-01-01")).isDefined)
    val a = flat.current(); val b = part.current()
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // pruned read only scans the touched partition
    assert(part.currentForValues(Seq(Date.valueOf("2025-01-01"))).count() == 300)
  }

  test("zone maps: range reads prune partitions and stay exact") {
    val dir = Files.createTempDirectory("graft-zmap").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day",
      statsCols = Seq("amt", "tag"))

    // four date partitions with disjoint amt ranges
    t.snapshot(Seq(
      ZKv(1, "2024-01-01", Some(10L), "alpha"),
      ZKv(2, "2024-01-01", Some(19L), "beta"),
      ZKv(3, "2024-01-02", Some(100L), "gamma"),
      ZKv(4, "2024-01-02", Some(150L), "delta"),
      ZKv(5, "2024-01-03", Some(1000L), "epsilon"),
      ZKv(6, "2024-01-04", None, "zeta")).toDF())

    // a selective range on the NON-partition column skips 3 of 4
    // partitions from the manifest alone, and the result equals the
    // full-scan filter
    assert(t.pruneStats("amt", 90L, 200L) == (1, 4))
    val got = t.currentRange("amt", 90L, 200L)
      .as[ZKv].collect().map(_.k).sorted.toSeq
    assert(got == Seq(3, 4))

    // all-null partition: range predicates can never match it → pruned
    assert(t.pruneStats("amt", 0L, Long.MaxValue) == (3, 4))
    // unbounded side works
    assert(t.currentRange("amt", 500L, null).as[ZKv]
      .collect().map(_.k).toSeq == Seq(5))
    // string column zones prune too (lexicographic)
    assert(t.pruneStats("tag", "a", "b") == (1, 4))

    // an apply that widens one partition's range refreshes ITS zone
    // and carries the others forward
    t.applyChanges(Seq(
      ZKvChange(7, "2024-01-01", Some(9999L), "eta",
        CdcApply.Insert, 1, ts(1))).toDF())
    assert(t.pruneStats("amt", 5000L, null) == (1, 4))
    assert(t.currentRange("amt", 5000L, null).as[ZKv]
      .collect().map(_.k).toSeq == Seq(7))
    // untouched partitions still prune on carried-forward stats
    assert(t.currentRange("amt", 90L, 200L).as[ZKv]
      .collect().map(_.k).sorted.toSeq == Seq(3, 4))
  }

  test("optimize: clustered compaction preserves rows, disjoins file ranges, refreshes zones") {
    val dir = Files.createTempDirectory("graft-opt").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day",
      statsCols = Seq("amt"))

    // interleaved amt values so the unoptimized layout has no
    // clustering to speak of
    val rows = (0 until 400).map(i =>
      ZKv(i, if (i % 2 == 0) "2024-01-01" else "2024-01-02",
        Some(((i * 7919) % 1000).toLong), s"t$i"))
    t.snapshot(rows.toDF().repartition(8))
    val before = t.current().as[ZKv].collect().toSet

    t.optimize(clusterBy = Seq("amt"), tasks = 8)

    // layout-only: identical row multiset, versions bumped
    assert(t.current().as[ZKv].collect().toSet == before)
    assert(t.partitionVersion("2024-01-01").contains("v=1"))

    // every parquet file in a partition covers a DISJOINT amt range
    val p1 = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = p1.getFileSystem(spark.sessionState.newHadoopConf())
    val vdirs = fs.listStatus(p1).map(_.getPath)
      .filter(_.getName.startsWith("p=")).flatMap(pd =>
        fs.listStatus(pd).map(_.getPath).filter(_.getName == "v=1"))
    for (vd <- vdirs) {
      val files = fs.listStatus(vd).map(_.getPath.toString)
        .filter(_.endsWith(".parquet"))
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min($"amt"), max($"amt")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      for (Seq(a, b) <- ranges.toSeq.sliding(2) if ranges.length > 1)
        assert(a._2 <= b._1, s"overlapping clustered files in $vd")
    }

    // zone maps were recomputed on the optimized layout
    assert(t.pruneStats("amt", 0L, 999L) == (2, 2))
    assert(t.currentRange("amt", 10L, 20L).as[ZKv].collect().map(_.k).toSet
      == rows.filter(r => r.amt.exists(a => a >= 10 && a <= 20)).map(_.k).toSet)
  }

  test("zone maps: timestamp bounds, doubly-unbounded reads, NaN zones") {
    val dir = Files.createTempDirectory("graft-zmap3").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day",
      statsCols = Seq("ts", "x", "amt"))
    t.snapshot(Seq(
      TKv(1, "d1", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, Some(1L)),
      TKv(2, "d2", Timestamp.valueOf("2024-02-01 12:30:45"), Double.NaN,
        Some(2L)),
      TKv(3, "d3", Timestamp.valueOf("2024-03-01 00:00:00"), 3.0, None))
      .toDF())

    // a probe EQUAL to a partition's max instant must keep it: the
    // stored form has no fractional second, Timestamp.toString always
    // does — lexicographic comparison would prune the boundary match
    val got = t.currentRange("ts",
        Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-31 00:00:00"))
      .as[TKv].collect().map(_.k).toSeq
    assert(got == Seq(1), s"timestamp boundary pruned: $got")

    // doubly-unbounded range == current(), all-null zones included
    assert(t.currentRange("amt", null, null).count() == t.current().count())

    // a NaN zone must not crash range reads on the double column
    assert(t.currentRange("x", 0.5, 2.5).as[TKv].collect().map(_.k).nonEmpty)
  }

  test("zone maps: pre-stats manifests are conservatively kept") {
    val dir = Files.createTempDirectory("graft-zmap2").toString
    // written WITHOUT stats...
    val bare = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    bare.snapshot(Seq(
      ZKv(1, "2024-01-01", Some(10L), "a"),
      ZKv(2, "2024-01-02", Some(100L), "b")).toDF())

    // ...reopened WITH stats: no zones exist yet, so nothing is pruned
    // (superset contract) but results stay exact
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day",
      statsCols = Seq("amt"))
    assert(t.pruneStats("amt", 0L, 50L) == (2, 2))
    assert(t.currentRange("amt", 0L, 50L).as[ZKv]
      .collect().map(_.k).toSeq == Seq(1))

    // the first stats-enabled apply zones the touched partition;
    // the untouched one stays conservative
    t.applyChanges(Seq(
      ZKvChange(3, "2024-01-01", Some(20L), "c",
        CdcApply.Insert, 1, ts(1))).toDF())
    assert(t.pruneStats("amt", 0L, 50L) == (2, 2)) // day2 has no zone yet
    assert(t.pruneStats("amt", 500L, null) == (1, 2)) // day1 zone prunes it
    assert(t.currentRange("amt", 0L, 50L).as[ZKv]
      .collect().map(_.k).sorted.toSeq == Seq(1, 3))
  }
}
