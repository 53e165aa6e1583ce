package graft.streaming

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The versioned labeling store the incremental dedup maintainers
  * commit through: readers see only `_SUCCESS`-marked versions, a
  * commit keeps one rollback step, and `vacuum` keeps its retention
  * window, sweeps crashed leftovers below the newest commit and leaves
  * a possibly in-flight directory above it alone. */
class LabelStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def store(name: String): String =
    Files.createTempDirectory(s"graft-labels-$name").toString + "/state"

  /** A version directory made by hand; `committed` adds its marker. */
  private def dir(statePath: String, v: Long, committed: Boolean): Unit = {
    val d = new File(s"$statePath/labels/v$v")
    assert(d.mkdirs())
    new File(d, "part-0.parquet").createNewFile()
    if (committed) new File(d, "_SUCCESS").createNewFile()
  }

  private def onDisk(statePath: String): Seq[String] =
    Option(new File(s"$statePath/labels").list()).map(_.toSeq.sorted).getOrElse(Nil)

  private def labels(statePath: String): Seq[(Long, Long)] =
    LabelStore.labels(spark, statePath).as[(Long, Long)].collect().sorted.toSeq

  test("before the first commit: no versions and an empty (node, component) labeling") {
    val s = store("empty")
    assert(LabelStore.versions(spark, s).isEmpty)
    val l = LabelStore.labels(spark, s)
    assert(l.columns.toSeq == Seq("node", "component"))
    assert(l.isEmpty)
  }

  test("a version without _SUCCESS is invisible to readers") {
    val s = store("uncommitted")
    dir(s, 0, committed = true)
    dir(s, 1, committed = false)
    assert(LabelStore.versions(spark, s) == Seq(0L))
  }

  test("commit writes the next version and keeps one rollback step") {
    val s = store("commit")
    for (c <- 1L to 3L)
      LabelStore.commit(spark, s, Seq((1L, c), (2L, c)).toDF("node", "component"))
    assert(LabelStore.versions(spark, s) == Seq(1L, 2L))
    assert(onDisk(s) == Seq("v1", "v2"))
    assert(labels(s) == Seq((1L, 3L), (2L, 3L)))
  }

  test("commit replaces a crashed uncommitted directory at the next number") {
    val s = store("recommit")
    LabelStore.commit(spark, s, Seq((1L, 1L)).toDF("node", "component"))
    dir(s, 1, committed = false) // a writer died before its marker
    LabelStore.commit(spark, s, Seq((1L, 7L)).toDF("node", "component"))
    assert(LabelStore.versions(spark, s) == Seq(0L, 1L))
    assert(labels(s) == Seq((1L, 7L)))
  }

  test("vacuum keeps the newest versions, sweeps leftovers below the newest, spares those above") {
    val s = store("vacuum")
    for (v <- Seq(0L, 2L, 3L, 4L)) dir(s, v, committed = true)
    dir(s, 1, committed = false) // crashed, below the newest commit
    dir(s, 5, committed = false) // may be a writer still in flight
    LabelStore.vacuum(spark, s)
    assert(onDisk(s) == Seq("v3", "v4", "v5"))
    assert(LabelStore.versions(spark, s) == Seq(3L, 4L))
  }

  test("vacuum with keep = 1 keeps only the current labeling") {
    val s = store("keep1")
    for (v <- 0L to 2L) dir(s, v, committed = true)
    LabelStore.vacuum(spark, s, keep = 1)
    assert(onDisk(s) == Seq("v2"))
  }

  test("vacuum needs keep >= 1 and is a no-op on a store with no labels") {
    val s = store("noop")
    intercept[IllegalArgumentException](LabelStore.vacuum(spark, s, keep = 0))
    LabelStore.vacuum(spark, s)
    assert(!new File(s).exists)
  }
}
