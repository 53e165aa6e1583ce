package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._

/** A writer that fails midway through a commit-point write — the
  * version pointer `_CURRENT`, or the partitioned table's schema
  * sidecar — must leave the table readable at its previous version,
  * and a retry of the same batch must commit it. Each case runs twice,
  * once per way `MetaFiles` renames over: on [[FailingChecksumFs]] (a
  * checksummed local file system, the raw rename) and on
  * [[FailingWriteFs]] (its raw file system alone, Spark's checkpoint
  * file manager). Both throw on write for the armed file names. */
class CommitPointSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.failfs.impl", classOf[FailingWriteFs].getName)
  spark.sparkContext.hadoopConfiguration
    .set("fs.failcrcfs.impl", classOf[FailingChecksumFs].getName)

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** Run `apply` with writes to `name` failing; it must throw. */
  private def failing(name: String)(apply: => Unit): Unit = {
    FailingWriteFs.armed = Set(name)
    try intercept[IOException](apply)
    finally FailingWriteFs.armed = Set.empty
  }

  private val base = Seq(
    PKv(1, "2024-01-01", "a"), PKv(2, "2024-01-02", "b"))
  private val batch = Seq(
    PKvChange(1, "2024-01-01", "a2", CdcApply.Update, 1, ts(1)),
    PKvChange(3, "2024-01-02", "c", CdcApply.Insert, 2, ts(2)))
  private val after = Seq(
    PKv(1, "2024-01-01", "a2"), PKv(2, "2024-01-02", "b"),
    PKv(3, "2024-01-02", "c"))

  private def rows(t: KeyedTable): Seq[PKv] =
    t.current().select("k", "day", "v").as[PKv].collect().sortBy(_.k).toSeq

  for ((scheme, label) <- Seq("failcrcfs" -> "local rename",
                               "failfs" -> "checkpoint file manager")) {
    def tableDir(name: String): String =
      s"$scheme://" + Files.createTempDirectory(s"graft-commit-$name") + "/t"

    test(s"ReplicatedTable: a failed pointer write keeps the previous version ($label)") {
      val t = new ReplicatedTable(spark, tableDir("flat"), Seq("k"))
      t.snapshot(base.toDF())
      failing("_CURRENT")(t.applyChanges(batch.toDF()))
      assert(t.currentVersion.contains(0))
      assert(rows(t) == base)
      t.applyChanges(batch.toDF())
      assert(t.currentVersion.contains(1))
      assert(rows(t) == after)
    }

    test(s"PartitionedReplicatedTable: a failed head write keeps the previous manifest ($label)") {
      val t = new PartitionedReplicatedTable(
        spark, tableDir("part"), Seq("k"), "day")
      t.snapshot(base.toDF())
      failing("_CURRENT")(t.applyChanges(batch.toDF()))
      assert(t.versions() == Seq(0))
      assert(rows(t) == base)
      t.applyChanges(batch.toDF())
      assert(t.versions() == Seq(0, 1))
      assert(rows(t) == after)
    }

    test(s"PartitionedReplicatedTable: a failed schema write keeps the previous schema ($label)") {
      val t = new PartitionedReplicatedTable(
        spark, tableDir("schema"), Seq("k"), "day")
      t.snapshot(base.toDF())
      // an upstream ADD COLUMN: the apply rewrites _SCHEMA before installing
      val evolving = batch.toDF().withColumn("note", $"v")
      failing("_SCHEMA")(t.applyChanges(evolving))
      assert(t.current().columns.toSeq == Seq("k", "day", "v"))
      assert(rows(t) == base)
      t.applyChanges(evolving)
      assert(t.current().columns.toSeq == Seq("k", "day", "v", "note"))
      assert(rows(t) == after)
    }
  }
}

/** The raw local file system under its own scheme (`failfs` unless
  * built for another). While a file whose name contains an
  * [[FailingWriteFs.armed]] string is being written, its output stream
  * throws on every write: the file is created (and, when overwritten in
  * place, truncated) but gets no content, as when a writer crashes
  * midway. */
class FailingWriteFs(scheme: String) extends RawLocalFileSystem {
  def this() = this("failfs")
  override def getUri: URI = URI.create(s"$scheme:///")
  override def getScheme: String = scheme

  private def guard(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!FailingWriteFs.armed.exists(f.getName.contains)) out
    else new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit =
        throw new IOException(s"injected write failure: $f")
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        throw new IOException(s"injected write failure: $f")
      override def close(): Unit = out.close()
    }, null)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    guard(f, super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    guard(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
}

/** The checksummed local file system over [[FailingWriteFs]], under the
  * `failcrcfs` scheme. */
class FailingChecksumFs extends LocalFileSystem(new FailingWriteFs("failcrcfs")) {
  override def getScheme: String = "failcrcfs"
}

object FailingWriteFs {
  @volatile var armed: Set[String] = Set.empty
}
