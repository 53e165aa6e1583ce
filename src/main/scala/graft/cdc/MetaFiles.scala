package graft.cdc

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The small metadata files of a CDC table — the version pointer
  * `_CURRENT`, manifests, the schema sidecar — read whole and replaced
  * whole. A write lands in a temp file beside the target and is renamed
  * over it, so a crashed writer or a racing reader sees the old content
  * or the new, never a truncated or missing file. A write costs a
  * create, a rename and a few status calls: no Spark job and no
  * directory listing.
  *
  * Two ways to rename over, picked by the file system:
  *  - local: the raw file system's rename, which is rename(2) and
  *    replaces the target atomically. Hadoop's `FileContext` rename
  *    with overwrite deletes the target first there, and the checksummed
  *    file system renames its `.crc` sidecar in a second step, so both
  *    leave a moment with no file or a mismatched checksum. Raw writes
  *    make no sidecar, and reads go through the raw file system too, so
  *    a sidecar left by an older writer is never checked.
  *  - any other: Spark's [[CheckpointFileManager.createAtomic]], a
  *    `FileContext` rename with overwrite where the file system has one
  *    (atomic on HDFS). It takes the file system's own configuration,
  *    so a table holds no Hadoop configuration of its own. */
private[cdc] final class MetaFiles(root: Path, fs: FileSystem) {
  private val raw: Option[FileSystem] = fs match {
    case local: LocalFileSystem => Some(local.getRaw)
    case _ => None
  }
  private lazy val files = CheckpointFileManager.create(root, fs.getConf)

  def write(p: Path, content: String): Unit = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    raw match {
      case Some(local) =>
        val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
        try {
          val out = local.create(tmp, true)
          try out.write(bytes) finally out.close()
          if (!local.rename(tmp, p)) throw new IOException(s"rename $tmp -> $p failed")
        } catch { case e: Throwable => local.delete(tmp, false); throw e }
      case None =>
        fs.mkdirs(p.getParent) // the temp-file create makes no parent
        val out = files.createAtomic(p, overwriteIfPossible = true)
        try out.write(bytes)
        catch { case e: Throwable => out.cancel(); throw e }
        out.close() // the rename: the new content becomes visible here
    }
  }

  def read(p: Path): String = {
    val in = raw.getOrElse(fs).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
    finally in.close()
  }
}
