package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A CDC-maintained table: versioned parquet snapshots with an atomic
  * current-version pointer.
  *
  * Mirrors the reference connector's replicated tables
  * (`CONNECTOR_DEST_DB."raw_cdc".*`): [[snapshot]] is the initial full
  * copy (`SNAPSHOT_REPLICATION_STATUS`), [[applyChanges]] the
  * continuous incremental apply. Readers always see a complete,
  * immutable version; the pointer swap is the only mutation, so a
  * crashed writer never corrupts the table (the half-written version is
  * simply never referenced).
  *
  * Scale posture: each apply rewrites the table once through a PK
  * shuffle — O(|table|) per batch, which is the simple-and-correct v1.
  * The 100 TB path is the same algorithm scoped to affected partitions
  * (partition by date/bucket by key, rewrite only partitions holding
  * changed keys); the versioned-pointer layout already supports that
  * evolution. State lives entirely in the object store — no unbounded
  * executor memory.
  */
final class ReplicatedTable(spark: SparkSession, path: String,
                            val keys: Seq[String]) extends KeyedTable {

  private val root = new Path(path)
  private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
  private val meta = new MetaFiles(root, fs)
  private val pointer = new Path(root, "_CURRENT")

  def currentVersion: Option[Int] =
    if (!fs.exists(pointer)) None else Some(meta.read(pointer).toInt)

  private def versionPath(v: Int) = s"$path/v=$v"

  /** Schema of the newest version this instance wrote or read, so a
    * read of that version names its schema instead of starting a
    * footer-inference job. Seeded by [[commit]]; a newer version this
    * instance has not written (another writer's, or after a restart)
    * is inferred once. In memory only: the committed state is still
    * just the version dir plus `_CURRENT`. */
  @volatile private var knownSchema: Option[(Int, StructType)] = None

  private def schemaOf(v: Int): StructType = knownSchema match {
    case Some((`v`, s)) => s
    case _ =>
      val s = spark.read.parquet(versionPath(v)).schema
      if (knownSchema.forall(_._1 < v)) knownSchema = Some(v -> s)
      s
  }

  private def read(v: Int): DataFrame =
    spark.read.schema(schemaOf(v)).parquet(versionPath(v))

  private def commit(df: DataFrame, v: Int): Unit = {
    df.write.mode("overwrite").parquet(versionPath(v))
    knownSchema = Some(v -> df.schema)
    meta.write(pointer, v.toString) // the commit point
  }

  /** Initial snapshot — phase 1 of the replication protocol. */
  def snapshot(df: DataFrame): Unit = commit(df, 0)

  def isSnapshotDone: Boolean = currentVersion.isDefined

  def current(): DataFrame = currentVersion match {
    case Some(v) => read(v)
    case None => throw new IllegalStateException(
      s"replicated table at $path has no snapshot yet")
  }

  /** Incremental apply — phase 2. Re-applying the last applied batch
    * is a no-op; an older one is not (see [[CdcApply]]). Upstream
    * column ADDs evolve the table automatically (existing rows take
    * NULL), mirroring the connector's transparent handling of
    * `ALTER TABLE ADD COLUMN`. */
  def applyChanges(changes: DataFrame): Unit = {
    val v = currentVersion.getOrElse(throw new IllegalStateException(
      s"cannot apply changes before snapshot: $path"))
    commit(CdcApply.applyBatch(current(), changes, keys,
      allowEvolution = true), v + 1)
  }

  /** Versions applied after the snapshot (CONNECTOR_STATS analog). */
  def appliedBatches: Int = currentVersion.map(v => v).getOrElse(0)

  /** COMMITTED version dirs still on disk, ascending — the TIME-TRAVEL
    * window ([[vacuum]]'s `keep` sets the horizon). Each is the
    * complete table as of that commit (full rewrite per batch in this
    * layout). Bounded by the pointer: [[commit]] writes the version
    * dir BEFORE the pointer swap, so a crashed apply can leave a
    * half-written dir above the committed version — uncommitted data
    * that must never be served (and that the writer's retry will
    * overwrite, possibly with different content). */
  def versions(): Seq[Int] = currentVersion match {
    case None => Seq.empty
    case Some(committed) =>
      fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("v="))
        .flatMap(_.stripPrefix("v=").toIntOption)
        .filter(_ <= committed).sorted.toSeq
  }

  /** Read the table AS OF a committed version — fails loudly on a
    * vacuumed, never-committed, or written-but-uncommitted one rather
    * than silently serving the wrong snapshot. */
  def asOf(version: Int): DataFrame = {
    val committed = currentVersion.getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    require(version <= committed &&
        fs.exists(new Path(versionPath(version))),
      s"version $version not retained at $path (vacuumed, never " +
        s"committed, or written-but-uncommitted) — retained: " +
        s"${versions().mkString(", ")}")
    read(version)
  }

  /** Table maintenance: delete all version dirs older than the newest
    * `keep` (retention = the reader grace window, as in
    * `PartitionedReplicatedTable.vacuum`). Single-writer, between
    * applies. */
  def vacuum(keep: Int = 2): Unit = {
    require(keep >= 1, "must retain the current version")
    currentVersion.foreach { v =>
      fs.listStatus(root).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("v="))
        .filter(_.getName.stripPrefix("v=").toIntOption
          .exists(_ <= v - keep))
        .foreach { p => fs.delete(p, true); () }
    }
  }
}
