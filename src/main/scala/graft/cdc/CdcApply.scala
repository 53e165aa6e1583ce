package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-event application: the merge the reference's connector
  * performs implicitly when it applies INSERT/UPDATE/DELETE by primary
  * key onto replicated tables (reference `0_start_here.ipynb:96-130`;
  * publication at `scripts/postgresql_setup.sql:51`).
  *
  * A change stream for table T has T's columns plus three metadata
  * columns: `_op` (INSERT|UPDATE|DELETE), `_lsn` (long, the WAL total
  * order — the last-writer-wins key), `_commit_ts`. DELETE events need
  * only the PK populated.
  *
  * Scale posture: `latest` shuffles the batch by PK once (window) and
  * `mergeWinners` joins current⋈winners on PK — both partition by the
  * merge key, no broadcast of the big side, no driver-side state. A
  * caller that needs the winners more than once (the partitioned
  * replica collects their partitions, then merges them) materializes
  * `latest` once and hands the rows to `mergeWinners`, so the batch is
  * collapsed once; `applyBatch` is the two in one lazy plan.
  *
  * Replay: re-applying the LAST applied batch is a no-op — its winners
  * are already the rows' current images. Re-applying an OLDER batch
  * after a newer one is not: the merge keeps no per-row lsn, so the
  * old batch's winners overwrite newer images and the table moves back
  * to older row versions. The pipelines are safe because Structured
  * Streaming replays only the last uncommitted batch after a restart,
  * never an earlier committed one.
  */
object CdcApply {

  val OpCol = "_op"
  val LsnCol = "_lsn"
  val CommitTsCol = "_commit_ts"
  val MetaCols: Seq[String] = Seq(OpCol, LsnCol, CommitTsCol)

  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"

  /** Collapse a change batch to one winning event per key:
    * `row_number() over (partition by pk order by lsn desc) = 1`. */
  def latest(changes: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(LsnCol).desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Apply a change batch onto the current table state:
    * rows whose key is untouched survive; touched keys take the winning
    * event's after-image, or disappear if the winner is a DELETE.
    *
    * Schema evolution: with `allowEvolution`, a batch may carry NEW
    * columns (the upstream table gained one — `ALTER TABLE ADD COLUMN`
    * flows through logical replication transparently); existing rows
    * take NULL for them, exactly what the source database reports for
    * pre-existing rows. A batch MISSING current columns is always an
    * error — silently nulling existing data is never right (column
    * drops don't replicate; handle them as an explicit migration). */
  def applyBatch(current: DataFrame, changes: DataFrame,
                 keys: Seq[String], allowEvolution: Boolean = false): DataFrame =
    mergeWinners(current, latest(changes, keys), keys, allowEvolution)

  /** [[applyBatch]] over a batch already collapsed by [[latest]] (one
    * event per key): the merge without a second collapse. */
  def mergeWinners(current: DataFrame, win: DataFrame,
                   keys: Seq[String], allowEvolution: Boolean = false): DataFrame = {
    val untouched = current.join(
      win.select(keys.map(col): _*), keys, "left_anti")
    val upserts = win.filter(col(OpCol) =!= Delete).drop(MetaCols: _*)
    val removed = current.columns.diff(upserts.columns)
    require(removed.isEmpty,
      s"change batch lacks table columns ${removed.mkString(", ")} — " +
        "column drops don't replicate; migrate explicitly")
    val added = upserts.columns.diff(current.columns)
    if (added.isEmpty) untouched.unionByName(upserts)
    else {
      require(allowEvolution,
        s"batch adds columns ${added.mkString(", ")}; pass allowEvolution=true")
      untouched.unionByName(upserts, allowMissingColumns = true)
    }
  }
}
