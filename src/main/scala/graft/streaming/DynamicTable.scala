package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{CdcApply, KeyedTable}

/** The engine's Dynamic Table runtime — an incrementally-maintained
  * materialized view, re-expressing the reference's
  * `CREATE DYNAMIC TABLE … TARGET_LAG='1 minute'
  * REFRESH_MODE=INCREMENTAL` (`0_start_here.ipynb:215-245`).
  *
  * `viewOf` maps fact rows to view rows and must be *row-local in the
  * fact*: each fact row yields at most one view row, keyed by the fact
  * primary key (joins against dimensions may drop rows — e.g. the
  * flagship view's category-matching conjunct). It must read dimension
  * state *at call time* (e.g. close over `dim.current()` calls, not
  * captured frames) so every refresh sees the dims as maintained. That
  * property is what makes the delta algebra exact:
  *
  *  - winners   = last-writer-wins collapse of the change batch
  *  - upserts   = viewOf(after-images of non-deletes)
  *  - deletions = changed keys with no surviving view row
  *    (covers explicit DELETEs *and* updates that fall out of the join)
  *
  * Dimension changes route through [[dimensionRefresh]]: the affected
  * view rows are exactly the fact rows referencing a changed dim key
  * (fact-FK semi-join against the tiny changed-key set), and
  * re-running `viewOf` over just those fact rows handles every case
  * uniformly — value updates, drop-outs (the row no longer joins, e.g.
  * the flagship category conjunct flips off), and join-ins (a fact row
  * excluded before now matches). No full-refresh fallback.
  *
  * The defining invariant — incremental refresh ≡ full recompute, for
  * interleaved fact AND dimension change sequences — is
  * property-tested in DynamicTableSpec.
  *
  * Scale posture: a fact refresh touches only Δ-keys and joins the
  * (broadcast) dims, never the full fact. A dimension refresh reads
  * the fact pruned to the FK semi-join (with the fact bucketed on the
  * FK this is a bucket-pruned read) — dim changes are rare relative to
  * fact traffic, which is the right side of the trade. Either refresh
  * hands its view-change batch to the result table as one lazy plan,
  * and the result's `applyChanges` runs that plan once: a partitioned
  * result materializes the batch's winners before it both locates
  * their partitions and merges them, and a flat result's one write is
  * its one read. So each refresh evaluates its delta, star join
  * included, exactly once. Triggers map TARGET_LAG:
  * `ProcessingTime(lag)` in production, `AvailableNow` in tests.
  */
final class DynamicTable(private[streaming] val fact: KeyedTable,
                         private[streaming] val result: KeyedTable,
                         viewOf: DataFrame => DataFrame,
                         dims: Map[String, DynamicTable.DimBinding] = Map.empty) {

  require(fact.keys == result.keys,
    s"view key ${result.keys} must equal the fact key ${fact.keys}")
  private val keys = fact.keys

  /** REFRESH_MODE = FULL: recompute the whole view from current inputs.
    *
    * Every refresh returns the CDC-shaped change batch it applied to
    * the result table — the view's OWN change feed. A downstream
    * [[DynamicTable]] whose fact is this view folds that batch with
    * its [[incrementalRefresh]], so dynamic tables compose into DAGs
    * (the reference's dynamic-table-over-dynamic-table pipelines) with
    * Δ-sized maintenance at every hop; two-hop incremental ≡ full is
    * property-tested in DynamicTableSpec. */
  def fullRefresh(): DataFrame = {
    val view = viewOf(fact.current())
    if (result.isSnapshotDone) {
      // express the recompute as one change batch: upsert every current
      // row, delete every vanished row — keeps the versioned history.
      // Vanished rows are carried whole (not just keys), so a
      // partitioned result table can locate their partitions.
      val upserts = withMeta(view, CdcApply.Update)
      val vanished = result.current()
        .join(view.select(keys.map(col): _*), keys, "left_anti")
      val batch = upserts.unionByName(
        deleteEvents(vanished, view), allowMissingColumns = false)
      result.applyChanges(batch)
      batch
    } else {
      result.snapshot(view)
      withMeta(view, CdcApply.Update)
    }
  }

  /** REFRESH_MODE = INCREMENTAL: fold one fact change batch into the
    * materialized result. `factChanges` = fact columns + CDC meta.
    * Returns the view-change batch applied (see [[fullRefresh]] on
    * DAG composition). */
  def incrementalRefresh(factChanges: DataFrame): DataFrame = {
    if (!result.isSnapshotDone) return fullRefresh()
    val winners = CdcApply.latest(factChanges, keys)
    val after = winners.filter(col(CdcApply.OpCol) =!= CdcApply.Delete)
      .drop(CdcApply.MetaCols: _*)
    val upserts = viewOf(after)
    // deletion events keep every view column the fact event already has
    // (beyond the keys: e.g. the partition date from the replica
    // identity) so partitioned result tables can prune their merge
    val carried = upserts.columns.filter(c =>
      winners.columns.contains(c)).toIndexedSeq
    val deletions = winners.select(carried.map(col): _*)
      .join(upserts.select(keys.map(col): _*), keys, "left_anti")
    val batch = withMeta(upserts, CdcApply.Update)
      .unionByName(deleteEvents(deletions, upserts))
    result.applyChanges(batch)
    batch
  }

  /** REFRESH under a DIMENSION change batch (`dimName` keys [[dims]]).
    * Call order per batch: apply the changes to the dim replica first,
    * then this — `viewOf` must see the new dim state.
    *
    * Affected view rows = fact rows whose FK references a changed dim
    * key (insert/update/delete alike). Recomputing `viewOf` over
    * exactly those fact rows yields the correct post-change view rows;
    * affected fact keys with no surviving view row become deletions
    * (drop-outs and no-ops collapse in the idempotent merge). */
  def dimensionRefresh(dimName: String, dimChanges: DataFrame): DataFrame = {
    if (!result.isSnapshotDone) return fullRefresh()
    val b = dims.getOrElse(dimName, throw new IllegalArgumentException(
      s"unknown dimension '$dimName' (bound: ${dims.keys.mkString(", ")})"))
    val changedKeys = CdcApply.latest(dimChanges, Seq(b.dimKey))
      .select(col(b.dimKey).as(b.factFk)).distinct()
    val affected = fact.current()
      .join(broadcast(changedKeys), Seq(b.factFk), "left_semi")
    val upserts = viewOf(affected)
    val carried = upserts.columns.filter(c =>
      affected.columns.contains(c)).toIndexedSeq
    val deletions = affected.select(carried.map(col): _*)
      .join(upserts.select(keys.map(col): _*), keys, "left_anti")
    val batch = withMeta(upserts, CdcApply.Update)
      .unionByName(deleteEvents(deletions, upserts))
    result.applyChanges(batch)
    batch
  }

  private def withMeta(df: DataFrame, op: String): DataFrame =
    df.withColumn(CdcApply.OpCol, lit(op))
      .withColumn(CdcApply.LsnCol, lit(1L))
      .withColumn(CdcApply.CommitTsCol, current_timestamp())

  /** Delete events shaped like the view schema: columns the source
    * frame carries pass through, the rest are null-padded. */
  private def deleteEvents(src: DataFrame, shaped: DataFrame): DataFrame = {
    val padded = src.select(shaped.columns.toIndexedSeq.map { c =>
      if (src.columns.contains(c)) col(c)
      else lit(null).cast(shaped.schema(c).dataType).as(c)
    }: _*)
    withMeta(padded, CdcApply.Delete)
  }

  /** Wire a streaming change feed: every micro-batch maintains the
    * replicated fact table, then folds the same batch into the view —
    * change → view latency is one trigger interval (the TARGET_LAG).
    */
  def start(factChanges: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow(),
            incremental: Boolean = true,
            queryName: String = "dynamic-table"): StreamingQuery =
    factChanges.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        fact.applyChanges(batch)
        if (incremental) incrementalRefresh(batch) else fullRefresh()
        ()
      }
      .start()

  /** Wire a streaming change feed through a DAG chain: every
    * micro-batch maintains this table's fact and view, then folds the
    * emitted view-change batch through each `downstream` table in
    * order (each one's fact must BE the previous one's result — the
    * view-over-view contract). One trigger interval covers the WHOLE
    * chain: change → deepest-view latency is still the TARGET_LAG,
    * and every hop's refresh is Δ-sized. */
  def startDag(factChanges: DataFrame, checkpoint: String,
               downstream: Seq[DynamicTable],
               trigger: Trigger = Trigger.AvailableNow(),
               queryName: String = "dynamic-table-dag"): StreamingQuery = {
    downstream.foldLeft(this) { (up, down) =>
      require(down.fact eq up.result,
        "each downstream table's fact must be the previous table's result")
      down
    }
    factChanges.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        fact.applyChanges(batch)
        // each refresh applies its batch to its own result table and
        // emits the view-change feed the next hop consumes
        downstream.foldLeft(incrementalRefresh(batch)) { (delta, dt) =>
          dt.incrementalRefresh(delta)
        }
        ()
      }
      .start()
  }
}

object DynamicTable {
  /** TARGET_LAG → trigger (`'1 minute'` ↦ ProcessingTime). */
  def targetLag(lag: String): Trigger = Trigger.ProcessingTime(lag)

  /** Binding of one dimension into a view: the dim's replica table
    * plus the fact column holding its foreign key. The dim must be
    * single-key (star-schema dimension). */
  final case class DimBinding(table: KeyedTable, factFk: String) {
    require(table.keys.size == 1,
      s"dimension must have a single key, got ${table.keys}")
    def dimKey: String = table.keys.head
  }
}
