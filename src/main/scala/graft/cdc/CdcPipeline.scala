package graft.cdc

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Streaming half of the CDC layer: snapshot-then-tail replication of a
  * change stream into a [[ReplicatedTable]], with a monitoring surface
  * mirroring the reference's `REPLICATION_STATE` / `CONNECTOR_STATS`
  * tables (`0_start_here.ipynb:96-130`).
  */
object CdcPipeline {

  /** Continuously apply a streaming change-event DataFrame onto a
    * replicated table. `changes` must be a streaming frame with the
    * table's columns plus the [[CdcApply.MetaCols]]. Each micro-batch
    * is one atomic version commit; the checkpoint gives effectively-once
    * application on restart: only the last, uncommitted batch is
    * replayed, and re-applying the last batch is a no-op (see
    * [[CdcApply]] on replay).
    */
  def replicate(changes: DataFrame, table: KeyedTable,
                checkpoint: String,
                trigger: Trigger = Trigger.AvailableNow(),
                queryName: String = "cdc-replicate"): StreamingQuery =
    changes.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        table.applyChanges(batch)
      }
      .start()

  case class ReplicationProgress(query: String, batchId: Long,
                                 numInputRows: Long, timestamp: String)

  /** StreamingQueryListener collecting per-batch progress — the engine's
    * `CONNECTOR_STATS`. Register with
    * `spark.streams.addListener(monitor)`; read via [[progress]]. */
  final class ReplicationMonitor extends StreamingQueryListener {
    private val rows = mutable.ArrayBuffer.empty[ReplicationProgress]

    override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

    override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      rows += ReplicationProgress(
        Option(e.progress.name).getOrElse(e.progress.id.toString),
        e.progress.batchId, e.progress.numInputRows, e.progress.timestamp)
    }

    override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    /** The REPLICATION_STATE/CONNECTOR_STATS surface as a DataFrame. */
    def progress(spark: SparkSession): DataFrame = synchronized {
      import spark.implicits._
      rows.toSeq.toDF()
    }
  }
}
