package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.StarReplication
import graft.operators.Dashboard

/** The CDC freshness loop: a change batch goes in through
  * `StarReplication.applyBatch`, then a dashboard read over the view
  * must reflect it. Op latency is freshness, from hand-off until the
  * read returns.
  *
  * `churn = false` is `cdc_append` (the reference's own traffic);
  * `churn = true` is `cdc_churn`, alternating scattered fact
  * corrections with dimension changes. Traced runs make the two calls
  * `applyBatch` makes (replica merge, then view refresh) themselves,
  * so each gets its own span. */
final class CdcWorkload(spark: SparkSession, seed: Long, size: StarModel.Size,
                        churn: Boolean) extends Workload {
  import StarModel._

  private var model: StarModel = _
  private var star: StarReplication = _
  private var ops = 0
  private val partitionsRewritten = mutable.ArrayBuffer.empty[Double]
  private val rowsPerChange = mutable.ArrayBuffer.empty[Double]
  private val viewFiles = mutable.ArrayBuffer.empty[Double]

  override def round: Int = if (churn) 2 else 1
  /** `cdc_churn` warms with its first fact op only: a second warm-up op
    * did not fit the run budget (README). */
  def warmOps: Int = if (churn) 1 else 3

  def build(dir: Path, t: Trace): Unit = {
    model = new StarModel(seed, size)
    star = new StarReplication(spark, dir.toString)
    star.snapshotAll(frame(spark, txSchema, model.txRows),
      frame(spark, custSchema, model.custRows),
      frame(spark, prodSchema, model.prodRows),
      frame(spark, merchSchema, model.merchRows))
  }

  /** The dashboard read: spend-status counts and the top merchants by
    * revenue, over one resolution of the view's current version. */
  private def read(t: Trace): Read = t.span("operators.read") {
    val view = star.view.current()
    val status = Dashboard.spendStatusCounts(Dashboard.calculateCustomerSpending(view))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val top = Dashboard.topMerchants(view, TopK).collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(1) * 100)).toSeq
    Read(status, top)
  }

  def next(): Op = {
    val fact = !churn || ops % 2 == 0
    ops += 1
    if (fact) {
      val b = if (churn) model.scatterBatch() else model.appendBatch()
      val batch = frame(spark, withMeta(txSchema), b.rows)
      partitionsRewritten += b.days.size
      rowsPerChange += b.rowsInDays.toDouble / b.rows.size
      op(batch) { t =>
        if (!t.enabled) star.applyBatch("transactions", batch)
        else {
          t.span("cdc.merge")(star.transactions.applyChanges(batch))
          t.span("streaming.view_refresh")(star.dynamicTable.incrementalRefresh(batch))
        }
      }
    } else {
      val (dim, rows) = model.dimBatch()
      val schema = dim match {
        case "products" => prodSchema
        case "customers" => custSchema
        case _ => merchSchema
      }
      val batch = frame(spark, withMeta(schema), rows)
      op(batch) { t =>
        if (!t.enabled) star.applyBatch(dim, batch)
        else {
          t.span("cdc.dim_merge")(star.dimensions(dim).table.applyChanges(batch))
          t.span("streaming.dim_refresh")(star.dynamicTable.dimensionRefresh(dim, batch))
        }
      }
    }
  }

  private def op(batch: DataFrame)(apply: Trace => Unit): Op = {
    val expected = model.expectedRead
    new Op {
      def run(t: Trace): Any = {
        apply(t)
        read(t)
      }
      def check(out: Any): Option[String] = {
        val got = out.asInstanceOf[Read]
        if (got.status != expected.status)
          Some(s"spend-status counts ${got.status} != model ${expected.status}")
        else if (got.top != expected.top)
          Some(s"top merchants ${got.top} != model ${expected.top}")
        else None
      }
      def corrupt(out: Any): Any = {
        val r = out.asInstanceOf[Read]
        r.copy(status = r.status.updated("Low Spenders", r.status("Low Spenders") + 1))
      }
    }
  }

  override def afterOp(t: Trace): Unit =
    if (t.enabled) viewFiles += star.view.current().inputFiles.length

  /** Every row of the view against the model's view, every column. */
  def finalCheck(corrupt: Boolean): Option[String] = {
    val rows = star.view.current().collect().map { r =>
      val id = r.getAs[String]("transaction_id")
      id -> (id, r.getAs[Long]("customer_id"), r.getAs[Int]("customer_age"),
        r.getAs[Long]("product_id"), r.getAs[String]("product_name"),
        r.getAs[String]("product_category"), r.getAs[Long]("merchant_id"),
        r.getAs[String]("merchant_name"), r.getAs[String]("merchant_category"),
        dayOf(r.getAs[java.sql.Date]("transaction_date")),
        r.getAs[String]("transaction_time"), r.getAs[Int]("quantity"),
        math.round(r.getAs[Double]("total_price") * 100),
        r.getAs[String]("transaction_card"), r.getAs[String]("transaction_category"))
    }
    val got = {
      val m = rows.toMap
      if (corrupt && m.nonEmpty) { val (k, v) = m.head; m.updated(k, v.copy(_12 = v._12 + 1)) }
      else m
    }
    val want = model.view
    if (rows.length != got.size) Some(s"view holds ${rows.length - got.size} duplicate keys")
    else if (got != want) {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      Some(s"view differs from the model on ${bad.size} of ${want.size} rows, e.g. " +
        bad.take(2).map(k => s"$k: ${got.get(k)} != ${want.get(k)}").mkString("; "))
    } else None
  }

  override def beforeDisk(): Unit = {
    star.transactions.vacuum()
    star.view.vacuum()
    Seq(star.customers, star.products, star.merchants).foreach(_.vacuum())
  }

  def layers(t: Trace): Seq[(String, Double)] = Seq(
    "cdc.merge_s" -> t.selfS("cdc.merge"),
    "cdc.merge_cpu_s" -> t.cpuS("cdc.merge"),
    "cdc.merge_jobs" -> t.jobs("cdc.merge"),
    "cdc.dim_merge_s" -> t.selfS("cdc.dim_merge"),
    "cdc.dim_merge_jobs" -> t.jobs("cdc.dim_merge"),
    "cdc.partitions_rewritten" -> Stats.median(partitionsRewritten.toSeq),
    "cdc.bytes_written_mb" -> t.outputMb("cdc.merge"),
    "cdc.rows_rewritten_per_change" -> Stats.median(rowsPerChange.toSeq),
    "streaming.view_refresh_s" -> t.selfS("streaming.view_refresh"),
    "streaming.view_refresh_cpu_s" -> t.cpuS("streaming.view_refresh"),
    "streaming.view_refresh_jobs" -> t.jobs("streaming.view_refresh"),
    "streaming.view_bytes_written_mb" -> t.outputMb("streaming.view_refresh"),
    "streaming.dim_refresh_s" -> t.selfS("streaming.dim_refresh"),
    "streaming.dim_refresh_cpu_s" -> t.cpuS("streaming.dim_refresh"),
    "streaming.dim_refresh_jobs" -> t.jobs("streaming.dim_refresh"),
    "streaming.dim_refresh_input_mb" -> t.inputMb("streaming.dim_refresh"),
    "operators.read_s" -> t.selfS("operators.read"),
    "operators.read_cpu_s" -> t.cpuS("operators.read"),
    "operators.read_jobs" -> t.jobs("operators.read"),
    "operators.view_files" -> Stats.median(viewFiles.toSeq))
}
