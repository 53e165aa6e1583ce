package graft.tools

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Engine
import graft.cdc.{CdcApply, StarReplication, TransactionGenerator}
import graft.operators.{Dashboard, PurchaseSummary}
import graft.sources.ReferenceCsv

/** The reference tutorial, end to end, on this engine — the "switch
  * path" for a user of
  * sfguide-intro-to-cdc-using-snowflake-postgres-connector-dynamic-tables:
  *
  *  1. `COPY` the four seed CSVs           → [[ReferenceCsv.loadAll]]
  *  2. snapshot replication of the star    → [[StarReplication.snapshotAll]]
  *     (`0_start_here.ipynb:81-130`)
  *  3. the transaction generator stream    → [[TransactionGenerator]]
  *     (`scripts/postgresql_setup.sql:104-128`)
  *  4. `customer_purchase_summary` dynamic table, REFRESH_MODE =
  *     INCREMENTAL, dims included          → [[graft.streaming.DynamicTable]]
  *     (`ipynb:215-245`)
  *  5. the dashboard reads                 → [[Dashboard]]
  *     (`scripts/customer_spending_dashboard.py`)
  *
  * Prints per-stage timings and ends with the IVM invariant check
  * (incremental view ≡ full recompute).
  *
  * Usage: runMain graft.tools.ReferenceDemo [csvDir]
  * (default: [[ReferenceCsv.seedDir]])
  */
object ReferenceDemo {
  def main(args: Array[String]): Unit = {
    val csvDir = args.headOption.getOrElse(ReferenceCsv.seedDir)
    val spark: SparkSession = Engine.session("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def stage[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[demo] $label%-42s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // 1. bulk load the seeds
    val tables = stage("COPY seed CSVs") {
      val t = ReferenceCsv.loadAll(spark, csvDir)
      t.foreach(_._2.count()) // materialize like COPY does
      t
    }
    tables.toSeq.sortBy(_._1).foreach { case (n, df) =>
      println(f"[demo]   $n%-14s ${df.count()}%6d rows")
    }

    // 2. snapshot replication + first view materialization
    val dir = Files.createTempDirectory("graft-demo").toString
    val star = new StarReplication(spark, s"$dir/star")
    stage("snapshot replication (4 tables + view)") {
      star.snapshotAll(tables("transactions"), tables("customers"),
        tables("products"), tables("merchants"))
    }
    println(s"[demo]   view rows after snapshot: ${star.view.current().count()}")

    // 3. generator batches → incremental fact refresh (the reference's
    // 100-row/30 s loop, without the sleep)
    var lsn = 1000L
    for (batch <- 1 to 3) {
      val changes = TransactionGenerator.generate(
        spark, tables("customers"), tables("products"), tables("merchants"),
        n = 100, seed = batch.toLong, startLsn = lsn,
        date = s"2024-09-1$batch")
      stage(s"fact batch $batch (100 inserts, incremental)") {
        star.applyBatch("transactions", changes)
      }
      lsn += 100
    }

    // 4. a dimension change — the case the reference's
    // REFRESH_MODE=INCREMENTAL handles and a fact-only IVM would miss
    val pid = star.view.current().select("product_id")
      .orderBy("product_id").head().getInt(0)
    stage(s"product $pid price update (dim-delta refresh)") {
      star.applyBatch("products", Seq(
        (pid, "Updated Product", "Electronics", 999.99,
          CdcApply.Update, lsn, new Timestamp(0L))
      ).toDF("product_id", "product_name", "product_category", "price",
             CdcApply.OpCol, CdcApply.LsnCol, CdcApply.CommitTsCol))
    }

    // 5. dashboard reads over the maintained view
    val view = star.view.current().cache()
    val spending = stage("dashboard: customer spending buckets") {
      val s = Dashboard.calculateCustomerSpending(view, 4000, 6000)
      s.cache().count(); s
    }
    stage("dashboard: spend-status counts") {
      Dashboard.spendStatusCounts(spending).show(truncate = false)
    }
    stage("dashboard: top merchant") {
      Dashboard.topMerchants(view, 3).show(truncate = false)
    }

    // the IVM invariant the whole pipeline rests on
    val full = PurchaseSummary.customerPurchaseSummary(
      star.transactions.current(), star.customers.current(),
      star.products.current(), star.merchants.current())
    val diverged = view.exceptAll(full).count() + full.exceptAll(view).count()
    println(s"[demo] incremental view ≡ full recompute: " +
      (if (diverged == 0) "OK" else s"DIVERGED ($diverged rows)"))
    require(diverged == 0)
    spark.stop()
  }
}
