package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench
import graft.cdc.PartitionedReplicatedTable

/** Measured zone-map data skipping on reference-shaped data: the fact
  * table partitioned by MONTH with manifest zones on transaction_date
  * and total_price, probed with a few-day date range — the query
  * shape where the predicate column is finer than the partition key,
  * so partition-value pruning alone cannot help but the zones prune
  * from the manifest without listing a single file.
  *
  * Usage: runMain graft.tools.ZoneMapBench [sfDir]
  */
object ZoneMapBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)

    val path = s"${sys.props("java.io.tmpdir")}/graft-zonebench"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val tx = graft.sources.TestData.transactions(spark, sfDir)
      .withColumn("month", date_format(col("transaction_date"), "yyyy-MM"))
    val t = new PartitionedReplicatedTable(spark, path,
      Seq("transaction_id"), "month",
      statsCols = Seq("transaction_date", "total_price"))
    var t0 = System.nanoTime()
    t.snapshot(tx)
    println(f"[zone] snapshot (incl. stats job): ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val lo = java.sql.Date.valueOf("1997-03-05")
    val hi = java.sql.Date.valueOf("1997-03-09")
    def time[A](f: => A): (A, Double) = {
      val s = System.nanoTime(); val a = f; (a, (System.nanoTime() - s) / 1e9)
    }
    // warm both paths once, then measure
    t.current().filter(col("transaction_date").between(lo, hi)).count()
    t.currentRange("transaction_date", lo, hi).count()
    val (full, wf) = time(
      t.current().filter(col("transaction_date").between(lo, hi)).count())
    val (pruned, wp) = time(t.currentRange("transaction_date", lo, hi).count())
    val (surv, total) = t.pruneStats("transaction_date", lo, hi)
    println(f"[zone] full scan + filter: $full rows in $wf%.2f s")
    println(f"[zone] zone-pruned range read: $pruned rows in $wp%.2f s " +
      f"($surv/$total partitions survive the manifest prune)")
    require(full == pruned, "prune must be exact")

    // the price zones only help when the partition layout correlates
    // with price; on this data they conservatively keep everything —
    // report it so the negative case is measured too
    val (ps, pt) = t.pruneStats("total_price", 900.0, 1000.0)
    println(s"[zone] uncorrelated column (total_price): $ps/$pt partitions kept (expected ~all)")
    spark.stop()
  }
}
