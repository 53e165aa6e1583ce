package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcApply, PartitionedReplicatedTable, ReplicatedTable}
import graft.streaming.DynamicTable

/** A commit evaluates its input once. Each input here is built through
  * a nondeterministic UDF that bumps a [[LongAccumulator]] per row it
  * produces, so the accumulator counts how many times the input's
  * lineage ran: after the commit it must equal the row count, not a
  * multiple of it. A second count is a second evaluation — for a view
  * refresh, a second run of the whole delta plan. */
class EvaluateOnceSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Rows (k, day, v) for the given keys, over three days. Every column
    * derives from the key, which passes through a counting UDF, so any
    * read of the rows — a partition collect included — counts. */
  private def counted(acc: LongAccumulator, keys: Range): DataFrame = {
    val bump = udf { (k: Long) => acc.add(1); k.toInt }.asNondeterministic()
    spark.range(keys.start.toLong, keys.end.toLong, 1L, 2)
      .select(bump(col("id")).as("k"))
      .select(col("k"),
        concat(lit("2024-01-0"), (col("k") % 3 + 1).cast("string")).as("day"),
        concat(lit("v"), col("k").cast("string")).as("v"))
  }

  private def asChanges(df: DataFrame, op: String, lsn: Long): DataFrame =
    df.withColumn(CdcApply.OpCol, lit(op))
      .withColumn(CdcApply.LsnCol, lit(lsn))
      .withColumn(CdcApply.CommitTsCol, current_timestamp())

  test("PartitionedReplicatedTable: snapshot and applyChanges evaluate their input once") {
    val dir = Files.createTempDirectory("graft-once-ptab").toString
    val t = new PartitionedReplicatedTable(spark, s"$dir/t", Seq("k"), "day")
    val acc = spark.sparkContext.longAccumulator("snapshot-rows")
    t.snapshot(counted(acc, 0 until 30))
    assert(acc.value == 30, s"snapshot input evaluated ${acc.value / 30.0} times")
    assert(t.current().count() == 30)

    val acc2 = spark.sparkContext.longAccumulator("change-rows")
    t.applyChanges(asChanges(counted(acc2, 20 until 50), CdcApply.Update, 1L))
    assert(acc2.value == 30, s"change batch evaluated ${acc2.value / 30.0} times")
    assert(t.current().count() == 50)
  }

  test("DynamicTable.dimensionRefresh evaluates its dimension batch once") {
    val dir = Files.createTempDirectory("graft-once-dim").toString
    val fact = new PartitionedReplicatedTable(spark, s"$dir/fact", Seq("k"), "day")
    val dim = new ReplicatedTable(spark, s"$dir/dim", Seq("g"))
    val result = new PartitionedReplicatedTable(spark, s"$dir/view", Seq("k"), "day")
    def viewOf(f: DataFrame): DataFrame =
      f.join(broadcast(dim.current()), Seq("g"))
        .select(col("k"), col("day"), col("g"), (col("k") * col("factor")).as("m"))
    val dt = new DynamicTable(fact, result, viewOf,
      dims = Map("dim" -> DynamicTable.DimBinding(dim, "g")))

    fact.snapshot(spark.range(40).select(col("id").cast("int").as("k"),
      concat(lit("2024-01-0"), (col("id") % 3 + 1).cast("string")).as("day"),
      (col("id") % 4).cast("int").as("g")))
    dim.snapshot(spark.range(3).select(col("id").cast("int").as("g"),
      (col("id") + 2).cast("int").as("factor")))
    dt.fullRefresh()

    // two value updates and one join-in (g = 3 was absent)
    val acc = spark.sparkContext.longAccumulator("dim-rows")
    val bump = udf { (g: Long) => acc.add(1); g.toInt }.asNondeterministic()
    val dimChanges = asChanges(spark.range(1, 4, 1, 1)
      .select(bump(col("id")).as("g"), lit(9).as("factor")), CdcApply.Update, 1L)
    dim.applyChanges(dimChanges)
    acc.reset()
    dt.dimensionRefresh("dim", dimChanges)
    assert(acc.value == 3, s"dimension batch evaluated ${acc.value / 3.0} times")

    val expect = viewOf(fact.current())
    val got = result.current()
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
  }

  /** Jobs started while `f` runs (listener events post asynchronously). */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { f; Thread.sleep(1000); jobs.get() }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other => other
  }

  test("ReplicatedTable.current() starts no Spark job and names the footer's schema") {
    val dir = Files.createTempDirectory("graft-once-rt").toString
    val path = s"$dir/t"
    val t = new ReplicatedTable(spark, path, Seq("k"))
    t.snapshot(spark.range(5).select(col("id").cast("int").as("k"),
      col("id").cast("string").as("v")))

    def check(stage: String): Unit = {
      var cur: DataFrame = null
      val jobs = jobsDuring { cur = t.current() }
      assert(jobs == 0, s"$stage: current() started $jobs Spark jobs")
      val v = t.currentVersion.get
      val inferred = spark.read.parquet(s"$path/v=$v").schema
      assert(nullable(cur.schema) == nullable(inferred),
        s"$stage: ${cur.schema.treeString} vs footer ${inferred.treeString}")
    }
    check("after snapshot")

    // an upstream ADD COLUMN evolves the table
    t.applyChanges(asChanges(spark.range(3, 7).select(col("id").cast("int").as("k"),
      lit("w").as("v"), col("id").cast("double").as("added")), CdcApply.Update, 1L))
    check("after a column add")
    assert(t.current().columns.toSeq == Seq("k", "v", "added"))
    assert(t.current().count() == 7)
  }
}
