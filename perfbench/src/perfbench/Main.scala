package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up, a closed-loop timed window,
  * checks, and one JSON result line as the last line of stdout.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --workdir DIR --launched-ms EPOCH_MS [--detail FILE]
  * perfbench.Main --selftest --workdir DIR
  * }}}
  * `perfbench/run.py` builds the classpath and passes these. */
object Main {

  /** `cdc_append` is runnable by hand but not in BENCHMARK.json: every
    * layer it drives (fact merge, view refresh, read) is also driven by
    * `cdc_churn`'s fact ops, and the run budget holds three workloads
    * (README). */
  val Workloads: Seq[String] = Seq("cdc_append", "cdc_churn", "query_catalog", "corpus_fold")

  /** The reference's seed volumes and its generator's 100-row commit
    * (FIXTURES.md, BASELINE.md); the seed year's dates fold into 10 days. */
  val CdcSize = StarModel.Size(customers = 1804, transactions = 1000, days = 10,
    commitRows = 100, appendFixes = 10, scatterUpdates = 70, scatterDeletes = 20,
    scatterInserts = 10)
  val CorpusSize = CorpusFold.Size(neardupGroups = 32, bm25Docs = 96, embPairs = 24)
  val SmokeCdc = CdcSize.copy(customers = 60, transactions = 80, days = 4, commitRows = 20,
    appendFixes = 6, scatterUpdates = 10, scatterDeletes = 4, scatterInserts = 4)
  val SmokeCorpus = CorpusSize.copy(neardupGroups = 8, bm25Docs = 30, embPairs = 8)

  /** The catalog's input: the testdata tables kept in the benchmark. */
  def catalogData: String = sys.props.getOrElse("perfbench.data",
    throw new IllegalArgumentException("-Dperfbench.data is required"))

  def workload(name: String, spark: SparkSession, seed: Long, smoke: Boolean): Workload =
    name match {
      case "cdc_append" =>
        new CdcWorkload(spark, seed, if (smoke) SmokeCdc else CdcSize, churn = false)
      case "cdc_churn" =>
        new CdcWorkload(spark, seed, if (smoke) SmokeCdc else CdcSize, churn = true)
      case "query_catalog" =>
        new CatalogWorkload(spark, catalogData,
          if (smoke) CatalogWorkload.Smoke else CatalogWorkload.Queries)
      case "corpus_fold" =>
        new CorpusFold(spark, seed, if (smoke) SmokeCorpus else CorpusSize)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** Every per-layer metric of a traced run, in order, with its unit; a
    * workload reports the layers it drives and the rest read 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.merge_s" -> "s", "cdc.merge_cpu_s" -> "s", "cdc.merge_jobs" -> "count",
    "cdc.dim_merge_s" -> "s", "cdc.dim_merge_jobs" -> "count",
    "cdc.partitions_rewritten" -> "count", "cdc.bytes_written_mb" -> "MB",
    "cdc.rows_rewritten_per_change" -> "count",
    "streaming.view_refresh_s" -> "s", "streaming.view_refresh_cpu_s" -> "s",
    "streaming.view_refresh_jobs" -> "count", "streaming.view_bytes_written_mb" -> "MB",
    "streaming.dim_refresh_s" -> "s", "streaming.dim_refresh_cpu_s" -> "s",
    "streaming.dim_refresh_jobs" -> "count", "streaming.dim_refresh_input_mb" -> "MB",
    "operators.read_s" -> "s", "operators.read_cpu_s" -> "s", "operators.read_jobs" -> "count",
    "operators.view_files" -> "count") ++
    CatalogWorkload.Families.flatMap(f => Seq(s"catalog.${f}_s" -> "s", s"catalog.${f}_cpu_s" -> "s")) ++
    Seq("catalog.jobs" -> "count", "catalog.stages" -> "count", "catalog.shuffle_mb" -> "MB",
    "dedup.setjoin_cpu_s" -> "s", "catalog.materialize_s" -> "s",
    "streaming.fold_neardup_s" -> "s", "streaming.fold_bm25_s" -> "s",
    "streaming.fold_embdedup_s" -> "s", "streaming.fold_cpu_s" -> "s",
    "streaming.fold_jobs" -> "count", "streaming.probe_s" -> "s", "streaming.compact_s" -> "s",
    "streaming.state_files" -> "count", "streaming.state_mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.codegen_compiles_per_op" -> "count",
    "host.steal_s" -> "s", "trace.latency_p50_s" -> "s")

  /** The one session config every workload shares: `graft.Bench`'s
    * settings plus the long-running-driver caps of `SoakBench`, with all
    * scratch space under the run's working directory. */
  def session(workdir: Path): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.default.parallelism", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.cleaner.periodicGC.interval", "3min")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", workdir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workdir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workdir = Paths.get(arg(args, "--workdir").getOrElse(
      throw new IllegalArgumentException("--workdir is required"))).toAbsolutePath
    if (args.contains("--selftest")) {
      val ok = SelfTest.run(session(workdir), workdir)
      System.exit(if (ok) 0 else 1)
    }
    val name = arg(args, "--workload").getOrElse("cdc_append")
    require(Workloads.contains(name), s"unknown workload '$name'")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val launched = arg(args, "--launched-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val spark = session(workdir)
    val result = run(spark, workdir, name, seed, seconds, traced, launched,
      arg(args, "--detail").map(Paths.get(_)))
    spark.stop()
    println(result)
  }

  def run(spark: SparkSession, workdir: Path, name: String, seed: Long,
          seconds: Double, traced: Boolean, launchedMs: Long,
          detail: Option[Path]): String = {
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    val t = new Trace(spark, traced)
    val state = workdir.resolve("state")

    // set-up: one state build (a run's budget has no room for repeats)
    val w = workload(name, spark, seed, smoke = false)
    val b0 = System.nanoTime()
    w.build(state, t)
    val buildS = (System.nanoTime() - b0) / 1e9
    var failures = List.empty[String]
    def fail(msg: String): Unit = {
      System.err.println(s"[perfbench] $name: $msg"); failures ::= msg
    }

    // warm-up: a fixed number of ops, so every run times the same ops
    var i = 0
    var warmS = 0.0
    val warm = mutable.ArrayBuffer.empty[Double]
    while (i < w.warmOps) {
      val op = w.next()
      val t0 = System.nanoTime()
      val out = op.run(t)
      val lat = (System.nanoTime() - t0) / 1e9
      val m0 = System.nanoTime()
      w.maintain(i, t)
      warmS += lat + (System.nanoTime() - m0) / 1e9
      warm += lat
      op.check(out).foreach(fail)
      i += 1
    }
    val setupS = sessionS + buildS + warmS

    // timed window: closed loop, whole rounds, checks outside the clock
    val lat = mutable.ArrayBuffer.empty[Double]
    var windowS = 0.0
    var cpuS = 0.0
    var attempted = 0
    var failed = 0
    val gc0 = Stats.gcS(); val jit0 = Stats.jitS(); val steal0 = Stats.stealS()
    val wall0 = System.nanoTime()
    val cg0 = Stats.codegenCompiles()
    while (windowS < seconds || attempted % w.round != 0) {
      val op = w.next()
      t.beginOp(attempted)
      val c0 = Stats.processCpuS()
      val t0 = System.nanoTime()
      val out = try Right(t.span("op")(op.run(t))) catch { case e: Exception => Left(e) }
      val t1 = System.nanoTime()
      w.maintain(i, t)
      val t2 = System.nanoTime()
      cpuS += Stats.processCpuS() - c0
      windowS += (t2 - t0) / 1e9
      t.beginOp(-1)
      attempted += 1
      i += 1
      out match {
        case Right(v) =>
          lat += (t1 - t0) / 1e9
          op.check(v).foreach(fail)
          w.afterOp(t)
        case Left(e) =>
          failed += 1
          System.err.println(s"[perfbench] $name op $attempted failed: $e")
          e.printStackTrace()
      }
      if (failed > 0) windowS = seconds.max(windowS) // stop after the round
    }
    val gcS = Stats.gcS() - gc0; val jitS = Stats.jitS() - jit0
    val wallS = (System.nanoTime() - wall0) / 1e9
    val stealS = Stats.stealS() - steal0
    val compiles = (Stats.codegenCompiles() - cg0).toDouble / attempted.max(1)
    t.finish()

    val end0 = System.nanoTime()
    w.finalCheck(corrupt = false).foreach(fail)
    w.beforeDisk()
    // the program's state (replicas, maintainers, persisted ANN indexes
    // under the tmpdir, the warehouse), not Spark's scratch
    val diskMb = Seq("state", "tmp", "warehouse")
      .map(d => Stats.dirStats(workdir.resolve(d))._1).sum / 1e6
    val heapMb = Stats.liveHeapMb()
    val endS = (System.nanoTime() - end0) / 1e9
    val done = lat.size.max(1)
    val p50 = Stats.median(lat.toSeq)
    val metrics: Seq[(String, String, Double)] =
      if (!traced) Seq(
        ("setup_s", "s", setupS), ("latency_p50_s", "s", p50),
        ("ops_per_s", "1/s", lat.size / windowS), ("cpu_s_per_op", "s", cpuS / done),
        ("heap_live_mb", "MB", heapMb), ("disk_mb", "MB", diskMb))
      else {
        detail.foreach(t.dump)
        val got = (w.layers(t) ++ Seq("jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS,
          "jvm.codegen_compiles_per_op" -> compiles, "host.steal_s" -> stealS,
          "trace.latency_p50_s" -> p50)).toMap
        require(got.keySet.subsetOf(PerLayer.map(_._1).toSet),
          s"unlisted metrics ${got.keySet -- PerLayer.map(_._1)}")
        PerLayer.map { case (k, u) => (k, u, got.getOrElse(k, 0.0)) }
      }
    System.err.println(f"[perfbench] $name seed $seed: ${lat.size} ops in $windowS%.2f s, " +
      f"${warm.size} warm-up ops, build $buildS%.2f s, " +
      f"session $sessionS%.2f s, checks and sizing $endS%.2f s; warm ${warm.map(x => f"$x%.2f").mkString(" ")}; " +
      s"timed ${lat.map(x => f"$x%.2f").mkString(" ")}")
    val body = metrics.map { case (k, u, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
