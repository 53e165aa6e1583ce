package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{Bench, SparkEntry}

/** Per-query profiler over the catalog, under [[graft.Bench]]'s session
  * and warm-up, so that what it prints is what the bench would time.
  *
  *  - `solo`: wall median/min/max and executor CPU over repeated full
  *    materializations (`queryExecution.toRdd`, as the bench times),
  *    failed repeats marked `!` and left out of the statistics — the
  *    isolation run for a bench row that drifted.
  *  - `stages`: per-stage executor CPU, run time, task count and
  *    shuffle read/write, heaviest first — which exchange-delimited
  *    piece of a query burns the time.
  *  - `explain`: the formatted physical plan, then, after one
  *    execution, the final adaptive plan's per-operator output rows —
  *    where a query's volume appears.
  *
  * Usage: runMain graft.tools.Profile <solo|stages|explain> <query...>
  * Env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  *        SPARK_GRAFT_BENCH_REPEATS (default 5 for solo, 1 for stages).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <solo|stages|explain> <query...>"
    require(args.length >= 2, usage)
    val mode = args.head
    val queries = args.tail.toSeq
    queries.foreach(q =>
      require(SparkEntry.queries.contains(q), s"unknown query '$q'"))
    val sfDir = Bench.sfDir
    val spark = Bench.session(Bench.cpus)
    def repeats(default: Int): Int = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", default.toString).toInt)
    mode match {
      case "solo" =>
        Bench.warmUp(spark, sfDir)
        solo(spark, sfDir, queries, repeats(5))
      case "stages" =>
        Bench.warmUp(spark, sfDir)
        stages(spark, sfDir, queries, repeats(1))
      case "explain" => explain(spark, sfDir, queries)
      case _ => throw new IllegalArgumentException(usage)
    }
    spark.stop()
  }

  private def solo(spark: SparkSession, sfDir: String, queries: Seq[String],
                   repeats: Int): Unit = {
    val cpuNs = Bench.cpuCounter(spark)
    queries.foreach { name =>
      val attempts = Seq.fill(repeats) {
        val c0 = cpuNs.get
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            println(s"[solo] $name FAILED: $e"); false }
        ((System.nanoTime() - t0) / 1e9, (cpuNs.get - c0) / 1e9, ok)
      }
      graft.dedup.Dedup.releaseCaches()
      // failed repeats are excluded from the stats (their wall time
      // measures the failure, not the query); all= marks them with !
      val times = attempts.filter(_._3)
      if (times.isEmpty) println(s"[solo] $name: all $repeats repeats FAILED")
      else {
        val w = times.map(_._1).sorted
        val c = times.map(_._2).sorted
        println(f"[solo] $name wall med=${w(w.length / 2)}%.3f " +
          f"min=${w.head}%.3f max=${w.last}%.3f " +
          f"cpu med=${c(c.length / 2)}%.3f " +
          f"all=${attempts.map(t =>
            f"${t._1}%.2f${if (t._3) "" else "!"}").mkString(",")}")
      }
    }
  }

  private final case class Stage(name: String, var cpu: Double = 0,
                                 var run: Double = 0, var tasks: Int = 0,
                                 var srMB: Double = 0, var swMB: Double = 0)

  private def stages(spark: SparkSession, sfDir: String, queries: Seq[String],
                     repeats: Int): Unit = {
    val seen = mutable.LinkedHashMap.empty[Int, Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        seen.synchronized {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val r = seen.getOrElseUpdate(si.stageId,
            Stage(si.name.linesIterator.next().take(90)))
          r.cpu += m.executorCpuTime / 1e9
          r.run += m.executorRunTime / 1e3
          r.tasks += si.numTasks
          r.srMB += m.shuffleReadMetrics.totalBytesRead / 1048576.0
          r.swMB += m.shuffleWriteMetrics.bytesWritten / 1048576.0
          ()
        }
    })
    for (q <- queries) {
      seen.synchronized(seen.clear())
      for (i <- 1 to repeats) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
        println(f"[stages] $q run $i wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
        graft.dedup.Dedup.releaseCaches()
      }
      val rows = seen.synchronized(seen.values.toSeq).sortBy(-_.cpu)
      println(f"[stages] $q total cpu ${rows.map(_.cpu).sum}%.2f s over ${rows.size} stages")
      rows.take(12).foreach { r =>
        println(f"[stages] cpu=${r.cpu}%7.2f run=${r.run}%7.2f tasks=${r.tasks}%4d " +
          f"sr=${r.srMB}%7.1fMB sw=${r.swMB}%7.1fMB  ${r.name}")
      }
    }
  }

  private def explain(spark: SparkSession, sfDir: String,
                      queries: Seq[String]): Unit =
    queries.foreach { q =>
      println(s"\n========== $q ==========")
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      println(f"[explain] $q wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
      def walk(p: SparkPlan, depth: Int): Unit = {
        val rows = p.metrics.get("numOutputRows").map(_.value)
        val shuffleBytes = p.metrics.get("shuffleBytesWritten")
          .orElse(p.metrics.get("dataSize")).map(_.value)
        val tag = rows.fold("")(r => f"$r%,d rows") +
          shuffleBytes.fold("")(b => f"  ${b / 1048576.0}%.1f MB")
        println(f"[explain] ${"  " * depth}${p.nodeName}%-35s $tag")
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case s: QueryStageExec => walk(s.plan, depth + 1)
          case other => other.children.foreach(walk(_, depth + 1))
        }
      }
      walk(df.queryExecution.executedPlan, 0)
    }
}
