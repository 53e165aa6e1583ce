package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded from the benchmark's own code around each call into
  * a graft layer, plus the Spark job metrics of the jobs each call ran.
  *
  * A span sets the local property [[Trace.Prop]] on the calling thread
  * for its duration; Spark copies local properties into every job the
  * thread submits, so the listener attributes a job (and its stages and
  * tasks) to the innermost span open when the job started. Spans live in
  * memory and are summarised once, after the timed window.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var op = -1

  /** Job metrics by span id; written by the listener thread. */
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = work.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).foreach { id =>
          work.getOrElseUpdate(id, new Work).jobs += 1
          e.stageIds.foreach(s => stageSpan(s) = id)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      work.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { id =>
          val w = work.getOrElseUpdate(id, new Work)
          val m = e.stageInfo.taskMetrics
          w.stages += 1
          if (m != null) {
            w.cpuNs += m.executorCpuTime
            w.inputBytes += m.inputMetrics.bytesRead
            w.outputBytes += m.outputMetrics.bytesWritten
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        if (e.taskInfo != null)
          work.getOrElseUpdate(id, new Work).taskMs += e.taskInfo.duration
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Marks the start of timed op `i` (warm-up ops pass -1). */
  def beginOp(i: Int): Unit = op = i

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, op, open.headOption.map(_.id),
        System.nanoTime())
      spans += s
      open.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits for the listener to see every job, then detaches it. */
  def finish(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Self time of each span: its duration minus its children's. */
  private lazy val selfNs: Map[Int, Long] = {
    val child = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => s.parent.foreach(p => child(p) += s.endNs - s.startNs))
    spans.map(s => s.id -> (s.endNs - s.startNs - child(s.id))).toMap
  }

  /** Per timed op, the sum over spans whose name passes `sel` of `f`;
    * ops where no such span ran are left out. */
  private def perOp(sel: String => Boolean)(f: Span => Double): Seq[Double] =
    spans.filter(s => sel(s.name) && s.op >= 0).groupBy(_.op)
      .map { case (_, ss) => ss.map(f).sum }.toSeq

  private def workOf(s: Span): Work = work.synchronized(work.getOrElse(s.id, Empty))

  /** Median per-op self seconds of the spans `sel` picks, 0 where none
    * ran. A name is the exact span name. */
  def selfS(sel: String => Boolean): Double =
    Stats.median(perOp(sel)(s => selfNs(s.id) / 1e9))
  def selfS(name: String): Double = selfS(_ == name)

  def cpuS(sel: String => Boolean): Double =
    Stats.median(perOp(sel)(s => workOf(s).cpuNs / 1e9))
  def cpuS(name: String): Double = cpuS(_ == name)

  /** Mean per-op count of jobs (or stages) of the spans `sel` picks. */
  def jobs(sel: String => Boolean): Double =
    Stats.mean(perOp(sel)(s => workOf(s).jobs.toDouble))
  def jobs(name: String): Double = jobs(_ == name)
  def stages(sel: String => Boolean): Double =
    Stats.mean(perOp(sel)(s => workOf(s).stages.toDouble))

  def outputMb(name: String): Double =
    Stats.median(perOp(_ == name)(s => workOf(s).outputBytes / 1e6))

  def inputMb(name: String): Double =
    Stats.median(perOp(_ == name)(s => workOf(s).inputBytes / 1e6))

  def shuffleMb(sel: String => Boolean): Double =
    Stats.mean(perOp(sel)(s => workOf(s).shuffleBytes / 1e6))

  /** Sum over timed ops of the executor CPU of the spans `sel` picks. */
  def totalCpuS(sel: String => Boolean): Double =
    spans.filter(s => sel(s.name) && s.op >= 0).map(s => workOf(s).cpuNs / 1e9).sum

  /** Sum of the wall time of the set-up spans (outside any op) `sel` picks. */
  def setupS(sel: String => Boolean): Double =
    spans.filter(s => sel(s.name) && s.op < 0).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Every span as one JSON line: the detail file of a traced run. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      val w = workOf(s)
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},""" +
        s""""parent":${s.parent.getOrElse(-1)},""" +
        s""""wall_s":${(s.endNs - s.startNs) / 1e9},"self_s":${selfNs(s.id) / 1e9},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"cpu_s":${w.cpuNs / 1e9},""" +
        s""""input_mb":${w.inputBytes / 1e6},"output_mb":${w.outputBytes / 1e6},""" +
        s""""shuffle_mb":${w.shuffleBytes / 1e6},""" +
        s""""task_max_ms":${w.taskMs.maxOption.getOrElse(0L)},""" +
        s""""task_median_ms":${Stats.median(w.taskMs.map(_.toDouble).toSeq)}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val Prop = "perfbench.span"

  final case class Span(id: Int, name: String, op: Int, parent: Option[Int],
                        startNs: Long) {
    var endNs: Long = startNs
  }

  final class Work {
    var jobs = 0
    var stages = 0
    var cpuNs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val Empty = new Work
}
