package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Stats {

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile, `q` in [0, 1]; 0 on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** CPU seconds of every thread of this JVM. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def jitS(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime / 1e3
    else 0.0
  }

  /** Whole-stage and expression classes Spark has compiled with Janino
    * so far: each is a codegen cache miss. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Host-wide steal seconds so far (Linux `/proc/stat`, USER_HZ = 100);
    * 0 where the file is absent. Read only, to flag runs taken under
    * steal. */
  def stealS(): Double = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!Files.isReadable(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble / 100.0).getOrElse(0.0)
  }

  /** Heap in use after a full collection, MB. The second collection
    * follows a pause in which Spark's context cleaner drops the blocks of
    * broadcasts the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** (bytes, regular files) under `root`. */
  def dirStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        var bytes = 0L; var files = 0L
        s.iterator().asScala.foreach { p =>
          if (Files.isRegularFile(p)) { bytes += Files.size(p); files += 1 }
        }
        (bytes, files)
      } finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
