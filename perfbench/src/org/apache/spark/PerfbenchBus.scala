package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events
  * are delivered asynchronously, so the traced run drains the bus once
  * before it reads the per-span job metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
