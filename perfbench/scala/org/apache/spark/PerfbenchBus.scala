package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its own listener's totals, so no job or task event is still queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
