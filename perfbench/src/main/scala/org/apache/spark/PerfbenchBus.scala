package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's job counters are complete before they are read. The
  * bus is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
