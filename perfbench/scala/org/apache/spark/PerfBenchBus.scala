package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced op's listener data is complete before the next op starts. The
  * bus is package-private, hence this one-line bridge. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
