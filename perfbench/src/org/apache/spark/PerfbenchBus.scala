package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's counters are complete when a phase is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
