package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's counters are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
