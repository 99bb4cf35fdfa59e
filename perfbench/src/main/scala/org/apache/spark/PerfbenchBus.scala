package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run's counters are complete before they are written out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
