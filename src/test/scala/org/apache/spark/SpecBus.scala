package org.apache.spark

/** Waits until every posted listener event has been delivered, so a spec's
  * SparkListener counts are complete before it asserts on them. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
