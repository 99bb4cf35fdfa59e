package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Waits until every posted listener event has been delivered, so a spec's
  * SparkListener counts are complete before it asserts on them. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Spark jobs started while `f` runs. */
  def jobsIn(sc: SparkContext)(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      f
      drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
