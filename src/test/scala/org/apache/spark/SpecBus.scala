package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Waits until every posted listener event has been delivered, so a spec's
  * SparkListener counts are complete before it asserts on them, and counts
  * what a block of work costs in jobs and in generated-code compiles. */
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

  /** Starts now the processes a Spark JVM starts once, not per statement,
    * so a spec can count the ones a statement starts: executor metrics
    * read the page size with `getconf` the first time they are polled. */
  def startOnceProcesses(): Unit = executor.ProcfsMetricsGetter.pTreeInfo

  /** The generated classes compiled while `f` runs: compiles happen only on
    * a miss in the generated-code cache, and each one records a compile time.
    * The count is JVM-wide, so `f` must be the only work running. */
  def compilesIn(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
