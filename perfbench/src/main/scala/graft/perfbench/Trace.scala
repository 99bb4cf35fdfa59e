package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import graft.catalog.{CommitConflictException, LakeCatalog, SqlGateway}
import graft.server.McpServer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter store for the traced run. Spans carry epoch
  * microseconds so they line up with Spark listener event times (epoch ms);
  * they are written out once, when the run ends. Disabled, `span` is a plain
  * call. */
object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, DoubleAdder]
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get()
      val start = nowUs
      stack.set(id :: outer)
      try f
      finally {
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, start, nowUs))
      }
    }

  /** A span measured elsewhere (Spark listener events); its parent is found
    * later by time containment. */
  def record(name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) spans.add(Span(ids.getAndIncrement(), -1L, name, startUs, endUs))

  def add(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def reset(): Unit = { spans.clear(); counters.clear() }

  def json: String = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.asScala.map(s =>
      s"""[${s.id},${s.parent},"${s.name}",${s.startUs},${s.endUs}]""").mkString(","))
    sb.append("],\"counters\":{")
    sb.append(counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${v.sum()}""" }.mkString(","))
    sb.append("}}")
    sb.toString
  }
}

/** Spark-side spans and executor counters: one span per SQL execution
  * (action) and per job, task metrics summed into counters. */
class SparkTrace extends SparkListener with QueryExecutionListener {
  private val execStart = new ConcurrentHashMap[Long, Long]
  private val jobStart = new ConcurrentHashMap[Int, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time * 1000L)
    case s: SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(s.executionId)).foreach(t0 =>
        Tracer.record("spark.sql", t0, s.time * 1000L))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time * 1000L)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Tracer.add("exec.jobs", 1)
    Option(jobStart.remove(e.jobId)).foreach(t0 => Tracer.record("spark.job", t0, e.time * 1000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Tracer.add("exec.tasks", 1)
    if (!e.taskInfo.successful) Tracer.add("exec.failed_tasks", 1)
    if (e.taskInfo.speculative) Tracer.add("exec.speculative_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Tracer.add("exec.task_s", m.executorRunTime / 1e3)
      Tracer.add("exec.cpu_s", m.executorCpuTime / 1e9)
      Tracer.add("exec.gc_s", m.jvmGCTime / 1e3)
      Tracer.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Tracer.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Tracer.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    Tracer.add("plan.actions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      Tracer.add(s"plan.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

/** A [[LakeCatalog]] whose public entry points used by the gateway are timed.
  * Span names are `catalog.<kind>.<method>`, kind ∈ meta | load | commit. */
class TracedCatalog(spark: SparkSession, root: String) extends LakeCatalog(spark, root) {
  private def meta[T](m: String)(f: => T): T = Tracer.span(s"catalog.meta.$m")(f)
  private def loading[T](m: String)(f: => T): T = Tracer.span(s"catalog.load.$m")(f)
  private def commit[T](m: String)(f: => T): T = Tracer.span(s"catalog.commit.$m") {
    try f
    catch { case e: CommitConflictException => Tracer.add("catalog.commit_conflicts", 1); throw e }
  }

  override def listNamespaces(): Seq[String] = meta("listNamespaces")(super.listNamespaces())
  override def listTables(): Seq[(String, String)] = meta("listTables")(super.listTables())
  override def snapshots(ns: String, table: String): Seq[(Int, Seq[String])] =
    meta("snapshots")(super.snapshots(ns, table))
  override def describeFull(ns: String, table: String): Seq[(String, String, String)] =
    meta("describeFull")(super.describeFull(ns, table))
  override def tableMeta(ns: String, table: String): (Seq[String], Seq[String], Map[String, String]) =
    meta("tableMeta")(super.tableMeta(ns, table))
  override def checkConstraints(ns: String, table: String): Map[String, String] =
    meta("checkConstraints")(super.checkConstraints(ns, table))
  override def filesMeta(ns: String, table: String): DataFrame =
    meta("filesMeta")(super.filesMeta(ns, table))
  override def showStats(ns: String, table: String): DataFrame =
    meta("showStats")(super.showStats(ns, table))
  override def countStar(ns: String, table: String): Option[Long] =
    meta("countStar")(super.countStar(ns, table))

  override def load(ns: String, table: String): DataFrame = loading("load")(super.load(ns, table))
  override def loadRenamed(ns: String, table: String): DataFrame =
    loading("loadRenamed")(super.loadRenamed(ns, table))
  override def loadSnapshot(ns: String, table: String, v: Int): DataFrame =
    loading("loadSnapshot")(super.loadSnapshot(ns, table, v))

  override def insertRow(ns: String, table: String, values: Seq[Any]): Unit =
    commit("insertRow")(super.insertRow(ns, table, values))
  override def deleteWhere(ns: String, table: String, cond: Column): Unit =
    commit("deleteWhere")(super.deleteWhere(ns, table, cond))
  override def deleteWhereMor(ns: String, table: String, cond: Column): Long =
    commit("deleteWhereMor")(super.deleteWhereMor(ns, table, cond))
  override def updateWhere(ns: String, table: String, cond: Column, set: Map[String, Column]): Unit =
    commit("updateWhere")(super.updateWhere(ns, table, cond, set))
  override def merge(ns: String, table: String, rawSource: DataFrame, key: String): Unit =
    commit("merge")(super.merge(ns, table, rawSource, key))
  override def compactIfSkewed(ns: String, table: String, maxFiles: Int): Seq[(String, Long, Long, Long, String)] =
    commit("compactIfSkewed")(super.compactIfSkewed(ns, table, maxFiles))
  override def expireSnapshots(ns: String, table: String, keep: Int): Unit =
    commit("expireSnapshots")(super.expireSnapshots(ns, table, keep))
}

class TracedGateway(spark: SparkSession, catalog: LakeCatalog) extends SqlGateway(spark, catalog) {
  override def execute(sql: String): DataFrame = Tracer.span("gateway.execute")(super.execute(sql))
}

/** The MCP server with the traced gateway and catalog swapped in. */
class TracedMcpServer(spark: SparkSession, warehouse: String) extends McpServer(spark, warehouse) {
  override val gateway: SqlGateway = new TracedGateway(spark, new TracedCatalog(spark, warehouse))
}
