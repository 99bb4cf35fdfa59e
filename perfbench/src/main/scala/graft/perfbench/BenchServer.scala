package graft.perfbench

import java.io.{BufferedReader, FileDescriptor, FileOutputStream, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Sessions
import graft.catalog.LakeCatalog
import graft.server.McpServer
import org.apache.spark.sql.SparkSession

/** The program side of the benchmark: one Spark session behind a line
  * protocol on stdin/stdout, driven by `perfbench/run.py`.
  *
  * A line starting with `{` is an MCP JSON-RPC frame and goes to
  * `McpServer.handleLine`; its reply line (or `null` for a notification) is
  * written back. A line starting with `!` is a harness command (set-up,
  * telemetry); its reply is one JSON object.
  *
  * usage: BenchServer <cpus> <trace 0|1>
  */
object BenchServer {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kv: (String, Any)*): String = kv.map {
    case (k, v: String) => s"${q(k)}:${q(v)}"
    case (k, v) => s"${q(k)}:$v"
  }.mkString("{", ",", "}")

  private def processCpuSec(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  /** Host-steal seconds so far, from the `cpu` line of /proc/stat (USER_HZ). */
  private def stealSec(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(-1.0)
    finally src.close()
  } catch { case _: Throwable => -1.0 }

  private def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  private def heapPeakMb(): Double = mb(ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum)

  def main(args: Array[String]): Unit = {
    val proto = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err) // Spark and operator prints must not corrupt the protocol
    Console.withOut(System.err) { run(args(0), args(1) == "1", proto) }
  }

  private def run(cpus: String, trace: Boolean, out: PrintStream): Unit = {
    val t0 = System.nanoTime()
    val spark = Sessions.local(cpus, "graft-perfbench")
    if (trace) {
      val l = new SparkTrace
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    var server: McpServer = null
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def command(words: Seq[String]): String = words match {
      case Seq("!hello") =>
        obj("session_s" -> (System.nanoTime() - t0) / 1e9,
          "nproc" -> Runtime.getRuntime.availableProcessors(),
          "heap_max_mb" -> mb(Runtime.getRuntime.maxMemory()),
          "cpus" -> cpus, "spark" -> spark.version)
      case Seq("!proc") =>
        obj("cpu_s" -> processCpuSec(), "steal_s" -> stealSec(), "gc_s" -> gcSec(),
          "heap_peak_mb" -> heapPeakMb(), "time_us" -> Tracer.nowUs)
      case Seq("!gc") =>
        // Spark's ContextCleaner frees broadcast and shuffle blocks only
        // after a GC has collected their owners, on its own thread: collect,
        // let it run, and collect again before reading the heap
        clearCaches()
        for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
        val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        obj("live_heap_mb" -> mb(h.getUsed))
      case Seq("!trace", onOff) =>
        Tracer.reset()
        Tracer.enabled = trace && onOff == "on"
        ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
        obj("tracing" -> Tracer.enabled)
      case Seq("!spans", path) =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Files.writeString(Paths.get(path), Tracer.json)
        obj("ok" -> true)
      case Seq("!import", wh, spec) =>
        // one line per table: `ns table parquet [col,col]`; tables are
        // independent, so they are committed (and analyzed) four at a time
        val cat = new LakeCatalog(spark, wh)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        try {
          val jobs = Files.readAllLines(Paths.get(spec)).asScala.toSeq.filter(_.trim.nonEmpty).map { l =>
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = {
                val Array(ns, table, parquet, cols @ _*) = l.trim.split("\\s+")
                val df = spark.read.parquet(parquet)
                cat.createTable(ns, table, df.schema)
                val rows = cat.append(ns, table, df)
                cols.headOption.foreach(c => cat.analyzeTable(ns, table, c.split(",").toSeq))
                rows
              }
            })
          }
          obj("rows" -> jobs.map(_.get()).sum)
        } finally pool.shutdown()
      case Seq("!server", wh) =>
        server = if (trace) new TracedMcpServer(spark, wh) else new McpServer(spark, wh)
        obj("ok" -> true)
      case Seq("!rewrite", wh, ns, table, dir) =>
        new LakeCatalog(spark, wh).load(ns, table).coalesce(1).write.mode("overwrite").parquet(dir)
        obj("ok" -> true)
      case other => throw new IllegalArgumentException(s"unknown command: ${other.mkString(" ")}")
    }
    val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null && line != "!quit") {
      val reply =
        if (line.startsWith("{")) {
          Tracer.span("server.handleLine")(server.handleLine(line)).getOrElse("null")
        } else {
          try command(line.trim.split("\\s+").toSeq)
          catch { case e: Throwable => obj("error" -> (e.getClass.getName + ": " + e.getMessage)) }
        }
      out.println(reply)
      line = in.readLine()
    }
    spark.stop()
  }
}
