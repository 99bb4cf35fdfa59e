package graft.server

import graft.catalog.{LakeCatalog, SqlGateway}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's MCP protocol endpoint (server.py:26-117), Spark-native.
  *
  * The reference registers two MCP tools over a stdio JSON-RPC 2.0 loop:
  * `query_catalog` (LIST NAMESPACES / LIST TABLES / DESCRIBE TABLE) and
  * `query_table` (SELECT / INSERT), both string-in → JSON-text-out
  * (server.py:40-68, 70-110). This class is the same protocol surface with
  * BOTH tools routed to [[SqlGateway.execute]] — so the catalog verbs, the
  * full mutation dialect, and distributed multi-table Spark SQL are all
  * reachable from an unmodified MCP client.
  *
  * Deliberately dependency-free: MCP's transport is newline-delimited
  * JSON-RPC 2.0 over stdio, which json4s (already on the Spark classpath)
  * covers; no SDK needed. The protocol loop is [[handleLine]] — pure
  * string→string, so the spec drives the full protocol without processes
  * or pipes; [[serve]] is the thin stdin/stdout shell around it.
  *
  * Scale notes vs the reference: results are capped at `maxRows` rows per
  * call (the reference's ≤1 MB payload limit, made explicit and
  * configurable) and truncation is REPORTED in the payload instead of
  * silently dropping data. Heavy lifting (scan, join, shuffle) happens in
  * Spark before the cap — the cap bounds the driver→client payload, not
  * the computation.
  */
class McpServer(spark: SparkSession, warehouse: String, maxRows: Int = 1000) {

  val gateway = new SqlGateway(spark, new LakeCatalog(spark, warehouse))

  private val tools: JValue = {
    def tool(name: String, desc: String, queryDesc: String): JValue =
      JObject(
        "name" -> JString(name),
        "description" -> JString(desc),
        "inputSchema" -> JObject(
          "type" -> JString("object"),
          "properties" -> JObject(
            "query" -> JObject(
              "type" -> JString("string"),
              "description" -> JString(queryDesc))),
          "required" -> JArray(List(JString("query")))))
    // the FULL dialect is advertised, the way the reference enumerates its
    // surface in each tool description (server.py:26-117) — an MCP client
    // discovers every verb from tools/list alone
    JArray(List(
      tool("query_catalog", "Interact with the lake catalog",
        "Catalog and maintenance verbs: LIST NAMESPACES [IN ns]; " +
          "LIST TABLES [IN ns]; DESCRIBE TABLE [ns.]t; " +
          "SHOW CREATE TABLE [ns.]t; " +
          "SHOW SNAPSHOTS|FILES|BOUNDS|REFS|STATS|BLOOMS|HISTORY IN [ns.]t; " +
          "SHOW PARTITION SPEC IN [ns.]t; SHOW PARTITIONS IN [ns.]t; " +
          "CREATE TAG name IN [ns.]t AS OF v; FAST FORWARD [ns.]t branch; " +
          "CHERRY PICK branch INTO [ns.]t; " +
          "DROP BRANCH b IN [ns.]t; ANALYZE [TABLE] [ns.]t (c1, c2); " +
          "CREATE BLOOM INDEX ON [ns.]t (col); " +
          "CREATE HISTOGRAM ON [ns.]t (col); SHOW HISTOGRAM FOR [ns.]t (col); " +
          "EXPIRE SNAPSHOTS IN [ns.]t [KEEP n]; REMOVE ORPHANS IN [ns.]t; " +
          "EXPIRE INDEX [ns.]idx USING [ns.]live (sweep persisted " +
          "signature-index rows whose doc_ids left the live table); " +
          "MAINTAIN STATS [ns.]t [FACTOR pct] (re-ANALYZE + rebuild " +
          "histograms when manifest rows outgrow analyzed rows); " +
          "MAINTAIN COMPACT [ns.]t [MAX n FILES] (metadata-only small-file " +
          "trigger; bin-packs ONLY partitions past the budget, default 4); " +
          "ROLLBACK [TABLE] [ns.]t TO VERSION v; " +
          "COMPACT TABLE [ns.]t [INTO n FILES] (default 1 file); " +
          "MAINTAIN TABLE [ns.]t [INTO n FILES] [KEEP k] " +
          "(defaults: 4 files, keep 3 snapshots); " +
          "MAINTAIN ALL [ns.]t [MAX n FILES] [KEEP k] (the full nightly " +
          "pass: stats refresh, compaction policy, snapshot expiry, " +
          "manifest rewrite, orphan sweep — per-arm report rows); " +
          "REWRITE MANIFESTS IN [ns.]t (compact the stats sidecar); " +
          "ADD FILES TO [ns.]t FROM 'landing_dir' (zero-copy adoption); " +
          "ALTER TABLE [ns.]t RENAME COLUMN a TO b (metadata-only); " +
          "ALTER TABLE [ns.]t SET PROPERTY 'k' = 'v' (metadata-only; " +
          "'format-version'='2' is the v1->v2 upgrade unlocking the " +
          "row-level-delete verbs); " +
          "EXPLAIN PRUNING [ns.]t WHERE cond (per-file zone-map skip " +
          "decision + summary, metadata only — no scan); " +
          "EXPLAIN ROUTE [ns.]t WHERE cond [THRESHOLD n] (the " +
          "broadcast-vs-shuffle join choice the stats sidecar makes for " +
          "the filtered table, metadata only); " +
          "DIFF BRANCH b [AGAINST base] IN [ns.]t (WAP publish audit: " +
          "row-level insert/delete diff of the branch vs the base head); " +
          "SHOW CHANGES IN [ns.]t BETWEEN v1 AND v2 (changelog scan: the " +
          "row-level insert/delete feed between two snapshots, deletion-" +
          "vector- and equality-delete-aware)"),
      tool("query_table", "Execute a query on lake tables",
        "Table reads and writes: any Spark SELECT over lake tables named " +
          "[ns.]t (joins, aggregates, window functions), with time travel via " +
          "FROM [ns.]t VERSION AS OF v or FROM [ns.]t TAG AS OF name and the " +
          "change feed via FROM [ns.]t CHANGES BETWEEN v1 AND v2; " +
          "CREATE TABLE [IF NOT EXISTS] [ns.]t (col type, ...); " +
          "INSERT INTO [ns.]t [(cols)] VALUES (...); " +
          "DELETE FROM [ns.]t WHERE cond (copy-on-write); " +
          "DELETE MOR FROM [ns.]t WHERE cond (deletion vectors); " +
          "DELETE EQ FROM [ns.]t WHERE key IN (v, ...) (equality delete " +
          "file — applies only to data committed before it, so later " +
          "re-inserts of a key stay alive); " +
          "UPDATE [ns.]t SET c = v WHERE cond (copy-on-write); " +
          "UPDATE MOR [ns.]t SET c = expr WHERE cond (deletion vectors " +
          "+ delta files, zero rewrite); " +
          "MERGE INTO [ns.]t USING [ns.]s ON keycol; " +
          "MERGE MOR INTO [ns.]t USING [ns.]s ON keycol (DV-mark matched " +
          "rows + delta files, zero rewrite); " +
          "COPY (SELECT ...) TO 'path' [FORMAT csv|json|parquet]; " +
          "EXPLAIN [FORMATTED|EXTENDED] SELECT ... (plan audit: verify " +
          "filter pushdown / column pruning / join strategy before paying " +
          "for a large scan)")))
  }

  /** One result row → JSON object, default-string for non-JSON types
    * (the reference's `json.dumps(..., default=str)`). */
  private def rowToJson(row: org.apache.spark.sql.Row): JValue =
    JObject(row.schema.fields.toList.zipWithIndex.map { case (f, i) =>
      val v: JValue =
        if (row.isNullAt(i)) JNull
        else row.get(i) match {
          case n: Int => JInt(BigInt(n))
          case n: Long => JInt(BigInt(n))
          case n: Short => JInt(BigInt(n))
          case n: Byte => JInt(BigInt(n))
          case n: Double => JDouble(n)
          case n: Float => JDouble(n.toDouble)
          case n: java.math.BigDecimal => JDecimal(BigDecimal(n))
          case b: Boolean => JBool(b)
          case s: String => JString(s)
          case other => JString(String.valueOf(other))
        }
      f.name -> v
    })

  /** Execute through the gateway and render the reference's text payload. */
  private def runQuery(query: String): String = {
    val t0 = System.nanoTime()
    val df: DataFrame = gateway.execute(query)
    val rows = df.limit(maxRows + 1).collect()
    val truncated = rows.length > maxRows
    val body = JArray(rows.take(maxRows).map(rowToJson).toList)
    val secs = (System.nanoTime() - t0) / 1e9
    val note = if (truncated) s" (truncated to $maxRows rows)" else ""
    f"Results (execution time: $secs%.2fs)$note:\n" + JsonMethods.pretty(JsonMethods.render(body))
  }

  private def result(id: JValue, payload: JValue): JValue =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id, "result" -> payload)

  private def error(id: JValue, code: Int, message: String): JValue =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id,
      "error" -> JObject("code" -> JInt(BigInt(code)), "message" -> JString(message)))

  private def textContent(text: String, isError: Boolean = false): JValue =
    JObject(
      "content" -> JArray(List(JObject(
        "type" -> JString("text"), "text" -> JString(text)))),
      "isError" -> JBool(isError))

  /** The whole protocol, one line in → at most one line out (None for
    * notifications, which JSON-RPC forbids answering). */
  def handleLine(line: String): Option[String] = {
    val parsed =
      try Right(JsonMethods.parse(line))
      catch { case e: Throwable => Left(e.getMessage) }
    val reply: Option[JValue] = parsed match {
      case Left(msg) => Some(error(JNull, -32700, s"Parse error: $msg"))
      case Right(req) =>
        val id = req \ "id"
        val method = (req \ "method") match {
          case JString(m) => m
          case _ => ""
        }
        val isNotification = id == JNothing && method.startsWith("notifications/")
        if (isNotification) None
        else method match {
          case "initialize" => Some(result(id, JObject(
            "protocolVersion" -> ((req \ "params" \ "protocolVersion") match {
              case s: JString => s
              case _ => JString("2024-11-05")
            }),
            "capabilities" -> JObject("tools" -> JObject()),
            "serverInfo" -> JObject(
              "name" -> JString("graft-lake-server"),
              "version" -> JString("0.3.0")))))
          case "ping" => Some(result(id, JObject()))
          case "tools/list" => Some(result(id, JObject("tools" -> tools)))
          case "tools/call" =>
            val name = (req \ "params" \ "name") match {
              case JString(n) => n
              case _ => ""
            }
            val query = (req \ "params" \ "arguments" \ "query") match {
              case JString(q) => q
              case _ => ""
            }
            if (name != "query_catalog" && name != "query_table")
              Some(error(id, -32602, s"Unknown tool: $name"))
            else Some(result(id,
              // tool-execution failures are a RESULT with isError (MCP
              // spec), matching the reference's error TextContent path
              try textContent(runQuery(query))
              catch { case e: Throwable =>
                textContent(s"Error executing query: ${e.getMessage}", isError = true)
              }))
          case m => Some(error(id, -32601, s"Method not found: $m"))
        }
    }
    reply.map(j => JsonMethods.compact(JsonMethods.render(j)))
  }

  /** Blocking stdio loop: protocol frames on stdout, logs on stderr —
    * the MCP stdio transport contract (the reference's
    * mcp.server.stdio.stdio_server). */
  def serve(in: java.io.InputStream = System.in,
            out: java.io.PrintStream = System.out): Unit = {
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in))
    Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty)
      .foreach { line =>
        handleLine(line).foreach { resp => out.println(resp); out.flush() }
      }
  }
}

object McpServer {
  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption
      .orElse(sys.env.get("GRAFT_WAREHOUSE"))
      .getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.local(cpus, "graft-mcp-server")
    System.err.println(s"graft MCP server: warehouse=$warehouse")
    new McpServer(spark, warehouse).serve()
    spark.stop()
  }
}
