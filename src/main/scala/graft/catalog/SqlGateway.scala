package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The reference's SQL-dialect front end, Spark-native.
  *
  * The reference accepts a small command dialect over MCP
  * (QueryManager.py:20-36 extends sqlparse with LIST/DESCRIBE/NAMESPACES):
  *   LIST NAMESPACES [IN ns] | LIST TABLES [IN ns] | DESCRIBE TABLE t |
  *   CREATE TABLE t (col type, …) | INSERT INTO t VALUES (…) | SELECT …
  * and routes them to pyiceberg/DuckDB (IcebergConnection.py:29-131).
  *
  * This gateway is the same user-facing surface routed to [[LakeCatalog]] +
  * Spark SQL. A reference user's query strings work unchanged; everything a
  * bare SELECT could do in DuckDB now runs on the full distributed Spark SQL
  * engine (joins across tables included — the reference's "single table
  * only" caveat, README.md:5, disappears rather than being ported).
  */
class SqlGateway(spark: SparkSession, catalog: LakeCatalog) {

  // `IN ns` and bare-`ns` argument forms both appear in the reference's
  // tests (test_parse_sql_list_parametrized); dotted sub-namespaces too
  private val listNs = """(?is)\s*LIST\s+NAMESPACES(?:\s+(?:IN\s+)?([\w.]+))?\s*;?\s*""".r
  private val listTb = """(?is)\s*LIST\s+TABLES(?:\s+(?:IN\s+)?([\w.]+))?\s*;?\s*""".r
  private val descTb = """(?is)\s*DESCRIBE\s+TABLE\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val createTb =
    """(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(?:(\w+)\.)?(\w+)\s*\((.+)\)\s*;?\s*""".r
  // optional column list — the reference's own TODO ("INSERT with column
  // spec", README.md:115) supported rather than inherited as a limitation
  private val insertTb =
    """(?is)\s*INSERT\s+INTO\s+(?:(\w+)\.)?(\w+)\s*(?:\(([\w\s,]+)\))?\s*VALUES\s*\((.+)\)\s*;?\s*""".r
  // round-2 mutation verbs (the operations the reference's Iceberg catalog
  // implies but its append-only MCP surface never exposed)
  private val deleteTb =
    """(?is)\s*DELETE\s+FROM\s+(?:(\w+)\.)?(\w+)\s+WHERE\s+(.+?)\s*;?\s*""".r
  // merge-on-read variant: mark positions (deletion vectors), rewrite nothing
  private val deleteMor =
    """(?is)\s*DELETE\s+MOR\s+FROM\s+(?:(\w+)\.)?(\w+)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val updateTb =
    """(?is)\s*UPDATE\s+(?:(\w+)\.)?(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val compactTb =
    """(?is)\s*COMPACT\s+TABLE\s+(?:(\w+)\.)?(\w+)(?:\s+INTO\s+(\d+)\s+FILES?)?\s*;?\s*""".r
  private val showSnaps =
    """(?is)\s*SHOW\s+SNAPSHOTS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val showFiles =
    """(?is)\s*SHOW\s+FILES\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  // zone-map inspection: the per-file [min,max] bounds recorded at commit
  // time (the metadata SHOW FILES doesn't surface)
  private val showBounds =
    """(?is)\s*SHOW\s+BOUNDS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val countStar =
    """(?is)\s*SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(\w+))?\s+FROM\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val expireSnaps =
    """(?is)\s*EXPIRE\s+SNAPSHOTS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)(?:\s+KEEP\s+(\d+))?\s*;?\s*""".r
  // persisted-index maintenance (r10): sweep signature rows whose doc_ids
  // no longer appear in the live table — the SQL face of
  // StreamOps4.expireIndex (d_index_expire's verb)
  private val expireIdx =
    """(?is)\s*EXPIRE\s+INDEX\s+(?:(\w+)\.)?(\w+)\s+USING\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  // stats lifecycle (r10): re-ANALYZE when the manifest has outgrown the
  // analyzed rows by the factor — LakeCatalog.refreshStatsIfStale's face
  private val maintainStats =
    """(?is)\s*MAINTAIN\s+STATS\s+(?:(?:IN|FOR)\s+)?(?:(\w+)\.)?(\w+)(?:\s+FACTOR\s+(\d+))?\s*;?\s*""".r
  // file lifecycle (r11): auto-compaction POLICY — metadata-only trigger,
  // bin-packs ONLY offending partitions (or the flat manifest) past the
  // small-file budget — LakeCatalog.compactIfSkewed's face
  private val maintainCompact =
    """(?is)\s*MAINTAIN\s+COMPACT\s+(?:(?:IN|FOR)\s+)?(?:(\w+)\.)?(\w+)(?:\s+MAX\s+(\d+)\s+FILES?)?\s*;?\s*""".r
  // COPY (SELECT …) TO 'path' [FORMAT csv|json|parquet] — DuckDB's export
  // verb, Spark-shaped (distributed write, any SELECT the engine runs)
  private val copyTo =
    """(?is)\s*COPY\s+\((.+)\)\s+TO\s+'([^']+)'(?:\s+FORMAT\s+(\w+))?\s*;?\s*""".r
  // MERGE INTO target USING source ON keycol — the table-source upsert form
  private val mergeInto =
    """(?is)\s*MERGE\s+INTO\s+(?:(\w+)\.)?(\w+)\s+USING\s+(?:(\w+)\.)?(\w+)\s+ON\s+(\w+)\s*;?\s*""".r
  // round-5 ref/stats/maintenance verbs over the same LakeCatalog surface
  private val showRefs =
    """(?is)\s*SHOW\s+REFS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val fastFwd =
    """(?is)\s*FAST\s+FORWARD\s+(?:(\w+)\.)?(\w+)\s+(\w+)\s*;?\s*""".r
  private val dropBranch =
    """(?is)\s*DROP\s+BRANCH\s+(\w+)\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val createTag =
    """(?is)\s*CREATE\s+TAG\s+(\w+)\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val analyzeTb =
    """(?is)\s*ANALYZE\s+(?:TABLE\s+)?(?:(\w+)\.)?(\w+)\s*\(([\w\s,]+)\)\s*;?\s*""".r
  private val showStats =
    """(?is)\s*SHOW\s+STATS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val removeOrphans =
    """(?is)\s*REMOVE\s+ORPHANS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val rollbackTb =
    """(?is)\s*ROLLBACK\s+(?:TABLE\s+)?(?:(\w+)\.)?(\w+)\s+TO\s+VERSION\s+(\d+)\s*;?\s*""".r
  // round-6 bloom-index verbs (puffin-blob analog over the same catalog)
  private val createBloom =
    """(?is)\s*CREATE\s+BLOOM\s+INDEX\s+(?:ON\s+)?(?:(\w+)\.)?(\w+)\s*\(\s*(\w+)\s*\)\s*;?\s*""".r
  private val showBlooms =
    """(?is)\s*SHOW\s+BLOOMS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  // round-7 hidden-partitioning verbs (Iceberg PartitionSpec + $partitions)
  private val showPartSpec =
    """(?is)\s*SHOW\s+PARTITION\s+SPEC\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val showPartitions =
    """(?is)\s*SHOW\s+PARTITIONS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val showHistory =
    """(?is)\s*SHOW\s+HISTORY\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val cherryPickVerb =
    """(?is)\s*CHERRY\s+PICK\s+(\w+)\s+INTO\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  private val createHist =
    """(?is)\s*CREATE\s+HISTOGRAM\s+(?:ON\s+)?(?:(\w+)\.)?(\w+)\s*\(\s*(\w+)\s*\)\s*;?\s*""".r
  private val showHist =
    """(?is)\s*SHOW\s+HISTOGRAM\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*\(\s*(\w+)\s*\)\s*;?\s*""".r
  // DDL round-trip: reconstruct a CREATE statement from catalog metadata
  // (schema + partition spec + sort order + CHECK constraints + props) —
  // the client-side verb every SQL tool expects next to DESCRIBE
  private val showCreate =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  // composite maintenance pass (Delta OPTIMIZE / Iceberg maintenance-job
  // analog): compact small files, expire old snapshots, sweep orphans —
  // the nightly job every lake table runs, as one verb with a per-action
  // report
  private val maintainTb =
    """(?is)\s*MAINTAIN\s+TABLE\s+(?:(\w+)\.)?(\w+)(?:\s+INTO\s+(\d+)\s+FILES?)?(?:\s+KEEP\s+(\d+))?\s*;?\s*""".r
  // merge-on-read UPDATE (DELETE MOR's sibling): DV-mark + delta files,
  // zero copy-on-write — single-assignment form (the common sparse fix-up)
  private val updateMor =
    """(?is)\s*UPDATE\s+MOR\s+(?:(\w+)\.)?(\w+)\s+SET\s+(\w+)\s*=\s*(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  // equality delete (Iceberg v2 delete files — the streaming CDC writer's
  // shape: keys, not positions); applies only to files committed before it
  private val deleteEq =
    """(?is)\s*DELETE\s+EQ\s+FROM\s+(?:(\w+)\.)?(\w+)\s+WHERE\s+(\w+)\s+IN\s*\(([^)]*)\)\s*;?\s*""".r
  // merge-on-read MERGE (MERGE INTO's DV + delta-file arm): zero rewrite
  private val mergeMorInto =
    """(?is)\s*MERGE\s+MOR\s+INTO\s+(?:(\w+)\.)?(\w+)\s+USING\s+(?:(\w+)\.)?(\w+)\s+ON\s+(\w+)\s*;?\s*""".r
  // composite nightly pass: stats refresh → compaction policy → expiry →
  // manifest rewrite → orphan sweep, per-arm report (LakeCatalog.maintainAll)
  private val maintainAllTb =
    """(?is)\s*MAINTAIN\s+ALL\s+(?:(?:IN|FOR)\s+)?(?:(\w+)\.)?(\w+)(?:\s+MAX\s+(\d+)\s+FILES?)?(?:\s+KEEP\s+(\d+))?\s*;?\s*""".r
  // manifest compaction (Iceberg rewrite_manifests)
  private val rewriteManifests =
    """(?is)\s*REWRITE\s+MANIFESTS\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  // in-place parquet adoption (Iceberg add_files): the landing dir is a
  // sibling directory in the same namespace
  private val addFiles =
    """(?is)\s*ADD\s+FILES\s+(?:TO|INTO)\s+(?:(\w+)\.)?(\w+)\s+FROM\s+'([^']+)'\s*;?\s*""".r
  // metadata-only column rename (Iceberg field-id rename)
  private val renameCol =
    """(?is)\s*ALTER\s+TABLE\s+(?:(\w+)\.)?(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  // metadata-only property update (Iceberg ALTER TABLE SET TBLPROPERTIES);
  // setting 'format-version' = '2' is the v1 → v2 upgrade that unlocks the
  // row-level-delete verbs (DELETE MOR / DELETE EQ / UPDATE MOR / MERGE MOR)
  private val setProp =
    """(?is)\s*ALTER\s+TABLE\s+(?:(\w+)\.)?(\w+)\s+SET\s+PROPERTY\s+'([^']+)'\s*=\s*'([^']*)'\s*;?\s*""".r
  // zone-map pruning observability (Iceberg scan-metrics analog): which
  // files a predicate would drop/keep per the manifest sidecar, BEFORE
  // paying for a scan — the planning-time decision ZoneMapPruneRule makes,
  // made visible to the MCP client
  private val explainPruning =
    """(?is)\s*EXPLAIN\s+PRUNING\s+(?:FOR\s+)?(?:(\w+)\.)?(\w+)\s+WHERE\s+(.+?)\s*;?\s*""".r
  // CBO routing observability: what join strategy the stats sidecar would
  // pick for this table filtered by this predicate (LakeCatalog.joinRouted's
  // decision, shown without running a join). Optional THRESHOLD overrides
  // the default 20%-of-analyzed-rows broadcast cutoff.
  private val explainRoute =
    """(?is)\s*EXPLAIN\s+ROUTE\s+(?:FOR\s+)?(?:(\w+)\.)?(\w+)\s+WHERE\s+(.+?)(?:\s+THRESHOLD\s+(\d+))?\s*;?\s*""".r
  // WAP publish audit: the row-level diff a branch would make against the
  // base ref's CURRENT head (insert = branch adds, delete = what a blind
  // fast-forward would lose after divergence)
  private val diffBranch =
    """(?is)\s*DIFF\s+BRANCH\s+(\w+)(?:\s+AGAINST\s+(\w+))?\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s*;?\s*""".r
  // changelog scan surfaced to the client (Iceberg's `changes` metadata
  // query): the row-level insert/delete feed between two snapshot versions
  // — c_mor_changes' DV/equality-delete-aware changes(), verbatim
  private val showChanges =
    """(?is)\s*SHOW\s+CHANGES\s+(?:IN|FOR)\s+(?:(\w+)\.)?(\w+)\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)\s*;?\s*""".r

  /** Reference type names → Spark types (IcebergConnection.py:189-207 maps
    * STRING/INT/DOUBLE/TIMESTAMP and defaults to string — same here, plus
    * the types its INSERT path already handled: bool/bigint).
    *
    * TIMESTAMPTZ gets its own arm (VERDICT r10 missing #2, mirroring the
    * reference's separate TimestamptzType insert dispatch,
    * IcebergConnection.py:163-167): Spark's TimestampType IS the
    * timezone-aware type — values are absolute instants stored UTC-
    * normalized, and [[coerce]] parses offset-suffixed literals
    * ('…+01:00', '…Z') as instants, exactly the reference's timestamptz
    * path. Bare TIMESTAMP maps to the same physical type under a PINNED
    * UTC session (Sessions.scala sets spark.sql.session.timeZone=UTC and
    * coerce parses bare literals as UTC wall-clock), so the two arms
    * coincide BY CONTRACT, not by accident — a non-UTC deployment that
    * wants true wall-clock TIMESTAMP semantics would point the bare arm
    * at TimestampNTZType; the gateway's dialect keeps the reference's
    * UTC-normalized behavior. TIMESTAMP_NTZ (the type SHOW CREATE TABLE
    * prints for zone-less parquet timestamps) stays zone-less, so that DDL
    * re-executes to the same schema. */
  private def parseType(t: String): DataType = t.trim.toUpperCase match {
    case s if s.contains("BIGINT") || s.contains("LONG") => LongType
    case s if s.contains("INT") => IntegerType
    case s if s.contains("DOUBLE") || s.contains("FLOAT") => DoubleType
    case s if s.contains("BOOL") => BooleanType
    case s if s.contains("TIMESTAMP_NTZ") ||
        s.contains("WITHOUT TIME ZONE") => TimestampNTZType
    case s if s.contains("TIMESTAMPTZ") ||
        s.contains("TIMESTAMP WITH") => TimestampType // tz-aware: UTC instants
    case s if s.contains("TIMESTAMP") => TimestampType // UTC-pinned session
    case _ => StringType
  }

  /** Single-row VALUES literal parsing — the reference's typed dispatch
    * (IcebergConnection.py:110-131: quoted string / true / false / null /
    * int / float fallback-to-string). */
  private[catalog] def parseValues(s: String): Seq[Any] =
    splitTopLevel(s).map { raw =>
      val v = raw.trim
      if (v.startsWith("'") && v.endsWith("'")) v.stripPrefix("'").stripSuffix("'")
      else if (v.equalsIgnoreCase("true")) true
      else if (v.equalsIgnoreCase("false")) false
      else if (v.equalsIgnoreCase("null")) null
      else v.toIntOption.getOrElse(
        v.toLongOption.getOrElse(
          v.toDoubleOption.getOrElse(v)))
    }

  /** Split on commas not inside quotes or parentheses (the reference's naive
    * `strip('()').split(',')` corrupts quoted strings with commas AND
    * parenthesized types like DECIMAL(10,2) — bugs we do not reproduce). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var depth = 0
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case ',' if !inQ && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq
  }

  /** Resolve an unqualified table name: prefer the namespace that actually
    * holds it (so CREATE → DESCRIBE round trips on bare names), fall back
    * to the given default. */
  private def resolveNs(table: String, default: String): String =
    catalog.listTables().collectFirst { case (ns, t) if t == table => ns }
      .getOrElse(default)

  /** The filter condition `cond` derives over `ns.table`, as the EXPLAIN
    * verbs read it: the OPTIMIZED filter, so the box extractor the optimizer
    * rules run sees resolved attributes with constant-folded literals (the
    * analyzer leaves promotion casts like `cast(900 as bigint)` unfolded),
    * else the analyzed one. `verb` prefixes the error when there is none. */
  private def filterCondition(verb: String, ns: String, table: String,
                              cond: String): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val qe = catalog.loadRenamed(ns, table)
      .where(org.apache.spark.sql.functions.expr(cond))
      .queryExecution
    qe.optimizedPlan.collectFirst { case f: Filter => f.condition }
      .orElse(qe.analyzed.collectFirst { case f: Filter => f.condition })
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: no filter derived from '$cond'"))
  }

  /** Execute one statement of the reference dialect; DataFrame out
    * (the MCP server's rows-of-dicts, Spark-shaped). */
  def execute(sql: String): DataFrame = {
    import spark.implicits._
    sql match {
      case listNs(parent) =>
        val all = catalog.listNamespaces()
        (if (parent == null) all
         else all.filter(ns => ns == parent || ns.startsWith(parent + ".")))
          .toDF("namespace")

      case listTb(ns) =>
        val all = catalog.listTables()
        (if (ns == null) all else all.filter(_._1 == ns)).toDF("namespace", "table_name")

      case descTb(ns, table) =>
        // full reference parity (IcebergConnection.py:66-77): schema AND
        // partition_spec AND sort_order AND properties, as sectioned rows
        catalog.describeFull(Option(ns).getOrElse(resolveNs(table, "main")), table)
          .toDF("section", "name", "value")

      case createTb(ifNotExists, ns, table, colsSpec) =>
        val nsName = Option(ns).getOrElse("scratch")
        if (ifNotExists != null && catalog.listTables().contains((nsName, table)))
          Seq("Table already exists").toDF("status")
        else {
          val fields = splitTopLevel(colsSpec).map { c =>
            val parts = c.trim.split("\\s+", 2)
            StructField(parts(0), parseType(parts.lift(1).getOrElse("string")))
          }
          catalog.createTable(nsName, table, StructType(fields))
          Seq("Table created successfully").toDF("status")
        }

      case deleteMor(ns, table, cond) => // must precede the COW DELETE form
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val n = catalog.deleteWhereMor(nsName, table,
          org.apache.spark.sql.functions.expr(cond))
        Seq(s"Marked $n rows deleted (merge-on-read)").toDF("status")

      case deleteTb(ns, table, cond) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.deleteWhere(nsName, table, org.apache.spark.sql.functions.expr(cond))
        Seq("Delete committed").toDF("status")

      case updateMor(ns, table, setCol, setExpr, cond) => // precedes COW UPDATE
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val n = catalog.updateWhereMor(nsName, table,
          org.apache.spark.sql.functions.expr(cond), setCol,
          org.apache.spark.sql.functions.expr(setExpr))
        Seq(s"Updated $n rows (merge-on-read)").toDF("status")

      case deleteEq(ns, table, keyCol, valList) => // disjoint from DELETE FROM
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val keys: Seq[Any] = valList.split(",").map(_.trim).filter(_.nonEmpty)
          .map(v => if (v.startsWith("'") && v.endsWith("'"))
            v.substring(1, v.length - 1): Any
          else v.toLong: Any).toSeq
        val n = catalog.deleteWhereEq(nsName, table, keyCol, keys)
        Seq(s"Equality delete matched $n rows (${keys.size} keys)")
          .toDF("status")

      case mergeMorInto(tNs, target, sNs, source, key) => // disjoint from MERGE INTO
        val targetNs = Option(tNs).getOrElse(resolveNs(target, "scratch"))
        val sourceNs = Option(sNs).getOrElse(resolveNs(source, "scratch"))
        val (nUpd, nIns) = catalog.mergeMor(targetNs, target,
          catalog.load(sourceNs, source), key)
        Seq(s"Merge (merge-on-read) committed: $nUpd updated, $nIns inserted")
          .toDF("status")

      case maintainAllTb(ns, table, maxF, keep) => // disjoint from MAINTAIN TABLE
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.maintainAll(nsName, table,
            Option(maxF).map(_.toInt).getOrElse(4),
            Option(keep).map(_.toInt).getOrElse(3))
          .toDF("arm", "action", "before", "after")

      case rewriteManifests(ns, table) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val (before, after) = catalog.rewriteManifests(nsName, table)
        Seq(s"Manifests rewritten: $before -> $after lines").toDF("status")

      case addFiles(ns, table, srcDir) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val n = catalog.addFiles(nsName, table, srcDir)
        Seq(s"Registered $n files from $srcDir (zero-copy)").toDF("status")

      case diffBranch(branch, base, ns, table) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.branchDiff(nsName, table, branch,
          Option(base).getOrElse("main"))

      case showChanges(ns, table, vFrom, vTo) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.changes(nsName, table, vFrom.toInt, vTo.toInt)

      case explainRoute(ns, table, cond, thrOpt) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val condExpr = filterCondition("EXPLAIN ROUTE", nsName, table, cond)
        val box = graft.plans.ZoneMapPruneRule.boxOf(condExpr)
        require(box.nonEmpty,
          "EXPLAIN ROUTE: predicate contributes no range constraint on any column")
        // per-column route via CboRouteRule.routeOf — the SAME function the
        // injected planner rule applies to gateway joins, so this verb
        // reports the decision the planner actually takes (the rule picks
        // the sharpest-estimated column; single-column predicates, the
        // common probe, are identical by construction)
        val rows = box.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
          val est = catalog.estimateRange(nsName, table, c, lo, hi)
          val n = catalog.statsRowCount(nsName, table, c)
          // 20% of the dim's CURRENT manifest rows (falls back to the
          // analyzed count), clamped by the absolute broadcast row cap —
          // matches CboRouteRule.decide exactly (shared thresholdOf)
          val thr = Option(thrOpt).map(_.toLong)
            .orElse(n.map(a => graft.plans.CboRouteRule.thresholdOf(
              catalog.countStar(nsName, table).getOrElse(a),
              graft.plans.CboRouteRule.broadcastRowCap(spark))))
          val route = (est, thr) match {
            case (Some(e), Some(t)) => graft.plans.CboRouteRule.routeOf(e, t)
            case (None, _) => "shuffle (no histogram — never guess small)"
            case (_, None) => "shuffle (no ANALYZE row count for threshold)"
          }
          (c, lo, hi, est.map(_.toString).getOrElse("n/a"),
            n.map(_.toString).getOrElse("n/a"),
            thr.map(_.toString).getOrElse("n/a"), route)
        }
        rows.toDF("column", "range_lo", "range_hi", "estimated_rows",
          "analyzed_rows", "broadcast_threshold", "route")

      case explainPruning(ns, table, cond) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val condExpr = filterCondition("EXPLAIN PRUNING", nsName, table, cond)
        val box = graft.plans.ZoneMapPruneRule.boxOf(condExpr)
        val (zoneSurvivors, zoneDropped) = catalog.pruneFilesBox(nsName, table,
          box.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => (c, lo, hi) })
        // bloom drops for equality conjuncts — the same extra arm the
        // injected rule applies, reported per column: integral keys probe
        // by value, string keys (r9) through the portable polyhash
        val bloomDrops: Seq[(String, Set[String])] =
          (graft.plans.ZoneMapPruneRule.eqLongsOf(condExpr).toSeq.sortBy(_._1)
            .map { case (c, v) =>
              c -> catalog.bloomPrune(nsName, table, c, v)._2.toSet } ++
           graft.plans.ZoneMapPruneRule.eqStringsOf(condExpr).toSeq.sortBy(_._1)
            .map { case (c, s) =>
              c -> catalog.bloomPruneString(nsName, table, c, s)._2.toSet })
            .filter(_._2.nonEmpty)
        val bounds = catalog.fileBounds(nsName, table)
        def detail(f: String): String = {
          val zone =
            if (box.isEmpty) Seq("predicate contributes no zone-map constraint")
            else box.keys.toSeq.sorted.map { c =>
              bounds.get(f).flatMap(_.get(c)) match {
                case Some((mn, mx)) => s"$c∈[$mn,$mx]"
                case None => s"$c unbounded (must scan)"
              }
            }
          val bloom = bloomDrops.collect {
            case (c, drops) if drops(f) => s"bloom($c): key absent" }
          (zone ++ bloom).mkString(", ")
        }
        val bloomDropSet = bloomDrops.flatMap(_._2).toSet
        val dropped = (zoneDropped ++ zoneSurvivors.filter(bloomDropSet)).distinct
        val survivors = zoneSurvivors.filterNot(bloomDropSet)
        val rows =
          dropped.sorted.map(f => (f, "pruned", detail(f))) ++
          survivors.sorted.map(f => (f, "scan", detail(f)))
        (rows :+ (("(summary)", "info",
          s"${dropped.size} pruned / ${survivors.size} scanned of " +
            s"${rows.size} files; box: " +
            box.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
              s"$c∈[$lo,$hi]" }.mkString(", ") +
            (if (bloomDrops.isEmpty) ""
             else bloomDrops.map { case (c, d) =>
               s"; bloom($c) dropped ${d.size}" }.mkString))))
          .toDF("file", "action", "detail")

      case renameCol(ns, table, oldName, newName) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.renameColumn(nsName, table, oldName, newName)
        Seq(s"Column $oldName renamed to $newName (metadata-only)")
          .toDF("status")

      case setProp(ns, table, key, value) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.setProperty(nsName, table, key, value)
        Seq(s"Property $key set to '$value' (metadata-only)").toDF("status")

      case updateTb(ns, table, assignments, cond) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val sets = splitTopLevel(assignments).map { a =>
          val Array(c, e) = a.split("=", 2)
          c.trim -> org.apache.spark.sql.functions.expr(e.trim)
        }.toMap
        catalog.updateWhere(nsName, table, org.apache.spark.sql.functions.expr(cond), sets)
        Seq("Update committed").toDF("status")

      case compactTb(ns, table, n) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.compact(nsName, table, Option(n).map(_.toInt).getOrElse(1))
        Seq("Compaction committed").toDF("status")

      case mergeInto(tNs, target, sNs, source, key) =>
        val targetNs = Option(tNs).getOrElse(resolveNs(target, "scratch"))
        val sourceNs = Option(sNs).getOrElse(resolveNs(source, "scratch"))
        catalog.merge(targetNs, target, catalog.load(sourceNs, source), key)
        Seq("Merge committed").toDF("status")

      case copyTo(select, path, fmt) =>
        val df = execute(select) // full SELECT passthrough, then write
        val writer = df.write.mode("overwrite")
        Option(fmt).map(_.toLowerCase).getOrElse("parquet") match {
          case "csv" => writer.option("header", "true").csv(path)
          case "json" => writer.json(path)
          case "parquet" => writer.parquet(path)
          case other => throw new IllegalArgumentException(s"COPY format $other")
        }
        Seq(s"Copied to $path").toDF("status")

      case expireSnaps(ns, table, n) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.expireSnapshots(nsName, table, Option(n).map(_.toInt).getOrElse(1))
        Seq("Snapshots expired").toDF("status")

      case maintainStats(ns, table, pct) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val refreshed = catalog.refreshStatsIfStale(nsName, table,
          Option(pct).map(_.toInt).getOrElse(150))
        Seq((refreshed,
          if (refreshed) "stats refreshed" else "within factor — no-op"))
          .toDF("refreshed", "status")

      case maintainCompact(ns, table, maxF) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.compactIfSkewed(nsName, table,
            Option(maxF).map(_.toInt).getOrElse(4))
          .toDF("partition", "files_before", "files_after", "rows", "action")

      case expireIdx(ns, idx, lns, live) =>
        val nsName = Option(ns).getOrElse(resolveNs(idx, "scratch"))
        val lnsName = Option(lns).getOrElse(resolveNs(live, "scratch"))
        val (before, after) = graft.streaming.StreamOps4.expireIndex(
          catalog, nsName, idx, catalog.load(lnsName, live).select("doc_id"))
        Seq((before, after, before - after))
          .toDF("rows_before", "rows_after", "rows_expired")

      case showFiles(ns, table) => // Iceberg `files` metadata table
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.filesMeta(nsName, table)

      case createBloom(ns, table, colName) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.recordBlooms(nsName, table, colName)
        Seq(s"Bloom index recorded for $colName").toDF("status")

      case createHist(ns, table, colName) => // banded equi-height histogram:
        // the range-selectivity CBO statistic min/max/ndv can't provide
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.analyzeHistogram(nsName, table, colName)
        Seq(s"Histogram recorded for $colName").toDF("status")

      case showHist(ns, table, colName) => // served from the sidecar, no scan
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.showHistogram(nsName, table, colName)
          .toDF("bucket", "lo", "hi", "n_rows")

      case maintainTb(ns, table, files, keep) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        // defaults differ from bare COMPACT TABLE (which targets 1 file —
        // a full rewrite): nightly maintenance keeps a small multi-file
        // layout (4) so the rewrite stays incremental. Both defaults are
        // advertised in the MCP tool description.
        val target = Option(files).map(_.toInt).getOrElse(4)
        val keepN = Option(keep).map(_.toInt).getOrElse(3)
        val filesBefore = catalog.currentFiles(nsName, table)
          .map(_.size).getOrElse(-1)
        catalog.compact(nsName, table, target)
        val filesAfter = catalog.currentFiles(nsName, table)
          .map(_.size).getOrElse(-1)
        catalog.expireSnapshots(nsName, table, keepN)
        val orphans = catalog.removeOrphans(nsName, table)
        Seq(
          ("compact", s"$filesBefore -> $filesAfter files (target $target)"),
          ("expire_snapshots", s"kept last $keepN"),
          ("remove_orphans", s"${orphans.size} files swept"))
          .toDF("action", "result")

      case showCreate(ns, table) => // DDL round-trip from catalog metadata
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val rows = catalog.describeFull(nsName, table)
        val cols = rows.collect { case ("schema", c, t) => s"  $c ${t.toUpperCase}" }
        val parts = rows.collect { case ("partition_spec", c, _) => c }
        val sorts = rows.collect { case ("sort_order", c, d) => s"$c ${d.toUpperCase}" }
        val checks = catalog.checkConstraints(nsName, table).toSeq.sortBy(_._1)
          .map { case (name, pred) => s"  CONSTRAINT $name CHECK ($pred)" }
        val props = rows.collect {
          case ("properties", k, v) if !k.startsWith("check.") => s"'$k' = '$v'"
        }
        val ddl = new StringBuilder(s"CREATE TABLE $nsName.$table (\n")
        ddl ++= (cols ++ checks).mkString(",\n")
        ddl ++= "\n)"
        if (parts.nonEmpty) ddl ++= s"\nPARTITIONED BY (${parts.mkString(", ")})"
        if (sorts.nonEmpty) ddl ++= s"\nSORTED BY (${sorts.mkString(", ")})"
        if (props.nonEmpty) ddl ++= s"\nTBLPROPERTIES (${props.mkString(", ")})"
        Seq(ddl.toString).toDF("create_stmt")

      case cherryPickVerb(branch, ns, table) => // Iceberg cherrypick_snapshot:
        // land a branch's audited append on a main that moved past the
        // branch point — one metadata commit, staged files reused by name
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val v = catalog.cherryPick(nsName, table, branch)
        Seq(s"Cherry-picked $branch as version $v").toDF("status")

      case showHistory(ns, table) => // Iceberg $history metadata table:
        // snapshot lineage with parent pointers + current-ancestry flags —
        // what makes a rollback legible; pure metadata (log + stats sidecar)
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.history(nsName, table)
          .toDF("version", "parent", "n_rows", "is_current_ancestor")

      case showPartitions(ns, table) => // Iceberg $partitions metadata table:
        // per-partition file/row counts from dir listing + footers, no scan
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.partitionsMeta(nsName, table)
          .toDF("partition", "n_files", "n_rows")

      case showPartSpec(ns, table) => // Iceberg PartitionSpec surface:
        // hidden transforms + identity partition columns, metadata only
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val hidden = catalog.hiddenSpec(nsName, table).toSeq
          .map { case (src, n) => ("bucket", src, n.toString) }
        val identity = catalog.tableMeta(nsName, table)._1
          .map(c => ("identity", c, ""))
        val rows = hidden ++ identity
        (if (rows.isEmpty) Seq(("unpartitioned", "", "")) else rows)
          .toDF("transform", "source", "param")

      case showBlooms(ns, table) => // per-file bloom metadata, no data IO
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.bloomsMeta(nsName, table)
          .sortBy(r => (r._1, r._2))
          .toDF("file", "column", "m_bits", "k_hashes", "bits_set")

      case showBounds(ns, table) => // per-file zone maps, metadata only
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.fileBounds(nsName, table).toSeq
          .flatMap { case (f, cols) =>
            cols.toSeq.map { case (c, (lo, hi)) => (f, c, lo, hi) } }
          .sortBy(r => (r._1, r._2))
          .toDF("file", "column", "min_value", "max_value")

      case showSnaps(ns, table) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.snapshots(nsName, table)
          .map { case (v, files) => (v, files.length) }
          .toDF("snapshot", "n_files")

      case showRefs(ns, table) => // branch + tag heads (Iceberg refs table)
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.refs(nsName, table).toSeq.sorted
          .toDF("ref", "snapshot")

      case fastFwd(ns, table, branch) => // WAP publish: atomic ref swap
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.fastForward(nsName, table, branch)
        Seq(s"main fast-forwarded to $branch").toDF("status")

      case dropBranch(branch, ns, table) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.dropBranch(nsName, table, branch)
        Seq(s"Branch $branch dropped").toDF("status")

      case createTag(tag, ns, table, v) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.tagSnapshot(nsName, table, tag, v.toInt)
        Seq(s"Tag $tag -> snapshot $v").toDF("status")

      case analyzeTb(ns, table, cols) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.analyzeTable(nsName, table,
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        Seq("Statistics collected").toDF("status")

      case showStats(ns, table) => // served from the stats sidecar, no scan
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.showStats(nsName, table)

      case removeOrphans(ns, table) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        val removed = catalog.removeOrphans(nsName, table)
        (if (removed.isEmpty) Seq("No orphan files")
         else removed.map(f => s"Removed $f")).toDF("status")

      case rollbackTb(ns, table, v) => // Iceberg rollback_to_snapshot
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        catalog.rollbackTo(nsName, table, v.toInt)
        Seq(s"Rolled back $nsName.$table to version $v").toDF("status")

      case insertTb(ns, table, colSpec, values) =>
        val nsName = Option(ns).getOrElse(resolveNs(table, "scratch"))
        // logical (rename-aware) schema: INSERT accepts the renamed column
        // names and the row lands under the new physical name
        val schema = catalog.loadRenamed(nsName, table).schema
        val parsed = parseValues(values)
        val typed: Seq[Any] = Option(colSpec) match {
          case None =>
            require(parsed.length == schema.fields.length,
              s"INSERT arity mismatch: ${parsed.length} values for ${schema.fields.length} columns in $nsName.$table")
            parsed.zip(schema.fields.toSeq).map { case (v, f) => coerce(v, f.dataType) }
          case Some(spec) => // column-spec insert: unlisted columns → null
            val names = spec.split(",").map(_.trim)
            require(names.length == parsed.length,
              s"INSERT arity mismatch: ${parsed.length} values for ${names.length} listed columns")
            val byName = names.zip(parsed).toMap
            schema.fields.toSeq.map(f =>
              byName.get(f.name).map(coerce(_, f.dataType)).orNull)
        }
        catalog.insertRow(nsName, table, typed)
        Seq("Inserted 1 row successfully").toDF("status")

      case countStar(alias, ns, table) =>
        // bare COUNT(*) — answered from manifest stats when every current
        // file has a recorded row count (metadata only, no scan: the exact
        // query shape the reference's MCP server paid a full table scan
        // for). Falls through to the Spark SQL path otherwise.
        catalog.countStar(Option(ns).getOrElse(resolveNs(table, "main")), table) match {
          // column named as Spark SQL would name it, so the fast path is
          // indistinguishable from the scan path to consumers
          case Some(n) => Seq(n).toDF(Option(alias).getOrElse("count(1)"))
          case None => select(sql)
        }

      case _ => select(sql) // SELECT (and any other full SQL)
    }
  }

  /** Lower-cased names of the table views this gateway has registered in
    * the session, so a view whose table has since been dropped or become
    * ambiguous is dropped instead of serving its old snapshot. */
  private val registeredViews = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val identifier = """`([^`]+)`|(\w+)""".r

  /** Identifier tokens of a SQL text, lower-cased: word runs plus the
    * contents of backquoted names. A token inside a string literal or used
    * as an alias only costs a spurious table load; a view cannot be
    * referenced without its name appearing here. */
  private def identifierTokens(sql: String): Set[String] =
    identifier.findAllMatchIn(sql)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)).toLowerCase).toSet

  /** Spark SQL over the catalog tables the statement names. */
  private def select(sql: String): DataFrame = {
    val aliases = scala.collection.mutable.Set.empty[String]
    def aliasView(alias: String, df: DataFrame): String = {
      df.createOrReplaceTempView(alias)
      aliases += alias.toLowerCase
      alias
    }
    // time-travel syntax: `FROM t VERSION AS OF n` registers the
    // snapshot under an alias and rewrites the query to use it
    val versionOf = """(?is)(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r
    val preRewritten = versionOf.replaceAllIn(sql, m => {
      val (t, v) = (m.group(1), m.group(2).toInt)
      aliasView(s"${t}_v$v", catalog.loadSnapshot(resolveNs(t, "main"), t, v))
    })
    // `FROM t TAG AS OF name` — the tag twin of VERSION AS OF
    val tagOf = """(?is)(\w+)\s+TAG\s+AS\s+OF\s+(\w+)""".r
    val tagRewritten = tagOf.replaceAllIn(preRewritten, m => {
      val (t, tag) = (m.group(1), m.group(2))
      aliasView(s"${t}_tag_$tag", catalog.loadTag(resolveNs(t, "main"), t, tag))
    })
    // `FROM t CHANGES BETWEEN a AND b` — the change feed as a
    // SELECT-able RELATION (Iceberg's changelog scan composed into
    // arbitrary SQL: joins, aggregates, filters), not just the SHOW
    // CHANGES verb. Same DV/equality-delete-aware changes() underneath;
    // the verb form is matched earlier so only embedded FROM-position
    // uses reach this rewrite.
    val changesOf = """(?is)(\w+)\s+CHANGES\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)""".r
    val rewritten = changesOf.replaceAllIn(tagRewritten, m => {
      val (t, a, b) = (m.group(1), m.group(2).toInt, m.group(3).toInt)
      aliasView(s"${t}_ch_${a}_$b", catalog.changes(resolveNs(t, "main"), t, a, b))
    })
    // Only the tables the statement names are loaded, once each: a table
    // is exposed as `ns_t` always and as bare `t` only when unambiguous —
    // two namespaces holding the same table name must not silently shadow.
    // loadRenamed (not load): after ALTER TABLE … RENAME COLUMN the
    // physical schemas differ per generation; the rename-aware read
    // reconciles them, and it falls back to the plain load when the table
    // has no recorded rename.
    val tokens = identifierTokens(rewritten)
    val tables = catalog.listTables()
    val bareCount = tables.groupMapReduce(_._2.toLowerCase)(_ => 1)(_ + _)
    val current = tables.map { case (ns, t) =>
      (ns, t) -> (s"${ns}_$t" +: (if (bareCount(t.toLowerCase) == 1) Seq(t) else Nil))
    }
    current.foreach { case ((ns, t), names) =>
      // only the names the statement uses: each view registration is a
      // Spark command of its own
      val named = names.filter(n => tokens(n.toLowerCase))
      if (named.nonEmpty) {
        // A table that fails to load (foreign non-parquet data parked in
        // the warehouse, transient IO, a corrupt new generation) drops any
        // view registered for it earlier: referencing it fails with
        // TABLE_OR_VIEW_NOT_FOUND, which names the actual problem, never
        // serves stale data, and does not poison queries on other tables.
        try {
          val df = catalog.loadRenamed(ns, t)
          named.foreach { n =>
            df.createOrReplaceTempView(n)
            registeredViews.add(n.toLowerCase)
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            names.foreach { n =>
              spark.catalog.dropTempView(n)
              registeredViews.remove(n.toLowerCase)
            }
        }
      }
    }
    // a name registered earlier whose table was dropped, or whose bare
    // name another namespace has since made ambiguous
    val live = current.flatMap(_._2).map(_.toLowerCase).toSet ++ aliases
    tokens.filter(n => !live(n) && registeredViews.remove(n))
      .foreach(spark.catalog.dropTempView)
    spark.sql(rewritten)
  }

  /** Normalizes a timestamp literal to ISO `yyyy-MM-ddTHH:mm:ss[…]`; a
    * date-only literal takes midnight. */
  private def isoDateTime(s: String): String =
    (if (s.contains(" ") || s.contains("T")) s else s + " 00:00:00").replace(' ', 'T')

  private def coerce(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (s: String, TimestampType) =>
      // offset-suffixed literals ('…+01:00', '…Z') are absolute instants
      // (the reference's timestamptz path, IcebergConnection.py:165-170);
      // bare literals parse as UTC explicitly — Timestamp.valueOf would
      // use the JVM default zone, shifting instants on non-UTC hosts
      val txt = isoDateTime(s)
      val instant =
        if (txt.matches(".*(Z|[+-]\\d{2}:\\d{2})$"))
          java.time.OffsetDateTime.parse(txt).toInstant
        else java.time.LocalDateTime.parse(txt).toInstant(java.time.ZoneOffset.UTC)
      java.sql.Timestamp.from(instant)
    case (s: String, TimestampNTZType) =>
      // zone-less wall-clock time: the type Spark reads parquet timestamps
      // written without a time zone as
      java.time.LocalDateTime.parse(isoDateTime(s))
    case (i: Int, LongType) => i.toLong
    case (i: Int, DoubleType) => i.toDouble
    case (l: Long, DoubleType) => l.toDouble
    case (i: Int, StringType) => i.toString
    case (x, _) => x
  }
}
