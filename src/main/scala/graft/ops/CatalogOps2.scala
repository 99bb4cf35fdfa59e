package graft.ops

import graft.Tables
import graft.catalog.LakeCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** §2.1 continued — round-2 lake-mutation surface: MERGE (upsert),
  * DELETE/UPDATE WHERE (file-granular copy-on-write), snapshot time travel,
  * small-file compaction, and ADD COLUMN schema evolution. These are the
  * operations the reference's Iceberg catalog implies but its MCP surface
  * never exposed (append-only, IcebergConnection.py:133-187) — and exactly
  * what a maintained 100 TB lake needs: mutations that rewrite only touched
  * files, history that stays readable, and compaction to keep file counts
  * scan-friendly.
  *
  * Each op builds a scratch table from a deterministic slice of the test
  * data, mutates it, and reads back a result whose oracle is plain SQL over
  * the ORIGINAL tables (+ literal file/snapshot counts where those are
  * structural constants).
  */
object CatalogOps2 {

  private def scratch: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"

  /** MERGE (upsert): target = customers ≤ 200; source = customers 150–250
    * with doubled balance. Post-merge state: source rows win on key overlap,
    * new keys inserted, the rest untouched — expressed in the oracle as the
    * equivalent anti-join union. */
  def cMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cat = new LakeCatalog(spark, scratch)
    val c = Tables.table(spark, dir, "customer")
    val target = c.where(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val source = c.where(col("c_custkey").between(150, 250))
      .select(col("c_custkey"), (col("c_acctbal") * 2).as("c_acctbal"),
        col("c_mktsegment"))
    cat.dropTable("scratch", "cust_merge")
    cat.createTable("scratch", "cust_merge", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    cat.append("scratch", "cust_merge", target)
    cat.merge("scratch", "cust_merge", source, "c_custkey")
    cat.load("scratch", "cust_merge")
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"),
        col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val cMergeUpsertSql: String =
    """SELECT c_custkey, round(c_acctbal * 2, 2) AS bal, c_mktsegment
      |FROM customer WHERE c_custkey BETWEEN 150 AND 250
      |UNION ALL
      |SELECT c_custkey, round(c_acctbal, 2) AS bal, c_mktsegment
      |FROM customer WHERE c_custkey <= 200 AND c_custkey < 150
      |ORDER BY c_custkey""".stripMargin

  /** DELETE WHERE + UPDATE WHERE, file-granular COW: orders slice written as
    * 8 files; low-priority rows deleted, 'F' rows get their price zeroed.
    * The read-back aggregate has a pure-SQL oracle over `orders`;
    * CatalogSpec asserts untouched files were NOT rewritten. */
  def cDeleteUpdate(spark: SparkSession, dir: String): DataFrame = {
    val cat = new LakeCatalog(spark, scratch)
    val o = Tables.table(spark, dir, "orders")
      .where(col("o_orderkey") <= 4000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
    cat.dropTable("scratch", "ord_mut")
    cat.createTable("scratch", "ord_mut", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType))))
    cat.append("scratch", "ord_mut", o.repartition(8))
    cat.deleteWhere("scratch", "ord_mut", col("o_orderpriority") === "5-LOW")
    cat.updateWhere("scratch", "ord_mut", col("o_orderstatus") === "F",
      Map("o_totalprice" -> lit(0d)))
    cat.load("scratch", "ord_mut")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  val cDeleteUpdateSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE o_totalprice END
      |       AS DECIMAL(30,6))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey <= 4000 AND o_orderpriority <> '5-LOW'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Snapshot time travel: three commits (append, append, delete) then read
    * COUNT/SUM as of each snapshot — history stays readable because every
    * mutation wrote new files and old ones are never removed. Constant
    * oracle (data synthesized in-op). */
  def cTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "tt")
    cat.createTable("scratch", "tt", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    cat.append("scratch", "tt", Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    cat.append("scratch", "tt", Seq((3L, 30L), (4L, 40L)).toDF("id", "v"))
    cat.deleteWhere("scratch", "tt", col("id") % 2 === 0)
    val versions = cat.snapshots("scratch", "tt").map(_._1)
    versions.map { v =>
      cat.loadSnapshot("scratch", "tt", v)
        .agg(lit(v).as("snapshot"), count(lit(1)).as("n"),
          coalesce(sum(col("v")), lit(0L)).as("sum_v"))
    }.reduce(_ unionByName _).orderBy("snapshot")
  }

  val cTimeTravelSql: String =
    """SELECT * FROM (VALUES
      |  (0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      |  (1, CAST(2 AS BIGINT), CAST(30 AS BIGINT)),
      |  (2, CAST(4 AS BIGINT), CAST(100 AS BIGINT)),
      |  (3, CAST(2 AS BIGINT), CAST(40 AS BIGINT))
      |) AS t(snapshot, n, sum_v) ORDER BY snapshot""".stripMargin

  /** Change feed (CDC) between snapshots: appends then a COW delete, read
    * back as insert/delete change rows — only mutation-touched files are
    * read (Iceberg changelog shape). Constant oracle. */
  def cSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "cdc")
    cat.createTable("scratch", "cdc", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    cat.append("scratch", "cdc", Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    cat.append("scratch", "cdc", Seq((3L, 30L), (4L, 40L)).toDF("id", "v"))
    cat.deleteWhere("scratch", "cdc", col("id") % 2 === 0)
    // v0→v2: pure inserts; v2→v3: pure deletes (survivors of the COW
    // rewrite cancel between removed and added files)
    cat.changes("scratch", "cdc", 0, 2)
      .select(lit("v0_v2").as("span"), col("_change"), col("id"), col("v"))
      .unionByName(cat.changes("scratch", "cdc", 2, 3)
        .select(lit("v2_v3").as("span"), col("_change"), col("id"), col("v")))
      .orderBy("span", "_change", "id")
  }

  val cSnapshotDiffSql: String =
    """SELECT * FROM (VALUES
      |  ('v0_v2', 'insert', CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
      |  ('v0_v2', 'insert', CAST(2 AS BIGINT), CAST(20 AS BIGINT)),
      |  ('v0_v2', 'insert', CAST(3 AS BIGINT), CAST(30 AS BIGINT)),
      |  ('v0_v2', 'insert', CAST(4 AS BIGINT), CAST(40 AS BIGINT)),
      |  ('v2_v3', 'delete', CAST(2 AS BIGINT), CAST(20 AS BIGINT)),
      |  ('v2_v3', 'delete', CAST(4 AS BIGINT), CAST(40 AS BIGINT))
      |) AS t(span, "_change", id, v) ORDER BY span, "_change", id""".stripMargin

  /** Small-file compaction: 20 single-file appends (the streaming-ingest
    * pathology) compacted to 2 files; contents identical, snapshot history
    * intact. At 100 TB this is the maintenance pass that keeps scan task
    * counts sane — file counts are structural constants in the oracle. */
  def cCompactFiles(spark: SparkSession, dir: String): DataFrame = {
    val cat = new LakeCatalog(spark, scratch)
    val c = Tables.table(spark, dir, "customer")
      .where(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_acctbal"))
    cat.dropTable("scratch", "cust_small")
    cat.createTable("scratch", "cust_small", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType))))
    // four sequential ingest commits, each landing 5 small files (round-
    // robin repartition: even row spread, so every file is non-empty
    // deterministically) — 20 small files + the v0 schema file, the
    // streaming-ingest pathology compact() exists to repair, built with 4
    // jobs instead of the former 20 one-file-per-job appends
    (0 until 4).foreach { i =>
      cat.append("scratch", "cust_small",
        c.where(col("c_custkey") % 4 === i).repartition(5))
    }
    val before = cat.snapshots("scratch", "cust_small").last._2.length
    cat.compact("scratch", "cust_small", 2)
    val after = cat.snapshots("scratch", "cust_small").last._2.length
    cat.load("scratch", "cust_small")
      .agg(lit(before).as("files_before"), lit(after).as("files_after"),
        count(lit(1)).as("n"), Tables.dsum(col("c_acctbal")).as("total_bal"))
  }

  // files_before = 21: the v0 schema-carrying empty file + 20 appends
  val cCompactFilesSql: String =
    """SELECT 21 AS files_before, 2 AS files_after, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
      |FROM customer WHERE c_custkey <= 200""".stripMargin

  /** ADD COLUMN schema evolution: rows appended before the evolution read
    * back with the declared default; rows appended after carry their own
    * values. Metadata-only — zero files rewritten. Constant oracle. */
  def cSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "evo")
    cat.createTable("scratch", "evo", StructType(Seq(
      StructField("id", LongType), StructField("val", LongType))))
    cat.append("scratch", "evo", Seq((1L, 100L), (2L, 200L)).toDF("id", "val"))
    cat.addColumn("scratch", "evo",
      StructField("tag", StringType), "'legacy'")
    cat.append("scratch", "evo",
      Seq((3L, 300L, "fresh"), (4L, 400L, "fresh")).toDF("id", "val", "tag"))
    cat.load("scratch", "evo")
      .select(col("id"), col("val"), col("tag"))
      .orderBy("id")
  }

  val cSchemaEvolutionSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(100 AS BIGINT), 'legacy'),
      |  (CAST(2 AS BIGINT), CAST(200 AS BIGINT), 'legacy'),
      |  (CAST(3 AS BIGINT), CAST(300 AS BIGINT), 'fresh'),
      |  (CAST(4 AS BIGINT), CAST(400 AS BIGINT), 'fresh')
      |) AS t(id, val, tag) ORDER BY id""".stripMargin

  /** Multi-format sources: the same slice written as CSV (header),
    * JSON-lines and ORC, read back with EXPLICIT schemas (never inference —
    * schema inference scans the whole dataset twice at 100 TB), unioned,
    * agg'd. Doubles round-trip text formats exactly (shortest-repr
    * printing); ORC is the binary columnar alternative to parquet. The
    * lake stays parquet; CSV/JSON/ORC are the interchange edges. */
  def cMultiFormat(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = s"$scratch/formats"
    val slice = Tables.table(spark, dir, "customer")
      .where(col("c_custkey") <= 300)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    slice.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    slice.write.mode("overwrite").json(s"$base/json")
    slice.write.mode("overwrite").orc(s"$base/orc")
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val csv = spark.read.schema(schema).option("header", "true").csv(s"$base/csv")
    val json = spark.read.schema(schema).json(s"$base/json")
    val orc = spark.read.schema(schema).orc(s"$base/orc")
    csv.select(lit("csv").as("fmt"), col("c_custkey"), col("c_acctbal"))
      .unionByName(json.select(lit("json").as("fmt"), col("c_custkey"), col("c_acctbal")))
      .unionByName(orc.select(lit("orc").as("fmt"), col("c_custkey"), col("c_acctbal")))
      .groupBy("fmt")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("c_acctbal")).as("total_bal"),
        max(col("c_custkey")).as("max_key"))
      .orderBy("fmt")
  }

  val cMultiFormatSql: String =
    """SELECT fmt, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal,
      |  max(c_custkey) AS max_key
      |FROM (SELECT 'csv' AS fmt, * FROM customer WHERE c_custkey <= 300
      |      UNION ALL
      |      SELECT 'json' AS fmt, * FROM customer WHERE c_custkey <= 300
      |      UNION ALL
      |      SELECT 'orc' AS fmt, * FROM customer WHERE c_custkey <= 300)
      |GROUP BY fmt ORDER BY fmt""".stripMargin

  /** Bucketed co-located join — the §5 co-location story made concrete:
    * both sides written bucketed (and sorted) on the join key, so the join
    * runs with ZERO shuffle of either table (Catalog2Spec asserts no
    * exchange on the key). At 100 TB this is the difference between
    * shuffling two fact tables per join and shuffling them once at write
    * time for every future join to reuse. Only the post-join aggregate
    * (5 segments) exchanges. */
  def cBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_customer")
    // a previous SESSION's managed-table dirs survive its in-memory
    // catalog — remove them or saveAsTable fails LOCATION_ALREADY_EXISTS
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    Seq("graft_b_orders", "graft_b_customer").foreach { t =>
      val p = java.nio.file.Paths.get(
        (if (wh.getScheme == null) wh.getPath else java.nio.file.Paths.get(wh).toString) + s"/$t")
      if (java.nio.file.Files.exists(p)) {
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        finally w.close()
      }
    }
    Tables.table(spark, dir, "orders")
      .select("o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("graft_b_orders")
    Tables.table(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("graft_b_customer")
    spark.table("graft_b_orders")
      .join(spark.table("graft_b_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }

  val cBucketedJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Iceberg `files` metadata-table analog: three single-file appends of
    * known sizes, then a COW delete that rewrites ONLY the middle batch's
    * file. The files table then reads: untouched files keep their original
    * add-version (1 and 3), the rewrite lands as a new 39-row file added in
    * the delete's snapshot (4) — per-file row counts and lineage served
    * from catalog metadata + one footer-level count, no table scan logic in
    * consumers. File names and byte sizes are environment-dependent →
    * projected out here (Catalog2Spec asserts them); the (added_in,
    * row_count) history is a structural constant. */
  def cFilesMeta(spark: SparkSession, dir: String): DataFrame = {
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "fmeta")
    cat.createTable("scratch", "fmeta", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    def batch(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(col("id"), (col("id") * 10).as("v"))
        .coalesce(1)
    cat.append("scratch", "fmeta", batch(1, 100)) // v1: one 100-row file
    cat.append("scratch", "fmeta", batch(101, 50)) // v2: one 50-row file
    cat.append("scratch", "fmeta", batch(151, 25)) // v3: one 25-row file
    // rewrites ONLY the v2 file (ids 120–130 live there): 50 → 39 rows
    cat.deleteWhere("scratch", "fmeta", col("id").between(120, 130))
    cat.filesMeta("scratch", "fmeta")
      .select(col("added_in"), col("row_count"))
      .orderBy("added_in", "row_count")
  }

  val cFilesMetaSql: String =
    """SELECT * FROM (VALUES
      |  (1, CAST(100 AS BIGINT)), (3, CAST(25 AS BIGINT)), (4, CAST(39 AS BIGINT))
      |) AS t(added_in, row_count) ORDER BY added_in, row_count""".stripMargin

  /** Write-side file sizing — the knob that keeps a 100 TB table's files
    * scan-friendly at WRITE time (the complement of compaction, which
    * repairs sizing after the fact): `spark.sql.files.maxRecordsPerFile`
    * bounds every file a task emits. One 4000-row task writes exactly four
    * 1000-row files, visible through the files metadata table. At scale
    * the same conf bounds the worst-case file produced by any append or
    * COW rewrite. */
  def cFileSizing(spark: SparkSession, dir: String): DataFrame = {
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "fsz")
    cat.createTable("scratch", "fsz", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType))))
    val slice = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .orderBy("l_orderkey", "l_quantity").limit(4000).coalesce(1)
    val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1000")
    try cat.append("scratch", "fsz", slice)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    cat.filesMeta("scratch", "fsz")
      .select(col("row_count")).orderBy("row_count")
  }

  val cFileSizingSql: String =
    """SELECT CAST(1000 AS BIGINT) AS row_count FROM range(4)
      |ORDER BY row_count""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c_file_sizing" -> (cFileSizing _),
    "c_files_meta" -> (cFilesMeta _),
    "c_bucketed_join" -> (cBucketedJoin _),
    "c_snapshot_diff" -> (cSnapshotDiff _),
    "c_multi_format" -> (cMultiFormat _),
    "c_merge_upsert" -> (cMergeUpsert _),
    "c_delete_update" -> (cDeleteUpdate _),
    "c_time_travel" -> (cTimeTravel _),
    "c_compact_files" -> (cCompactFiles _),
    "c_schema_evolution" -> (cSchemaEvolution _))

  val oracles: Map[String, String] = Map(
    "c_file_sizing" -> cFileSizingSql,
    "c_files_meta" -> cFilesMetaSql,
    "c_bucketed_join" -> cBucketedJoinSql,
    "c_snapshot_diff" -> cSnapshotDiffSql,
    "c_multi_format" -> cMultiFormatSql,
    "c_merge_upsert" -> cMergeUpsertSql,
    "c_delete_update" -> cDeleteUpdateSql,
    "c_time_travel" -> cTimeTravelSql,
    "c_compact_files" -> cCompactFilesSql,
    "c_schema_evolution" -> cSchemaEvolutionSql)
}
