package graft

import graft.catalog.{LakeCatalog, SqlGateway}

/** Mirrors the reference's test coverage (test_QueryManager.py: statement
  * dispatch per type; test_IcebergConnection.py: list/describe/insert
  * round trips) against the Spark-native gateway, plus the capability the
  * reference lacks: multi-table SELECT. */
class GatewaySpec extends SparkSpec {

  private def flatGw = new SqlGateway(spark, new LakeCatalog(spark, sfDir))

  test("LIST NAMESPACES / LIST TABLES [IN ns] dispatch (ref: test_parse_sql_list_parametrized)") {
    assert(flatGw.execute("LIST NAMESPACES").collect().map(_.getString(0)).toSeq == Seq("main"))
    val tables = flatGw.execute("LIST TABLES IN main").collect().map(_.getString(1)).toSet
    assert(tables == Tables.names.toSet)
    assert(flatGw.execute("LIST TABLES").count() == 10)
  }

  test("DESCRIBE TABLE returns normalized schema rows") {
    val rows = flatGw.execute("DESCRIBE TABLE orders").collect()
      .filter(_.getString(0) == "schema")
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(rows("o_orderkey") == "bigint" && rows("o_totalprice") == "double")
  }

  test("DESCRIBE TABLE surfaces partition_spec / sort_order / properties (ref parity)") {
    // mirrors test_IcebergConnection.test_query_catalog_describe_table:
    // the describe result must carry all four sections, not schema alone
    val root = java.nio.file.Files.createTempDirectory("graft_gw_desc").toString
    val cat = new LakeCatalog(spark, root)
    cat.createTable("myschema", "users",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ds", org.apache.spark.sql.types.StringType))),
      properties = Map("owner" -> "graft", "write.format" -> "parquet"),
      partitionSpec = Seq("ds"),
      sortOrder = Seq("id asc"))
    val gw = new SqlGateway(spark, cat)
    val rows = gw.execute("DESCRIBE TABLE myschema.users").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val sections = rows.map(_._1).toSet
    assert(sections == Set("schema", "partition_spec", "sort_order", "properties"), sections)
    assert(rows.contains(("partition_spec", "ds", "identity")))
    assert(rows.contains(("sort_order", "id", "asc")))
    assert(rows.contains(("properties", "owner", "graft")))
    assert(rows.contains(("schema", "id", "bigint")))
  }

  test("CREATE TABLE + INSERT VALUES round trip (ref: INSERT INTO orders VALUES (1, 100))") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    assert(gw.execute("CREATE TABLE scratch.users (id INT, name STRING, bal DOUBLE, active BOOLEAN)")
      .head().getString(0).contains("created"))
    assert(gw.execute("INSERT INTO scratch.users VALUES (1, 'John, Jr.', 9.5, true)")
      .head().getString(0).contains("Inserted"))
    val row = new LakeCatalog(spark, root).load("scratch", "users").head()
    assert(row.getInt(0) == 1)
    assert(row.getString(1) == "John, Jr.") // quoted comma survives (ref bug not reproduced)
    assert(row.getDouble(2) == 9.5 && row.getBoolean(3))
  }

  test("CREATE with parenthesized types, bare-name DESCRIBE round trip, INSERT arity check") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw2").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    gw.execute("CREATE TABLE t (a DECIMAL(10,2), b INT)")
    // paren-aware split: two columns, not three garbage ones
    val desc = gw.execute("DESCRIBE TABLE t").collect()
      .filter(_.getString(0) == "schema").map(_.getString(1)).toSet
    assert(desc == Set("a", "b"), s"got columns $desc")
    // arity mismatch is an error, not silent truncation
    val e = intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO t VALUES (1.5, 2, 99)")
    }
    assert(e.getMessage.contains("arity"), e.getMessage)
  }

  test("DELETE / UPDATE / COMPACT / SHOW SNAPSHOTS dialect verbs round trip") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw3").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    gw.execute("CREATE TABLE scratch.acct (id BIGINT, bal DOUBLE, status STRING)")
    gw.execute("INSERT INTO scratch.acct VALUES (1, 10.0, 'open')")
    gw.execute("INSERT INTO scratch.acct VALUES (2, 20.0, 'open')")
    gw.execute("INSERT INTO scratch.acct VALUES (3, 30.0, 'closed')")
    assert(gw.execute("DELETE FROM scratch.acct WHERE status = 'closed'")
      .head().getString(0).contains("Delete"))
    assert(gw.execute("UPDATE scratch.acct SET bal = bal * 2 WHERE id = 2")
      .head().getString(0).contains("Update"))
    val cat = new LakeCatalog(spark, root)
    val got = cat.load("scratch", "acct").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 10.0), (2L, 40.0)), got.toString)
    gw.execute("COMPACT TABLE scratch.acct INTO 1 FILES")
    val snaps = gw.execute("SHOW SNAPSHOTS IN scratch.acct").collect()
    assert(snaps.length >= 6) // v0 + 3 inserts + delete + update + compact
    assert(snaps.last.getInt(1) == 1, "compacted snapshot should be 1 file")
    // history: the pre-delete snapshot still reads 3 rows
    assert(cat.loadSnapshot("scratch", "acct", 3).count() == 3)
  }

  test("reference dialect forms: IF NOT EXISTS, column-spec INSERT, bare LIST args, timestamptz") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw_ref").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    // CREATE TABLE IF NOT EXISTS (ref: test_QueryManager create forms)
    gw.execute("CREATE TABLE IF NOT EXISTS test.users (id INT, name STRING, ts TIMESTAMP)")
    assert(gw.execute("CREATE TABLE IF NOT EXISTS test.users (id INT, name STRING, ts TIMESTAMP)")
      .head().getString(0).contains("already exists"))
    // column-spec INSERT — the reference's own TODO (README.md:115),
    // supported rather than inherited: unlisted columns land as NULL
    gw.execute("INSERT INTO test.users (id, name) VALUES (1, 'John')")
    // timestamptz literal (ref: IcebergConnection insert type dispatch)
    gw.execute("INSERT INTO test.users VALUES (2, 'Amira', '2025-06-24 12:00:00+01:00')")
    val rows = new LakeCatalog(spark, root).load("test", "users")
      .orderBy("id").collect()
    assert(rows(0).getInt(0) == 1 && rows(0).isNullAt(2), "unlisted col must be NULL")
    assert(rows(1).getTimestamp(2).toInstant ==
      java.time.Instant.parse("2025-06-24T11:00:00Z"), "offset must normalize to UTC")
    // bare LIST argument forms (ref: LIST TABLES myNamespace, no IN)
    assert(gw.execute("LIST TABLES test").count() == 1)
    assert(gw.execute("LIST NAMESPACES test").count() == 1)
  }

  test("MERGE INTO target USING source ON key upserts through the dialect") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw_merge").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    gw.execute("CREATE TABLE scratch.tgt (k BIGINT, v STRING)")
    gw.execute("INSERT INTO scratch.tgt VALUES (1, 'old1')")
    gw.execute("INSERT INTO scratch.tgt VALUES (2, 'old2')")
    gw.execute("CREATE TABLE scratch.src (k BIGINT, v STRING)")
    gw.execute("INSERT INTO scratch.src VALUES (2, 'new2')")
    gw.execute("INSERT INTO scratch.src VALUES (3, 'new3')")
    assert(gw.execute("MERGE INTO scratch.tgt USING scratch.src ON k")
      .head().getString(0).contains("Merge"))
    val got = new LakeCatalog(spark, root).load("scratch", "tgt").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "old1"), (2L, "new2"), (3L, "new3")), got.toString)
  }

  test("SELECT … VERSION AS OF reads historical snapshots through SQL") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw_tt").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    gw.execute("CREATE TABLE scratch.v (id BIGINT)")
    gw.execute("INSERT INTO scratch.v VALUES (1)")
    gw.execute("INSERT INTO scratch.v VALUES (2)")
    gw.execute("DELETE FROM scratch.v WHERE id = 1")
    val now = gw.execute("SELECT COUNT(*) AS n FROM scratch_v").head().getLong(0)
    val v2 = gw.execute("SELECT COUNT(*) AS n FROM v VERSION AS OF 2").head().getLong(0)
    val v1 = gw.execute("SELECT COUNT(*) AS n FROM v VERSION AS OF 1").head().getLong(0)
    assert(now == 1 && v2 == 2 && v1 == 1, s"now=$now v2=$v2 v1=$v1")
  }

  test("COPY (SELECT …) TO exports csv/parquet round-trip") {
    val out = java.nio.file.Files.createTempDirectory("graft_copy").toString
    flatGw.execute(
      s"COPY (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 100) TO '$out/o_csv' FORMAT csv")
    flatGw.execute(
      s"COPY (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 100) TO '$out/o_parq'")
    val csv = spark.read.option("header", "true").csv(s"$out/o_csv")
    val parq = spark.read.parquet(s"$out/o_parq")
    assert(csv.count() == parq.count() && parq.count() > 0)
    val expect = Tables.table(spark, sfDir, "orders")
      .where(org.apache.spark.sql.functions.col("o_orderkey") <= 100).count()
    assert(parq.count() == expect)
  }

  test("SELECT passthrough runs full Spark SQL — including the multi-table join the reference rejects") {
    val n = flatGw.execute(
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin).count()
    assert(n == 5)
    // single-table path (the reference's whole SELECT surface)
    assert(flatGw.execute("SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity < 10").head().getLong(0) > 0)
  }

  test("bare COUNT(*) on a catalog table is served from manifest stats") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_cnt").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    cat.createTable("scratch", "cnt", StructType(Seq(StructField("id", LongType))))
    cat.append("scratch", "cnt", (1L to 42L).toDF("id"))
    assert(cat.countStar("scratch", "cnt").contains(42L)) // fast path eligible
    val r = gw.execute("SELECT COUNT(*) FROM scratch.cnt")
    assert(r.columns.toSeq == Seq("count(1)")) // named as the scan path would
    assert(r.head().getLong(0) == 42L)
    assert(gw.execute("SELECT COUNT(*) AS total FROM scratch.cnt")
      .select("total").head().getLong(0) == 42L)
    // flat-warehouse tables have no manifest stats → falls through to the
    // Spark SQL scan path and still answers correctly
    val scan = flatGw.execute("SELECT COUNT(*) FROM region")
    assert(scan.head().getLong(0) == Tables.table(spark, sfDir, "region").count())
  }

  test("INSERT fills TIMESTAMP_NTZ columns: DESCRIBE and SELECT round trip") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw_ntz").toString
    val gw = new SqlGateway(spark, new LakeCatalog(spark, root))
    gw.execute("CREATE TABLE scratch.ntz (id INT, ts TIMESTAMP_NTZ)")
    gw.execute("INSERT INTO scratch.ntz VALUES (1, '2024-06-01 12:34:56')")
    gw.execute("INSERT INTO scratch.ntz VALUES (2, '2024-06-02')") // date only: midnight
    val types = gw.execute("DESCRIBE TABLE scratch.ntz").collect()
      .filter(_.getString(0) == "schema").map(r => r.getString(1) -> r.getString(2)).toMap
    assert(types("ts") == "timestamp_ntz", types)
    val rows = gw.execute("SELECT id, CAST(ts AS STRING) FROM ntz ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "2024-06-01 12:34:56"), (2, "2024-06-02 00:00:00")), rows)
  }

  test("SHOW BOUNDS surfaces per-file zone maps recorded at commit time") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_zb").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    cat.createTable("scratch", "zb", StructType(Seq(StructField("id", LongType))))
    cat.append("scratch", "zb", (1L to 10L).toDF("id").coalesce(1))
    cat.append("scratch", "zb", (100L to 110L).toDF("id").coalesce(1))
    val b = gw.execute("SHOW BOUNDS IN scratch.zb")
    assert(b.columns.toSeq == Seq("file", "column", "min_value", "max_value"))
    val idRows = b.where(org.apache.spark.sql.functions.col("column") === "id")
      .select("min_value", "max_value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(idRows == Set((1.0, 10.0), (100.0, 110.0)),
      s"zone maps wrong: $idRows")
  }

  test("refs dialect: CREATE TAG / SHOW REFS / TAG AS OF / FAST FORWARD / DROP BRANCH") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_refs").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    cat.createTable("scratch", "rt", StructType(Seq(StructField("id", LongType))))
    cat.append("scratch", "rt", (1L to 5L).toDF("id").coalesce(1))   // v1
    gw.execute("CREATE TAG release IN scratch.rt AS OF 1")
    cat.append("scratch", "rt", (6L to 9L).toDF("id").coalesce(1))   // v2
    // the tag still reads the 5-row release even after main advanced
    assert(gw.execute("SELECT COUNT(*) AS n FROM rt TAG AS OF release")
      .collect()(0).getLong(0) == 5L)
    // stage on a branch, publish through the dialect
    cat.appendToBranch("scratch", "rt", (10L to 12L).toDF("id").coalesce(1), "audit")
    val refs = gw.execute("SHOW REFS IN scratch.rt").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(refs.keySet == Set("main", "release", "audit"), s"refs: $refs")
    gw.execute("FAST FORWARD scratch.rt audit")
    assert(cat.load("scratch", "rt").count() == 12)
    // a second staged branch abandoned through the dialect
    cat.appendToBranch("scratch", "rt", Seq(99L).toDF("id").coalesce(1), "bad")
    gw.execute("DROP BRANCH bad IN scratch.rt")
    assert(!cat.refs("scratch", "rt").contains("bad"))
    assert(cat.load("scratch", "rt").count() == 12, "dropped branch leaked into main")
  }

  test("stats + maintenance dialect: ANALYZE / SHOW STATS / REMOVE ORPHANS") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_stats").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    cat.createTable("scratch", "st", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    cat.append("scratch", "st",
      (1L to 20L).map(i => (i, i * 2.0)).toDF("id", "v").coalesce(1))
    gw.execute("ANALYZE scratch.st (id, v)")
    val stats = gw.execute("SHOW STATS FOR scratch.st").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getString(4))).toMap
    assert(stats("id") == ((20L, 20L, "1")), s"id stats: ${stats("id")}")
    assert(stats("v")._2 == 20L)
    // orphan sweep through the dialect: plant a commit-less file
    val tdir = java.nio.file.Paths.get(s"$root/scratch/st")
    val live = java.nio.file.Files.list(tdir).iterator()
    val first = Iterator.continually(live).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
    java.nio.file.Files.copy(tdir.resolve(first), tdir.resolve("part-orphan.parquet"))
    val out = gw.execute("REMOVE ORPHANS IN scratch.st").collect().map(_.getString(0))
    assert(out.exists(_.contains("part-orphan.parquet")), s"sweep said: ${out.toSeq}")
    assert(cat.load("scratch", "st").count() == 20)
  }

  test("MAINTAIN TABLE runs compact + expire + orphan sweep as one verb") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_maint").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    cat.createTable("scratch", "mt", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    // several small appends -> several snapshots + small files
    (1 to 5).foreach { i =>
      cat.append("scratch", "mt",
        (1L to 10L).map(k => (i * 100L + k, k * 1.0)).toDF("id", "v").coalesce(1))
    }
    // plant an orphan
    val tdir = java.nio.file.Paths.get(s"$root/scratch/mt")
    val any = java.nio.file.Files.list(tdir).iterator()
    val first = Iterator.continually(any).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
    java.nio.file.Files.copy(tdir.resolve(first), tdir.resolve("part-orphan.parquet"))
    val report = gw.execute("MAINTAIN TABLE scratch.mt INTO 2 FILES KEEP 2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(report.keySet == Set("compact", "expire_snapshots", "remove_orphans"))
    assert(report("compact").contains("-> 2 files"), report("compact"))
    // the data survives intact and the orphan is gone
    assert(cat.load("scratch", "mt").count() == 50)
    assert(!java.nio.file.Files.exists(tdir.resolve("part-orphan.parquet")),
      "orphan survived the maintenance pass")
  }

  test("r12 verbs: DELETE EQ FROM / MERGE MOR INTO / MAINTAIN ALL through the dialect") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_r12").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    gw.execute("CREATE TABLE scratch.eqt (k BIGINT, v STRING)")
    (1L to 6L).foreach(k => gw.execute(s"INSERT INTO scratch.eqt VALUES ($k, 'v$k')"))
    // equality delete by key list — file list must be unchanged
    val filesBefore = cat.snapshots("scratch", "eqt").last._2.toSet
    val msg = gw.execute("DELETE EQ FROM scratch.eqt WHERE k IN (2, 4)")
      .head().getString(0)
    assert(msg.contains("matched 2 rows"), msg)
    assert(cat.snapshots("scratch", "eqt").last._2.toSet == filesBefore,
      "equality delete must not touch the file list")
    // re-insert of a deleted key stays alive (sequence-number scope)
    gw.execute("INSERT INTO scratch.eqt VALUES (2, 'reborn')")
    val got = cat.load("scratch", "eqt").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "v1"), (2L, "reborn"), (3L, "v3"),
      (5L, "v5"), (6L, "v6")), got.toString)
    // MOR MERGE: zero rewrite, delta files only
    gw.execute("CREATE TABLE scratch.mms (k BIGINT, v STRING)")
    gw.execute("INSERT INTO scratch.mms VALUES (3, 'merged3')")
    gw.execute("INSERT INTO scratch.mms VALUES (9, 'new9')")
    val preMerge = cat.snapshots("scratch", "eqt").last._2.toSet
    val mm = gw.execute("MERGE MOR INTO scratch.eqt USING scratch.mms ON k")
      .head().getString(0)
    assert(mm.contains("1 updated") && mm.contains("1 inserted"), mm)
    assert(preMerge.subsetOf(cat.snapshots("scratch", "eqt").last._2.toSet),
      "MOR merge must keep every pre-merge file verbatim")
    assert(cat.load("scratch", "eqt").where($"k" === 3L).head().getString(1)
      == "merged3")
    // MAINTAIN ALL: five arms, reader answers unchanged
    val nBefore = cat.load("scratch", "eqt").count()
    val report = gw.execute("MAINTAIN ALL scratch.eqt MAX 2 FILES KEEP 1")
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(report.map(_._1).toSeq ==
      Seq("stats", "compact", "expire", "manifests", "orphans"), report.toSeq)
    assert(cat.load("scratch", "eqt").count() == nBefore,
      "maintenance changed a reader answer")
  }

  test("SHOW CREATE TABLE reconstructs DDL from metadata — and the DDL re-executes") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_gw_ddl").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
    cat.createTable("scratch", "ddl_t", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", DoubleType))),
      partitionSpec = Seq("name"),
      properties = Map("check.pos_price" -> "price > 0", "owner" -> "graft"))
    val ddl = gw.execute("SHOW CREATE TABLE scratch.ddl_t")
      .collect().head.getString(0)
    assert(ddl.startsWith("CREATE TABLE scratch.ddl_t ("), ddl)
    assert(ddl.contains("id BIGINT") && ddl.contains("price DOUBLE"), ddl)
    assert(ddl.contains("PARTITIONED BY (name)"), ddl)
    assert(ddl.contains("CONSTRAINT pos_price CHECK (price > 0)"), ddl)
    assert(ddl.contains("'owner' = 'graft'") && !ddl.contains("check.pos_price"), ddl)
    // round trip: the reconstructed column list parses back through the
    // gateway's own CREATE TABLE verb (the client workflow SHOW CREATE
    // exists for — clone a table's shape elsewhere)
    val colsPart = ddl.substring(ddl.indexOf('(') + 1,
      ddl.indexOf("\n)")).linesIterator
      .map(_.trim.stripSuffix(",")).filter(_.nonEmpty)
      .filterNot(_.startsWith("CONSTRAINT"))
      .mkString(", ")
    gw.execute(s"CREATE TABLE scratch.ddl_clone ($colsPart)")
    val cloned = cat.describe("scratch", "ddl_clone").map(c => c._1 -> c._2).toMap
    assert(cloned == Map("id" -> "bigint", "name" -> "string", "price" -> "double"))
  }
}
