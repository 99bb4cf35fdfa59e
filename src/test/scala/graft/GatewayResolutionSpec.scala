package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.catalog.{AmbiguousTableException, LakeCatalog, SqlGateway}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** A catalog that counts the gateway's table loads and COUNT(*) lookups;
  * `pastLoads` counts the snapshot, tag and change-feed loads. */
class CountingCatalog(spark: SparkSession, root: String) extends LakeCatalog(spark, root) {
  val loads = new AtomicInteger
  val pastLoads = new AtomicInteger
  val countStars = new AtomicInteger
  override def loadRenamed(ns: String, table: String): DataFrame = {
    loads.incrementAndGet()
    super.loadRenamed(ns, table)
  }
  override def loadSnapshot(ns: String, table: String, v: Int): DataFrame = {
    pastLoads.incrementAndGet()
    super.loadSnapshot(ns, table, v)
  }
  override def loadTag(ns: String, table: String, tag: String): DataFrame = {
    pastLoads.incrementAndGet()
    super.loadTag(ns, table, tag)
  }
  override def changes(ns: String, table: String, vFrom: Int, vTo: Int): DataFrame = {
    pastLoads.incrementAndGet()
    super.changes(ns, table, vFrom, vTo)
  }
  override def countStar(ns: String, table: String): Option[Long] = {
    countStars.incrementAndGet()
    super.countStar(ns, table)
  }
}

/** How a gateway SELECT resolves table names: it loads only the tables the
  * statement names, once each; a repeat load runs no Spark job; a name
  * whose table was dropped or became ambiguous stops answering; each
  * gateway reads only its own warehouse and leaves the session's temp
  * views alone. */
class GatewayResolutionSpec extends SparkSpec {

  private lazy val root: String = {
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_gw_res").toString
    val cat = new LakeCatalog(spark, r)
    def table(ns: String, t: String, df: DataFrame): Unit = {
      cat.createTable(ns, t, df.schema)
      cat.append(ns, t, df)
    }
    table("shop", "orders",
      Seq((1L, 10L, 5.0), (2L, 11L, 7.5), (3L, 10L, 1.25), (4L, 12L, 9.0))
        .toDF("o_id", "o_cust", "o_total"))
    table("shop", "customer",
      Seq((10L, "ann", 1L), (11L, "bo", 2L), (12L, "cy", 1L)).toDF("c_id", "c_name", "c_nation"))
    table("shop", "lineitem",
      Seq((1L, 3L), (1L, 1L), (2L, 4L), (4L, 2L)).toDF("l_order", "l_qty"))
    table("geo", "nation", Seq((1L, "fr", 7L), (2L, "jp", 8L)).toDF("n_id", "n_name", "n_region"))
    table("geo", "region", Seq((7L, "europe"), (8L, "asia")).toDF("r_id", "r_name"))
    table("ops", "events", Seq((1L, "load"), (2L, "query")).toDF("e_id", "e_kind"))
    r
  }

  private def fixture(): (CountingCatalog, SqlGateway) = {
    val cat = new CountingCatalog(spark, root)
    (cat, new SqlGateway(spark, cat))
  }

  private def loadsOf(sql: String): Int = {
    val (cat, gw) = fixture()
    gw.execute(sql).collect()
    cat.loads.get
  }

  test("a SELECT loads each table it names once, and no other") {
    val out = java.nio.file.Files.createTempDirectory("graft_gw_res_copy").toString
    val expected = Seq(
      "SELECT * FROM orders" -> 1,
      "SELECT c_name, SUM(o_total) FROM orders JOIN customer ON o_cust = c_id GROUP BY c_name" -> 2,
      "SELECT * FROM shop_orders WHERE o_total > 2" -> 1,
      "SELECT * FROM ORDERS" -> 1,
      "SELECT * FROM `shop_customer`" -> 1,
      "WITH big AS (SELECT * FROM orders WHERE o_total > 2) SELECT COUNT(*) FROM big" -> 1,
      "SELECT * FROM customer WHERE c_id IN (SELECT o_cust FROM orders)" -> 2,
      "EXPLAIN SELECT * FROM lineitem JOIN orders ON l_order = o_id" -> 2,
      s"COPY (SELECT * FROM nation) TO '$out/n' FORMAT csv" -> 1,
      // the same table under both of its names is still one load
      "SELECT * FROM events e JOIN ops_events f ON e.e_id = f.e_id" -> 1,
      // a string literal naming another table loads nothing for it
      "SELECT 'customer' AS c, o_id FROM orders" -> 1)
    expected.foreach { case (sql, n) =>
      assert(loadsOf(sql) == n, s"loadRenamed calls for: $sql")
    }
  }

  test("VERSION AS OF joined with a bare table loads only the bare table") {
    val v = new LakeCatalog(spark, root).snapshots("shop", "orders").map(_._1).max
    val (cat, gw) = fixture()
    val n = gw.execute(
      s"SELECT COUNT(*) FROM orders VERSION AS OF $v o JOIN customer c ON o.o_cust = c.c_id")
      .head().getLong(0)
    assert(n == 4)
    assert(cat.loads.get == 1)
  }

  test("bare COUNT(*) consults the manifest once") {
    val (cat, gw) = fixture()
    assert(gw.execute("SELECT COUNT(*) FROM shop.orders").head().getLong(0) == 4L)
    assert(cat.countStars.get == 1 && cat.loads.get == 0)
  }

  test("a repeat SELECT on an unchanged table launches no Spark job inside execute()") {
    val sql = "SELECT c_name, SUM(o_total) FROM orders JOIN customer ON o_cust = c_id GROUP BY c_name"
    def jobsIn(f: => Unit): Int = org.apache.spark.SpecBus.jobsIn(spark.sparkContext)(f)
    val (_, gw) = fixture()
    // the files are read under their recorded schema: no inference job
    assert(jobsIn(gw.execute(sql)) == 0)
    gw.execute(sql).collect()
    assert(jobsIn(gw.execute(sql)) == 0)
  }

  test("results equal registering every table before the query") {
    // the reference: every table under `ns_t` and its unambiguous bare name,
    // in a session of its own so the two registrations cannot mix
    val ref = spark.newSession()
    val refCat = new LakeCatalog(ref, root)
    val tables = refCat.listTables()
    tables.foreach { case (ns, t) =>
      refCat.loadRenamed(ns, t).createOrReplaceTempView(s"${ns}_$t")
      if (tables.count(_._2 == t) == 1) refCat.loadRenamed(ns, t).createOrReplaceTempView(t)
    }
    val (_, gw) = fixture()
    Seq(
      "SELECT c_name, SUM(o_total) AS s FROM orders JOIN customer ON o_cust = c_id GROUP BY c_name",
      "SELECT n_name, r_name FROM geo_nation JOIN region ON n_region = r_id",
      "WITH q AS (SELECT l_order, SUM(l_qty) AS qty FROM lineitem GROUP BY l_order) " +
        "SELECT o_id, qty FROM orders LEFT JOIN q ON o_id = l_order",
      "SELECT * FROM customer WHERE c_nation IN (SELECT n_id FROM nation WHERE n_name = 'fr')",
      "SELECT e_kind FROM ops_events WHERE e_id > 1"
    ).foreach { sql =>
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
      assert(rows(gw.execute(sql)) == rows(ref.sql(sql)), sql)
    }
  }

  test("a view whose table was dropped or became ambiguous stops answering") {
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_gw_stale_views").toString
    val cat = new LakeCatalog(spark, r)
    val gw = new SqlGateway(spark, cat)
    val schema = StructType(Seq(StructField("k", LongType)))
    def notFound(sql: String): Unit = {
      val e = intercept[Exception](gw.execute(sql).collect())
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), s"$sql: ${e.getMessage.take(200)}")
    }
    def sumK(sql: String): Long = gw.execute(sql).head().getLong(0)
    cat.createTable("shop", "gr_dup", schema)
    cat.append("shop", "gr_dup", Seq(1L).toDF("k"))
    assert(sumK("SELECT SUM(k) FROM gr_dup") == 1L)
    // another namespace gains a table of the same name: the bare name is
    // ambiguous now and must not keep serving shop.gr_dup's old snapshot
    cat.createTable("geo", "gr_dup", schema)
    cat.append("geo", "gr_dup", Seq(5L).toDF("k"))
    cat.append("shop", "gr_dup", Seq(2L).toDF("k"))
    notFound("SELECT SUM(k) FROM gr_dup")
    assert(sumK("SELECT SUM(k) FROM shop_gr_dup") == 3L)
    assert(sumK("SELECT SUM(k) FROM geo_gr_dup") == 5L)

    cat.createTable("ops", "gr_gone", schema)
    cat.append("ops", "gr_gone", Seq(4L).toDF("k"))
    assert(sumK("SELECT SUM(k) FROM gr_gone") == 4L)
    assert(sumK("SELECT SUM(k) FROM ops_gr_gone") == 4L)
    cat.dropTable("ops", "gr_gone")
    notFound("SELECT SUM(k) FROM ops_gr_gone")
    notFound("SELECT SUM(k) FROM gr_gone")
  }

  private def sumK(gw: SqlGateway, sql: String): Long = gw.execute(sql).head().getLong(0)

  private def notFound(gw: SqlGateway, sql: String): Unit = {
    val e = intercept[Exception](gw.execute(sql).collect())
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), s"$sql: ${e.getMessage.take(200)}")
  }

  /** A warehouse holding `shop.pt` with rows `ks` appended one commit each. */
  private def warehouse(name: String, ks: Long*): (String, LakeCatalog) = {
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory(name).toString
    val cat = new LakeCatalog(spark, r)
    cat.createTable("shop", "pt", StructType(Seq(StructField("k", LongType))))
    ks.foreach(k => cat.append("shop", "pt", Seq(k).toDF("k")))
    (r, cat)
  }

  test("`ns.t` reads the table and `ns.t VERSION AS OF n` its snapshot") {
    val (_, cat) = warehouse("graft_gw_qualified", 1L, 2L, 3L)
    val gw = new SqlGateway(spark, cat)
    assert(sumK(gw, "SELECT SUM(k) FROM shop.pt WHERE k > 1") == 5L)
    assert(sumK(gw, "SELECT SUM(k) FROM SHOP.PT WHERE k > 0") == 6L)
    assert(sumK(gw, "SELECT SUM(k) FROM shop.pt VERSION AS OF 1") == 1L)
    assert(sumK(gw, "SELECT SUM(pt.k) FROM shop.pt VERSION AS OF 2 WHERE pt.k > 0") == 3L)
    cat.tagSnapshot("shop", "pt", "rel", 2)
    assert(sumK(gw, "SELECT SUM(k) FROM shop.pt VERSION AS OF 'rel'") == 3L)
    assert(sumK(gw, "SELECT SUM(k) FROM shop.pt TAG AS OF rel") == 3L)
  }

  test("a literal or a comment holding a time-travel clause is kept verbatim and loads nothing") {
    val (cat, gw) = fixture()
    Seq("orders VERSION AS OF 3", "orders TAG AS OF rel", "orders CHANGES BETWEEN 1 AND 2")
      .foreach { clause =>
        assert(gw.execute(s"SELECT '$clause' AS s").head().getString(0) == clause)
        assert(gw.execute(s"SELECT `x` FROM (SELECT 1 AS `x`) -- $clause").head().getInt(0) == 1)
        assert(gw.execute(s"SELECT 2 /* $clause */ AS n").head().getInt(0) == 2)
      }
    assert(cat.loads.get == 0 && cat.pastLoads.get == 0)
  }

  test("two gateways over two warehouses answer only from their own, in sequence and from 8 threads") {
    import spark.implicits._
    val (_, catA) = warehouse("graft_gw_wh_a", 1L, 2L)
    val (_, catB) = warehouse("graft_gw_wh_b", 10L, 20L, 30L)
    catA.createTable("geo", "only_a", StructType(Seq(StructField("k", LongType))))
    catA.append("geo", "only_a", Seq(7L).toDF("k"))
    val a = new SqlGateway(spark, catA)
    val b = new SqlGateway(spark, catB)
    // (gateway, statement, answer); the snapshot reads give each thread
    // another version of the same table
    val cases = Seq(
      (a, "SELECT SUM(k) FROM pt", 3L), (b, "SELECT SUM(k) FROM pt", 60L),
      (a, "SELECT SUM(k) FROM shop.pt VERSION AS OF 1", 1L),
      (b, "SELECT SUM(k) FROM pt VERSION AS OF 2", 30L),
      (a, "SELECT SUM(k) FROM only_a", 7L))
    def check(): Unit = cases.foreach { case (gw, sql, want) =>
      assert(sumK(gw, sql) == want, sql)
    }
    check()
    notFound(b, "SELECT SUM(k) FROM only_a")
    notFound(b, "SELECT SUM(k) FROM geo.only_a")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map(i => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (0 until 4).foreach { j =>
          val (gw, sql, want) = cases((i + j) % cases.size)
          assert(sumK(gw, sql) == want, sql)
          if (i % 2 == 0) notFound(b, "SELECT SUM(k) FROM only_a")
        }
      }))
      runs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    check()
  }

  test("a session temp view named like a lake table neither shadows it nor is replaced") {
    import spark.implicits._
    val (_, cat) = warehouse("graft_gw_temp_view", 1L, 2L)
    val gw = new SqlGateway(spark, cat)
    Seq(100L).toDF("k").createOrReplaceTempView("pt")
    try {
      assert(sumK(gw, "SELECT SUM(k) FROM pt") == 3L)
      assert(sumK(gw, "SELECT SUM(k) FROM shop_pt") == 3L)
      assert(spark.sql("SELECT SUM(k) FROM pt").head().getLong(0) == 100L)
    } finally spark.catalog.dropTempView("pt")
  }

  test("a gateway workload registers no session temp views") {
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempViews()
    val (_, cat) = warehouse("graft_gw_no_views", 1L, 2L, 3L)
    cat.tagSnapshot("shop", "pt", "rel", 1)
    val gw = new SqlGateway(spark, cat)
    val out = java.nio.file.Files.createTempDirectory("graft_gw_no_views_copy").toString
    Seq("SELECT * FROM pt", "SELECT * FROM shop_pt", "SELECT * FROM shop.pt",
      "SELECT * FROM pt VERSION AS OF 2", "SELECT * FROM pt TAG AS OF rel",
      "SELECT * FROM pt CHANGES BETWEEN 1 AND 3", "SELECT COUNT(*) FROM pt",
      "EXPLAIN SELECT * FROM pt", s"COPY (SELECT * FROM pt) TO '$out/p'",
      "INSERT INTO pt VALUES (4)", "DELETE FROM pt WHERE k = 1",
      "SHOW SNAPSHOTS IN pt", "DESCRIBE TABLE pt"
    ).foreach(sql => gw.execute(sql).collect())
    assert(tempViews() == before)
  }

  test("a verb on an ambiguous bare name is refused and changes neither table") {
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("graft_gw_ambiguous").toString
    val cat = new LakeCatalog(spark, r)
    val gw = new SqlGateway(spark, cat)
    Seq("shop", "geo").foreach { ns =>
      cat.createTable(ns, "dup", StructType(Seq(StructField("k", LongType))))
      cat.append(ns, "dup", Seq(1L, 2L).toDF("k"))
    }
    val heads = Seq("shop", "geo").map(cat.headVersion(_, "dup"))
    val e = intercept[AmbiguousTableException](gw.execute("DELETE FROM dup WHERE k = 1"))
    assert(e.candidates.toSet == Set(("shop", "dup"), ("geo", "dup")), e.getMessage)
    assert(e.getMessage.contains("shop.dup") && e.getMessage.contains("geo.dup"))
    assert(Seq("shop", "geo").map(cat.headVersion(_, "dup")) == heads)
    Seq("shop", "geo").foreach(ns => assert(cat.load(ns, "dup").count() == 2L))
    // a qualified name still reaches one table
    gw.execute("DELETE FROM geo.dup WHERE k = 1")
    assert(cat.load("geo", "dup").count() == 1L && cat.load("shop", "dup").count() == 2L)
  }
}
