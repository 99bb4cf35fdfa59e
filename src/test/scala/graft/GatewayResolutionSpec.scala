package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.catalog.{LakeCatalog, SqlGateway}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** A catalog that counts the gateway's table loads and COUNT(*) lookups. */
class CountingCatalog(spark: SparkSession, root: String) extends LakeCatalog(spark, root) {
  val loads = new AtomicInteger
  val countStars = new AtomicInteger
  override def loadRenamed(ns: String, table: String): DataFrame = {
    loads.incrementAndGet()
    super.loadRenamed(ns, table)
  }
  override def countStar(ns: String, table: String): Option[Long] = {
    countStars.incrementAndGet()
    super.countStar(ns, table)
  }
}

/** How a gateway SELECT resolves table names: it loads only the tables the
  * statement names, once each; a repeat load runs no Spark job; a view
  * whose table was dropped or became ambiguous stops answering. */
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
      "SELECT * FROM events e JOIN ops_events f ON e.e_id = f.e_id" -> 1)
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
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsIn(f: => Unit): Int = {
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      jobs.get
    }
    val (_, gw) = fixture()
    spark.sparkContext.addSparkListener(listener)
    try {
      // the first load of these files infers their schema: a Spark job
      assert(jobsIn(gw.execute(sql)) >= 1)
      gw.execute(sql).collect()
      assert(jobsIn(gw.execute(sql)) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
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
}
