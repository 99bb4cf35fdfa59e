package graft

import graft.catalog.{LakeCatalog, SqlGateway}
import org.apache.spark.sql.types._

/** Spark jobs per gateway write on a small table with a history: the action
  * budget of each statement kind. A budget may only be lowered. */
class WriteJobBudgetSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("c", LongType), StructField("p", DoubleType), StructField("s", StringType)))

  /** `shop.orders` (format-version 2, so it takes deletion vectors) with 40
    * rows over four commits, `shop.stage` with two rows
    * (one matching an order key, one new) and `shop.checked` carrying a
    * CHECK constraint, each behind a gateway. */
  private lazy val gw: SqlGateway = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_write_budget").toString
    val cat = new LakeCatalog(spark, root)
    cat.createTable("shop", "orders", schema, properties = Map("format-version" -> "2"))
    (0 until 4).foreach { i =>
      cat.append("shop", "orders", (i * 10 until i * 10 + 10)
        .map(k => (k.toLong, (k % 5).toLong, k * 1.5, s"o$k")).toDF("k", "c", "p", "s").coalesce(1))
    }
    cat.createTable("shop", "stage", schema)
    cat.append("shop", "stage", Seq((3L, 9L, 0.5, "upd"), (500L, 9L, 0.25, "new"))
      .toDF("k", "c", "p", "s").coalesce(1))
    cat.createTable("shop", "checked", schema, properties = Map("check.pos" -> "p >= 0"))
    new SqlGateway(spark, cat)
  }

  private def jobs(sql: String): Int = {
    val g = gw
    org.apache.spark.SpecBus.jobsIn(spark.sparkContext)(g.execute(sql).collect())
  }

  private val aggSql = "SELECT COUNT(*), SUM(p), MAX(k) FROM orders WHERE c < 3"

  test("jobs per gateway write stay within each statement kind's budget") {
    val budgets = Seq(
      "INSERT INTO shop.orders VALUES (100, 1, 2.5, 'ins')" -> 0,
      "INSERT INTO shop.checked VALUES (1, 1, 2.5, 'ok')" -> 0,
      "UPDATE shop.orders SET p = p + 1 WHERE c = 2" -> 2,
      "DELETE FROM shop.orders WHERE c = 4" -> 2,
      "MERGE INTO shop.orders USING shop.stage ON k" -> 4,
      // the first on a table without deletion vectors, the second on one with
      "DELETE MOR FROM shop.orders WHERE c = 3" -> 3,
      "DELETE MOR FROM shop.orders WHERE k = 7" -> 3)
    budgets.foreach { case (sql, budget) =>
      val n = jobs(sql)
      info(s"$n jobs: $sql")
      val after = jobs(aggSql)
      info(s"$after jobs: the aggregate after it")
      assert(n <= budget, s"$n Spark jobs for: $sql (budget $budget)")
      assert(after <= 2, s"$after Spark jobs for the aggregate read after: $sql (budget 2)")
    }
  }
}
