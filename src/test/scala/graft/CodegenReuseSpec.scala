package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import graft.catalog.{LakeCatalog, SqlGateway}
import graft.plans.ParamLiteral
import org.apache.spark.SpecBus
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}

/** A statement re-run with new constants reuses its generated classes: the
  * literal operands of comparisons, arithmetic and IN lists reach the code as
  * parameters. Results and plan text stay what the inlined literal gives. */
class CodegenReuseSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("f", BooleanType),
    StructField("s", StringType)))

  private def row(n: Int): Row = Row(n.toLong, n % 7, n * 0.5,
    Date.valueOf(LocalDate.of(2020, 1, 1).plusDays(n)),
    Timestamp.from(Instant.parse("2020-01-01T00:00:00Z").plusSeconds(n * 60L)),
    LocalDateTime.of(2020, 1, 1, 0, 0).plusMinutes(n), n % 2 == 0, s"r$n")

  /** `r.t` and `r.m`, 120 rows over three commits each; `r.m` already
    * carries a deletion vector, so every read of it subtracts one. */
  private lazy val gw: SqlGateway = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("graft_codegen_reuse").toString)
    Seq("t", "m").foreach { t =>
      cat.createTable("r", t, schema, properties = Map("format-version" -> "2"))
      (0 until 3).foreach { b =>
        cat.append("r", t, spark.createDataFrame(
          (b * 40 until b * 40 + 40).map(row).asJava, schema).coalesce(1))
      }
    }
    val g = new SqlGateway(spark, cat)
    g.execute("DELETE MOR FROM r.m WHERE k = 119").collect()
    g
  }

  private val shapes: Seq[(String, Int => String)] = Seq(
    "BIGINT filter" -> (c => s"SELECT k, s FROM r.t WHERE k > $c ORDER BY k LIMIT 5"),
    "INT filter" -> (c => s"SELECT COUNT(*) FROM r.t WHERE i BETWEEN $c AND ${c + 2}"),
    "DOUBLE filter" -> (c => s"SELECT SUM(d) FROM r.t WHERE d < $c.25"),
    "DATE filter" -> (c => s"SELECT COUNT(*) FROM r.t WHERE dt >= DATE '2020-02-1$c'"),
    "TIMESTAMP filter" -> (c => s"SELECT MAX(k) FROM r.t WHERE ts < TIMESTAMP '2020-01-01 0$c:30:00'"),
    "TIMESTAMP_NTZ filter" ->
      (c => s"SELECT MIN(k) FROM r.t WHERE ntz > TIMESTAMP_NTZ '2020-01-01 0$c:10:00'"),
    "BOOLEAN filter" -> (c => s"SELECT COUNT(*) FROM r.t WHERE f <=> ${c % 2 == 0} AND k > $c"),
    "IN list" -> (c => s"SELECT s FROM r.t WHERE k IN ($c, ${c + 5}, ${c + 9})"),
    "arithmetic projection" -> (c => s"SELECT k * $c + d AS x FROM r.t WHERE d > $c.5"),
    "UPDATE" -> (c => s"UPDATE r.t SET d = d + $c WHERE i = $c"),
    "COW DELETE" -> (c => s"DELETE FROM r.t WHERE k = ${100 + c}"),
    "DELETE MOR" -> (c => s"DELETE MOR FROM r.m WHERE k = ${c * 3}"),
    "aggregate read-back" -> (c => s"SELECT COUNT(*), SUM(d), MAX(k) FROM r.m WHERE i < $c"))

  test("a statement shape re-run with new constants compiles no class") {
    // 2 then 3: no identity operand (`k * 1`) that the optimizer would fold away
    shapes.foreach { case (name, sql) =>
      gw.execute(sql(2)).collect()
      val n = SpecBus.compilesIn(gw.execute(sql(3)).collect())
      info(s"$n compiles re-running: $name")
      assert(n == 0, s"$n classes compiled re-running the $name shape: ${sql(3)}")
    }
  }

  // ------------------------------------------------ results at the edges

  /** Edge values per inlined type, in Catalyst's internal form (days for
    * DATE, microseconds for the timestamps). */
  private val edgeValues: Seq[(String, DataType, Seq[Any])] = Seq(
    ("d", DoubleType, Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -1.5, Double.MaxValue, Double.MinPositiveValue)),
    ("fl", FloatType, Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, 2.5f)),
    ("i", IntegerType, Seq(Int.MinValue, Int.MaxValue, 0, -1, 1)),
    ("k", LongType, Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)),
    ("dt", DateType, Seq(-1, 0, 1, -365, 365)),
    ("ts", TimestampType, Seq(-1L, 0L, 1L, -86400000000L, 86400000000L)),
    ("ntz", TimestampNTZType, Seq(-1L, 0L, 1L, -86400000000L, 86400000000L)),
    ("f", BooleanType, Seq(true, false)))

  private val nRows = 60

  /** Row `j`'s value in each column: the column's edges in turn, then a NULL. */
  private def cell(vs: Seq[Any], j: Int): Any =
    if (j % (vs.size + 1) == vs.size) null else vs(j % (vs.size + 1))

  /** The edge table in parquet, so the filters run in generated code over a
    * scan rather than being folded into a local relation. */
  private lazy val edges: DataFrame = {
    val st = StructType(StructField("j", IntegerType) +:
      edgeValues.map { case (c, t, _) => StructField(c, t) })
    val rows = (0 until nRows).map { j =>
      Row.fromSeq(j +: edgeValues.map { case (_, t, vs) =>
        CatalystTypeConverters.convertToScala(cell(vs, j), t) })
    }
    val dir = Files.createTempDirectory("graft_param_edges").resolve("e").toString
    spark.createDataFrame(rows.asJava, st).coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Spark's ordering of two non-null values: NaN equals NaN and sorts above
    * every other value, -0.0 equals 0.0. */
  private def cmp(t: DataType, a: Any, b: Any): Int = t match {
    case DoubleType =>
      val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case FloatType =>
      val (x, y) = (a.asInstanceOf[Float], b.asInstanceOf[Float])
      if (x == y) 0 else java.lang.Float.compare(x, y)
    case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case IntegerType | DateType => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case _ => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  private val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] = Seq(
    ("=", _ === _, _ == 0), ("!=", _ =!= _, _ != 0), ("<", _ < _, _ < 0),
    ("<=", _ <= _, _ <= 0), (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0))

  private def lit(v: Any, t: DataType): Column = GraftBridge.column(Literal(v, t))

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(60), p)
    assert(r.passed, r.status.toString)
  }

  test("comparisons and IN lists with parameter operands match Scala at edge values") {
    val cases = for {
      (c, t, vs) <- Gen.oneOf(edgeValues)
      v <- Gen.oneOf(vs)
      w <- Gen.oneOf(vs)
      (name, op, holds) <- Gen.oneOf(ops)
    } yield (c, t, vs, v, w, name, op, holds)
    check(Prop.forAll(cases) { case (c, t, vs, v, w, name, op, holds) =>
      // the comparison both filters (FilterExec) and is projected (ProjectExec)
      val got = edges.where(op(col(c), lit(v, t)))
        .select(col("j"), op(col(c), lit(w, t)).as("p"), col(c).isin(lit(v, t), lit(w, t)).as("in"))
        .collect().map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)))).toSeq.sortBy(_._1)
      val vals = (0 until nRows).map(j => j -> cell(vs, j))
      val want = vals.collect { case (j, x) if x != null && holds(cmp(t, x, v)) =>
        (j, Some(holds(cmp(t, x, w))), Some(cmp(t, x, v) == 0 || cmp(t, x, w) == 0)) }
      Prop(got == want) :| s"$c $name ${Literal(v, t)} / ${Literal(w, t)}: $got != $want"
    })
  }

  test("arithmetic with parameter operands matches Scala at floating-point edges") {
    val ds = edgeValues.head._3.map(_.asInstanceOf[Double])
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    check(Prop.forAll(Gen.oneOf(ds)) { v =>
      val got = edges.select(col("j"), (col("d") * lit(v, DoubleType)).as("m"),
          (col("d") + lit(v, DoubleType)).as("a"), (lit(v, DoubleType) - col("d")).as("s"))
        .collect().map(r => r.getInt(0) -> Seq(1, 2, 3).map(i => bits(r.get(i)))).toSeq.sortBy(_._1)
      val want = (0 until nRows).map { j =>
        j -> (cell(ds, j) match {
          case null => Seq(null, null, null)
          case x: Double => Seq(x * v, x + v, v - x).map(bits)
        })
      }
      Prop(got == want) :| s"d op $v: $got != $want"
    })
  }

  // ------------------------------------------------ plan text

  private def params(p: SparkPlan): Int =
    p.collect { case n => n.expressions.map(_.collect { case q: ParamLiteral => q }.size).sum }.sum

  private def plain(p: SparkPlan): SparkPlan =
    p.transformAllExpressions { case q: ParamLiteral => q.literal }

  test("the executed plan prints exactly what the inlined literals print; NULL stays a literal") {
    val frames = Seq(
      edges.where(col("k") > lit(5L, LongType) && col("d") =!= lit(Double.NaN, DoubleType))
        .select(col("j"), (col("i") % lit(3, IntegerType)).as("x"),
          (col("dt") === lit(-1, DateType)).as("y")),
      edges.where(col("ts") <= lit(86400000000L, TimestampType) &&
        col("ntz") > lit(-1L, TimestampNTZType) && col("f") === lit(false, BooleanType))
        .select(col("j"), col("fl") >= lit(-0.0f, FloatType)),
      edges.select(col("j"), col("k").isin(lit(1L, LongType), lit(null, LongType)).as("n")))
    frames.foreach { df =>
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(params(p) > 0, p.toString)
      assert(p.toString == plain(p).toString)
    }
    // the NULL of the IN list is a Literal still, and 3-valued logic holds
    val inPlan = frames.last.queryExecution.executedPlan
    assert(inPlan.collect { case n => n.expressions.flatMap(_.collect {
      case l: Literal if l.value == null => l }) }.flatten.nonEmpty, inPlan.toString)
    val got = frames.last.collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    val ks = edgeValues.find(_._1 == "k").get._3
    // k IN (1, NULL) is true for k = 1 and NULL for every other k
    (0 until nRows).foreach { j =>
      assert(got(j) == Some(true).filter(_ => cell(ks, j) == 1L), s"row $j")
    }
  }
}
