package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime}

import scala.jdk.CollectionConverters._

import graft.catalog.{ConstraintViolationException, LakeCatalog, Sidecar, SqlGateway}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The driver-written one-row INSERT reads back like a Spark-written append
  * of the same row, and MERGE keeps its upsert semantics at the edges: NULL
  * keys, no match, a full match and rows deleted by a deletion vector. */
class LakeWriteSpec extends SparkSpec {

  private def fresh(name: String): (String, LakeCatalog, SqlGateway) = {
    val root = Files.createTempDirectory(name).toString
    val cat = new LakeCatalog(spark, root)
    (root, cat, new SqlGateway(spark, cat))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** One column per type the gateway coerces an INSERT literal to. */
  private val typed = StructType(Seq(
    StructField("b", LongType), StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("f", BooleanType),
    StructField("ts", TimestampType), StructField("tz", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("n", StringType)))

  test("a driver-written INSERT reads back like a Spark-written append of the same row") {
    val (_, cat, gw) = fresh("graft_insert_parity")
    cat.createTable("w", "driver", typed)
    cat.createTable("w", "spark", typed)
    // the column spec leaves `n` out: it lands as NULL
    gw.execute("INSERT INTO w.driver (b, i, d, s, f, ts, tz, ntz) VALUES " +
      "(5000000000, 7, 2.5, 'x, y', true, '2024-03-01 10:00:00', " +
      "'2024-03-01T10:00:00+02:00', '2024-03-01 10:00:00')").collect()
    val row = Row(5000000000L, 7, 2.5, "x, y", true,
      Timestamp.from(Instant.parse("2024-03-01T10:00:00Z")),
      Timestamp.from(Instant.parse("2024-03-01T08:00:00Z")),
      LocalDateTime.parse("2024-03-01T10:00:00"), null)
    cat.append("w", "spark", spark.createDataFrame(java.util.List.of(row), typed))
    assert(cat.load("w", "driver").collect().toSeq == Seq(row))

    typed.fieldNames.foreach { c =>
      assert(rows(gw.execute(s"SELECT $c FROM w.driver")) ==
        rows(gw.execute(s"SELECT $c FROM w.spark")), c)
    }
    assert(rows(gw.execute("SELECT * FROM w.driver")) == rows(gw.execute("SELECT * FROM w.spark")))
    // the COUNT(*) fast path answers from the recorded stats of both files
    assert(cat.countStar("w", "driver") == Some(1L) && cat.countStar("w", "spark") == Some(1L))
    assert(rows(gw.execute("SELECT COUNT(*) FROM w.driver")) == Seq("[1]"))
    def fileRows(t: String): Seq[Long] = gw.execute(s"SHOW FILES IN w.$t")
      .select(col("row_count")).collect().map(_.getLong(0)).toSeq.sorted
    assert(fileRows("driver") == fileRows("spark") && fileRows("driver").sum == 1L)
    val v = cat.headVersion("w", "driver")
    assert(v == cat.headVersion("w", "spark"))
    assert(rows(gw.execute(s"SELECT * FROM w.driver VERSION AS OF $v")) ==
      rows(gw.execute(s"SELECT * FROM w.spark VERSION AS OF $v")))
    assert(gw.execute(s"SELECT COUNT(*) FROM w.driver VERSION AS OF ${v - 1}").head().getLong(0) == 0L)

    // a full-arity INSERT takes the same path
    gw.execute("INSERT INTO w.driver VALUES (1, 2, 3, 'z', false, '2024-01-02', " +
      "'2024-01-02T00:00:00Z', '2024-01-02 03:04:05', null)").collect()
    cat.append("w", "spark", spark.createDataFrame(java.util.List.of(Row(1L, 2, 3.0, "z", false,
      Timestamp.from(Instant.parse("2024-01-02T00:00:00Z")),
      Timestamp.from(Instant.parse("2024-01-02T00:00:00Z")),
      LocalDateTime.parse("2024-01-02T03:04:05"), null)), typed))
    assert(rows(gw.execute("SELECT * FROM w.driver")) == rows(gw.execute("SELECT * FROM w.spark")))
    assert(cat.countStar("w", "driver") == Some(2L))
    assert(cat.orphanFiles("w", "driver").isEmpty)
  }

  test("an INSERT after ADD COLUMN records the new schema id and reads back its value") {
    val (root, cat, gw) = fresh("graft_insert_evolved")
    cat.createTable("w", "t", StructType(Seq(StructField("k", LongType))))
    gw.execute("INSERT INTO w.t VALUES (1)").collect()
    cat.addColumn("w", "t", StructField("q", StringType), "'none'")
    gw.execute("INSERT INTO w.t VALUES (2, 'two')").collect()
    val ns = Paths.get(root).resolve("w")
    val current = Sidecar.meta(Sidecar.metaObject(Sidecar.path(ns, "t", Sidecar.Meta)).get).currentSchema
    assert(current == 1)
    val newest = cat.snapshots("w", "t").last._2.toSet -- cat.snapshots("w", "t").init.last._2
    val ids = Sidecar.fileStats(Sidecar.path(ns, "t", Sidecar.FileStats))
      .filter(s => newest(s.file)).map(_.schema)
    assert(ids == Seq(Some(current)), s"schema ids of the new file: $ids")
    assert(rows(gw.execute("SELECT k, q FROM w.t")) == Seq("[1,none]", "[2,two]"))
  }

  test("an INSERT that violates a CHECK constraint writes no file") {
    val (root, cat, gw) = fresh("graft_insert_check")
    cat.createTable("w", "c", StructType(Seq(StructField("k", LongType), StructField("q", LongType))),
      properties = Map("check.pos" -> "q >= 0"))
    gw.execute("INSERT INTO w.c VALUES (1, 5)").collect()
    // NULL passes a CHECK constraint
    gw.execute("INSERT INTO w.c (k) VALUES (2)").collect()
    def parquet(): Set[String] = {
      val s = Files.list(Paths.get(root, "w", "c"))
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val before = parquet()
    val head = cat.headVersion("w", "c")
    val e = intercept[ConstraintViolationException](
      gw.execute("INSERT INTO w.c VALUES (3, -1)").collect())
    assert(e.getMessage.contains("pos"))
    assert(parquet() == before)
    assert(cat.orphanFiles("w", "c").isEmpty)
    assert(cat.headVersion("w", "c") == head)
    assert(rows(cat.load("w", "c")) == Seq("[1,5]", "[2,null]"))
  }

  // ---------------------------------------------------------------- MERGE

  private val kv = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))

  private def frame(rs: Seq[(java.lang.Long, String)]): DataFrame =
    spark.createDataFrame(java.util.List.of(rs.map { case (k, v) => Row(k, v) }: _*), kv)

  /** MERGE by `k` in Scala: the source keeps its greatest row per key (a
    * NULL key is one group), a target row survives when its key is NULL or
    * absent from the source, and every source row lands. */
  private def expected(target: Seq[(java.lang.Long, String)],
                       source: Seq[(java.lang.Long, String)]): Seq[String] = {
    val winners = source.groupBy(_._1).values
      .map(_.maxBy(r => Option(r._2).getOrElse(""))).toSeq
    val keys = source.flatMap(r => Option(r._1)).toSet
    val survivors = target.filter(r => r._1 == null || !keys(r._1))
    (survivors ++ winners).map { case (k, v) => Row(k, v).toString }.sorted
  }

  private def mergeCase(name: String, target: Seq[(java.lang.Long, String)],
                        source: Seq[(java.lang.Long, String)]): (LakeCatalog, Seq[String]) = {
    val (_, cat, _) = fresh(s"graft_merge_$name")
    cat.createTable("m", "t", kv)
    val empty = cat.snapshots("m", "t").last._2
    cat.append("m", "t", frame(target).coalesce(1))
    val written = cat.snapshots("m", "t").last._2.diff(empty)
    cat.merge("m", "t", frame(source), "k")
    assert(rows(cat.load("m", "t")) == expected(target, source), name)
    (cat, written)
  }

  private def k(n: Long): java.lang.Long = n

  test("merge: a NULL key matches nothing, on either side") {
    mergeCase("null_key", Seq((k(1), "a"), (null, "t"), (k(2), "b")),
      Seq((null, "s"), (k(1), "a2"), (null, "r")))
  }

  test("merge: a source that matches no key rewrites no target file") {
    val (cat, written) = mergeCase("no_match", Seq((k(1), "a"), (k(2), "b")),
      Seq((k(8), "h"), (k(9), "i")))
    assert(written.forall(cat.snapshots("m", "t").last._2.contains))
  }

  test("merge: a source that matches every key replaces every row") {
    val (cat, written) = mergeCase("all_match", Seq((k(1), "a"), (k(2), "b"), (k(3), "c")),
      Seq((k(3), "c2"), (k(1), "a2"), (k(2), "b2")))
    assert(!written.exists(cat.snapshots("m", "t").last._2.contains))
  }

  test("merge: target rows deleted by a deletion vector stay deleted") {
    val (_, cat, _) = fresh("graft_merge_dv")
    val target = (1L to 6L).map(n => (k(n), s"v$n"))
    cat.createTable("m", "t", kv)
    cat.append("m", "t", frame(target).coalesce(1))
    assert(cat.deleteWhereMor("m", "t", col("k").isin(2L, 5L)) == 2L)
    val source = Seq((k(2), "back"), (k(3), "new3"), (k(7), "new7"))
    cat.merge("m", "t", frame(source), "k")
    val visible = target.filterNot(r => r._1 == 2L || r._1 == 5L)
    assert(rows(cat.load("m", "t")) == expected(visible, source))
    assert(cat.countStar("m", "t") == Some(expected(visible, source).size.toLong))
  }
}
