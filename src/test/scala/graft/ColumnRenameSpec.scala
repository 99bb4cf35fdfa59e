package graft

import graft.catalog.{ConstraintViolationException, LakeCatalog, SqlGateway}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** RENAME COLUMN and ADD COLUMN over files written on both sides of the
  * change: every read path — current, time travel, copy-on-write and
  * merge-on-read rewrites, DESCRIBE, clones — sees one schema. */
class ColumnRenameSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (LakeCatalog, SqlGateway) = {
    val root = java.nio.file.Files.createTempDirectory("graft_schema").toString
    val cat = new LakeCatalog(spark, root)
    (cat, new SqlGateway(spark, cat))
  }

  /** scratch.t (k, q): rows k = 1..4 with q = k, renamed q → q2, then rows
    * k = 5..8 with q2 = k — one file on each side of the rename. */
  private def renamedTable(): (LakeCatalog, SqlGateway) = {
    val (cat, gw) = fresh()
    cat.createTable("scratch", "t", StructType(Seq(
      StructField("k", LongType), StructField("q", LongType))))
    cat.append("scratch", "t", (1L to 4L).map(i => (i, i)).toDF("k", "q").coalesce(1))
    cat.renameColumn("scratch", "t", "q", "q2")
    cat.append("scratch", "t", (5L to 8L).map(i => (i, i)).toDF("k", "q2").coalesce(1))
    (cat, gw)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  test("a rename rewrites the CHECK constraints over the column") {
    val (cat, gw) = fresh()
    gw.execute("CREATE TABLE scratch.inv (id BIGINT, q BIGINT)")
    gw.execute("ALTER TABLE scratch.inv SET PROPERTY 'check.pos' = 'q >= 0'")
    gw.execute("ALTER TABLE scratch.inv SET PROPERTY 'check.id_pos' = 'id > 0'")
    gw.execute("INSERT INTO scratch.inv VALUES (1, 5)")
    gw.execute("ALTER TABLE scratch.inv RENAME COLUMN q TO q2")

    gw.execute("INSERT INTO scratch.inv VALUES (2, 7)")
    intercept[ConstraintViolationException](gw.execute("INSERT INTO scratch.inv VALUES (3, -1)"))
    val rows = gw.execute("SELECT id, q2 FROM scratch.inv ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 5L), (2L, 7L)))

    val checks = cat.checkConstraints("scratch", "inv")
    assert(checks("pos").matches(""".*\bq2\b.*""") && !checks("pos").matches(""".*\bq\b.*"""),
      checks.toString)
    assert(checks("id_pos") == "id > 0", "a constraint not over the column changed")
    val ddl = gw.execute("SHOW CREATE TABLE scratch.inv").head().getString(0)
    assert(ddl.contains("CONSTRAINT pos CHECK") && ddl.contains("q2 >= 0"), ddl)
  }

  test("time travel reads each snapshot under the schema it was committed with") {
    val (cat, gw) = renamedTable()
    val all = (1L to 8L).map(i => (i, i))
    assert(pairs(cat.loadSnapshot("scratch", "t", 2).select("k", "q2")) == all)
    assert(pairs(gw.execute("SELECT k, q2 FROM scratch.t VERSION AS OF 2")) == all)
    val before = cat.loadSnapshot("scratch", "t", 1)
    assert(before.columns.toSeq == Seq("k", "q"))
    assert(pairs(before) == all.take(4))
    assert(pairs(gw.execute("SELECT k, q2 FROM scratch.t")) == all)
  }

  test("COW DELETE and UPDATE filter on the renamed column across both files") {
    val (_, gw) = renamedTable()
    gw.execute("DELETE FROM scratch.t WHERE q2 <= 2 OR q2 = 6")
    assert(pairs(gw.execute("SELECT k, q2 FROM scratch.t")) ==
      Seq(3L, 4L, 5L, 7L, 8L).map(i => (i, i)))
    gw.execute("UPDATE scratch.t SET q2 = q2 + 100 WHERE q2 IN (3, 7)")
    assert(pairs(gw.execute("SELECT k, q2 FROM scratch.t")) ==
      Seq((3L, 103L), (4L, 4L), (5L, 5L), (7L, 107L), (8L, 8L)))
  }

  test("an equality delete keeps applying after its key column is renamed again") {
    val (cat, gw) = renamedTable()
    assert(cat.deleteWhereEq("scratch", "t", "q2", Seq(2L, 6L)) == 2L)
    val v = cat.headVersion("scratch", "t")
    cat.renameColumn("scratch", "t", "q2", "q3")
    val kept = Seq(1L, 3L, 4L, 5L, 7L, 8L).map(i => (i, i))
    assert(pairs(gw.execute("SELECT k, q3 FROM scratch.t")) == kept)
    assert(pairs(cat.loadSnapshot("scratch", "t", v).select("k", "q2")) == kept)
  }

  test("a bloom index built after a rename covers the files written before it") {
    val (cat, gw) = renamedTable()
    gw.execute("CREATE BLOOM INDEX ON scratch.t (q2)")
    assert(cat.loadBloomPruned("scratch", "t", "q2", 3L).where(col("q2") === 3L).count() == 1)
  }

  test("two ADD COLUMNs both stay, each with its default for older rows") {
    val (cat, gw) = fresh()
    cat.createTable("scratch", "e", StructType(Seq(StructField("id", LongType))))
    cat.append("scratch", "e", Seq(1L).toDF("id"))
    cat.addColumn("scratch", "e", StructField("a", LongType), "7")
    cat.append("scratch", "e", Seq((2L, 20L)).toDF("id", "a"))
    cat.addColumn("scratch", "e", StructField("b", StringType), "'old'")
    cat.append("scratch", "e", Seq((3L, 30L, "new")).toDF("id", "a", "b"))
    val got = cat.load("scratch", "e").select("id", "a", "b").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 7L, "old"), (2L, 20L, "old"), (3L, 30L, "new")))
    assert(cat.describe("scratch", "e").map(_._1) == Seq("id", "a", "b"))
    gw.execute("INSERT INTO scratch.e VALUES (4, 40, 'ins')")
    assert(gw.execute("SELECT b FROM scratch.e WHERE id = 4").head().getString(0) == "ins")
  }

  test("a merge-on-read delete on an evolved table stays deleted") {
    val (cat, gw) = fresh()
    cat.createTable("scratch", "m", StructType(Seq(StructField("id", LongType))))
    cat.append("scratch", "m", Seq(1L, 2L).toDF("id").coalesce(1))
    cat.addColumn("scratch", "m", StructField("tag", StringType), "'legacy'")
    cat.append("scratch", "m", Seq((3L, "fresh"), (4L, "fresh")).toDF("id", "tag").coalesce(1))
    gw.execute("DELETE MOR FROM scratch.m WHERE id IN (1, 4)")
    val got = cat.load("scratch", "m").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((2L, "legacy"), (3L, "fresh")))
    assert(cat.countStar("scratch", "m").contains(2L))
  }

  test("a column added and then renamed keeps its default and its values") {
    val (cat, _) = fresh()
    cat.createTable("scratch", "ar", StructType(Seq(StructField("id", LongType))))
    cat.append("scratch", "ar", Seq(1L).toDF("id"))
    cat.addColumn("scratch", "ar", StructField("z", LongType), "0")
    cat.append("scratch", "ar", Seq((2L, 5L)).toDF("id", "z"))
    cat.renameColumn("scratch", "ar", "z", "z2")
    cat.append("scratch", "ar", Seq((3L, 9L)).toDF("id", "z2"))
    val out = cat.load("scratch", "ar")
    assert(out.columns.toSeq == Seq("id", "z2"))
    assert(pairs(out) == Seq((1L, 0L), (2L, 5L), (3L, 9L)))
  }

  test("DESCRIBE and SHOW CREATE TABLE show the renamed column") {
    val (_, gw) = fresh()
    gw.execute("CREATE TABLE scratch.d (id BIGINT, q BIGINT)")
    gw.execute("INSERT INTO scratch.d VALUES (1, 5)")
    gw.execute("ALTER TABLE scratch.d RENAME COLUMN q TO q2")
    val schema = gw.execute("DESCRIBE TABLE scratch.d").where(col("section") === "schema")
      .select("name", "value").as[(String, String)].collect().toSeq
    assert(schema == Seq(("id", "bigint"), ("q2", "bigint")))
    val ddl = gw.execute("SHOW CREATE TABLE scratch.d").head().getString(0)
    assert(ddl == "CREATE TABLE scratch.d (\n  id BIGINT,\n  q2 BIGINT\n)", ddl)
  }

  test("a clone of a renamed table reads under the renamed schema") {
    val (cat, _) = renamedTable()
    cat.cloneTable("scratch", "t", "c")
    val all = (1L to 8L).map(i => (i, i))
    assert(cat.describe("scratch", "c").map(_._1) == Seq("k", "q2"))
    assert(pairs(cat.load("scratch", "c").select("k", "q2")) == all)
    assert(pairs(cat.loadSnapshot("scratch", "c", 0).select("k", "q2")) == all)
    cat.append("scratch", "c", Seq((9L, 9L)).toDF("k", "q2"))
    assert(pairs(cat.load("scratch", "c").select("k", "q2")) == all :+ ((9L, 9L)))
  }
}
