package graft

import graft.catalog.{ConstraintViolationException, LakeCatalog, SqlGateway}

/** ALTER TABLE … RENAME COLUMN on a column a CHECK constraint reads. */
class ColumnRenameSpec extends SparkSpec {

  test("a rename rewrites the CHECK constraints over the column") {
    val root = java.nio.file.Files.createTempDirectory("graft_rename_check").toString
    val cat = new LakeCatalog(spark, root)
    val gw = new SqlGateway(spark, cat)
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
}
