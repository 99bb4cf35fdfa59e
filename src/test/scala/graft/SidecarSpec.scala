package graft

import java.nio.file.{Files, Path}

import graft.catalog.{LakeCatalog, Sidecar, SqlGateway}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.scalacheck.{Gen, Prop, Test}
import scala.jdk.CollectionConverters._

/** The sidecar codec ([[Sidecar]]): values that the old string-template
  * writers could not carry (quotes, newlines) stay readable, the codec
  * round-trips arbitrary strings, writers keep the legacy byte layout,
  * parsers keep accepting legacy line shapes, and a dropped table leaves
  * no sidecar of any kind behind. */
class SidecarSpec extends SparkSpec {

  private def warehouse(): String =
    Files.createTempDirectory("graft_sidecar").toString

  private def stringTable(cat: LakeCatalog, table: String, cols: String*): Unit =
    cat.createTable("scratch", table,
      StructType(cols.map(c => StructField(c, StringType))))

  // ---------------------------------------- values the templates corrupted

  test("ANALYZE of a value holding a quote keeps SHOW STATS readable") {
    val cat = new LakeCatalog(spark, warehouse())
    stringTable(cat, "t", "name")
    val gw = new SqlGateway(spark, cat)
    gw.execute("""INSERT INTO t VALUES ('a"b')""")
    gw.execute("ANALYZE t (name)")
    val row = gw.execute("SHOW STATS IN t").collect().head
    assert(row.getAs[String]("column") == "name")
    assert(row.getAs[String]("min_v") == "a\"b" && row.getAs[String]("max_v") == "a\"b")
    assert(cat.analyzedColumns("scratch", "t") == Seq("name"))
  }

  test("DELETE EQ on a string key holding a newline removes the row; the table stays readable") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, warehouse())
    stringTable(cat, "t", "k", "v")
    cat.append("scratch", "t", Seq(("x\ny", "1"), ("z", "2")).toDF("k", "v"))
    val gw = new SqlGateway(spark, cat)
    gw.execute("DELETE EQ FROM t WHERE k IN ('x\ny')")
    assert(cat.load("scratch", "t").collect().map(_.getString(0)).toSeq == Seq("z"))
    assert(gw.execute("SELECT COUNT(*) FROM t").head().getLong(0) == 1L)
    assert(cat.countStar("scratch", "t").contains(1L))
  }

  test("CREATE TABLE with a quote in a CHECK property keeps DESCRIBE readable") {
    val cat = new LakeCatalog(spark, warehouse())
    cat.createTable("scratch", "t", StructType(Seq(StructField("s", StringType))),
      properties = Map("check.c" -> "s <> \"x\""))
    val rows = new SqlGateway(spark, cat).execute("DESCRIBE TABLE scratch.t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows.contains(("properties", "check.c", "s <> \"x\"")))
    assert(cat.checkConstraints("scratch", "t") == Map("c" -> "s <> \"x\""))
  }

  test("dropTable removes every sidecar kind, the NDV sketch included") {
    import spark.implicits._
    val root = warehouse()
    val cat = new LakeCatalog(spark, root)
    cat.createTable("scratch", "t", StructType(Seq(StructField("k", LongType),
      StructField("q", DoubleType), StructField("s", StringType))))
    cat.append("scratch", "t",
      (1L to 40L).map(i => (i, i * 1.0, s"s$i")).toDF("k", "q", "s"))
    cat.analyzeTable("scratch", "t", Seq("k"))
    cat.analyzeHistogram("scratch", "t", "q")
    cat.recordBlooms("scratch", "t", "k")
    cat.recordNdvSketch("scratch", "t", "s")
    cat.deleteWhereMor("scratch", "t", col("k") === 1L)
    cat.deleteWhereEq("scratch", "t", "k", Seq(2L))
    cat.tagSnapshot("scratch", "t", "t0", 0)
    cat.renameColumn("scratch", "t", "q", "q2")
    cat.addColumn("scratch", "t", StructField("z", LongType), "0")
    val nsDir = java.nio.file.Paths.get(root, "scratch")
    def sidecars(): Seq[String] = {
      val s = Files.list(nsDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("t_")).toSeq.sorted
      finally s.close()
    }
    assert(sidecars().contains("t_ndv.json"), s"setup wrote no NDV sketch: ${sidecars()}")
    cat.dropTable("scratch", "t")
    assert(sidecars().isEmpty, s"left behind: ${sidecars()}")
  }

  test("a malformed zone-map bound leaves its file must-read for pruneFiles and the optimizer rule") {
    import spark.implicits._
    val root = warehouse()
    val cat = new LakeCatalog(spark, root)
    cat.createTable("scratch", "t", StructType(Seq(StructField("k", LongType))))
    cat.append("scratch", "t", Seq(1L, 2L, 3L).toDF("k").coalesce(1))
    val file = cat.filesMeta("scratch", "t").select("file").head().getString(0)
    // a later line wins: forge one whose k bound is not a number
    Files.writeString(java.nio.file.Paths.get(root, "scratch", "t_filestats.json"),
      s"""{"file":"$file","rows":3,"bounds":{"k":["x",3.0]}}\n""",
      java.nio.file.StandardOpenOption.APPEND)
    assert(cat.fileBounds("scratch", "t")(file).get("k").isEmpty)
    val (read, skipped) = cat.pruneFiles("scratch", "t", "k", 2.0, 2.0)
    assert(read == Seq(file) && skipped.isEmpty)
    val plain = spark.read.parquet(s"$root/scratch/t").where(col("k") === 2L)
    val rule = graft.plans.ZoneMapPruneRule(spark)
    val pruned = rule(plain.queryExecution.analyzed)
    assert(pruned.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
      case _ => Seq.empty
    }.exists(_.endsWith(file)))
    assert(plain.count() == 1L)
  }

  // ----------------------------------------------------------- the codec

  /** Text pieces that stress JSON escaping: quotes, backslashes, control
    * characters, separators JavaScript treats as line ends, non-BMP code
    * points (surrogate pairs), and arbitrary Unicode scalar values. */
  private val piece: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("\"", "\\", "\\\"", "\n", "\r\n", "\t", "\u0000", "\u001f",
      "\u007f", "\u2028", "/", "{", "}", "[", "]", ",", ":", "'", " "),
    3 -> Gen.alphaNumStr,
    2 -> Gen.oneOf(0x1F600, 0x10FFFF, 0x1D11E, 0x20000).map(cp => new String(Character.toChars(cp))),
    2 -> Gen.choose(0, 0x10FFFF).suchThat(cp => cp < 0xD800 || cp > 0xDFFF)
      .map(cp => new String(Character.toChars(cp))))
  private val text: Gen[String] = Gen.listOf(piece).map(_.mkString)

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  private def tmpFile(): Path = {
    val d = Files.createTempDirectory("graft_codec")
    d.resolve("t_x.json")
  }

  test("append then lines round-trips arbitrary strings: a string, a string array, a count map") {
    val p = tmpFile()
    check(Prop.forAll(text, Gen.listOf(text), Gen.mapOf(Gen.zip(text, Gen.choose(0L, Long.MaxValue)))) {
      (s, xs, m) =>
        Sidecar.delete(p)
        val eq = Sidecar.EqDelete(3, Some(s), s, xs, m, None, None, None)
        val stat = Sidecar.ColStat(s, 1L, 0L, 1L, s + "<", ">" + s)
        Sidecar.append(p, Seq(Sidecar.eqDelLine(eq)))
        Sidecar.append(p, Seq(Sidecar.colStatLine(stat)))
        // unset optional fields render as absent, so compare rendered text
        Sidecar.lines(p).map(Sidecar.render) ==
          Seq(Sidecar.eqDelLine(eq), Sidecar.colStatLine(stat)).map(Sidecar.render) &&
          Sidecar.eqDel(p).head == eq && Sidecar.colStats(p)(1) == stat
    })
  }

  test("replace then lines round-trips arbitrary strings: a string, a string array, a string-keyed map") {
    val p = tmpFile()
    check(Prop.forAll(text, Gen.listOf(text), Gen.mapOf(Gen.zip(text, text)),
        Gen.mapOf(Gen.zip(text, Gen.choose(0, Int.MaxValue)))) { (s, xs, props, refs) =>
      val meta = Sidecar.metaLine(s, StructType(Seq(StructField(s, StringType))),
        xs, xs.reverse, props)
      Sidecar.replace(p, Iterator(meta, Sidecar.refsLine(refs)))
      val back = Sidecar.lines(p)
      back == Seq(meta, Sidecar.refsLine(refs)) &&
        Sidecar.meta(back.head) == Sidecar.TableMeta(xs, xs.reverse, props,
          Seq(Sidecar.Schema(0, 0, Seq(Sidecar.Field(1, s, StringType, None)))), 0) && {
          Sidecar.replace(p, Iterator(Sidecar.refsLine(refs)))
          Sidecar.refs(p) == refs
        }
    })
  }

  test("a string UTF-8 cannot encode is refused and the file is left as it was") {
    val p = tmpFile()
    Sidecar.replace(p, Iterator(Sidecar.refsLine(Map("main" -> 1))))
    val before = Files.readString(p)
    val lone = Sidecar.colStatLine(Sidecar.ColStat("c\uD800", 1, 0, 1, "", ""))
    intercept[java.nio.charset.CharacterCodingException](Sidecar.append(p, Seq(lone)))
    intercept[java.nio.charset.CharacterCodingException](Sidecar.replace(p, Iterator(lone)))
    assert(Files.readString(p) == before)
    assert(!Files.exists(p.resolveSibling(p.getFileName.toString + ".tmp")))
  }

  test("writers render the legacy byte layout for plain values") {
    def r(j: JValue) = Sidecar.render(j)
    assert(r(Sidecar.logLine(3, 2, Some(7L), Some("tk"), Seq("a.parquet", "b.parquet"))) ==
      """{"v":3,"parent":2,"batch":7,"token":"tk","files":["a.parquet","b.parquet"]}""")
    assert(r(Sidecar.logLine(0, -1, None, None, Seq.empty)) == """{"v":0,"parent":-1,"files":[]}""")
    assert(r(Sidecar.refsLine(Map("main" -> 4, "b" -> 2))) == """{"b":2,"main":4}""")
    assert(r(Sidecar.fileStatLine("f", 10L, 640L, Some(1),
      Seq("k" -> (1.0, 2.5), "q" -> (-3.0E10, 1.5E-4)))) ==
      """{"file":"f","rows":10,"bytes":640,"schema":1,"bounds":{"k":[1.0,2.5],"q":[-3.0E10,1.5E-4]}}""")
    assert(r(Sidecar.histLine(Sidecar.HistBucket("q", 1, 0.0, 100.0, 7L))) ==
      """{"column":"q","bucket":1,"lo":0.0,"hi":100.0,"rows":7}""")
    assert(r(Sidecar.colStatLine(Sidecar.ColStat("k", 5, 1, 4, "1", "9"))) ==
      """{"col":"k","n_rows":5,"n_nulls":1,"ndv":4,"min":"1","max":"9"}""")
    assert(r(Sidecar.dvLine(Sidecar.DvLine(2, Some("tk"), "f", Seq(3L, 1L), None, Map.empty))) ==
      """{"v":2,"token":"tk","file":"f","pos":[3,1]}""")
    assert(r(Sidecar.dvLine(Sidecar.DvLine(0, None, "", Seq.empty, Some("ns/t_deletes/dv-1"),
      Map("g" -> 2L, "f" -> 1L)))) == """{"v":0,"ref":"ns/t_deletes/dv-1","nfiles":{"f":1,"g":2}}""")
    assert(r(Sidecar.eqDelLine(Sidecar.EqDelete(4, Some("tk"), "k", Seq("7", "8"),
      Map("f" -> 2L), None, None, None))) ==
      """{"v":4,"token":"tk","col":"k","vals":["7","8"],"files":{"f":2}}""")
    assert(r(Sidecar.eqDelLine(Sidecar.EqDelete(0, None, "k", Seq.empty, Map.empty,
      Some(1), Some(Seq("f")), Some("ns/t_deletes/eq-1")))) ==
      """{"v":0,"col":"k","ref":"ns/t_deletes/eq-1","files":{},"scope":1,"applies":["f"]}""")
    assert(r(Sidecar.metaLine("ns.t", StructType(Seq(StructField("id", LongType, nullable = false))),
      Seq("id"), Seq("id asc"), Map("b" -> "2", "a" -> "1"))) ==
      """{"table":"ns.t","schemas":[{"id":0,"since":0,"fields":""" +
        """[{"id":1,"name":"id","type":"long"}]}],"current_schema":0,""" +
        """"partition_spec":["id"],"sort_order":["id asc"],"properties":{"a":"1","b":"2"}}""")
    assert(r(Sidecar.bloomLine("f", "k", "i", 64, 4, "AAAA")) ==
      """{"file":"f","column":"k","vtype":"i","m":64,"k":4,"packed":"AAAA"}""")
    assert(r(Sidecar.ndvLine(Sidecar.NdvSketch("f", "k", 2, Seq(5L, 9L)))) ==
      """{"file":"f","col":"k","k":2,"mins":[5,9]}""")
    assert(r(Sidecar.hiddenSpecLine("bucket", "k", 8)) == """{"transform":"bucket","source":"k","n":8}""")
  }

  test("parsers accept the legacy line shapes") {
    val p = tmpFile()
    def write(text: String): Unit = Files.writeString(p, text)
    // log lines from before the parent pointer
    write("""{"v":0,"files":[]}""" + "\n" + """{"v":1,"batch":-1,"files":["a"]}""" + "\n")
    assert(Sidecar.log(p).map(e => (e.v, e.parent, e.batch, e.token)) ==
      Seq((0, -1, None, None), (1, 0, Some(-1L), None)))
    // untokened DV line
    write("""{"v":0,"file":"f","pos":[0,2]}""")
    assert(Sidecar.dv(p) == Seq(Sidecar.DvLine(0, None, "f", Seq(0L, 2L), None, Map.empty)))
    // equality-delete line without scope: the scope is its version
    write("""{"v":5,"col":"k","vals":["1"],"files":{"f":1}}""")
    assert(Sidecar.eqDel(p).map(_.scopeV) == Seq(5))
    // bloom line with the bits list instead of packed words
    write("""{"file":"f","column":"k","m":128,"k":2,"bits":[0,65,127]}""")
    val b = Sidecar.blooms(p).head
    assert(b.vtype == "i" && b.words.toSeq == Seq(1L, (1L << 1) | (1L << 63)))
    // a one-object file without a trailing newline (refs, meta)
    write("""{"main":3}""")
    assert(Sidecar.refs(p) == Map("main" -> 3))
    // absent file
    assert(Sidecar.lines(p.resolveSibling("absent.json")).isEmpty)
  }
}
