package graft

import graft.catalog.{CommitConflictException, LakeCatalog, SqlGateway}
import graft.ops.Graph
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 hardening invariants: the r8 review findings — DV commit-token
  * orphan inertness under a lost CAS, single-evaluation constraint checks on
  * the whole write path, the gateway's stale-view drop, the MV refresh
  * read-merge-replace CAS + durable-batch-id checkpoint — and the graph
  * substrate's de-funneled top-decile selection (histogram threshold, no
  * GlobalLimit, exact rank identity). */
class Round9Spec extends SparkSpec {

  private def scratch: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"

  // ------------------------------------------------- topKByRank identity

  /** The rank form the threshold selection must reproduce exactly. */
  private def rankForm(pairs: org.apache.spark.sql.DataFrame, k: Long) =
    pairs.orderBy(col("shared").desc, col("lo"), col("hi"))
      .limit(k.toInt).select("lo", "hi")

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("topKByRank == orderBy.limit on tie-heavy random frames at every cut class") {
    import spark.implicits._
    // Zipf-ish supports: heavy tie bands so most cuts land INSIDE a band
    val rng = new scala.util.Random(41)
    val rows = (1 to 4000).map { i =>
      val lo = rng.nextInt(400).toLong
      val hi = lo + 1 + rng.nextInt(400).toLong
      (lo, hi)
    }.distinct.zipWithIndex.map { case ((lo, hi), i) =>
      (lo, hi, 1L + (i % 7 match { case 0 => 0; case 1 | 2 => 1; case _ => 2 }))
    }
    val pairs = rows.toDF("lo", "hi", "shared")
    val n = pairs.count()
    // k classes: tiny, decile, mid (certainly inside the big tie band),
    // boundary-aligned (all of a band), n-1, n, >n
    val histo = rows.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val topBand = histo.keys.max
    val kBoundary = histo(topBand) // exactly the whole top band
    for (k <- Seq(1L, (n + 9) / 10, n / 2, kBoundary, n - 1, n, n + 5)) {
      val got = asSet(Graph.topKByRank(pairs, k))
      val want = asSet(rankForm(pairs, k))
      assert(got == want, s"k=$k: threshold form diverges from rank form " +
        s"(${got.size} vs ${want.size} rows, diff ${(got diff want).take(3)})")
    }
    // degenerate: k <= 0 selects nothing
    assert(Graph.topKByRank(pairs, 0).count() == 0)
  }

  test("coSupplyEdges matches the rank form and plans without GlobalLimit") {
    val edges = Graph.coSupplyEdges(spark, sfDir)
    val plan = edges.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalLimit"),
      "coSupplyEdges regressed to a single-partition GlobalLimit")
    // exact identity against the rank form it replaced
    val ps = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val pairs = ps.as("a").join(ps.as("b"),
        col("a.l_partkey") === col("b.l_partkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .groupBy(col("a.l_suppkey").as("lo"), col("b.l_suppkey").as("hi"))
      .agg(count(lit(1)).as("shared"))
    val k = (pairs.count() + 9) / 10
    assert(asSet(edges) == asSet(rankForm(pairs, k)),
      "de-funneled edge set differs from the historical rank-based set")
  }

  // --------------------------------------- DV commit tokens (lost-CAS orphans)

  test("an orphan DV line whose version a later commit reuses stays inert") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "dv_tok")
    cat.createTable("scratch", "dv_tok", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))))
    cat.append("scratch", "dv_tok",
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "q"))
    val file = cat.filesMeta("scratch", "dv_tok")
      .select("file").head().getString(0)
    // forge the failed-transaction residue: DV lines pre-allocated for the
    // NEXT version, tagged with a token that will never reach the log
    // (exactly what a CommitConflictException leaves behind)
    val nextV = cat.snapshots("scratch", "dv_tok").map(_._1).max + 1
    val dvPath = java.nio.file.Paths.get(
      s"$scratch/scratch/dv_tok_dv.json")
    java.nio.file.Files.writeString(dvPath,
      s"""{"v":$nextV,"token":"lost-cas-orphan","file":"$file","pos":[0,1,2,3,4]}\n""",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    // a DIFFERENT transaction claims that version number
    cat.append("scratch", "dv_tok", Seq((100L, 100.0)).toDF("k", "q"))
    assert(cat.headVersion("scratch", "dv_tok") == nextV,
      "test setup: the appended commit should reuse the orphan's version")
    // pre-fix: the orphan's 5 positions would now read as live deletes
    assert(cat.load("scratch", "dv_tok").count() == 51,
      "orphan DV line from a lost CAS was adopted by an unrelated commit — silent row loss")
    // metadata-only COUNT(*) agrees (countStar consults the same liveness)
    assert(cat.countStar("scratch", "dv_tok").contains(51L))
    // a REAL MOR delete still works, and its lines are token-matched to the log
    val n = cat.deleteWhereMor("scratch", "dv_tok", col("k") <= 10)
    assert(n == 10 && cat.load("scratch", "dv_tok").count() == 41)
    val dvText = java.nio.file.Files.readString(dvPath)
    val logText = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$scratch/scratch/dv_tok_snapshots.json"))
    val tok = """"token":"([0-9a-f-]{36})"""".r.findFirstMatchIn(dvText)
      .map(_.group(1)).getOrElse(fail("real MOR delete wrote no token"))
    assert(logText.contains(s""""token":"$tok""""),
      "MOR commit did not record its token in the snapshot log")
    // legacy untokened lines with a committed version stay honored: mark
    // the still-live (100, 100.0) row — the single-row file of the last append
    val lastFile = cat.filesMeta("scratch", "dv_tok")
      .where(col("added_in") === nextV).select("file").head().getString(0)
    java.nio.file.Files.writeString(dvPath,
      s"""{"v":0,"file":"$lastFile","pos":[0]}\n""",
      java.nio.file.StandardOpenOption.APPEND)
    assert(cat.load("scratch", "dv_tok").count() == 40,
      "pre-token legacy DV line lost its effect")
    cat.dropTable("scratch", "dv_tok")
  }

  test("clone inherits only LIVE source DV lines (orphans do not activate)") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "dv_src")
    cat.dropTable("scratch", "dv_dst")
    cat.createTable("scratch", "dv_src", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))))
    cat.append("scratch", "dv_src",
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "q"))
    assert(cat.deleteWhereMor("scratch", "dv_src", col("k") <= 5) == 5)
    val file = cat.filesMeta("scratch", "dv_src")
      .select("file").head().getString(0)
    // orphan residue in the SOURCE sidecar (never-committed token)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$scratch/scratch/dv_src_dv.json"),
      s"""{"v":99,"token":"never-committed","file":"$file","pos":[10,11,12]}\n""",
      java.nio.file.StandardOpenOption.APPEND)
    cat.cloneTable("scratch", "dv_src", "dv_dst")
    assert(cat.load("scratch", "dv_dst").count() == 25,
      "clone resurrected or over-deleted: live-DV inheritance broken")
    cat.dropTable("scratch", "dv_src")
    cat.dropTable("scratch", "dv_dst")
  }

  test("expiry folds valid expired-version DV lines; deletes never resurrect") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "dv_exp")
    cat.createTable("scratch", "dv_exp", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))))
    cat.append("scratch", "dv_exp",
      (1L to 40L).map(i => (i, i * 1.0)).toDF("k", "q"))
    assert(cat.deleteWhereMor("scratch", "dv_exp", col("k") <= 8) == 8)
    // a lost-CAS orphan sits in the sidecar too: pre-allocated for the
    // NEXT version, which the following append then takes untokened —
    // exactly the residue a failed CAS leaves. Expiry must sweep it.
    val file = cat.filesMeta("scratch", "dv_exp").select("file").head().getString(0)
    val orphanV = cat.snapshots("scratch", "dv_exp").map(_._1).max + 1
    val dvp = java.nio.file.Paths.get(s"$scratch/scratch/dv_exp_dv.json")
    java.nio.file.Files.writeString(dvp,
      s"""{"v":$orphanV,"token":"lost-cas-orphan","file":"$file","pos":[20,21]}\n""",
      java.nio.file.StandardOpenOption.APPEND)
    // several more commits push the MOR-delete version out of the window
    (1 to 4).foreach(i =>
      cat.append("scratch", "dv_exp", Seq((100L + i, 1.0)).toDF("k", "q")))
    assert(cat.load("scratch", "dv_exp").count() == 36)
    cat.expireSnapshots("scratch", "dv_exp", keep = 2)
    // pre-fix: the delete's log line is gone, its tokened DV lines stop
    // validating, and the 8 rows resurrect (count 44); the fold keeps them
    assert(cat.load("scratch", "dv_exp").count() == 36,
      "expired MOR delete resurrected")
    assert(cat.countStar("scratch", "dv_exp").contains(36L))
    val sidecar = java.nio.file.Files.readString(dvp)
    assert(!sidecar.contains("lost-cas-orphan"),
      "expiry did not sweep the orphan DV line")
    // a fresh MOR delete still composes on the folded baseline
    assert(cat.deleteWhereMor("scratch", "dv_exp", col("k") === 9L) == 1)
    assert(cat.load("scratch", "dv_exp").count() == 35)
    cat.dropTable("scratch", "dv_exp")
  }

  // ------------------------------- write-path single evaluation + overwrite CAS

  test("append/overwrite evaluate a constrained input exactly once") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "ck_once")
    cat.createTable("scratch", "ck_once", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))),
      properties = Map("check.pos" -> "q >= 0"))
    val evals = spark.sparkContext.longAccumulator("evals")
    def freshDf() = spark.range(0, 100).as[Long]
      .map { i => evals.add(1); (i, i * 2.0) }.toDF("k", "q")
    evals.reset()
    cat.append("scratch", "ck_once", freshDf())
    assert(evals.value == 100,
      s"append evaluated the constrained input ${evals.value / 100.0}x (want 1x)")
    evals.reset()
    cat.overwrite("scratch", "ck_once", freshDf())
    assert(evals.value == 100,
      s"overwrite evaluated the constrained input ${evals.value / 100.0}x (want 1x)")
    // refusal still atomic: a violating overwrite leaves content untouched
    val before = cat.load("scratch", "ck_once").count()
    intercept[graft.catalog.ConstraintViolationException] {
      cat.overwrite("scratch", "ck_once",
        Seq((1L, -5.0)).toDF("k", "q"))
    }
    assert(cat.load("scratch", "ck_once").count() == before)
    cat.dropTable("scratch", "ck_once")
  }

  test("overwrite with a stale expectedBase fails the CAS without publishing") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "ow_cas")
    cat.createTable("scratch", "ow_cas", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))))
    cat.append("scratch", "ow_cas", Seq((1L, 1.0)).toDF("k", "q"))
    val base = cat.headVersion("scratch", "ow_cas")
    // concurrent writer lands between the stale reader's read and replace
    cat.append("scratch", "ow_cas", Seq((2L, 2.0)).toDF("k", "q"))
    intercept[CommitConflictException] {
      cat.overwrite("scratch", "ow_cas",
        Seq((9L, 9.0)).toDF("k", "q"), expectedBase = Some(base))
    }
    // the concurrent writer's rows survived (no lost update)
    assert(cat.load("scratch", "ow_cas").count() == 2)
    cat.dropTable("scratch", "ow_cas")
  }

  // ----------------------------------------------- gateway stale-view drop

  test("a table that stops loading surfaces as NOT_FOUND, never stale data") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    val gw = new SqlGateway(spark, cat)
    cat.dropTable("scratch", "gw_stale")
    cat.dropTable("scratch", "gw_ok")
    cat.createTable("scratch", "gw_stale", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))))
    cat.append("scratch", "gw_stale", Seq((1L, 1.0), (2L, 2.0)).toDF("k", "q"))
    cat.createTable("scratch", "gw_ok", StructType(Seq(
      StructField("k", LongType))))
    cat.append("scratch", "gw_ok", Seq(Tuple1(7L)).toDF("k"))
    // first SELECT registers the temp views and serves rows
    assert(gw.execute("SELECT COUNT(*) AS n FROM scratch_gw_stale")
      .head().getLong(0) == 2)
    // the table's current generation goes unreadable (corrupt footer)
    val dir = java.nio.file.Paths.get(s"$scratch/scratch/gw_stale")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => java.nio.file.Files.writeString(p, "not parquet anymore"))
    // pre-fix: the catch left the OLD view registered and this query served
    // the previous generation's rows. Now the stale view is dropped and the
    // failure names the table.
    val e = intercept[Exception] {
      gw.execute("SELECT COUNT(*) AS n FROM scratch_gw_stale").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND")
        || e.getMessage.toLowerCase.contains("not found"),
      s"expected NOT_FOUND, got: ${e.getMessage.take(200)}")
    // the COUNT(*) fast path sees the files' sizes moved since their commit
    // and leaves the answer to the scan, which fails the same way
    val e2 = intercept[Exception] {
      gw.execute("SELECT COUNT(*) FROM scratch.gw_stale").collect()
    }
    assert(e2.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e2.getMessage.take(200))
    // containment: other tables in the same warehouse still answer
    assert(gw.execute("SELECT COUNT(*) AS n FROM scratch_gw_ok")
      .head().getLong(0) == 1)
    cat.dropTable("scratch", "gw_stale")
    cat.dropTable("scratch", "gw_ok")
  }

  // ----------------------------------------------- string-keyed bloom skip

  test("string-key blooms: zone maps prune 0, blooms prune N, rule + verb agree") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    val gw = new SqlGateway(spark, cat)
    cat.dropTable("scratch", "sb_spec")
    cat.createTable("scratch", "sb_spec", StructType(Seq(
      StructField("name", StringType), StructField("v", LongType))))
    // SCATTERED string keys: round-robin layout, names uncorrelated with
    // any numeric bounds — the class only a string bloom can prune
    cat.append("scratch", "sb_spec",
      (1L to 8000L).map(i => (s"user-$i", i)).toDF("name", "v").repartition(8))
    gw.execute("CREATE BLOOM INDEX ON scratch.sb_spec (name)")
    // zone maps know nothing about string columns: 0 pruned
    val (_, zoneDropped) = cat.pruneFiles("scratch", "sb_spec", "name", 0.0, 0.0)
    assert(zoneDropped.isEmpty, "zone maps cannot prune string keys")
    // API probe: present key reads a strict subset; absent key skips all 8
    val (readP, skipP) = cat.bloomPruneString("scratch", "sb_spec", "name", "user-42")
    assert(skipP.nonEmpty && readP.nonEmpty,
      s"present-key probe did not prune: read ${readP.size}, skip ${skipP.size}")
    val (readA, skipA) = cat.bloomPruneString("scratch", "sb_spec", "name", "no-such")
    assert(readA.isEmpty && skipA.size == 8,
      s"absent-key probe left ${readA.size} files unproven")
    // the injected rule prunes a plain parquet read on a string equality
    val dirPath = s"$scratch/scratch/sb_spec"
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length
      }.sum
    val total = scannedFiles(spark.read.parquet(dirPath))
    val ruled = spark.read.parquet(dirPath).where(col("name") === "user-42")
    assert(scannedFiles(ruled) < total,
      s"rule's string-bloom arm did not prune (${scannedFiles(ruled)} of $total)")
    assert(ruled.count() == 1L, "string-bloom pruning changed the result")
    val absent = spark.read.parquet(dirPath).where(col("name") === "no-such")
    assert(scannedFiles(absent) == 1, "absent string key should keep 1 survivor")
    assert(absent.count() == 0L)
    // EXPLAIN PRUNING reports the same decisions on a string predicate
    val verb = gw.execute(
      "EXPLAIN PRUNING scratch.sb_spec WHERE name = 'no-such'").collect()
    val pruned = verb.count(_.getAs[String]("action") == "pruned")
    assert(pruned == 8,
      s"verb pruned $pruned files, expected 8: ${verb.mkString(";").take(300)}")
    assert(verb.exists(r => Option(r.getAs[String]("detail"))
        .exists(_.contains("bloom(name): key absent"))),
      "verb detail does not name the string-bloom drop")
    cat.dropTable("scratch", "sb_spec")
  }

  // ---------------------------------------- CBO routing reaches the planner

  test("a gateway SELECT flips join strategy across the selectivity threshold") {
    import graft.plans.CboRouteRule
    val df = graft.ops.CatalogOps9.cCboPlanner(spark, sfDir)
    val row = df.head()
    assert(row.getAs[String]("planned_narrow") == "broadcast",
      "narrow predicate did not plan a broadcast join")
    assert(row.getAs[String]("planned_wide") == "shuffle",
      "wide predicate did not plan a shuffle join — the rule's SHUFFLE_MERGE " +
        "pin is not reaching the planner (size-guess would broadcast here)")
    assert(row.getAs[Boolean]("decisions_agree"),
      "planner-recorded decisions diverge from EXPLAIN ROUTE's report")
    // route-invariance: the routed results equal the direct unrouted join
    val cust = Tables.table(spark, sfDir, "customer")
    val ords = Tables.table(spark, sfDir, "orders")
    def direct(hi: Double) = ords.join(cust,
        col("c_custkey") === col("o_custkey") &&
          col("c_acctbal") >= 0.0 && col("c_acctbal") < hi)
      .agg(count(lit(1))).head().getLong(0)
    assert(row.getAs[Long]("rows_narrow") == direct(1000.0))
    assert(row.getAs[Long]("rows_wide") == direct(8000.0))
    // the rule leaves un-analyzed (foreign) joins untouched: no recorded
    // decision for a plain testdata join
    CboRouteRule.clearApplied()
    ords.join(cust, col("c_custkey") === col("o_custkey"))
      .where(col("c_acctbal") >= 0.0)
      .agg(count(lit(1))).head()
    assert(CboRouteRule.lastApplied.isEmpty,
      "CboRouteRule fired on a table with no stats sidecars")
  }

  // --------------------------------- continuous curation: the near-dup seam

  test("streamed curation catches planted near-dups at the batch seam") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_ndseam_wh"
    val whDir = java.nio.file.Paths.get(wh)
    if (java.nio.file.Files.exists(whDir)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(whDir)
      try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally w.close()
    }
    val cat = new LakeCatalog(spark, wh)
    cat.createTable("scratch", "nd_idx", StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("sig", LongType))))
    cat.createTable("scratch", "nd_verdicts", StructType(Seq(
      StructField("doc_id", LongType), StructField("fp", StringType),
      StructField("n_tok", LongType), StructField("admitted", BooleanType))))
    val a = "the quick brown fox jumps over the lazy dog while the sun is " +
      "setting and the birds of the valley sing to the wind in a calm " +
      "evening of early autumn light"
    val b = "a gentle river flows through the old town and the people walk " +
      "to the market in the morning to buy bread and fruit while it is " +
      "still cool under the tall trees"
    val aNear = a.replace("early autumn light", "late summer glow") // paraphrase of a
    val d = "the engineers of the station check the long tables of numbers " +
      "and it is the duty of each one to confirm that the readings agree " +
      "with the plan of the day"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamOps4.curateStream(
      mem.toDF().toDF("doc_id", "text", "lang")
        .withColumn("event_time", timestamp_seconds(col("doc_id"))),
      cat, "scratch", "nd_idx", "nd_verdicts")
    // batch 1: two originals
    mem.addData(Seq((10L, a, "en"), (20L, b, "en")))
    q.processAllAvailable()
    // batch 2: a paraphrase of doc 10 (near-dup: must quarantine), a novel
    // doc (admit), and an EXACT copy of doc 20 (the watermarked exact-dedup
    // drops it before the screen — no verdict row at all)
    mem.addData(Seq((30L, aNear, "en"), (40L, d, "en"), (50L, b, "en")))
    q.processAllAvailable()
    q.stop()
    val verdicts = cat.load("scratch", "nd_verdicts")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(verdicts == Map(10L -> true, 20L -> true, 30L -> false, 40L -> true),
      s"seam verdicts wrong: $verdicts")
    // foreachBatch delivers at-least-once: a REPLAYED batch id is fenced —
    // verdicts stay exactly-once (the screenBatch replay contract)
    graft.streaming.StreamOps4.screenBatch(
      graft.streaming.StreamOps.gateDocs(
        Seq((10L, a, "en")).toDF("doc_id", "text", "lang")
          .withColumn("event_time", timestamp_seconds(col("doc_id")))),
      cat, "scratch", "nd_idx", "nd_verdicts", batchId = Some(0L))
    assert(cat.load("scratch", "nd_verdicts").count() == 4,
      "replayed batch id was not fenced — duplicate verdicts")
    // the paraphrase was caught against the STREAM-ADMITTED doc's
    // signatures — the index grew at the seam (continuous, not one-shot)
    assert(cat.load("scratch", "nd_idx")
      .select("doc_id").distinct().count() == 3,
      "admitted docs' signatures did not join the index")
    // batch ≡ stream at the seam: the batch composition over batch 2's
    // NOVEL docs, screened against the index as the stream saw it (docs 10
    // and 20 admitted), reproduces the stream's verdicts exactly
    val batchV = graft.streaming.StreamOps4.curateNearDup(
      Seq((30L, aNear, "en"), (40L, d, "en")).toDF("doc_id", "text", "lang")
        .withColumn("event_time", timestamp_seconds(col("doc_id"))),
      cat.load("scratch", "nd_idx").where(col("doc_id").isin(10L, 20L)))
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(batchV.size == 2 && batchV.values.toSeq.sorted == Seq(false, true),
      s"batch composition disagrees with the stream seam: $batchV")
    cat.dropTable("scratch", "nd_idx")
    cat.dropTable("scratch", "nd_verdicts")
  }

  test("estimateRange extrapolates by manifest growth; re-ANALYZE resets it") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "est_stale")
    cat.createTable("scratch", "est_stale", StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    cat.append("scratch", "est_stale",
      (1L to 1000L).map(i => (i, i.toDouble)).toDF("k", "v"))
    cat.analyzeTable("scratch", "est_stale", Seq("v"))
    cat.analyzeHistogram("scratch", "est_stale", "v")
    val e1 = cat.estimateRange("scratch", "est_stale", "v", 0.0, 500.0).get
    // triple the table without re-analyzing: the estimate must track it
    cat.append("scratch", "est_stale",
      (1001L to 3000L).map(i => (i % 1000 + 1, (i % 1000 + 1).toDouble)).toDF("k", "v"))
    val e2 = cat.estimateRange("scratch", "est_stale", "v", 0.0, 500.0).get
    assert(e2 >= e1 * 29 / 10 && e2 <= e1 * 31 / 10,
      s"stale estimate did not extrapolate: $e1 -> $e2 (want ~3x)")
    // a fresh ANALYZE resets the growth factor to 1
    cat.analyzeTable("scratch", "est_stale", Seq("v"))
    cat.analyzeHistogram("scratch", "est_stale", "v")
    val e3 = cat.estimateRange("scratch", "est_stale", "v", 0.0, 500.0).get
    assert(e3 >= e2 * 9 / 10 && e3 <= e2 * 11 / 10,
      s"post-re-ANALYZE estimate inconsistent: $e2 vs $e3")
    cat.dropTable("scratch", "est_stale")
  }

  // ------------------------------------------- MV refresh durability + CAS

  test("refreshMv checkpoints batch ids and the merge carries the CAS base") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = new LakeCatalog(spark, scratch)
    cat.dropTable("scratch", "mv_ck")
    cat.createTable("scratch", "mv_ck", StructType(Seq(
      StructField("cust_bucket", LongType),
      StructField("n", LongType),
      StructField("sum_state", DecimalType(30, 6)))))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mv_ck_spec")
    val q = graft.streaming.StreamOps4.refreshMv(
      mem.toDF().toDF("cust_bucket", "price"),
      cat, "scratch", "mv_ck", checkpointDir = Some(ckpt.toString))
    mem.addData(Seq((1L, 10.0), (2L, 20.0)))
    q.processAllAvailable()
    q.stop()
    // durable batch ids: the offsets log exists in the checkpoint — the
    // replay fence's monotonic comparison survives a query restart
    assert(java.nio.file.Files.exists(ckpt.resolve("offsets")),
      "refreshMv did not write its offsets to the checkpointLocation")
    assert(cat.load("scratch", "mv_ck").agg(sum("n")).head().getLong(0) == 2)
    cat.dropTable("scratch", "mv_ck")
  }
}
