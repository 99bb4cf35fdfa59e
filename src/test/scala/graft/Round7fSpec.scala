package graft

import graft.catalog.LakeCatalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Invariants for the sixth-pass round-7 ops (c_add_files, c_rename_column,
  * q_harmonic_centrality, q_xcorr, p_fertility): structural properties the
  * oracle hash can't articulate. */
class Round7fSpec extends SparkSpec {

  private def scratch: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"

  test("addFiles: adoption is by reference; drop of the table spares the landing corpus") {
    import java.nio.file.{Files, Paths}
    val cat = new LakeCatalog(spark, scratch)
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    cat.dropTable("scratch", "af_spec")
    cat.dropTable("scratch", "af_landing")
    cat.createTable("scratch", "af_spec", StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_extendedprice", DoubleType))))
    li.where(col("l_orderkey") % 7 === 0).repartition(2)
      .write.parquet(s"$scratch/scratch/af_landing")
    val n = cat.addFiles("scratch", "af_spec", "af_landing")
    assert(n == 2, s"expected 2 registered files, got $n")
    // registered by ../ reference, not by copy (the table's own initial
    // empty file from createTable is also in the snapshot)
    val head = cat.snapshots("scratch", "af_spec").last._2
    assert(head.count(_.startsWith("../af_landing/")) == 2,
      s"expected 2 reference files in the head snapshot: $head")
    val expect = li.where(col("l_orderkey") % 7 === 0).count()
    assert(cat.load("scratch", "af_spec").count() == expect)
    // countStar metadata-only over purely-imported tables
    assert(cat.countStar("scratch", "af_spec").contains(expect))
    // dropping the adopting table must NOT delete the external corpus it
    // referenced (the shallow-clone ownership rule)
    cat.dropTable("scratch", "af_spec")
    assert(Files.exists(Paths.get(s"$scratch/scratch/af_landing")),
      "dropTable of the adopter deleted the external landing corpus")
    cat.dropTable("scratch", "af_landing")
  }

  test("renameColumn: chained renames compose and recreate does not inherit the mapping") {
    val cat = new LakeCatalog(spark, scratch)
    val li = Tables.table(spark, sfDir, "lineitem")
    cat.dropTable("scratch", "rn_spec")
    cat.createTable("scratch", "rn_spec", StructType(Seq(
      StructField("k", LongType), StructField("a", DoubleType))))
    cat.append("scratch", "rn_spec",
      li.where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("a")))
    cat.renameColumn("scratch", "rn_spec", "a", "b")
    cat.append("scratch", "rn_spec",
      li.where(col("l_orderkey") % 5 === 1)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("b")))
    cat.renameColumn("scratch", "rn_spec", "b", "c")
    cat.append("scratch", "rn_spec",
      li.where(col("l_orderkey") % 5 === 2)
        .select(col("l_orderkey").as("k"), col("l_quantity").as("c")))
    val out = cat.loadRenamed("scratch", "rn_spec")
    assert(out.schema.fieldNames.toSeq == Seq("k", "c"),
      s"chained rename surfaced ${out.schema.fieldNames.toSeq}")
    val expect = li.where(col("l_orderkey") % 5 <= 2).count()
    assert(out.count() == expect, "rows lost across two rename generations")
    assert(out.where(col("c").isNull).count() == 0,
      "nulls leaked from generation misalignment")
    // recreate must not inherit the old mapping (the bloom-sidecar rule)
    cat.dropTable("scratch", "rn_spec")
    cat.createTable("scratch", "rn_spec", StructType(Seq(
      StructField("k", LongType), StructField("a", DoubleType))))
    assert(cat.describe("scratch", "rn_spec").map(_._1) == Seq("k", "a"),
      "recreated table inherited the dropped table's renames")
    cat.dropTable("scratch", "rn_spec")
  }

  test("q_harmonic_centrality: bounds hold and sources dominate their own estimate") {
    val rows = ops.Graph3.qHarmonicCentrality(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getLong(2); val nSrc = r.getLong(3)
      assert(nSrc >= 1 && nSrc <= 4, s"sources reached out of range: $r")
      // ceiling: every reached source contributes at most 2520 (distance 1)
      assert(h <= 2520L * nSrc, s"harmonic exceeds per-source ceiling: $r")
      // floor: distance <= 4 means each reached source contributes >= 630
      assert(h >= 630L * nSrc, s"harmonic below per-source floor: $r")
    }
    // ranking is by the estimate, descending
    val hs = rows.map(_.getLong(2)).toSeq
    assert(hs == hs.sortBy(-_), "rows not ordered by estimate")
  }

  test("q_xcorr: lag 0 equals the direct aligned-day Pearson correlation") {
    val rows = ops.StatsOps2.qXcorr(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (-3L to 3L).toSeq)
    val lag0 = rows.find(_.getLong(0) == 0L).get
    // direct recomputation from the two day-grain series
    val x = Tables.table(spark, sfDir, "orders")
      .select(expr("datediff(cast(o_orderdate as date), date '1970-01-01')").cast("long").as("day"))
      .groupBy("day").agg(count(lit(1)).cast("double").as("x"))
    val y = Tables.table(spark, sfDir, "lineitem")
      .select(expr("datediff(cast(l_shipdate as date), date '1970-01-01')").cast("long").as("day"))
      .groupBy("day").agg(count(lit(1)).cast("double").as("y"))
    val j = x.join(y, "day").select(corr("x", "y").as("r")).head()
    assert(math.abs(lag0.getDouble(2) - j.getDouble(0)) < 1e-9,
      s"lag-0 CCF ${lag0.getDouble(2)} != direct Pearson ${j.getDouble(0)}")
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12,
      s"|r| > 1 at lag ${r.getLong(0)}"))
  }

  test("c_row_lineage: ids survive a COW-free append and never collide") {
    val cat = new LakeCatalog(spark, scratch)
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("k"))
    cat.dropTable("scratch", "rl_spec")
    cat.createTable("scratch", "rl_spec",
      StructType(Seq(StructField("k", LongType))))
    cat.append("scratch", "rl_spec", li.where(col("k") % 9 === 0))
    val idsA = cat.loadWithLineage("scratch", "rl_spec")
      .select("_row_id").collect().map(_.getLong(0)).sorted.toSeq
    cat.append("scratch", "rl_spec", li.where(col("k") % 9 === 1))
    val after = cat.loadWithLineage("scratch", "rl_spec")
    // batch A's rows keep their exact ids after batch B lands
    val idsA2 = after.where(col("k") % 9 === 0)
      .select("_row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsA2 == idsA, "existing row ids changed when a new batch committed")
    // global uniqueness + density
    val all = after.select("_row_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all == (0L until all.size).toSeq, "ids not dense/unique")
    cat.dropTable("scratch", "rl_spec")
  }

  test("s_pca_power: Rayleigh quotient dominates any coordinate direction's variance") {
    val rows = ops.Similarity3.sPcaPower(spark, sfDir).collect()
    assert(rows.length == 8)
    val ray = rows.head.getDouble(3)
    assert(ray > 0.0)
    // unit norm: the full 64-dim model should have |v| = 1 (float boundary)
    val v = ops.Similarity3.pcaVector(spark, sfDir, rounds = 5)
    val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(n - 1.0) < 1e-3, s"model not unit-norm: $n")
    // the dominant direction captures at least as much second moment as the
    // best single coordinate (power iteration can't do worse after 5 rounds
    // from e1 on this corpus; coordinate variance = mean x_j^2)
    val e = Tables.table(spark, sfDir, "embeddings")
    val coord = e.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim").agg(avg(col("x") * col("x")).as("m2"))
      .agg(max("m2")).head().getDouble(0)
    assert(ray >= coord * 0.99,
      s"Rayleigh $ray below best coordinate variance $coord")
  }

  test("q_mann_kendall and q_theil_sen agree on trend direction") {
    val mk = ops.StatsOps2.qMannKendall(spark, sfDir).head()
    val ts = ops.StatsOps2.qTheilSen(spark, sfDir).head()
    val s = mk.getLong(1)
    val slope = ts.getDouble(3)
    // same-sign (or both ~flat): the two robust estimators must not
    // contradict each other on the same series
    assert(s == 0L || slope == 0.0 || (s > 0) == (slope > 0),
      s"MK S=$s vs Theil-Sen slope=$slope disagree")
    assert(mk.getLong(2) > 0, "tie-corrected variance must be positive")
    val n = ts.getLong(0)
    val days = mk.getLong(0)
    assert(n == days * (days - 1) / 2, "pair frame size != C(n_days, 2)")
  }

  test("ZoneMapPruneRule: sound (pruned == full result), effective, and foreign-data-blind") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cat = new LakeCatalog(spark, scratch)
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
    cat.dropTable("scratch", "zr_spec")
    cat.createTable("scratch", "zr_spec", StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_extendedprice", DoubleType))))
    cat.appendClustered("scratch", "zr_spec", li, Seq("l_partkey"), 16)
    val r = li.agg(min("l_partkey"), max("l_partkey")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val dirPath = s"$scratch/scratch/zr_spec"
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length
      }.sum
    val pred = col("l_partkey") >= lo && col("l_partkey") < hi
    val ruled = spark.read.parquet(dirPath).where(pred)
    // soundness: identical result set vs the explicit-file-list path the
    // rule never touches (LakeCatalog.load reads by file list, not dir)
    val full = cat.load("scratch", "zr_spec").where(pred)
    assert(ruled.count() == full.count(), "rule changed the result")
    // effectiveness: strictly fewer files in the physical scan
    val n = scannedFiles(ruled)
    val totalScan = scannedFiles(spark.read.parquet(dirPath))
    assert(n < totalScan, s"rule did not prune: $n of $totalScan")
    // a point lookup prunes at least as hard as the quarter-range
    val point = spark.read.parquet(dirPath).where(col("l_partkey") === mn)
    assert(scannedFiles(point) <= n, "equality predicate pruned worse than range")
    assert(point.count() ==
      cat.load("scratch", "zr_spec").where(col("l_partkey") === mn).count())
    // foreign datasets (no sidecar) are untouched: same dir name trick —
    // a plain parquet dir next to the warehouse
    val foreign = s"$scratch/scratch/zr_foreign_plain"
    cat.dropTable("scratch", "zr_foreign_plain")
    li.limit(100).repartition(4).write.parquet(foreign)
    val f = spark.read.parquet(foreign).where(col("l_partkey") >= lo)
    assert(scannedFiles(f) == scannedFiles(spark.read.parquet(foreign)),
      "rule touched a non-catalog dataset")
    cat.dropTable("scratch", "zr_foreign_plain")
    cat.dropTable("scratch", "zr_spec")
  }

  test("updateWhereMor: updates chain, never resurrect, and survive compaction") {
    val cat = new LakeCatalog(spark, scratch)
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity").as("q"))
    cat.dropTable("scratch", "mu_spec")
    cat.createTable("scratch", "mu_spec", StructType(Seq(
      StructField("k", LongType), StructField("q", DoubleType))))
    cat.append("scratch", "mu_spec", li.where(col("k") % 6 === 0))
    val n0 = cat.load("scratch", "mu_spec").count()
    // delete a sub-slice first: the update must NOT resurrect those rows
    cat.deleteWhereMor("scratch", "mu_spec", col("k") % 12 === 0)
    val n1 = cat.load("scratch", "mu_spec").count()
    // two chained MOR updates on the same predicate → q × 4
    cat.updateWhereMor("scratch", "mu_spec", col("k") % 6 === 0, "q", col("q") * 2)
    cat.updateWhereMor("scratch", "mu_spec", col("k") % 6 === 0, "q", col("q") * 2)
    val out = cat.load("scratch", "mu_spec")
    assert(out.count() == n1, "MOR update changed the row count")
    assert(out.where(col("k") % 12 === 0).count() == 0,
      "MOR update resurrected vector-deleted rows")
    val expected = li.where(col("k") % 6 === 0 && col("k") % 12 =!= 0)
      .agg(sum(col("q") * 4)).head().getDouble(0)
    val got = out.agg(sum("q")).head().getDouble(0)
    assert(math.abs(got - expected) < 1e-6, s"chained update sum $got != $expected")
    assert(cat.countStar("scratch", "mu_spec").contains(n1),
      "countStar lost metadata-only answer after MOR updates")
    // compaction materializes: same content, vectors retired
    cat.compact("scratch", "mu_spec", 4)
    val after = cat.load("scratch", "mu_spec")
    assert(after.count() == n1)
    assert(math.abs(after.agg(sum("q")).head().getDouble(0) - expected) < 1e-6,
      "compaction changed MOR-updated content")
    assert(n0 == n1 + li.where(col("k") % 12 === 0).count(),
      "precondition: the deleted sub-slice was non-empty")
    cat.dropTable("scratch", "mu_spec")
  }

  test("rewriteManifests: zone-map pruning and countStar identical across compaction") {
    val cat = new LakeCatalog(spark, scratch)
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_extendedprice").as("price"))
    cat.dropTable("scratch", "rm_spec")
    cat.createTable("scratch", "rm_spec", StructType(Seq(
      StructField("k", LongType), StructField("price", DoubleType))))
    cat.appendClustered("scratch", "rm_spec", li, Seq("k"), 8)
    cat.deleteWhere("scratch", "rm_spec", col("k") % 10 === 3)
    cat.expireSnapshots("scratch", "rm_spec", keep = 1)
    val r = li.agg(min("k"), max("k")).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = ((mn + (mx - mn) / 4).toDouble, (mn + (mx - mn) / 2).toDouble)
    val beforePrune = cat.pruneFiles("scratch", "rm_spec", "k", lo, hi)
    val csBefore = cat.countStar("scratch", "rm_spec")
    val (nb, na) = cat.rewriteManifests("scratch", "rm_spec")
    assert(nb > na, s"nothing compacted: $nb -> $na")
    assert(cat.pruneFiles("scratch", "rm_spec", "k", lo, hi) == beforePrune,
      "manifest rewrite changed the prune partition")
    assert(cat.countStar("scratch", "rm_spec") == csBefore,
      "manifest rewrite changed countStar")
    // idempotent: a second pass keeps everything
    val (nb2, na2) = cat.rewriteManifests("scratch", "rm_spec")
    assert(nb2 == na && na2 == na, "rewrite not idempotent")
    cat.dropTable("scratch", "rm_spec")
  }

  test("p_fertility: per-lang identities and exact integer division") {
    val rows = ops.Pipeline4.pFertility(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var docs = 0L
    rows.foreach { r =>
      val (nd, nb, nt) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd > 0 && nb > 0 && nt > 0)
      assert(r.getLong(4) == 10000L * nb / nt, s"fertility not the exact div: $r")
      assert(r.getLong(5) == nt / nd, s"tokens/doc not the exact div: $r")
      // a token is at least one byte: fertility >= 1 byte/token
      assert(r.getLong(4) >= 10000L, s"fertility below 1 byte/token: $r")
      docs += nd
    }
    assert(docs == Tables.table(spark, sfDir, "documents").count(),
      "language partition does not tile the corpus")
  }
}
