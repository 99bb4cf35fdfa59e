package graft

import graft.catalog.LakeCatalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-2 lake-mutation semantics: snapshot isolation, file-granular COW
  * (untouched files must NOT be rewritten), merge behavior, compaction
  * history. */
class Catalog2Spec extends SparkSpec {

  private def freshCat: (LakeCatalog, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_cat2_spec").toString
    (new LakeCatalog(spark, root), root)
  }

  test("deleteWhere rewrites ONLY files containing matching rows") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "t", StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType))))
    // two appends → disjoint files: grp 'a' rows live only in file(s) of
    // append 1, 'b' only in append 2
    cat.append("ns", "t", Seq((1L, "a"), (2L, "a")).toDF("id", "grp").coalesce(1))
    cat.append("ns", "t", Seq((3L, "b"), (4L, "b")).toDF("id", "grp").coalesce(1))
    val before = cat.snapshots("ns", "t").last._2
    cat.deleteWhere("ns", "t", col("grp") === "b")
    val after = cat.snapshots("ns", "t").last._2
    // the 'a' file survives verbatim; the 'b' file is gone from the snapshot
    val surviving = before.toSet.intersect(after.toSet)
    assert(surviving.nonEmpty, s"expected the untouched 'a' file to survive: $before -> $after")
    assert(cat.load("ns", "t").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // deleted file still on disk → old snapshot still readable
    val v = cat.snapshots("ns", "t").map(_._1)
    assert(cat.loadSnapshot("ns", "t", v(v.length - 2)).count() == 4)
  }

  test("updateWhere leaves non-matching files untouched and applies the set") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "u", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    cat.append("ns", "u", Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1))
    cat.append("ns", "u", Seq((3L, 30L)).toDF("id", "v").coalesce(1))
    val before = cat.snapshots("ns", "u").last._2
    cat.updateWhere("ns", "u", col("id") === 3, Map("v" -> lit(999L)))
    val after = cat.snapshots("ns", "u").last._2
    assert(before.toSet.intersect(after.toSet).nonEmpty, "file 1 must survive")
    val got = cat.load("ns", "u").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 999L)))
  }

  test("merge: updates replace by key, inserts append, others survive") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "m", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    cat.append("ns", "m", Seq((1L, "old1"), (2L, "old2")).toDF("k", "v").coalesce(1))
    cat.append("ns", "m", Seq((3L, "old3")).toDF("k", "v").coalesce(1))
    val before = cat.snapshots("ns", "m").last._2
    cat.merge("ns", "m", Seq((3L, "new3"), (9L, "new9")).toDF("k", "v"), "k")
    val after = cat.snapshots("ns", "m").last._2
    // file holding keys 1,2 (no matched key) must not be rewritten
    assert(before.toSet.intersect(after.toSet).nonEmpty)
    val got = cat.load("ns", "m").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "old1"), (2L, "old2"), (3L, "new3"), (9L, "new9")))
  }

  test("compact preserves content and history; snapshot count grows by one") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "c", StructType(Seq(StructField("id", LongType))))
    (1 to 5).foreach(i => cat.append("ns", "c", Seq(i.toLong).toDF("id").coalesce(1)))
    val preVersions = cat.snapshots("ns", "c").length
    cat.compact("ns", "c", 1)
    val snaps = cat.snapshots("ns", "c")
    assert(snaps.length == preVersions + 1)
    assert(snaps.last._2.length == 1, s"want 1 compacted file, got ${snaps.last._2}")
    assert(cat.load("ns", "c").as[Long].collect().sorted.toSeq == (1L to 5L))
    // pre-compaction snapshot still readable (old files retained on disk)
    assert(cat.loadSnapshot("ns", "c", snaps(snaps.length - 2)._1).count() == 5)
  }

  test("changes(): an update surfaces as delete(old) + insert(new); survivors cancel") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "cdc", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    cat.append("ns", "cdc", Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1))
    cat.updateWhere("ns", "cdc", col("id") === 2, Map("v" -> lit(99L)))
    val ch = cat.changes("ns", "cdc", 1, 2)
      .select("_change", "id", "v").as[(String, Long, Long)].collect().sorted.toSeq
    // ids 1 and 3 passed through the rewrite unchanged → cancel entirely
    assert(ch == Seq(("delete", 2L, 20L), ("insert", 2L, 99L)), ch.toString)
  }

  test("expireSnapshots reclaims unreferenced files; survivors still travel") {
    import spark.implicits._
    val (cat, root) = freshCat
    cat.createTable("ns", "x", StructType(Seq(StructField("id", LongType))))
    (1 to 4).foreach(i => cat.append("ns", "x", Seq(i.toLong).toDF("id").coalesce(1)))
    cat.compact("ns", "x", 1) // orphans the 4 small files in snapshots 1-4
    val beforeFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$root/ns/x")).count()
    // keep=1: only the compacted snapshot survives, so every pre-compaction
    // file (referenced only by expired snapshots) is reclaimable garbage
    cat.expireSnapshots("ns", "x", keep = 1)
    val afterFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$root/ns/x")).count()
    assert(afterFiles < beforeFiles, s"no files reclaimed: $beforeFiles -> $afterFiles")
    val snaps = cat.snapshots("ns", "x")
    assert(snaps.length == 1)
    // current content intact under its original version number
    assert(cat.load("ns", "x").as[Long].collect().sorted.toSeq == (1L to 4L))
    assert(cat.loadSnapshot("ns", "x", snaps.head._1).count() == 4)
    // expired version is gone
    intercept[IllegalArgumentException](cat.loadSnapshot("ns", "x", 1))
  }

  test("schema evolution: defaults fill old rows; new appends carry values") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "e", StructType(Seq(StructField("id", LongType))))
    cat.append("ns", "e", Seq(1L).toDF("id"))
    cat.addColumn("ns", "e", StructField("tag", StringType), "'legacy'")
    cat.append("ns", "e", Seq((2L, "fresh")).toDF("id", "tag"))
    // a NEW catalog instance must see the evolution (sidecar, not state)
    val got = new LakeCatalog(spark, catRoot(cat)).load("ns", "e")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "legacy"), (2L, "fresh")))
  }

  test("filesMeta: live files with add-version lineage, real sizes, gateway SHOW FILES") {
    import spark.implicits._
    val (cat, root) = freshCat
    cat.createTable("ns", "fm", StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType))))
    cat.append("ns", "fm", Seq((1L, "a"), (2L, "a")).toDF("id", "grp").coalesce(1))
    cat.append("ns", "fm", Seq((3L, "b"), (4L, "b"), (5L, "b")).toDF("id", "grp").coalesce(1))
    cat.deleteWhere("ns", "fm", col("id") === 5L) // rewrites only the 'b' file
    val meta = cat.filesMeta("ns", "fm").collect()
    assert(meta.length == 2) // one live file per surviving batch
    assert(meta.map(_.getString(0)).distinct.length == 2) // distinct names
    assert(meta.forall(_.getLong(3) > 0), "size_bytes must be real")
    // untouched 'a' file keeps add-version 1; the rewrite was added by the
    // delete's commit (version 3) and holds the 2 surviving 'b' rows
    assert(meta.map(r => (r.getInt(1), r.getLong(2))).toSet == Set((1, 2L), (3, 2L)))
    // the SQL gateway serves the same metadata table
    val viaSql = new graft.catalog.SqlGateway(spark, cat).execute("SHOW FILES IN ns.fm")
    assert(viaSql.collect().map(r => (r.getInt(1), r.getLong(2))).toSet
      == Set((1, 2L), (3, 2L)))
    // manifest stats: every write (append + COW rewrite) recorded its
    // per-file row count at commit time, so COUNT(*) is metadata-only
    assert(cat.countStar("ns", "fm").contains(4L))
    assert(cat.countStar("ns", "fm").get == cat.load("ns", "fm").count())
  }

  test("manifest stats survive compaction and track every mutation path") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "ms", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    cat.append("ns", "ms", (1L to 10L).map(i => (i, i * 2)).toDF("id", "v").repartition(3))
    cat.updateWhere("ns", "ms", col("id") <= 2, Map("v" -> lit(0L)))
    cat.merge("ns", "ms", Seq((11L, 1L), (1L, 5L)).toDF("id", "v"), "id")
    cat.compact("ns", "ms", 1)
    assert(cat.countStar("ns", "ms").contains(11L)) // 10 + 1 inserted
    assert(cat.countStar("ns", "ms").get == cat.load("ns", "ms").count())
    // filesMeta row counts come from the sidecar and agree with the data
    val total = cat.filesMeta("ns", "ms")
      .agg(org.apache.spark.sql.functions.sum("row_count")).head.getLong(0)
    assert(total == 11L)
  }

  test("bucketed join shuffles NEITHER side on the join key") {
    val df = graft.ops.CatalogOps2.cBucketedJoin(spark, sfDir)
    val plan = planOf(df)
    // the sole allowed exchange is the 5-segment post-join aggregate
    assert(!plan.contains("hashpartitioning(o_custkey"), plan)
    assert(!plan.contains("hashpartitioning(c_custkey"), plan)
    assert(df.collect().length == 5)
  }

  test("deleteWhere keeps rows where the predicate is NULL (3VL semantics)") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "nul", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    cat.append("ns", "nul", Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v").coalesce(1))
    // DELETE WHERE v > 10: only id=3 qualifies; id=2's predicate is NULL
    // (neither true nor false) and per SQL the row must SURVIVE
    cat.deleteWhere("ns", "nul", col("v") > 10)
    val kept = cat.load("ns", "nul").select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L), s"NULL-predicate row was deleted: $kept")
  }

  test("countStar: partitioned tables fall to a scan, never a stale Some(0)") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "part", StructType(Seq(
      StructField("id", LongType), StructField("m", StringType))))
    cat.appendPartitioned("ns", "part",
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "m"), Seq("m"))
    // the v0 schema file + its stats entry must NOT let metadata claim 0 rows
    assert(cat.countStar("ns", "part").isEmpty,
      "countStar must decline on a partition-layout table")
    assert(cat.load("ns", "part").count() == 3)
  }

  test("merge collapses duplicate source keys to one deterministic winner") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "dup", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    cat.append("ns", "dup", Seq((1L, "old")).toDF("k", "v").coalesce(1))
    // source repeats key 1 (update) and key 9 (insert): exactly one row per
    // key may land, and the winner is the column-order max ("z..." > "a...")
    val src = Seq((1L, "a_upd"), (1L, "z_upd"), (9L, "a_ins"), (9L, "z_ins"))
      .toDF("k", "v")
    cat.merge("ns", "dup", src, "k")
    val got = cat.load("ns", "dup").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "z_upd"), (9L, "z_ins")), s"got $got")
  }

  test("merge on a shallow clone replaces the cloned row instead of duplicating its key") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "src", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    cat.append("ns", "src", Seq((1L, "old1"), (2L, "old2")).toDF("k", "v").coalesce(1))
    cat.cloneTable("ns", "src", "cl")
    cat.merge("ns", "cl", Seq((1L, "new1")).toDF("k", "v"), "k")
    val got = cat.load("ns", "cl").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "new1"), (2L, "old2")), s"got $got")
    assert(cat.load("ns", "src").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "old1"), (2L, "old2")), "the merge reached the source table")
  }

  test("streaming batch ids embedded in snapshot lines survive expire") {
    import spark.implicits._
    val (cat, _) = freshCat
    cat.createTable("ns", "sb", StructType(Seq(StructField("id", LongType))))
    cat.append("ns", "sb", Seq(1L).toDF("id").coalesce(1), batch = Some(0L))
    cat.append("ns", "sb", Seq(2L).toDF("id").coalesce(1), batch = Some(1L))
    cat.append("ns", "sb", Seq(3L).toDF("id").coalesce(1), batch = Some(2L))
    assert(cat.lastCommittedBatch("ns", "sb").contains(2L))
    // expire rewrites the log from raw lines — the fence must survive it
    cat.expireSnapshots("ns", "sb", keep = 2)
    assert(cat.lastCommittedBatch("ns", "sb").contains(2L),
      "batch fence lost by expireSnapshots log rewrite")
  }

  // reflectively read the private root — keeps LakeCatalog's API surface clean
  private def catRoot(cat: LakeCatalog): String = {
    val f = cat.getClass.getDeclaredField("root")
    f.setAccessible(true)
    f.get(cat).asInstanceOf[String]
  }
}
