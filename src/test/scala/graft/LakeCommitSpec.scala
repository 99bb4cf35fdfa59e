package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.catalog.{LakeCatalog, SqlGateway}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

/** A lake write commits exactly the files its own tasks published: a file
  * another writer leaves in the table directory mid-write is not taken, a
  * failed write leaves the directory as it found it, and no write forks a
  * process. */
class LakeCommitSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("k", LongType)))

  private def fresh(name: String): (String, LakeCatalog) = {
    val root = Files.createTempDirectory(name).toString
    (root, new LakeCatalog(spark, root))
  }

  /** Every name under `dir`, relative to it, hidden and checksum files too. */
  private def tree(dir: Path): Set[String] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString).toSet
    finally w.close()
  }

  private def keys(cat: LakeCatalog): Seq[Long] =
    cat.load("w", "t").collect().map(_.getLong(0)).toSeq.sorted

  test("an append commits its own files, not one another writer planted mid-job") {
    val (root, cat) = fresh("graft_commit_own")
    cat.createTable("w", "t", schema)
    val dir = s"$root/w/t"
    val v0 = s"$dir/${cat.snapshots("w", "t").head._2.head}"
    // a complete parquet file under a data-file name, as a concurrent
    // writer's published file would be
    val plant = udf { (k: Long) =>
      if (k == 0L) Files.copy(Paths.get(v0), Paths.get(dir, "part-foreign.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      k
    }.asNondeterministic()
    assert(cat.append("w", "t", spark.range(0, 100, 1, 2).select(plant(col("id")).as("k"))) == 100L)
    assert(Files.exists(Paths.get(dir, "part-foreign.parquet")))
    val head = cat.snapshots("w", "t").last._2
    assert(!head.contains("part-foreign.parquet"))
    assert(head.size == 3, head) // v0's empty file and one file per task
    assert(cat.orphanFiles("w", "t") == Seq("part-foreign.parquet"))
    assert(keys(cat) == (0L until 100L))
    assert(cat.countStar("w", "t") == Some(100L))
  }

  test("a write in which one task throws publishes nothing") {
    val (root, cat) = fresh("graft_commit_abort")
    cat.createTable("w", "t", schema)
    cat.append("w", "t", spark.range(0, 10, 1, 1).toDF("k"))
    val dir = Paths.get(root, "w", "t")
    val before = tree(dir)
    val log = cat.snapshots("w", "t")
    // the last partition fails late, after the others have committed, so
    // aborting the job must delete files their tasks already published
    val boom = udf { (k: Long) =>
      if (k == 150L) { Thread.sleep(1000); throw new IllegalStateException("boom at 150") }
      k
    }.asNondeterministic()
    val e = intercept[Exception](
      cat.append("w", "t", spark.range(0, 200, 1, 4).select(boom(col("id")).as("k"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom at 150")), e)
    // tasks the failure cancelled abort on their own threads
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveStageIds.nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    val after = tree(dir)
    assert(after == before, s"left behind: ${after -- before}")
    assert(!after.exists(f => f.endsWith(".inprogress") || f.contains("_temporary")))
    assert(cat.snapshots("w", "t") == log)
    assert(keys(cat) == (0L until 10L))
  }

  test("a gateway round of writes forks no process and keeps Hadoop's modes and checksums") {
    val (root, cat) = fresh("graft_commit_nofork")
    val gw = new SqlGateway(spark, cat)
    val orders = StructType(Seq(StructField("k", LongType), StructField("c", LongType),
      StructField("p", DoubleType)))
    cat.createTable("shop", "orders", orders, properties = Map("format-version" -> "2"))
    cat.createTable("shop", "stage", orders)
    import spark.implicits._
    cat.append("shop", "orders", (0 until 40).map(k => (k.toLong, (k % 5).toLong, k * 1.5))
      .toDF("k", "c", "p").coalesce(2))
    cat.append("shop", "stage", Seq((3L, 9L, 0.5), (500L, 9L, 0.25)).toDF("k", "c", "p"))

    org.apache.spark.SpecBus.startOnceProcesses()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try Seq(
      "INSERT INTO shop.orders VALUES (100, 1, 2.5)",
      "UPDATE shop.orders SET p = p + 1 WHERE c = 2",
      "DELETE FROM shop.orders WHERE c = 4",
      "DELETE MOR FROM shop.orders WHERE c = 3",
      "MERGE INTO shop.orders USING shop.stage ON k",
      "MAINTAIN COMPACT shop.orders MAX 1 FILES").foreach(gw.execute(_).collect())
    finally rec.stop()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(jfr)
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      assert(starts.isEmpty, starts.mkString("; "))
    } finally { rec.close(); Files.deleteIfExists(jfr) }
    assert(gw.execute("SELECT COUNT(*) FROM shop.orders").head().getLong(0) == 27L)

    def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val dir = Paths.get(root, "shop", "orders")
    assert(mode(dir) == "rwxr-xr-x")
    val data = cat.snapshots("shop", "orders").flatMap(_._2).distinct
    assert(data.size > 4, data)
    data.foreach { f =>
      assert(mode(dir.resolve(f)) == "rw-r--r--", f)
      assert(Files.exists(dir.resolve(s".$f.crc")), f)
    }
  }
}
