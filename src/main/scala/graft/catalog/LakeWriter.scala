package graft.catalog

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, OutputCommitter, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.mapred.SparkHadoopMapRedUtil
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A data file a lake write published: its path relative to the table
  * directory, and the row count, byte size and numeric column bounds read
  * from the footer its writer just closed. */
final case class WrittenFile(name: String, rows: Long, bytes: Long,
                             bounds: Map[String, (Double, Double)])

/** The one writer of snapshot-logged lake data files. A file is written
  * under a hidden `.<name>.<attempt>.inprogress` name in the table
  * directory and published by one rename when its task commits, so a listed
  * `.parquet` name is always a whole file; the writer returns exactly the
  * files it published, which the caller commits to the table metadata. No
  * `_temporary` tree, no `_SUCCESS`, no directory listing. */
object LakeWriter {

  /** Writes `df` as parquet files into `dir` (hive-style subdirectories per
    * value of `partitionBy`, files of at most `maxRecordsPerFile` rows when
    * positive), in one SQL execution, and returns the published files by
    * name. A failed write publishes nothing. */
  def write(spark: SparkSession, df: DataFrame, dir: String,
            partitionBy: Seq[String] = Seq.empty,
            maxRecordsPerFile: Long = 0L): Seq[WrittenFile] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = spark.sessionState.executePlan(df.queryExecution.logical)
    val committer = new LakeCommitProtocol(java.util.UUID.randomUUID.toString, dir)
    SQLExecution.withNewExecutionId(qe, Some("write")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        spark.sessionState.newHadoopConf(),
        plan.output.filter(a => partitionBy.contains(a.name)), None, Seq.empty,
        if (maxRecordsPerFile > 0) Map("maxRecordsPerFile" -> maxRecordsPerFile.toString)
        else Map.empty)
    }
    committer.written
  }

  /** Writes `row` as one parquet file in `dir` on the driver, through the
    * output writer a write task uses: the same codec, footer and
    * `part-00000-<uuid>-c000` name, staged and published the same way. */
  def writeRow(spark: SparkSession, dir: String, schema: StructType, row: Row): WrittenFile =
    org.apache.spark.sql.internal.SQLConf.withExistingConf(spark.sessionState.conf) {
      val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
      val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      val task = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(job.getConfiguration,
        new org.apache.hadoop.mapreduce.TaskAttemptID("", 0, org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0))
      val name = s"part-00000-${java.util.UUID.randomUUID}-c000${writers.getFileExtension(task)}"
      val staged = new Path(dir, s".$name.0.inprogress")
      val conf = job.getConfiguration
      try {
        val w = writers.newInstance(staged.toString, schema, task)
        try w.write(CatalystTypeConverters.createToCatalystConverter(schema)(row)
          .asInstanceOf[InternalRow])
        finally w.close()
        publish(conf, staged, new Path(dir, name), name)
      } catch { case e: Throwable => staged.getFileSystem(conf).delete(staged, false); throw e }
    }

  /** Reads the footer of the closed file `staged`, then renames it to
    * `target`: the file is visible under its `.parquet` name only whole. */
  private[catalog] def publish(conf: Configuration, staged: Path, target: Path,
                               name: String): WrittenFile = {
    val fs = staged.getFileSystem(conf)
    val (rows, bounds) = footerInfo(conf, staged)
    val bytes = fs.getFileStatus(staged).getLen
    if (!fs.rename(staged, target))
      throw new java.io.IOException(s"could not publish $target")
    WrittenFile(name, rows, bytes, bounds)
  }

  /** (row count, per-column [min,max] zone map) from the parquet footer —
    * one metadata read serves both. Bounds cover NUMERIC top-level columns
    * (the zone-map sweet spot: keys, timestamps, prices); a column whose
    * statistics are absent in any block simply gets no bounds, and readers
    * treat bound-less files as must-read. This is Iceberg's manifest
    * lower_bounds/upper_bounds, sourced from the same place Iceberg writers
    * source them (the file footer the writer just produced). */
  def footerInfo(conf: Configuration, file: Path): (Long, Map[String, (Double, Double)]) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val perCol = blocks.flatMap(_.getColumns.asScala).flatMap { cc =>
        val st = cc.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) Seq.empty
        else {
          // roundUp steers the widening direction for BIGINT values beyond
          // 2^53 (not double-representable): rounding may only LOOSEN a
          // bound, never tighten it — a tightened bound would let
          // pruneFiles "prove" disjointness for a file that has matches
          // (ADVICE r4). Iceberg keeps exact typed bounds; the double
          // sidecar keeps conservative ones.
          def num(v: Any, roundUp: Boolean): Option[Double] = v match {
            case l: java.lang.Long =>
              val d = l.toDouble
              Some(if (math.abs(l) < (1L << 53)) d
                   else if (roundUp) Math.nextUp(d) else Math.nextDown(d))
            case i: java.lang.Integer => Some(i.toDouble)
            case d: java.lang.Double => Some(d)
            case f: java.lang.Float => Some(f.toDouble)
            case _ => None // binary/bool columns: no numeric zone map
          }
          (num(st.genericGetMin, roundUp = false),
            num(st.genericGetMax, roundUp = true)) match {
            // non-finite bounds (±Inf legitimately stored in parquet stats,
            // NaN from older writers) would serialize as 'Infinity'/'NaN'
            // tokens Jackson rejects — poisoning EVERY sidecar read for the
            // table (ADVICE r4). Such columns simply get no bounds, the
            // existing absent-stats path: readers treat the file must-read.
            case (Some(lo), Some(hi)) if lo.isFinite && hi.isFinite =>
              Seq(cc.getPath.toDotString -> (lo, hi))
            case _ => Seq.empty
          }
        }
      }
      val bounds = perCol.groupBy(_._1)
        // a column must have stats in EVERY block to claim file-level bounds
        .filter { case (_, vs) => vs.length == blocks.length }
        .map { case (c, vs) => c -> (vs.map(_._2._1).min, vs.map(_._2._2).max) }
      (r.getRecordCount, bounds)
    } finally r.close()
  }
}

/** The commit protocol of [[LakeWriter.write]]. A task writes each file as
  * `.<name>.<attempt>.inprogress` in its final directory; at task commit,
  * if Spark's output-commit coordinator lets this attempt commit (one
  * attempt per partition, so a speculative copy never publishes), it
  * publishes each file with one rename and returns them in its
  * [[TaskCommitMessage]]. The job commit only collects those messages.
  * Aborting the job deletes every file under `dir` whose name carries this
  * job's id, published or staged: what committed tasks published, whether
  * or not their results reached the driver. A task already let commit when
  * the job failed can still finish its rename after that sweep; its file is
  * then an unreferenced orphan, which [[LakeCatalog.removeOrphans]]
  * reclaims. */
class LakeCommitProtocol(jobId: String, dir: String) extends FileCommitProtocol with Serializable {

  // task side: this attempt's (staged path, name relative to `dir`) and the
  // targets it has published
  @transient private var staged: ArrayBuffer[(Path, String)] = _
  @transient private var published: ArrayBuffer[Path] = _
  /** Driver side: the files the committed job published, by name. */
  @transient private[catalog] var written: Seq[WrittenFile] = Seq.empty

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    written = msgs.flatMap(_.obj.asInstanceOf[Seq[WrittenFile]]).sortBy(_.name)

  override def abortJob(job: JobContext): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(job.getConfiguration)
    if (fs.exists(root)) {
      // a checksummed file system lists no .crc files and deletes each
      // file's .crc with it
      val files = fs.listFiles(root, true)
      while (files.hasNext) {
        val p = files.next().getPath
        if (p.getName.contains(jobId)) fs.delete(p, false)
      }
    }
  }

  override def setupTask(task: TaskAttemptContext): Unit = {
    staged = ArrayBuffer.empty
    published = ArrayBuffer.empty
  }

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String],
                               spec: FileNameSpec): String = {
    val attempt = task.getTaskAttemptID
    val name = f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-$jobId${spec.suffix}"
    val parent = subdir.fold(new Path(dir))(new Path(dir, _))
    val tmp = new Path(parent, s".$name.${attempt.getId}.inprogress")
    staged += ((tmp, subdir.fold(name)(d => s"$d/$name")))
    tmp.toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val conf = task.getConfiguration
    val out = ArrayBuffer.empty[WrittenFile]
    val publisher = new OutputCommitter {
      override def setupJob(job: JobContext): Unit = ()
      override def setupTask(t: TaskAttemptContext): Unit = ()
      override def needsTaskCommit(t: TaskAttemptContext): Boolean = true
      override def commitTask(t: TaskAttemptContext): Unit = staged.foreach { case (tmp, name) =>
        val target = new Path(dir, name)
        out += LakeWriter.publish(conf, tmp, target, name)
        published += target
      }
      override def abortTask(t: TaskAttemptContext): Unit = LakeCommitProtocol.this.abortTask(t)
    }
    val id = task.getTaskAttemptID
    SparkHadoopMapRedUtil.commitTask(publisher, task, id.getJobID.getId, id.getTaskID.getId)
    new TaskCommitMessage(out.toSeq)
  }

  override def abortTask(task: TaskAttemptContext): Unit =
    if (staged != null) {
      val fs = new Path(dir).getFileSystem(task.getConfiguration)
      (staged.map(_._1) ++ published).foreach(fs.delete(_, false))
    }
}
