package graft.catalog

import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._

/** The per-table metadata sidecars of the lake layout: every
  * `<table>_<kind>.json` file beside a table directory is named, read and
  * written here and nowhere else.
  *
  *  - [[kinds]] lists the file kinds; [[path]] is the one place a sidecar
  *    file name is spelled.
  *  - Three IO primitives: [[lines]] (parsed objects, an absent file reads
  *    as empty), [[append]] (CREATE+APPEND) and [[replace]] (temp file, then
  *    an atomic move, so no reader ever sees a torn file).
  *  - One parser and one line builder per kind, next to each other below.
  *
  * Format: one compact JSON object per line (the whole-file kinds — refs,
  * meta, hidden_spec, evolution — are one-line files). Lines are built as
  * JValues and rendered by Jackson, so any string value (quotes,
  * backslashes, control characters, non-BMP code points) round-trips; a
  * string that UTF-8 cannot encode (a lone surrogate) is refused before the
  * file is touched. Parsers accept the legacy shapes older writers left:
  * log lines without `parent`, DV lines without `token`, equality-delete
  * lines without `scope`, and bloom lines with a `bits` list.
  */
private[graft] object Sidecar {

  /** One sidecar file kind: `<table>_<name>.json`. */
  sealed abstract class Kind(val name: String)
  case object Snapshots extends Kind("snapshots")
  case object Refs extends Kind("refs")
  case object ColStats extends Kind("colstats")
  case object Hist extends Kind("hist")
  case object Dv extends Kind("dv")
  case object EqDel extends Kind("eqdel")
  case object FileStats extends Kind("filestats")
  case object Blooms extends Kind("blooms")
  case object Ndv extends Kind("ndv")
  case object Renames extends Kind("renames")
  case object Meta extends Kind("meta")
  case object HiddenSpec extends Kind("hidden_spec")
  case object Evolution extends Kind("evolution")
  /** Streaming fence file of older layouts; only ever deleted now (the
    * fence rides the snapshot log's `batch` field). */
  case object StreamState extends Kind("stream_state")

  val kinds: Seq[Kind] = Seq(Snapshots, Refs, ColStats, Hist, Dv, EqDel,
    FileStats, Blooms, Ndv, Renames, Meta, HiddenSpec, Evolution, StreamState)

  /** The `kind` sidecar of `table`, which lives in namespace dir `nsDir`. */
  def path(nsDir: Path, table: String, kind: Kind): Path =
    nsDir.resolve(s"${table}_${kind.name}.json")

  // ------------------------------------------------------------------ IO

  /** Every object in the file, in order; an absent file reads as empty. */
  def lines(p: Path): Seq[JValue] = {
    val raw = try Files.readAllLines(p).asScala
      catch { case _: NoSuchFileException => return Seq.empty }
    raw.iterator.filterNot(_.isBlank).map(l => JsonMethods.parse(l)).toSeq
  }

  /** Append `objs`, one per line, creating the file if absent. The text is
    * encoded whole before the file is opened. */
  def append(p: Path, objs: Seq[JValue]): Unit =
    if (objs.nonEmpty)
      Files.writeString(p, objs.iterator.map(render(_) + "\n").mkString,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Replace the file's content with `objs`: written to a temp file, then
    * moved over the old one atomically. Objects are rendered as the
    * iterator yields them, so a streamed source never sits in memory whole.
    * On any failure the temp file is removed and the old file stands. */
  def replace(p: Path, objs: Iterator[JValue]): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    try {
      val w = Files.newBufferedWriter(tmp)
      try objs.foreach { j => w.write(render(j)); w.write('\n') }
      finally w.close()
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  def delete(p: Path): Unit = Files.deleteIfExists(p)

  def render(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  // ---------------------------------------------------------- field access

  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case _ => None
  }
  private def long(j: JValue): Option[Long] = j match {
    case JInt(x) => Some(x.toLong)
    case JLong(x) => Some(x)
    case _ => None
  }
  private def int(j: JValue): Option[Int] = long(j).map(_.toInt)
  /** Any JSON number as a double (NaN for anything else). */
  private def double(j: JValue): Double = j match {
    case JDouble(x) => x
    case JInt(x) => x.toDouble
    case JLong(x) => x.toDouble
    case JDecimal(x) => x.toDouble
    case _ => Double.NaN
  }
  private def strs(j: JValue): Seq[String] = j match {
    case JArray(a) => a.flatMap(str)
    case _ => Seq.empty
  }
  private def longs(j: JValue): Seq[Long] = j match {
    case JArray(a) => a.flatMap(long)
    case _ => Seq.empty
  }
  private def counts(j: JValue): Map[String, Long] = j match {
    case JObject(fs) => fs.flatMap { case (k, v) => long(v).map(k -> _) }.toMap
    case _ => Map.empty
  }
  private def countsObj(m: Map[String, Long]): JObject =
    JObject(m.toList.sortBy(_._1).map { case (k, n) => k -> (JInt(n): JValue) })
  private def required[A](o: Option[A], field: String, j: JValue): A =
    o.getOrElse(throw new IllegalStateException(
      s"sidecar line without '$field': ${render(j)}"))

  // -------------------------------------------------------- snapshot log
  // `snapshots`: one line per commit,
  // {"v":N,"parent":P,"batch":B,"token":T,"files":[...]} — batch (the
  // streaming replay fence) and token (the MOR commit token) only when set.

  /** One commit-log line. `raw` is the line as read, unknown fields
    * included, so a log rewrite keeps them. A line without `parent` was
    * written under the linear lineage: its parent is `v - 1`. */
  final case class LogEntry(v: Int, parent: Int, batch: Option[Long],
                            token: Option[String], files: Seq[String], raw: JValue)

  def log(p: Path): Seq[LogEntry] = lines(p).map { j =>
    val v = required(int(j \ "v"), "v", j)
    val files = j \ "files" match {
      case JArray(a) => a.flatMap(str)
      case _ => required(None, "files", j)
    }
    LogEntry(v, int(j \ "parent").getOrElse(v - 1), long(j \ "batch"),
      str(j \ "token"), files, j)
  }

  def logLine(v: Int, parent: Int, batch: Option[Long], token: Option[String],
              files: Seq[String]): JValue =
    ("v" -> v) ~ ("parent" -> parent) ~ ("batch" -> batch) ~
      ("token" -> token) ~ ("files" -> files)

  // ---------------------------------------------------------------- refs
  // `refs`: one object {"main":v,"<branch or tag>":v,...}, keys sorted.

  def refs(p: Path): Map[String, Int] = lines(p).headOption match {
    case Some(JObject(fs)) => fs.flatMap { case (k, v) => int(v).map(k -> _) }.toMap
    case _ => Map.empty
  }

  def refsLine(m: Map[String, Int]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JInt(v): JValue) })

  // ------------------------------------------------------- column stats
  // `colstats`: one line per analyzed column,
  // {"col","n_rows","n_nulls","ndv","min","max"}; min/max as strings.

  final case class ColStat(col: String, nRows: Long, nNulls: Long, ndv: Long,
                           min: String, max: String)

  def colStats(p: Path): Seq[ColStat] = lines(p).map { j =>
    def s(f: String) = str(j \ f).getOrElse("")
    def n(f: String) = long(j \ f).getOrElse(0L)
    ColStat(s("col"), n("n_rows"), n("n_nulls"), n("ndv"), s("min"), s("max"))
  }

  def colStatLine(c: ColStat): JValue =
    ("col" -> c.col) ~ ("n_rows" -> c.nRows) ~ ("n_nulls" -> c.nNulls) ~
      ("ndv" -> c.ndv) ~ ("min" -> c.min) ~ ("max" -> c.max)

  // ---------------------------------------------------------- histograms
  // `hist`: one line per (column, bucket), {"column","bucket","lo","hi","rows"}.

  final case class HistBucket(column: String, bucket: Int, lo: Double,
                              hi: Double, rows: Long)

  def hist(p: Path): Seq[HistBucket] = lines(p).map { j =>
    HistBucket(required(str(j \ "column"), "column", j),
      required(int(j \ "bucket"), "bucket", j),
      double(j \ "lo"), double(j \ "hi"), required(long(j \ "rows"), "rows", j))
  }

  def histLine(b: HistBucket): JValue =
    ("column" -> b.column) ~ ("bucket" -> b.bucket) ~ ("lo" -> b.lo) ~
      ("hi" -> b.hi) ~ ("rows" -> b.rows)

  // ---------------------------------------------------- deletion vectors
  // `dv`: one line per (MOR commit, file). INLINE lines carry the positions,
  // {"v","token","file","pos":[...]}; REF lines name a root-relative
  // directory of parquet delete files plus per-file counts,
  // {"v","token","ref","nfiles":{...}}. Untokened lines (older history,
  // clone and expiry folds) are live by version alone.

  final case class DvLine(v: Int, token: Option[String], file: String,
                          ps: Seq[Long], ref: Option[String],
                          nfiles: Map[String, Long])

  def dv(p: Path): Seq[DvLine] = lines(p).map { j =>
    DvLine(int(j \ "v").getOrElse(Int.MaxValue), str(j \ "token"),
      str(j \ "file").getOrElse(""), longs(j \ "pos"), str(j \ "ref"),
      counts(j \ "nfiles"))
  }

  def dvLine(e: DvLine): JValue = {
    val head = ("v" -> e.v) ~ ("token" -> e.token)
    e.ref match {
      case Some(r) => head ~ ("ref" -> r) ~ ("nfiles" -> countsObj(e.nfiles))
      case None => head ~ ("file" -> e.file) ~ ("pos" -> e.ps)
    }
  }

  // ---------------------------------------------------- equality deletes
  // `eqdel`: one line per equality-delete commit,
  // {"v","token","col","vals":[...] | "ref","files":{...},"scope","applies"}.
  // `scope` (the sequence-number bound) is written by expiry folds and clone
  // inheritance, which move `v`; absent, it is `v`.

  /** `v` is the liveness version, `scopeV` the bound below which a file's
    * rows are subject to the delete; `applies`, when present, replaces the
    * scope rule with an explicit file list. */
  final case class EqDelete(v: Int, token: Option[String], col: String,
                            vals: Seq[String], fileCounts: Map[String, Long],
                            scope: Option[Int], applies: Option[Seq[String]],
                            ref: Option[String]) {
    def scopeV: Int = scope.getOrElse(v)
  }

  def eqDel(p: Path): Seq[EqDelete] = lines(p).map { j =>
    EqDelete(int(j \ "v").getOrElse(Int.MaxValue), str(j \ "token"),
      str(j \ "col").getOrElse(""), strs(j \ "vals"), counts(j \ "files"),
      int(j \ "scope"),
      j \ "applies" match { case a: JArray => Some(strs(a)); case _ => None },
      str(j \ "ref"))
  }

  def eqDelLine(e: EqDelete): JValue = {
    val payload: JObject = e.ref match {
      case Some(r) => "ref" -> r
      case None => "vals" -> e.vals
    }
    ("v" -> e.v) ~ ("token" -> e.token) ~ ("col" -> e.col) ~ payload ~
      ("files" -> countsObj(e.fileCounts)) ~ ("scope" -> e.scope) ~
      ("applies" -> e.applies)
  }

  // ------------------------------------------------- manifest file stats
  // `filestats`: one line per data file ever written,
  // {"file","rows","bounds":{"<col>":[lo,hi],...}}; later lines win.

  /** `bounds` keeps only finite bounds, whatever JSON number type wrote
    * them: a non-finite or malformed bound leaves the column unbounded
    * (must-scan), never prunable. `raw` is the line as read. */
  final case class FileStat(file: String, rows: Option[Long],
                            bounds: Map[String, (Double, Double)], raw: JValue)

  def fileStats(p: Path): Seq[FileStat] = lines(p).flatMap { j =>
    str(j \ "file").map { f =>
      val bounds = j \ "bounds" match {
        case JObject(fs) => fs.collect {
          case (c, JArray(List(lo, hi)))
              if double(lo).isFinite && double(hi).isFinite =>
            c -> (double(lo), double(hi))
        }.toMap
        case _ => Map.empty[String, (Double, Double)]
      }
      FileStat(f, long(j \ "rows"), bounds, j)
    }
  }

  def fileStatLine(file: String, rows: Long,
                   bounds: Seq[(String, (Double, Double))]): JValue =
    ("file" -> file) ~ ("rows" -> rows) ~
      ("bounds" -> JObject(bounds.toList.map { case (c, (lo, hi)) =>
        c -> (JArray(List(JDouble(lo), JDouble(hi))): JValue) }))

  /** The line `j` with its `file` field set to `file`. */
  def withFile(j: JValue, file: String): JValue = setField(j, "file", JString(file))

  // -------------------------------------------------------------- blooms
  // `blooms`: one line per (data file, column),
  // {"file","column","vtype","m","k","packed":"<base64>"} — `packed` is the
  // m-bit filter as big-endian 64-bit words. `vtype` is the key
  // normalization ("i" integral value, "s" string polyhash; absent = "i").
  // Legacy lines carry the set bits as a `bits` list instead.

  final case class Bloom(file: String, column: String, vtype: String, m: Int,
                         k: Int, words: Array[Long], raw: JValue)

  /** One bloom line, or None when it is not a well-formed bloom (such a
    * line is ignored: a file without a bloom is must-scan). */
  def bloom(j: JValue): Option[Bloom] = try {
    for {
      f <- str(j \ "file"); c <- str(j \ "column")
      m <- int(j \ "m"); k <- int(j \ "k")
    } yield {
      val nWords = (m + 63) / 64
      val words = j \ "packed" match {
        case JString(b64) =>
          val bytes = java.util.Base64.getDecoder.decode(b64)
          val buf = java.nio.ByteBuffer.wrap(bytes) // big-endian
          Array.fill(math.min(nWords, bytes.length / 8))(buf.getLong)
        case _ =>
          val ws = new Array[Long](nWords)
          longs(j \ "bits").foreach { b =>
            if (b >= 0 && b < m) ws((b >> 6).toInt) |= 1L << (b & 63)
          }
          ws
      }
      Bloom(f, c, str(j \ "vtype").getOrElse("i"), m, k, words, j)
    }
  } catch { case _: IllegalArgumentException => None } // bad base64

  def blooms(p: Path): Seq[Bloom] = lines(p).flatMap(bloom)

  def bloomLine(file: String, column: String, vtype: String, m: Int, k: Int,
                packed: String): JValue =
    ("file" -> file) ~ ("column" -> column) ~ ("vtype" -> vtype) ~
      ("m" -> m) ~ ("k" -> k) ~ ("packed" -> packed)

  // --------------------------------------------------------- NDV sketches
  // `ndv`: one line per (data file, column), {"file","col","k","mins":[...]}.

  final case class NdvSketch(file: String, col: String, k: Int, mins: Seq[Long])

  def ndv(p: Path): Seq[NdvSketch] = lines(p).map { j =>
    NdvSketch(str(j \ "file").getOrElse(""), str(j \ "col").getOrElse(""),
      int(j \ "k").getOrElse(0), longs(j \ "mins"))
  }

  def ndvLine(s: NdvSketch): JValue =
    ("file" -> s.file) ~ ("col" -> s.col) ~ ("k" -> s.k) ~ ("mins" -> s.mins)

  // ------------------------------------------------------------- renames
  // `renames`: one line per column rename, {"old","new","v"}.

  final case class Rename(oldName: String, newName: String, v: Int)

  def renames(p: Path): Seq[Rename] = lines(p).map { j =>
    Rename(required(str(j \ "old"), "old", j), required(str(j \ "new"), "new", j),
      required(int(j \ "v"), "v", j))
  }

  def renameLine(r: Rename): JValue =
    ("old" -> r.oldName) ~ ("new" -> r.newName) ~ ("v" -> r.v)

  // ---------------------------------------------------------------- meta
  // `meta`: one object, {"table","schema":[{"name","type","nullable"}],
  // "partition_spec":[...],"sort_order":[...],"properties":{...}}.

  final case class TableMeta(partitionSpec: Seq[String], sortOrder: Seq[String],
                             properties: Map[String, String])

  /** The meta object as read (None when the table has no meta sidecar). */
  def metaObject(p: Path): Option[JValue] = lines(p).headOption

  def meta(j: JValue): TableMeta = TableMeta(
    strs(j \ "partition_spec"), strs(j \ "sort_order"),
    j \ "properties" match {
      case JObject(fs) => fs.flatMap { case (k, v) => str(v).map(k -> _) }.toMap
      case _ => Map.empty
    })

  def metaLine(table: String, schema: StructType, partitionSpec: Seq[String],
               sortOrder: Seq[String], properties: Map[String, String]): JValue =
    ("table" -> table) ~
      ("schema" -> schema.fields.toList.map(f =>
        ("name" -> f.name) ~ ("type" -> f.dataType.sql.toLowerCase) ~
          ("nullable" -> f.nullable))) ~
      ("partition_spec" -> partitionSpec) ~ ("sort_order" -> sortOrder) ~
      ("properties" -> propsObj(properties))

  /** `j` with its properties replaced by `props` (moved to the end). */
  def withProperties(j: JValue, props: Map[String, String]): JValue = j match {
    case JObject(fs) =>
      JObject(fs.filterNot(_._1 == "properties") :+ ("properties" -> propsObj(props)))
    case other => other
  }

  /** `j` with its partition_spec replaced in place (absent stays absent). */
  def withPartitionSpec(j: JValue, spec: Seq[String]): JValue =
    setField(j, "partition_spec", JArray(spec.toList.map(JString(_))))

  private def propsObj(m: Map[String, String]): JObject =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) })

  // ------------------------------------------------ hidden partition spec
  // `hidden_spec`: one object, {"transform","source","n"}.

  /** (source column, bucket count) of the recorded spec. */
  def hiddenSpec(p: Path): Option[(String, Int)] = lines(p).headOption.flatMap { j =>
    for (s <- str(j \ "source"); n <- int(j \ "n")) yield (s, n)
  }

  def hiddenSpecLine(transform: String, source: String, n: Int): JValue =
    ("transform" -> transform) ~ ("source" -> source) ~ ("n" -> n)

  // ----------------------------------------------------- schema evolution
  // `evolution`: one object, {"add_column":{"name","type","default"}}.

  /** (column name, default SQL) of the recorded ADD COLUMN. */
  def evolution(p: Path): Option[(String, String)] = lines(p).headOption.flatMap { j =>
    val a = j \ "add_column"
    for (n <- str(a \ "name"); d <- str(a \ "default")) yield (n, d)
  }

  def evolutionLine(name: String, sqlType: String, defaultSql: String): JValue =
    "add_column" -> (("name" -> name) ~ ("type" -> sqlType) ~ ("default" -> defaultSql))

  private def setField(j: JValue, field: String, value: JValue): JValue = j match {
    case JObject(fs) => JObject(fs.map {
      case (`field`, _) => field -> value
      case other => other
    })
    case other => other
  }
}
