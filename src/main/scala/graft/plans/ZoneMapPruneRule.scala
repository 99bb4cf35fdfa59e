package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.catalog.Sidecar

/** Planning-time zone-map file pruning as an injected Catalyst optimizer
  * rule — the TRANSPARENT rendition of what [[graft.catalog.LakeCatalog]]
  * exposes as an API ([[graft.catalog.LakeCatalog.pruneFilesBox]], gated by
  * c_zone_skip / c_zorder): a plain `spark.read.parquet(tableDir)` or SQL
  * view over a graft table directory, filtered on numeric columns, has its
  * FILE LIST narrowed at optimization time from the manifest-stats sidecar
  * alone — before any footer is opened, before any task is scheduled. This
  * is the planning-time half of Iceberg's scan (manifest min/max pruning);
  * Spark's own parquet row-group skipping still applies to the survivors
  * at execution, but at 100 TB the difference is scheduling 10⁶ tasks vs
  * 10⁴ — the rule removes whole files from the PLAN.
  *
  * Semantics-preserving by construction, for any table state:
  *   - only files whose RECORDED bounds exclude the predicate box are
  *     dropped; files without sidecar bounds always survive (must-scan);
  *   - the row-level Filter itself is left untouched (pruning is
  *     file-granular — survivors still filter);
  *   - the rule fires only on a single-directory parquet relation whose
  *     directory has a manifest-stats (`filestats`) sidecar sibling (i.e.
  *     IS a graft catalog table), so no foreign dataset is ever touched;
  *   - bounds conjuncts come only from AND-chains of `col <op> literal`
  *     comparisons on numeric columns (the exact class zone maps answer);
  *     anything else contributes no constraint;
  *   - r8: integral `col = literal` conjuncts additionally consult the
  *     `blooms` sidecar (the puffin-blob analog):
  *     a file whose bloom PROVES the key absent is dropped even when its
  *     zone bounds overlap (the scattered-key case a clustered layout
  *     can't range-prune); files or columns without blooms must-scan.
  *
  * Fixpoint: a pruned relation's file index roots are FILES, not one
  * directory, so the guard fails and the rule never re-fires on its own
  * output. Any internal error falls back to the original plan — an
  * optimizer rule must never be able to fail a query.
  *
  * Reference capability anchor: the reference's scan delegates layout to
  * pyiceberg's plan_files (IcebergConnection.py:99-131) which does exactly
  * this manifest pruning server-side; this rule is that step expressed the
  * Spark-native way (SparkSessionExtensions → Rule[LogicalPlan]).
  */
case class ZoneMapPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[HadoopFsRelation] =>
      try prune(f, cond, lr) catch { case _: Throwable => f }
  }

  private def prune(f: Filter, cond: Expression,
                    lr: LogicalRelation): LogicalPlan = {
    val rel = lr.relation.asInstanceOf[HadoopFsRelation]
    // hive-partitioned layouts (appendEvolved's _p=<v>/ dirs) derive column
    // values from DIRECTORY names; replacing the index with a leaf-file
    // InMemoryFileIndex would drop the partition spec while the relation
    // still declares the column — bail out, mirroring countStar's
    // hasPartitionDirs guard (partition pruning already covers these)
    if (rel.partitionSchema.nonEmpty) return f
    val roots = rel.location.rootPaths
    if (roots.length != 1) return f
    val dir = Paths.get(roots.head.toUri.getPath)
    if (!Files.isDirectory(dir)) return f
    val table = dir.getFileName.toString
    val statsPath = Sidecar.path(dir.getParent, table, Sidecar.FileStats)
    if (!Files.exists(statsPath)) return f
    val box = ZoneMapPruneRule.boxOf(cond)
    // bloom skipping for equality conjuncts (the puffin-blob analog): a
    // clustered layout zone-prunes ranges but cannot prune a SCATTERED key
    // — the bloom sidecar proves per-file absence. Integral columns probe
    // by value ("i" indexes — equality through a lossy cast would be
    // unsound, so only lossless-integral literals participate); STRING
    // columns (r9) probe by the portable scalar polyhash ("s" indexes —
    // doc ids, urls, uuids: the key class that is NEVER range-prunable).
    // The probe carries its key normalization and a file only prunes when
    // its recorded vtype matches.
    val integralCols = rel.dataSchema.fields.collect {
      case sf if sf.dataType == org.apache.spark.sql.types.LongType ||
                 sf.dataType == org.apache.spark.sql.types.IntegerType => sf.name
    }.toSet
    val stringCols = rel.dataSchema.fields.collect {
      case sf if sf.dataType == org.apache.spark.sql.types.StringType => sf.name
    }.toSet
    // column → (hashed probe key, required vtype)
    val eqs: Map[String, (Long, String)] =
      ZoneMapPruneRule.eqLongsOf(cond).collect {
        case (c, v) if integralCols(c) => c -> (v, "i") } ++
      ZoneMapPruneRule.eqStringsOf(cond).collect {
        case (c, s) if stringCols(c) =>
          c -> (graft.functions.PolyHash.stringHashOf(s), "s") }
    // file basename → column → bloom, later lines winning
    val blooms: Map[String, Map[String, Sidecar.Bloom]] =
      if (eqs.isEmpty) Map.empty
      else Sidecar.blooms(Sidecar.path(dir.getParent, table, Sidecar.Blooms))
        .groupBy(_.file).map { case (f, bs) => f -> bs.map(b => b.column -> b).toMap }
    if (box.isEmpty && blooms.isEmpty) return f
    // file basename → column → (min, max); committed names may be
    // `../src/<base>` clone references
    val bounds = Sidecar.fileStats(statsPath)
      .map(s => s.file.substring(s.file.lastIndexOf('/') + 1) -> s.bounds).toMap
    val files = rel.location.inputFiles
    val survivors = files.filter { path =>
      val name = path.substring(path.lastIndexOf('/') + 1)
      val zonePass = bounds.get(name) match {
        case Some(colBounds) =>
          box.forall { case (column, (lo, hi)) =>
            colBounds.get(column) match {
              case Some((mn, mx)) => mx >= lo && mn <= hi
              case None => true // column unbounded in this file: must-scan
            }
          }
        case None => true // file unknown to the sidecar: must-scan
      }
      val bloomPass = blooms.get(name) match {
        case Some(cols) => eqs.forall { case (column, (hashed, want)) =>
          cols.get(column) match {
            case Some(b) if b.vtype == want =>
              graft.catalog.LakeCatalog.bloomMightContain(b.m, b.k, b.words, hashed)
            case _ => true // not indexed / wrong normalization: must-scan
          }
        }
        case None => true // file has no blooms: must-scan
      }
      zonePass && bloomPass
    }
    if (survivors.length >= files.length) return f
    // even a fully-pruned scan keeps ONE survivor so the relation stays
    // non-empty-path (schema/partitioning intact); its rows still filter
    val kept = if (survivors.isEmpty) files.take(1) else survivors
    val idx = new InMemoryFileIndex(spark,
      kept.toIndexedSeq.map(new HPath(_)),
      Map.empty[String, String], Some(rel.dataSchema))
    Filter(cond, lr.copy(relation =
      rel.copy(location = idx)(spark)))
  }
}

object ZoneMapPruneRule {
  import org.apache.spark.sql.catalyst.expressions._

  /** Per-column [lo, hi] constraints from the AND-conjuncts of `cond` that
    * are `col <op> numeric-literal` comparisons — shared by the optimizer
    * rule and the gateway's EXPLAIN PRUNING observability verb (both must
    * see the predicate the same way or the explanation lies). */
  def boxOf(cond: Expression): Map[String, (Double, Double)] = {
    def num(l: Literal): Option[Double] = l.value match {
      case null => None
      case v: java.lang.Number => Some(v.doubleValue())
      case d: java.math.BigDecimal => Some(d.doubleValue())
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val ranges = conjuncts(cond).flatMap {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case LessThan(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case EqualTo(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, v))
      // literal-on-the-left mirrors
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case LessThan(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case EqualTo(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, v))
      case _ => Seq.empty
    }
    ranges.groupBy(_._1).map { case (c, rs) =>
      c -> (rs.map(_._2).max, rs.map(_._3).min)
    }
  }

  /** `col = <integral literal>` AND-conjuncts of `cond`, as exact longs —
    * the class the bloom sidecar answers (hashes are over cast-to-long
    * values, so only lossless-integral literals participate). */
  def eqLongsOf(cond: Expression): Map[String, Long] = {
    def intLong(l: Literal): Option[Long] = l.value match {
      case v: java.lang.Long => Some(v.longValue())
      case v: java.lang.Integer => Some(v.longValue())
      case v: java.lang.Short => Some(v.longValue())
      case v: java.lang.Byte => Some(v.longValue())
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    conjuncts(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) => intLong(l).map(a.name -> _)
      case EqualTo(l: Literal, a: AttributeReference) => intLong(l).map(a.name -> _)
      case _ => None
    }.toMap
  }

  /** `col = '<string literal>'` AND-conjuncts of `cond` — the class the
    * string-keyed ("vtype":"s") bloom sidecars answer (r9). */
  def eqStringsOf(cond: Expression): Map[String, String] = {
    def strOf(l: Literal): Option[String] = l.value match {
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case s: String => Some(s)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    conjuncts(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) => strOf(l).map(a.name -> _)
      case EqualTo(l: Literal, a: AttributeReference) => strOf(l).map(a.name -> _)
      case _ => None
    }.toMap
  }
}
