package graft.catalog

import scala.collection.mutable
import scala.util.Try
import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{RELATION_TIME_TRAVEL, UNRESOLVED_RELATION}

/** A table name that several lake tables answer to; a verb refuses it. */
class AmbiguousTableException(name: String, val candidates: Seq[(String, String)])
  extends IllegalArgumentException(s"table name '$name' is ambiguous: it names " +
    candidates.map { case (ns, t) => s"$ns.$t" }.mkString(", "))

/** The lake tables one gateway statement reads. A name is `ns.t`, a bare
  * `t` that only one namespace holds, or the SELECT alias `ns_t`, matched
  * case-insensitively; each (table, snapshot) is loaded once per
  * statement, through the catalog's own load methods. [[LakeRelationRule]]
  * resolves relations against the scope bound to the analyzing thread. */
final class LakeScope(catalog: LakeCatalog) {
  private val tables = catalog.listTables()
  private val plans = mutable.Map.empty[(String, String, String), LogicalPlan]
  /** dialect relations by their placeholder name: (table name, memo key, load) */
  private val bound = mutable.Map.empty[String, (Seq[String], String, (String, String) => DataFrame)]

  /** `t TAG AS OF name` and `t CHANGES BETWEEN a AND b`, the two relation
    * forms Spark's grammar lacks, become quoted placeholder names this
    * scope binds; string literals, quoted identifiers and comments are
    * kept verbatim. */
  def dialect(sql: String): String = LakeScope.dialectForm.replaceAllIn(sql, m =>
    Regex.quoteReplacement(
      if (m.group(1) != null) m.matched
      else {
        val name = m.matched.split("\\s+").mkString(" ")
        val table = m.group(2).split('.').toSeq
        bound(name) = Option(m.group(3)) match {
          case Some(tag) => (table, s"tag $tag", catalog.loadTag(_, _, tag))
          case None =>
            val (a, b) = (m.group(4).toInt, m.group(5).toInt)
            (table, s"changes $a $b", catalog.changes(_, _, a, b))
        }
        s"`$name`"
      }))

  /** The current snapshot of the table `parts` names, or the dialect
    * relation a placeholder binds. A table that fails to load (foreign
    * files in the warehouse, a corrupt generation) stays unresolved, so the
    * statement fails with TABLE_OR_VIEW_NOT_FOUND. */
  def relation(parts: Seq[String]): Option[LogicalPlan] = parts match {
    case Seq(name) if bound.contains(name) =>
      val (table, key, load) = bound(name)
      plan(table, key, load)
    case _ => Try(plan(parts, "", catalog.loadRenamed)).toOption.flatten
  }

  /** `t VERSION AS OF v`: a snapshot version, or a tag or branch name. */
  def version(parts: Seq[String], v: String): Option[LogicalPlan] =
    plan(parts, s"version $v", (ns, t) =>
      v.toIntOption.fold(catalog.loadTag(ns, t, v))(catalog.loadSnapshot(ns, t, _)))

  private def plan(parts: Seq[String], key: String,
                   load: (String, String) => DataFrame): Option[LogicalPlan] = {
    val aliased = parts match {
      case Seq(name) => tables.filter { case (ns, t) => s"${ns}_$t".equalsIgnoreCase(name) }
      case _ => Nil
    }
    (LakeScope.candidates(tables, parts) ++ aliased).distinct match {
      case Seq((ns, t)) => Some(SubqueryAlias(parts,
        plans.getOrElseUpdate((ns, t, key), load(ns, t).queryExecution.analyzed)))
      case _ => None
    }
  }

  /** `f` with this scope bound to the calling thread. A ThreadLocal rather
    * than an inheritable binding: a pool thread Spark starts during the
    * statement must not keep the scope afterwards. */
  def within[T](f: => T): T = {
    val outer = LakeScope.current.get
    LakeScope.current.set(this)
    try f finally LakeScope.current.set(outer)
  }
}

object LakeScope {
  private[catalog] val current = new ThreadLocal[LakeScope]

  private val dialectForm = ("""(?is)('(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*"|`[^`]*`|--[^\n]*|/\*.*?\*/)""" +
    """|\b((?:\w+\.)?\w+)\s+(?:TAG\s+AS\s+OF\s+(\w+)|CHANGES\s+BETWEEN\s+(\d+)\s+AND\s+(\d+))\b""").r

  /** Every (namespace, table) of `tables` that `[ns.]t` names,
    * case-insensitively: the one table-name reading of SELECTs and verbs. */
  def candidates(tables: Seq[(String, String)], parts: Seq[String]): Seq[(String, String)] =
    tables.filter { case (ns, t) => t.equalsIgnoreCase(parts.last) &&
      (parts.size == 1 || ns.equalsIgnoreCase(parts.init.mkString("."))) }
}

/** Resolves relations that name lake tables, while a [[LakeScope]] is bound:
  * a table becomes the catalog's plan of its current snapshot, and
  * `t VERSION AS OF v` that version, tag or branch. It runs with the hint
  * rules, after CTE substitution and before Resolution, so a lake table
  * wins over a session temp view of the same name and a CTE still shadows
  * a lake table. A name no lake table answers to is left to Spark. */
object LakeRelationRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = LakeScope.current.get match {
    case null => plan
    case scope => plan.resolveOperatorsUpWithSubqueriesAndPruning(
        _.containsAnyPattern(UNRESOLVED_RELATION, RELATION_TIME_TRAVEL)) {
      case u: UnresolvedRelation if !u.isStreaming =>
        scope.relation(u.multipartIdentifier).getOrElse(u)
      case tt @ RelationTimeTravel(u: UnresolvedRelation, None, Some(v)) =>
        scope.version(u.multipartIdentifier, v).getOrElse(tt)
    }
  }
}
