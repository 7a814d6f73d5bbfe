package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Cast, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnExpr
import org.apache.spark.sql.types.LongType

import graft.table.SegmentedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}

/** ANSI `MERGE INTO` and `UPDATE` on a graft catalog table, planned
  * from Spark's own parser: this post-hoc resolution rule turns the
  * resolved `MergeIntoTable`/`UpdateTable` over a [[GraftV2Table]] into
  * the graft command that runs it. Spark's grammar, name resolution,
  * `*` expansion, store-assignment casts and parameter markers apply
  * unchanged; statements on other catalogs pass through untouched.
  *
  * A MERGE takes one of two routes, chosen from the resolved clauses:
  *  - the key upsert ([[graft.table.SegmentedTable.merge]]): exactly
  *    one unconditional UPDATE and one unconditional INSERT, each
  *    assigning every target column from the same-named source column,
  *    with `ON` an AND of same-named target = source column equalities;
  *  - every other MERGE runs [[graft.table.SegmentedTable.mergeFull]].
  *
  * The commands carry the resolved source plan and Columns over graft's
  * own frames: target columns become names (the engine reads the
  * target itself), source columns keep their resolved attributes (the
  * source frame IS the resolved source plan).
  */
object GraftRowLevelDml extends Rule[LogicalPlan] with PredicateHelper {
  /** Aliases of the target and source sides of mergeFull's join. */
  private[sql] val TargetAlias = "__graft_target"
  private[sql] val SourceAlias = "__graft_source"

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.resolved =>
      graftTable(m.targetTable).fold(plan)(merge(_, m))
    case u: UpdateTable if u.resolved =>
      graftTable(u.table).fold(plan) { t =>
        val target = u.table.outputSet
        UpdateGraftCommand(t,
          u.assignments.map(a => columnName(a.key) -> column(a.value, target, Nil)),
          u.condition.fold(lit(true))(column(_, target, Nil)))
      }
    case _ => plan
  }

  private def graftTable(target: LogicalPlan): Option[GraftV2Table] =
    EliminateSubqueryAliases(target) match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftV2Table => Some(t)
        case _ => None
      }
      case _ => None
    }

  private def merge(t: GraftV2Table, m: MergeIntoTable): LogicalPlan = {
    val target = m.targetTable.outputSet
    val source = m.sourceTable.outputSet
    val pairs = splitConjunctivePredicates(m.mergeCondition).map(keyPair(_, target, source))
    val equiKeys = if (pairs.forall(_.isDefined)) pairs.flatten else Nil
    // every target column, once, from the same-named source column
    def copiesSource(as: Seq[Assignment]): Boolean =
      as.map(_.key).collect { case k: Attribute if target.contains(k) => k.exprId }
        .distinct.size == target.size &&
        as.forall(a => (a.key, withoutCasts(a.value)) match {
          case (k: Attribute, v: Attribute) => source.contains(v) && conf.resolver(k.name, v.name)
          case _ => false
        })
    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      case (Seq(UpdateAction(None, ups, _)), Seq(InsertAction(None, ins)), Seq())
          if equiKeys.nonEmpty && equiKeys.forall { case (tc, sc) => conf.resolver(tc, sc) } &&
            copiesSource(ups) && copiesSource(ins) =>
        MergeUpsertGraftCommand(t, m.sourceTable,
          ins.map(a => ColumnExpr.toColumn(a.value).as(columnName(a.key))),
          equiKeys.map(_._1))
      case _ =>
        def targetColumn(e: Expression) = column(e, target, Seq(TargetAlias))
        def clause(a: MergeAction): MergeWhen = a match {
          case UpdateAction(c, as, _) => MergeUpdate(c.map(targetColumn),
            as.map(x => columnName(x.key) -> targetColumn(x.value)))
          case DeleteAction(c) => MergeDelete(c.map(targetColumn))
          case InsertAction(c, as) => MergeInsert(c.map(targetColumn),
            as.map(x => columnName(x.key)), as.map(x => targetColumn(x.value)))
          case other => throw new IllegalArgumentException(
            s"graft MERGE: unsupported clause ${other.sql}")
        }
        MergeFullGraftCommand(t, m.sourceTable, targetColumn(m.mergeCondition),
          m.matchedActions.map(clause),
          m.notMatchedActions.map(clause).collect { case i: MergeInsert => i },
          m.notMatchedBySourceActions.map(clause), equiKeys)
    }
  }

  /** The (target, source) column names of an `ON` conjunct equating a
    * target column with a source column, the source side possibly
    * widened to the target's type.
    */
  private def keyPair(e: Expression, target: AttributeSet,
                      source: AttributeSet): Option[(String, String)] = {
    def sourceColumn(x: Expression): Option[Attribute] = x match {
      case a: Attribute if source.contains(a) => Some(a)
      case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) => sourceColumn(c.child)
      case _ => None
    }
    e match {
      case EqualTo(tc: Attribute, s) if target.contains(tc) => sourceColumn(s).map(tc.name -> _.name)
      case EqualTo(s, tc: Attribute) if target.contains(tc) => sourceColumn(s).map(tc.name -> _.name)
      case _ => None
    }
  }

  private def withoutCasts(e: Expression): Expression = e match {
    case c: Cast => withoutCasts(c.child)
    case other => other
  }

  private def columnName(key: Expression): String = key match {
    case a: Attribute => a.name
    case other => throw new IllegalArgumentException(
      s"graft MERGE/UPDATE assigns whole columns only, got ${other.sql}")
  }

  /** `e` as a Column over graft's frames: each target column becomes
    * its name under `qualifier`; everything else stays resolved.
    */
  private def column(e: Expression, target: AttributeSet, qualifier: Seq[String]): Column =
    ColumnExpr.toColumn(e.transform {
      case a: AttributeReference if target.contains(a) => UnresolvedAttribute(qualifier :+ a.name)
    })
}

/** The key upsert of an ANSI MERGE ([[graft.table.SegmentedTable.merge]]):
  * `incoming` projects the source onto the target's columns with the
  * INSERT's store-assignment casts. Returns the count of replaced rows.
  */
private[graft] case class MergeUpsertGraftCommand(table: GraftV2Table,
    source: LogicalPlan, incoming: Seq[Column], keyCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("replaced_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(table.open().merge(
      ColumnExpr.ofRows(spark, source).select(incoming: _*), keyCols)))
}

/** Every other ANSI MERGE — conditional clauses, DELETE, column-list
  * INSERT, `WHEN NOT MATCHED BY SOURCE` — through
  * [[graft.table.SegmentedTable.mergeFull]]'s single-join copy-on-write
  * rewrite (one atomic commit; ANSI multi-match cardinality enforced).
  * Returns (updated, deleted, inserted) row counts.
  */
private[graft] case class MergeFullGraftCommand(table: GraftV2Table,
    source: LogicalPlan, on: Column, matched: Seq[MergeWhen],
    notMatched: Seq[MergeInsert], bySource: Seq[MergeWhen],
    equiKeys: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("updated_rows", LongType, nullable = false)(),
    AttributeReference("deleted_rows", LongType, nullable = false)(),
    AttributeReference("inserted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (u, d, i) = table.open().mergeFull(ColumnExpr.ofRows(spark, source),
      GraftRowLevelDml.SourceAlias, GraftRowLevelDml.TargetAlias, on,
      matched, notMatched, equiKeys, bySource)
    Seq(Row(u, d, i))
  }
}

/** ANSI `UPDATE <cat>.<ns>.t SET ... [WHERE ...]` — the copy-on-write
  * [[graft.table.SegmentedTable.update]]. Returns the count of updated
  * rows.
  */
private[graft] case class UpdateGraftCommand(table: GraftV2Table,
    assignments: Seq[(String, Column)], condition: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(table.open().update(condition, assignments.toMap)))
}
