package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.ColumnExpr

/** Automatic driver-side segment pruning as an optimizer rule — the
  * query-plan twin of [[SegmentedTable.scan]], so that ANY filtered
  * read of a graft table (DataFrame over `format("graft")`, a temp
  * view from CREATE GRAFT TABLE, plain SQL) skips non-matching
  * segments without the caller going through the manual scan API.
  * This is the optimizer-integrated form of the reference's
  * driver-side block pruning (CarbonInputFormat.getSplits BTree
  * lookup feeding CarbonQueryRDD partitions).
  *
  * Shape: `Filter(cond, LogicalRelation(parquet))` whose relation
  * [[SegmentedTable.scanOf]] recognizes as a segment scan of one graft
  * table, on any Hadoop scheme; a read with file-level filter options
  * is not one, since rebuilding it over the survivors would drop the
  * options. The relation is swapped for one over only the surviving
  * segments (same schema, SAME output attributes, so the rest of the
  * plan is untouched); the Filter stays for exact row semantics —
  * min/max pruning is conservative, Parquet row-group stats prune
  * further inside the scan.
  *
  * Cost: one status-file read per candidate (filter, graft-relation)
  * pair per optimization pass — driver-side, kilobyte-scale, the same
  * cost class as Spark's own file-index refresh. The rule converges:
  * re-application computes the same survivor set and changes nothing.
  */
object GraftSegmentPruning {
  private[graft] val Marker = "spark.graft.rule.segmentPruning"

  /** Register the rule in a session built WITHOUT GraftSqlExtensions
    * (Verify/Bench run plain sessions). No-op when the extension
    * already injected it: forcing the optimizer to build first runs
    * the injected constructor, which stamps the session marker —
    * without the check the rule would run twice per optimizer pass,
    * doubling the driver-side catalog reads on every query.
    */
  def ensureRegistered(s: SparkSession): Unit = {
    s.sessionState.optimizer
    // synchronized on the session (shared monitor with
    // AggTableRewrite.ensureRegistered): the check-then-append on the
    // shared extraOptimizations var must not interleave with another
    // appender under Verify's parallel dump
    s.synchronized {
      if (!java.lang.Boolean.parseBoolean(s.conf.get(Marker, "false")))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ GraftSegmentPruning(s)
    }
  }
}

case class GraftSegmentPruning(spark: SparkSession) extends Rule[LogicalPlan] {
  spark.conf.set(GraftSegmentPruning.Marker, "true")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, l: LogicalRelation) if !l.isStreaming =>
      l.relation match {
        case h: HadoopFsRelation =>
          SegmentedTable.scanOf(spark, h) match {
            case Some(scan) =>
              val t = scan.table
              // prune WITHIN the relation's snapshot: look up catalog
              // stats for exactly the segment ids the relation already
              // references (whatever their current status — COMPACTED/
              // DELETED entries keep their stats until cleanFiles), so
              // a plan captured before a concurrent compact/delete
              // keeps returning its snapshot's rows. An id no longer
              // in the catalog has no stats → kept, conservative.
              val byId = t.status.segments.map(m => m.id -> m).toMap
              val survivors = t.pruneAmong(scan.ids.flatMap(byId.get), cond)
              val survivorIds = survivors.map(_.id).toSet
              val keep = h.location.rootPaths.zip(scan.ids).filter {
                case (_, id) => !byId.contains(id) || survivorIds.contains(id)
              }
              // exact-filter elision (the rule-path twin of the V2
              // catalog's trichotomy): when every kept path is a
              // catalog-known segment PROVEN all-in — every row
              // satisfies the predicate, null semantics included —
              // the pruned scan IS the filtered scan and the Filter
              // disappears from the plan (no per-row predicate eval
              // on a segment-aligned time-range scan, and downstream
              // rules like the stats-aggregate fold see the scan
              // directly). Conservative: one unknown id or one
              // unproven survivor keeps the Filter.
              val exact = keep.nonEmpty &&
                keep.forall { case (_, id) => byId.contains(id) } &&
                t.provenAllIn(survivors, cond)
              if (keep.length == scan.ids.length) {
                if (exact) l else f
              } else if (keep.isEmpty)
                // nothing can match: collapse to an empty relation with
                // the SAME output attributes (Filter kept for safety)
                Filter(cond, LocalRelation(l.output))
              else {
                val rel = ColumnExpr.parquetRelation(spark,
                  keep.map(_._1.toString), t.schema)
                val pruned = l.copy(relation = rel)
                if (exact) pruned else Filter(cond, pruned)
              }
            case None => f
          }
        case _ => f
      }
  }
}
