package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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
  * table: a [[GraftSnapshotFileIndex]] read by its type, a raw read of
  * segment dirs by its paths (on any Hadoop scheme; a read with
  * file-level filter options is not one). Pruning runs among the
  * read's OWN catalog entries — the index's snapshot, or for a path
  * read the current catalog's entries of its ids — so a plan captured
  * before a concurrent compact/delete keeps its snapshot's rows. The
  * relation's index is swapped for one narrowed to the survivors (same
  * schema, SAME output attributes, so the rest of the plan is
  * untouched); the Filter stays for exact row semantics — min/max
  * pruning is conservative, Parquet row-group stats prune further
  * inside the scan.
  *
  * Cost: driver-side and catalog-only. An index-backed read is pruned
  * from the entries it carries, with no file-system call, and the
  * narrowed index names its files from the same entries; a path read
  * costs one cached status read. The rule converges: re-application
  * computes the same survivor set and changes nothing.
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
    case f @ Filter(cond, l @ LogicalRelation(h: HadoopFsRelation, _, _, false, _)) =>
      SegmentedTable.scanOf(spark, h).flatMap(s => s.metas.map(s.table -> _)) match {
        case Some((t, metas)) =>
          val survivors = t.pruneAmong(metas, cond)
          // exact-filter elision (the rule-path twin of the V2
          // catalog's trichotomy): when every survivor is PROVEN
          // all-in — every row satisfies the predicate, null semantics
          // included — the pruned scan IS the filtered scan and the
          // Filter disappears from the plan (no per-row predicate eval
          // on a segment-aligned time-range scan, and downstream rules
          // like the stats-aggregate fold see the scan directly)
          val exact = survivors.nonEmpty && t.provenAllIn(survivors, cond)
          if (survivors.size == metas.size) {
            if (exact) l else f
          } else if (survivors.isEmpty)
            // nothing can match: collapse to an empty relation with
            // the SAME output attributes (Filter kept for safety)
            Filter(cond, LocalRelation(l.output))
          else {
            val pruned = l.copy(relation =
              h.copy(location = t.snapshotIndex(survivors))(h.sparkSession))
            if (exact) pruned else Filter(cond, pruned)
          }
        case None => f
      }
  }
}
