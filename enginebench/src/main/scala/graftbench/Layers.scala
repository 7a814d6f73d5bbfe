package graftbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.mv.AggTables
import graft.table.SegmentedTable

/** Traced-run probes into the engine's layers, taken from outside the
  * engine: plan inspection after an operation, and direct calls into
  * `graft.table` and `graft.mv` between operations. All are no-ops in
  * untimed or untraced runs.
  */
object Layers {
  val RollupClasses = Set("rollup", "agg_scan")

  /** Did the engine's optimized plan read the rollup, and did its
    * physical plan use the merge-sorted scan?
    */
  def notePlan(h: Harness, cls: String, qe: QueryExecution, mvStore: String): Unit =
    if (h.trace && h.recording) {
      if (RollupClasses(cls)) {
        val hit = qe.optimizedPlan.exists {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
            r.location.rootPaths.exists(_.toString.contains(mvStore))
          case _ => false
        }
        h.sample("mv.rewrite_hits", if (hit) 1 else 0)
      }
      if (cls == "ordered") {
        val hit = qe.executedPlan.exists(_.getClass.getName.startsWith("graft.plans."))
        h.sample("plans.sorted_scan_hits", if (hit) 1 else 0)
      }
    }

  /** Segment pruning for the round's point and range predicates, and
    * the rollup's staleness fingerprint.
    */
  def probeTable(h: Harness, table: SegmentedTable, point: Column, range: Column): Unit =
    if (h.trace && h.recording) {
      h.sample("table.segments_kept.point",
        h.span("table.prune")(table.pruneSegments(point)).size)
      h.sample("table.segments_kept.range",
        h.span("table.prune")(table.pruneSegments(range)).size)
      h.sample("table.segments_total", table.status.segments.count(_.status == SegmentedTable.SUCCESS))
      val t0 = System.nanoTime()
      h.span("mv.fingerprint")(AggTables.fingerprint(h.spark, table.root.toString))
      h.sample("mv.fingerprint_ms", (System.nanoTime() - t0) / 1e6)
    }
}
