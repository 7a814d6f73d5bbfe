package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, NullsFirst, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.table.SegmentedTable

/** Ordered-scan elision on `sort_columns` (SURVEY §4 row 4 — the
  * reference's loads are globally sorted by MDKey, so its scans can
  * serve key-ordered reads without re-sorting;
  * `processing/.../sortdata` external sort feeding the writer). Our
  * writer sorts every segment write WITHIN partitions
  * ([[SegmentedTable]] applyLayout), so each parquet FILE is a sorted
  * run on the sort_columns prefix. A global `ORDER BY <asc
  * nulls-first sort-prefix>` over ONE small segment therefore needs
  * no SortExec at all: a K-way merge of the per-file runs streams the
  * rows out already ordered.
  *
  * Scale-honest by construction: the merge is a SINGLE task, which is
  * the right shape only when the result would funnel into one
  * consumer anyway (a bounded export, a small segment's ordered
  * read). Above `spark.graft.mergeSortedScanMaxBytes` (default
  * 256 MB) — and for multi-segment scans, where a full parallel sort
  * wins — the strategy declines and Spark plans its usual
  * range-partitioned SortExec.
  */
object MergeSortedScan {
  private[graft] val Marker = "spark.graft.rule.mergeSortedScan"
  val MaxBytesKey = "spark.graft.mergeSortedScanMaxBytes"
  val MaxBytesDefault: Long = 256L * 1024 * 1024

  /** Register the strategy in a session built WITHOUT
    * GraftSqlExtensions (Verify/Bench run plain sessions). Same
    * idempotence/synchronization contract as the optimizer-rule
    * appenders.
    */
  def ensureRegistered(s: SparkSession): Unit = {
    s.sessionState.optimizer
    s.synchronized {
      if (!java.lang.Boolean.parseBoolean(s.conf.get(Marker, "false"))) {
        s.conf.set(Marker, "true")
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ GraftSortedScanStrategy(s)
      }
    }
  }
}

case class GraftSortedScanStrategy(spark: SparkSession) extends SparkStrategy {
  spark.conf.set(MergeSortedScan.Marker, "true")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s @ Sort(order, true, child, _) if order.nonEmpty =>
      stripProjects(child) match {
        case Some(l @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)) =>
          // the replacement must produce the SORT node's own output —
          // the (possibly pruned/reordered) attribute list any
          // stripped Projects left, which also becomes the merge
          // scan's read schema
          planMerge(order, s.output, l, h).toSeq
        case _ => Nil
      }
    case _ => Nil
  }

  /** Attribute-only projects between Sort and the scan — a prune or
    * reorder of columns never changes per-file sortedness.
    */
  private def stripProjects(p: LogicalPlan): Option[LogicalRelation] = p match {
    case l: LogicalRelation => Some(l)
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
      stripProjects(child)
    case _ => None
  }

  private def planMerge(order: Seq[SortOrder], out: Seq[Attribute],
                        l: LogicalRelation,
                        h: HadoopFsRelation): Option[SparkPlan] = {
    // ONE segment dir of one graft table, read without file filters
    val scan = SegmentedTable.scanOf(spark, h).filter(_.ids.size == 1)
      .getOrElse(return None)
    val (t, segId) = (scan.table, scan.ids.head)
    // raw per-file order describes read rows only when no declared
    // default could coalesce over NULLs, and only when the layout
    // actually sorted (z-order does not)
    if (t.hasDeclaredDefaults || t.zorderColumns.nonEmpty ||
        t.sortColumns.isEmpty) return None
    // the requested order must be an ascending nulls-first prefix of
    // sort_columns over bare attributes (sortWithinPartitions' exact
    // contract)
    val names = order.map { so =>
      so.child match {
        case a: AttributeReference
            if so.direction == Ascending && so.nullOrdering == NullsFirst =>
          Some(a.name)
        case _ => None
      }
    }
    if (names.exists(_.isEmpty)) return None
    if (!t.sortColumns.startsWith(names.map(_.get))) return None
    // live, size-bounded segment (the single-task merge is only the
    // right shape below the bound)
    val maxBytes =
      try spark.conf.get(MergeSortedScan.MaxBytesKey,
        MergeSortedScan.MaxBytesDefault.toString).toLong
      catch { case scala.util.control.NonFatal(_) => MergeSortedScan.MaxBytesDefault }
    val meta = t.showSegments()
      .find(s => s.id == segId && s.status == SegmentedTable.SUCCESS)
      .getOrElse(return None)
    if (meta.bytes < 0L || meta.bytes > maxBytes) return None
    // the per-file sorted runs, from the relation's OWN FileIndex —
    // exactly the file set the elided scan would read (a fresh
    // directory listing could disagree with the index snapshot and
    // include files the scan never would); decline explicitly on
    // non-local schemes, where the single-task merge has no business
    val listed = h.location.listFiles(Nil, Nil).flatMap(_.files)
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    // decline BEFORE mapping: a non-local return inside a .map closure
    // compiles to NonLocalReturnControl, which only works while the
    // collection is eager — keep the control flow outside the lambda
    if (listed.exists { f =>
        val scheme = f.getPath.toUri.getScheme
        scheme != null && scheme != "file"
      }) return None
    val files = listed.map(f => (f.getPath.toUri.getPath, f.getLen))
      .sortBy(_._1)
    if (files.isEmpty) return None
    val readSchema = StructType(out.map(a =>
      h.dataSchema.fields.find(_.name == a.name).getOrElse(return None)))
    // rows, not vectorized batches: the merge holds one row per run
    // in a heap, which the batch shape can't serve
    val reader = h.fileFormat.buildReaderWithPartitionValues(
      spark, h.dataSchema, new StructType(), readSchema, Nil,
      h.options + (org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(h.options))
    Some(GraftMergeSortedScanExec(out, files, order, reader))
  }
}

/** K-way merge of per-file sorted runs as ONE partition, declaring
  * the merged order — the Sort (and any Exchange a global sort would
  * need) disappears from the plan.
  */
case class GraftMergeSortedScanExec(
    output: Seq[Attribute],
    files: Seq[(String, Long)],
    order: Seq[SortOrder],
    reader: PartitionedFile => Iterator[InternalRow]) extends LeafExecNode {

  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = SinglePartition
  override def simpleStringWithNodeId(): String =
    s"GraftMergeSortedScan (${files.length} sorted runs)"
  override def nodeName: String = "GraftMergeSortedScan"

  protected override def doExecute(): RDD[InternalRow] = {
    val ord = new LazilyGeneratedOrdering(order, output)
    val fs = files
    val rd = reader
    val attrs = output
    sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val runs = fs.map { case (path, len) =>
        val pf = new PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPathString(path), 0L, len,
          Array.empty[String], 0L, len,
          Map.empty[String, Any])
        // the reader may hand back vectorized batches disguised as
        // rows (FileSourceScanExec unwraps the same way)
        rd(pf).flatMap {
          case b: ColumnarBatch =>
            import scala.jdk.CollectionConverters._
            b.rowIterator().asScala
          case r => Iterator.single(r)
        }
      }
      // downstream consumers (serialization, whole-stage parents)
      // expect UnsafeRow from a leaf exec
      val toUnsafe = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(attrs, attrs)
      kWayMerge(runs, ord).map(toUnsafe)
    }
  }

  /** Heap-merge; readers REUSE row objects, so every row held in the
    * heap is a copy. O(total log k) compares, streaming memory.
    */
  private def kWayMerge(runs: Seq[Iterator[InternalRow]],
                        ord: Ordering[InternalRow]): Iterator[InternalRow] = {
    // min-heap via reversed ordering on the head row
    val heap = new mutable.PriorityQueue[(InternalRow, Iterator[InternalRow])]()(
      Ordering.by[(InternalRow, Iterator[InternalRow]), InternalRow](_._1)(
        ord.reverse))
    runs.foreach(it => if (it.hasNext) heap.enqueue((it.next().copy(), it)))
    new Iterator[InternalRow] {
      override def hasNext: Boolean = heap.nonEmpty
      override def next(): InternalRow = {
        val (row, it) = heap.dequeue()
        if (it.hasNext) heap.enqueue((it.next().copy(), it))
        row
      }
    }
  }
}
