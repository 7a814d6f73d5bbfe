package graft.mv

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{SegmentedTable, SegmentMeta}
import graft.table.SegmentedTable.SegmentScan

/** Driver-only global aggregates: an unfiltered, ungrouped
  * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over a graft table's
  * segment scan is answered from the segment catalog — no executor
  * job at all. Generalizes the reference's CountStarQueryExecutor /
  * CarbonInputFormat.getRowCount:208 fast path (SURVEY.md §4 row 7)
  * to every aggregate the per-segment footer stats can serve exactly:
  * the catalog stores exact per-segment min/max (collected by a real
  * Spark aggregate at stage time, round-trippable strings) and
  * per-column null counts, and COW updates/deletes restage segments
  * with fresh stats, so folding over live segments IS the answer.
  * At cluster scale this turns "MIN(ts), MAX(ts), COUNT(*) over
  * 100 TB" from a full scan into a driver-side catalog read.
  *
  * Fires only when: no grouping, every aggregate output is one of the
  * four servable shapes over a bare column, and the scan is a segment
  * scan of one graft table ([[SegmentedTable.scanOf]], or the catalog
  * relation's own live set) whose CURRENT catalog still tracks each
  * scanned id as live (ids are never reused and segment
  * dirs are immutable, so the stats describe the scanned data
  * verbatim; a stale plan over a since-deleted segment bails).
  * FILTERED aggregates fold too, when the catalog can prove a
  * trichotomy over the scanned segments: each is either all-OUT
  * (min/max/bloom/null-count pruning eliminates it — no row matches)
  * or all-IN ([[graft.table.SegmentedTable.provenAllIn]] — every row
  * matches, null semantics included); one partially-matching segment
  * bails the whole fold to the real scan. This is the metadata-only
  * time-range COUNT every lakehouse query fleet leans on — segment
  * boundaries aligned with the predicate (date-partitioned loads)
  * answer from the driver. Per-column guards keep it conservative:
  *  - COUNT(col) needs every live segment to record a null count for
  *    the column (catalogs written before nullCounts existed bail);
  *  - MIN/MAX(col) additionally needs each segment to either carry
  *    stats for the column or prove the column all-null there
  *    (nulls == rows) — a missing entry of unknown vintage (e.g. a
  *    segment staged before an ADD COLUMN) bails;
  *  - MIN/MAX folds that would have to COMPARE a non-decimal string
  *    (NaN) bail; a single-segment NaN needs no compare and serves
  *    the stored value, which is exactly Spark's answer (Spark
  *    orders NaN greater than every double).
  */
object StatsAggFromCatalog {
  private val Marker = "spark.graft.internal.statsAggRegistered"

  /** Shared stats-fold core — also the engine behind the V2 catalog
    * path's aggregate pushdown
    * ([[org.apache.spark.sql.graftbridge.GraftV2ScanSupport]] serves a
    * pushed COUNT(*)/COUNT(col)/MIN/MAX as a LocalScan folded from
    * these, so `SELECT COUNT(*) FROM cat.ns.t` costs one catalog read
    * instead of a footer read per file).
    */
  def foldCountStar(segs: Seq[SegmentMeta]): Long =
    segs.map(_.rowCount).sum

  def foldNonNullCount(segs: Seq[SegmentMeta], c: String): Option[Long] = {
    val per = segs.map(s =>
      if (s.rowCount == 0L) Some(0L)
      else s.nullCounts.get(c).map(n => s.rowCount - n))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Fold a column's per-segment exact min/max strings into the global
    * extremum as a Catalyst internal value. `None` = cannot serve;
    * `Some(null)` = servable and the answer is NULL (all rows null).
    */
  def foldMinMax(segs: Seq[SegmentMeta], c: String, dt: DataType,
                                isMin: Boolean): Option[Any] = {
    // each segment: Some(Some(raw)) = has stats; Some(None) = proven
    // all-null (contributes nothing); None = unknown → bail
    val per: Seq[Option[Option[String]]] = segs.map { s =>
      s.stats.get(c) match {
        case Some(cs) => Some(Some(if (isMin) cs.min else cs.max))
        case None =>
          if (s.rowCount == 0L) Some(None)
          else s.nullCounts.get(c) match {
            case Some(n) if n == s.rowCount => Some(None)
            case _ => None
          }
      }
    }
    if (per.exists(_.isEmpty)) return None
    val present = per.flatten.flatten
    if (present.isEmpty) return Some(null)
    // ONE contributing segment: no compare is needed, serve the stored
    // value directly — this is intent, not an accident of min/max never
    // invoking the Ordering on a singleton. It makes single-segment
    // NaN/Infinity doubles servable (the stored value IS Spark's
    // answer; Spark orders NaN greater than every double) while a
    // CROSS-segment fold that would have to COMPARE a non-decimal
    // string still bails in the Ordering below.
    if (present.size == 1)
      return (try Some(internalValue(present.head, dt))
              catch { case scala.util.control.NonFatal(_) => None })
    try {
      val winner = dt match {
        case StringType =>
          // Spark's MIN/MAX on strings orders by UTF8String (unsigned
          // byte-wise UTF-8), which differs from java.lang.String's
          // UTF-16 code-unit order for supplementary characters
          val ord = new Ordering[String] {
            def compare(a: String, b: String): Int =
              UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
          }
          if (isMin) present.min(ord) else present.max(ord)
        case _: DecimalType | FloatType | DoubleType =>
          // exact decimal compare over round-trippable strings;
          // NaN/Infinity throw here and bail below
          val ord = Ordering.by[String, BigDecimal](BigDecimal(_))
          if (isMin) present.min(ord) else present.max(ord)
        case _ =>
          // integral / timestamp-micros / date-epoch-day strings
          val ord = Ordering.by[String, Long](_.toLong)
          if (isMin) present.min(ord) else present.max(ord)
      }
      Some(internalValue(winner, dt))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fold an integral column's per-segment EXACT sums
    * ([[graft.table.ColStats.sum]], decimal-accumulated at stage time).
    * Outer None = not servable (a segment with values but no recorded
    * sum — pre-r19 vintage or non-integral); inner None = SUM over
    * zero non-null values (the answer is NULL); otherwise the exact
    * BigInt total — the CALLER applies the query's eval-mode contract
    * (LEGACY wraps mod 2^64, ANSI serves only when it fits a long,
    * TRY never folds).
    */
  def foldSumExact(segs: Seq[SegmentMeta], c: String)
      : Option[Option[BigInt]] =
    foldSumParsed(segs, c)(s => BigInt(s))

  /** [[foldSumExact]]'s DECIMAL twin: the exact per-segment decimal
    * sums (plain decimal strings carrying the column's scale, r20+
    * segments) folded to the exact BigDecimal total. Same outer/inner
    * None contract.
    */
  def foldSumDecimalExact(segs: Seq[SegmentMeta], c: String)
      : Option[Option[BigDecimal]] =
    foldSumParsed(segs, c)(s => BigDecimal(s))

  private def foldSumParsed[T](segs: Seq[SegmentMeta], c: String)
      (parse: String => T)(implicit num: Numeric[T]): Option[Option[T]] = {
    val per: Seq[Option[Option[T]]] = segs.map { s =>
      if (s.rowCount == 0L) Some(None)
      else s.stats.get(c).flatMap(_.sum) match {
        // parse-robust: a stored format this caller's type can't read
        // (an integral fold asked about a decimal column, or vice
        // versa) bails rather than throws
        case Some(x) =>
          try Some(Some(parse(x)))
          catch { case scala.util.control.NonFatal(_) => None }
        case None => s.nullCounts.get(c) match {
          case Some(n) if n == s.rowCount => Some(None) // proven all-null
          case _ => None // unknown vintage → bail
        }
      }
    }
    if (per.exists(_.isEmpty)) None
    else {
      val present = per.flatten.flatten
      if (present.isEmpty) Some(None) else Some(Some(present.sum))
    }
  }

  /** [[foldSumExact]] under the query's eval mode: None = bail to the
    * real scan, Some(null) = the NULL answer, Some(long) = the value.
    */
  def foldSum(segs: Seq[SegmentMeta], c: String,
              mode: Enumeration#Value): Option[Any] =
    foldSumExact(segs, c) match {
      case None => None
      case Some(None) => Some(null)
      case Some(Some(total)) =>
        import org.apache.spark.sql.catalyst.expressions.EvalMode
        if (mode == EvalMode.LEGACY)
          Some(java.lang.Long.valueOf(total.longValue)) // wrap, like Spark
        else if (mode == EvalMode.ANSI && total.isValidLong)
          Some(java.lang.Long.valueOf(total.toLong))
        else None // TRY, or an ANSI overflow: the real scan decides
    }

  /** Group segments by their constant per-segment values of `cols` —
    * the shared core behind the grouped stats fold on BOTH read paths
    * (the optimizer rule and the V2 catalog's grouped aggregate
    * pushdown). A segment qualifies per column via stats min == max
    * with zero nulls (the constant) or null count == row count (the
    * NULL group); empty segments contribute nothing; ONE non-constant
    * segment returns None (bail to the real scan). Keys are INTERNAL
    * values with -0.0 normalized to 0.0, matching Spark's group-key
    * semantics (stats strings "-0.0" and "0.0" must land in one
    * group).
    */
  def groupSegments(segs: Seq[SegmentMeta], cols: Seq[(String, DataType)])
      : Option[Seq[(Vector[Any], Seq[SegmentMeta])]] = {
    def keyOf(s: SegmentMeta): Option[Vector[Any]] = {
      val parts = cols.map { case (n, dt) =>
        s.stats.get(n) match {
          case Some(cs) if cs.min == cs.max &&
              s.nullCounts.get(n).contains(0L) =>
            try Some(internalValue(cs.min, dt) match {
              case d: java.lang.Double if d == -0.0d =>
                java.lang.Double.valueOf(0.0d)
              case f: java.lang.Float if f == -0.0f =>
                java.lang.Float.valueOf(0.0f)
              case v => v
            })
            catch { case scala.util.control.NonFatal(_) => None }
          case _ => s.nullCounts.get(n) match {
            case Some(c) if c == s.rowCount => Some(null) // constant NULL
            case _ => None // not provably constant → bail
          }
        }
      }
      if (parts.exists(_.isEmpty)) None else Some(parts.map(_.get).toVector)
    }
    val keyed = segs.filter(_.rowCount > 0L).map(s => keyOf(s).map(_ -> s))
    if (keyed.exists(_.isEmpty)) None
    else Some(keyed.flatten.groupBy(_._1).toSeq.map {
      case (k, ks) => k -> ks.map(_._2)
    })
  }

  private[mv] def internalValue(s: String, dt: DataType): Any = dt match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case d: DecimalType =>
      val dec = Decimal(new java.math.BigDecimal(s))
      if (!dec.changePrecision(d.precision, d.scale)) throw new ArithmeticException(s)
      dec
    case StringType => UTF8String.fromString(s)
    case TimestampType | TimestampNTZType => s.toLong
    case DateType => s.toInt
    case _ => throw new IllegalArgumentException(dt.sql)
  }

  /** Idempotently append the rule to a session's experimental
    * optimizations — the runtime path for sessions built without
    * [[graft.sql.GraftSqlExtensions]] (Verify/Bench). Synchronized on
    * the session: the check-then-append on the shared
    * extraOptimizations var must not interleave with the other
    * runtime appenders under Verify's parallel dump.
    */
  def ensureRegistered(s: SparkSession): Unit = {
    s.sessionState.optimizer
    s.synchronized {
      if (!java.lang.Boolean.parseBoolean(s.conf.get(Marker, "false")))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ StatsAggFromCatalog(s)
    }
  }
}

case class StatsAggFromCatalog(spark: SparkSession) extends Rule[LogicalPlan] {
  spark.conf.set(StatsAggFromCatalog.Marker, "true")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) if servableShapes(aggExprs) =>
      extract(child, None) match {
        case Some((cond, scan, rel)) =>
          answer(scan, cond, aggExprs) match {
            case Some(FullFold(values)) =>
              // the V2 builder's own pushed-aggregate LocalScan serves
              // full folds on the pre-pushdown path — don't steal the
              // ones it CAN serve (catalog plan pins and the thrift
              // stats surface rely on its LocalScan); shapes beyond
              // its foldOne (decimal SUM, AVG, cast-wrapped) are the
              // rule's to serve
              if (rel.deferFullFold &&
                  aggExprs.forall(e => shapeOf(e).exists(builderServable))) agg
              else LocalRelation(agg.output.map(_.asInstanceOf[Attribute]),
                Seq(InternalRow(values: _*)))
            case Some(h: HybridFold) => hybridPlan(agg, cond.get, rel, h)
            case None => agg
          }
        case _ => agg
      }
    // GROUPED fold for segment-aligned group keys: when every group
    // column is CONSTANT within each segment (identity-partitioned
    // loads — one load per key value), `GROUP BY k` COUNT/MIN/MAX
    // folds per segment group from the same catalog stats. Segments
    // that cannot fold (non-constant keys, or a filter straddling
    // them) go HYBRID: fold the provable segments' groups from
    // metadata, scan only the rest, re-group over the union.
    case agg @ Aggregate(groups, aggExprs, child, _)
        if groups.nonEmpty && groups.forall(_.isInstanceOf[AttributeReference]) &&
          groupedShapes(groups, aggExprs) =>
      extract(child, None) match {
        case Some((cond, scan, rel)) =>
          answerGrouped(scan, cond,
            groups.map(_.asInstanceOf[AttributeReference]), aggExprs) match {
            case Some(GroupedFull(rows)) =>
              if (rel.deferFullFold && aggShapesOf(aggExprs,
                  groups.map(_.asInstanceOf[AttributeReference].exprId))
                    .forall(builderServable)) agg
              else LocalRelation(agg.output.map(_.asInstanceOf[Attribute]), rows)
            case Some(h: GroupedHybrid) =>
              hybridGroupedPlan(agg,
                groups.map(_.asInstanceOf[AttributeReference]), cond, rel, h)
            case None => agg
          }
        case _ => agg
      }
  }

  // ---- shape recognition ----

  private sealed trait Shape
  private case object CountStar extends Shape
  private case class CountCol(name: String) extends Shape
  private case class MinCol(name: String, dt: DataType) extends Shape
  private case class MaxCol(name: String, dt: DataType) extends Shape
  /** Integral SUM — servable from the catalog's exact per-segment
    * sums; `mode` is the query's eval mode (the fold's overflow
    * contract differs per mode, see [[StatsAggFromCatalog.foldSum]]).
    */
  private case class SumCol(name: String,
                            mode: Enumeration#Value) extends Shape
  /** DECIMAL SUM — decimal addition is exact and associative, so the
    * catalog's per-segment exact decimal sums (r20+ segments, columns
    * of precision ≤ 28) fold like the integral ones. The fold serves
    * by substituting the exact total into the Sum function's OWN
    * evaluate expression ([[serveDeclarative]]), so every eval-mode
    * contract (ANSI throw / LEGACY null / TRY) is Spark's verbatim; a
    * total that doesn't fit the result type bails to the real scan.
    */
  private case class SumDecimalCol(name: String,
      fn: org.apache.spark.sql.catalyst.expressions.aggregate.Sum)
    extends Shape
  /** AVG — foldSum/foldCount composition, served through the Average
    * function's own evaluate expression so the divide semantics
    * (decimal scale+4 HALF_UP, double divide) are Spark's verbatim.
    * DECIMAL children serve from the exact decimal sums; INTEGRAL
    * children serve only when max|value| × count < 2^53 — below that
    * bound every per-row long→double cast and every intermediate
    * double addition the real scan performs is exact regardless of
    * order, so the folded BigInt total converted once equals the
    * scan's accumulated buffer bit-for-bit. DOUBLE children never
    * fold (FP accumulation is order-dependent).
    */
  private case class AvgCol(name: String,
      fn: org.apache.spark.sql.catalyst.expressions.aggregate.Average)
    extends Shape
  /** COUNT(DISTINCT col) — servable when the column is CONSTANT per
    * segment ([[StatsAggFromCatalog.groupSegments]]): the distinct
    * count IS the number of distinct non-null constants. Never
    * participates in a hybrid (distinct counts don't combine across
    * branches).
    */
  private case class CountDistinctCol(name: String,
                                      dt: DataType) extends Shape

  /** A recognized aggregate output: the servable aggregate plus an
    * optional deterministic scalar Cast WRAPPED around it
    * (`CAST(SUM(dec) AS DOUBLE)` — the BI-idiomatic form). Full folds
    * apply the cast driver-side over the folded value via the plan's
    * own Cast node, so eval-mode/timezone semantics are the query's.
    */
  private case class Shaped(shape: Shape, cast: Option[Cast])

  /** Shapes whose partial answers COMBINE across the hybrid's
    * metadata/scan branches (counts sum, extrema fold, integral sums
    * add). COUNT(DISTINCT) does not; DECIMAL SUM and AVG do not (their
    * combine would need type-widening / sum+count decomposition whose
    * overflow semantics are not the original's); cast-wrapped outputs
    * keep the hybrid machinery cast-free.
    */
  private def combinable(s: Shaped): Boolean = s.cast.isEmpty && (s.shape match {
    case CountDistinctCol(_, _) | SumDecimalCol(_, _) | AvgCol(_, _) => false
    case _ => true
  })

  /** Shapes the V2 scan builder's own pushed-aggregate fold serves
    * ([[org.apache.spark.sql.graftbridge.GraftV2ScanSupport]]) — the
    * pre-pushdown interception defers FULL folds to it only when every
    * output is in this set; otherwise the rule serves the fold itself
    * (decimal SUM / AVG / cast-wrapped outputs never reach the
    * builder's foldOne).
    */
  private def builderServable(s: Shaped): Boolean = s.cast.isEmpty && (s.shape match {
    case SumDecimalCol(_, _) | AvgCol(_, _) => false
    case _ => true
  })

  private def rawShape(e: Expression): Option[Shape] = e match {
    case AggregateExpression(Count(Seq(a: AttributeReference)),
        Complete, true, None, _) =>
      Some(CountDistinctCol(a.name, a.dataType))
    case AggregateExpression(f, Complete, false, None, _) => f match {
      case Count(Seq(Literal(1, _))) => Some(CountStar)
      case Count(Seq(a: AttributeReference)) => Some(CountCol(a.name))
      case Min(a: AttributeReference) => Some(MinCol(a.name, a.dataType))
      case Max(a: AttributeReference) => Some(MaxCol(a.name, a.dataType))
      case s: org.apache.spark.sql.catalyst.expressions.aggregate.Sum =>
        s.child match {
          case a: AttributeReference
              if graft.table.SegmentedTable.isIntegral(a.dataType) =>
            Some(SumCol(a.name, s.evalContext.evalMode))
          case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
            Some(SumDecimalCol(a.name, s))
          case _ => None
        }
      case avg: org.apache.spark.sql.catalyst.expressions.aggregate.Average =>
        avg.child match {
          case a: AttributeReference
              if graft.table.SegmentedTable.isIntegral(a.dataType) ||
                a.dataType.isInstanceOf[DecimalType] =>
            Some(AvgCol(a.name, avg))
          case _ => None
        }
      case _ => None
    }
    case _ => None
  }

  private def shapeOf(e: NamedExpression): Option[Shaped] = e match {
    case Alias(c: Cast, _) if c.child.isInstanceOf[AggregateExpression] =>
      rawShape(c.child).map(Shaped(_, Some(c)))
    case Alias(ae: AggregateExpression, _) =>
      rawShape(ae).map(Shaped(_, None))
    case _ => None
  }

  private def servableShapes(exprs: Seq[NamedExpression]): Boolean =
    exprs.nonEmpty && exprs.forall(e => shapeOf(e).isDefined)

  /** Grouped result shapes: every output is either one of the group
    * attributes (bare or aliased) or a servable aggregate.
    */
  private def groupedShapes(groups: Seq[Expression],
                            exprs: Seq[NamedExpression]): Boolean = {
    val gids = groups.collect { case a: AttributeReference => a.exprId }.toSet
    exprs.nonEmpty && exprs.forall {
      case a: AttributeReference => gids.contains(a.exprId)
      case Alias(a: AttributeReference, _) => gids.contains(a.exprId)
      case e => shapeOf(e).isDefined
    }
  }

  /** The scan leaf a fold replaces. Each variant knows how to rebuild
    * itself over ONLY the straddler segment dirs with attribute
    * references kept resolved — the V1 rule-path relation copies
    * itself (same output attrs), the V2 catalog shapes re-surface as
    * a V1 parquet LogicalRelation CARRYING the V2 node's own output
    * attributes over a schema pruned to them (FileSourceStrategy then
    * plans it like any filtered parquet scan: pushdown + pruning at
    * physical planning).
    */
  private sealed trait FoldableScan {
    def mkStraddler(paths: Seq[String], tableSchema: StructType): LogicalPlan
    /** FULL folds defer to the V2 builder's pushed-aggregate LocalScan
      * on the PRE-pushdown interception (extension sessions): the rule
      * runs before V2ScanRelationPushDown there, and stealing the full
      * fold would bypass the builder the catalog plan pins (and the
      * thrift stats surface) rely on. Hybrids never defer — the
      * builder's all-or-nothing contract cannot express fold + scan.
      */
    def deferFullFold: Boolean
  }
  private case class V1Leaf(l: LogicalRelation) extends FoldableScan {
    def mkStraddler(paths: Seq[String], tableSchema: StructType): LogicalPlan =
      l.copy(relation = org.apache.spark.sql.graftbridge.ColumnExpr
        .parquetRelation(spark, paths, tableSchema))
    def deferFullFold: Boolean = false
  }
  private case class V2Leaf(output: Seq[AttributeReference],
                            deferFullFold: Boolean) extends FoldableScan {
    def mkStraddler(paths: Seq[String], tableSchema: StructType): LogicalPlan = {
      // schema pruned to the V2 node's (possibly column-pruned) output,
      // in output order, so LogicalRelation's attr↔schema contract holds
      val pruned = StructType(output.map(a =>
        tableSchema.fields.find(_.name == a.name)
          .getOrElse(StructField(a.name, a.dataType, a.nullable))))
      new LogicalRelation(org.apache.spark.sql.graftbridge.ColumnExpr
        .parquetRelation(spark, paths, pruned), output.toIndexedSeq, None,
        false, None)
    }
  }

  /** Strip attribute-only Projects and at most ONE Filter between the
    * aggregate and the scan (the optimizer has already collapsed
    * filter chains). Returns the filter condition (if any), the
    * [[SegmentScan]] the leaf reads, and the [[FoldableScan]] leaf
    * (the hybrid fold rebuilds it over the straddler segments so
    * downstream attribute references stay valid). Three leaf shapes:
    *  - V1 `LogicalRelation(HadoopFsRelation)` that
    *    [[SegmentedTable.scanOf]] recognizes — the rule path
    *    (DataFrame reads, `format("graft")`, temp views);
    *  - post-pushdown `DataSourceV2ScanRelation(ParquetScan)` — plain
    *    sessions register via extraOptimizations, which run AFTER V2
    *    scan pushdown, so a catalog read the builder could not fold
    *    (one straddler disables its all-or-nothing pushed aggregate)
    *    arrives here with the Filter kept and the survivor dirs as the
    *    scan's root paths, recognized the same way;
    *  - pre-pushdown `DataSourceV2Relation(GraftV2Table)` — extension-
    *    injected rules run BEFORE V2 scan pushdown, so the same
    *    catalog read is intercepted at the relation itself, which
    *    hands over its table and live segment ids directly (full
    *    folds defer to the builder).
    * The recognizer refuses scans with file-level read options (glob,
    * mtime bounds, recursive lookup): they read a SUBSET of the
    * segment dirs' files, and the catalog answer would silently drift.
    */
  private def extract(p: LogicalPlan, cond: Option[Expression])
      : Option[(Option[Expression], SegmentScan, FoldableScan)] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        SegmentedTable.scanOf(spark, h).map(s => (cond, s, V1Leaf(l)))
      case _ => None
    }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      org.apache.spark.sql.graftbridge.GraftV2ScanSupport
        .unwrapRuntime(r.scan) match {
        // guard: no hive-partition columns, no partition-level (DPP)
        // filters, no already-pushed aggregate — shapes whose row
        // semantics the segment stats alone cannot describe. The
        // scan's dataFilters MAY be non-empty: V2 pushdown derives
        // them from the SAME conjuncts the retained Filter node (our
        // `cond`) carries, so any file they advise skipping holds no
        // cond-matching rows and the fold over cond stays exact.
        case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
            if ps.readPartitionSchema.isEmpty && ps.partitionFilters.isEmpty &&
              ps.pushedAggregate.isEmpty =>
          SegmentedTable.scanOf(spark, ps.fileIndex.rootPaths,
            scala.jdk.CollectionConverters.SetHasAsScala(ps.options.keySet()).asScala)
            .map(s => (cond, s, V2Leaf(r.output, deferFullFold = false)))
        case _ => None
      }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case t: graft.sql.GraftV2Table =>
          t.foldSnapshot.map(s => (cond, s, V2Leaf(r.output, deferFullFold = true)))
        case _ => None
      }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
      extract(child, cond)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(f, child)
        if cond.isEmpty =>
      extract(child, Some(f))
    case _ => None
  }

  // ---- catalog fold ----

  /** The whole aggregate answers from metadata. */
  private case class FullFold(values: Array[Any]) extends FoldResult
  /** HYBRID: the proven all-in segments' partial answers fold from
    * metadata and a real scan must still cover the straddlers — the
    * 100 TB shape is "9,998 segments provably in/out + 2 boundary
    * segments", where all-or-nothing folding would full-scan every
    * time a predicate misses a load boundary. `schema` is the table
    * schema the straddler relation is rebuilt with.
    */
  private case class HybridFold(provenValues: Array[Any],
                                straddlerPaths: Seq[String],
                                schema: StructType) extends FoldResult
  private sealed trait FoldResult

  /** The catalog metas of a scan's segments, in scan order. Every
    * scanned id must be distinct and still live (ids are never reused
    * and segment dirs are immutable, so live stats describe the
    * scanned data verbatim; a stale plan over a since-deleted segment
    * bails). A scan of a live-set SUBSET is legitimate and folds over
    * exactly the scanned segments — [[graft.table.GraftSegmentPruning]]
    * produces such scans (with the Filter kept for straddlers, WITHOUT
    * one when the predicate was proven exact and elided), and a
    * hand-built scan of one live segment dir means "aggregate this
    * segment", which the per-segment stats describe verbatim either
    * way.
    */
  private def resolveScanned(scan: SegmentScan): Option[Seq[SegmentMeta]] = {
    val byId = scan.table.showSegments()
      .filter(_.status == SegmentedTable.SUCCESS).map(s => s.id -> s).toMap
    val scanned = scan.ids.flatMap(byId.get)
    if (scan.ids.distinct.size != scan.ids.size || scanned.size != scan.ids.size) None
    else Some(scanned)
  }

  /** Fold every requested shape over `segs`; None = some shape is not
    * servable from these segments' recorded stats.
    */
  private def foldValues(segs: Seq[SegmentMeta],
                         exprs: Seq[NamedExpression]): Option[Array[Any]] = {
    val values = exprs.map(e => foldShape(segs, shapeOf(e).get))
    if (values.exists(_.isEmpty)) None else Some(values.map(_.get).toArray)
  }

  /** Unfiltered: fold over the whole scanned set. Filtered: prune to
    * the survivors, then — all survivors proven all-in → [[FullFold]];
    * a MIX of proven and straddling survivors → [[HybridFold]] (fold
    * the proven mass, scan only the straddlers); nothing proven →
    * bail to the real scan.
    */
  private def answer(scan: SegmentScan, cond: Option[Expression],
                     exprs: Seq[NamedExpression]): Option[FoldResult] = {
    val t = scan.table
    val scanned = resolveScanned(scan).getOrElse(return None)
    cond match {
      case None => foldValues(scanned, exprs).map(FullFold(_))
      case Some(c) =>
        val survivors = try t.pruneAmong(scanned, c)
          catch { case scala.util.control.NonFatal(_) => return None }
        val (proven, straddlers) =
          survivors.partition(s => t.provenAllIn(Seq(s), c))
        if (straddlers.isEmpty) foldValues(proven, exprs).map(FullFold(_))
        else if (proven.isEmpty ||
            !exprs.forall(e => combinable(shapeOf(e).get))) None
        else foldValues(proven, exprs).map(v => HybridFold(v,
          t.segmentPaths(straddlers.map(_.id)).map(_.toString), t.schema))
    }
  }

  /** The hybrid plan: the proven partial answers as a one-row
    * LocalRelation, UNIONed with the SAME aggregate over a scan of
    * ONLY the straddler segment dirs (relation copied with swapped
    * paths so `cond` and the aggregate children stay resolved), then
    * an outer combining aggregate — COUNTs sum, MIN/MAX fold — whose
    * aliases reuse the original exprIds so the rest of the plan is
    * untouched. Fully lazy: the straddler scan plans/prunes/executes
    * like any filtered parquet scan (FileSourceStrategy pushes `cond`
    * and prunes columns at physical planning).
    */
  private def hybridPlan(agg: Aggregate, cond: Expression,
                         rel: FoldableScan, h: HybridFold): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Union}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val exprs = agg.aggregateExpressions
    // combinable-only here (guarded in answer): cast-free, no
    // COUNT(DISTINCT)/decimal-SUM/AVG
    val shapes = exprs.map(e => shapeOf(e).get.shape)
    // partial-branch schema: counts non-null longs, extrema and sums
    // nullable
    val partialAttrs: Seq[Attribute] = shapes.zipWithIndex.map {
      case (CountStar | CountCol(_), i) =>
        AttributeReference(s"__partial$i", LongType, nullable = false)()
      case (MinCol(_, dt), i) => AttributeReference(s"__partial$i", dt)()
      case (MaxCol(_, dt), i) => AttributeReference(s"__partial$i", dt)()
      case (SumCol(_, _), i) => AttributeReference(s"__partial$i", LongType)()
      case (shape, _) => throw new IllegalStateException(
        s"unreachable: non-combinable shape $shape in hybrid (guarded in answer)")
    }
    val local = LocalRelation(partialAttrs, Seq(InternalRow(h.provenValues: _*)))
    val straddlerRel = rel.mkStraddler(h.straddlerPaths, h.schema)
    val innerExprs: Seq[NamedExpression] = exprs.zipWithIndex.map {
      case (Alias(ae, _), i) => Alias(ae, s"__scan$i")()
      case (e, _) => throw new IllegalStateException(e.toString) // servableShapes
    }
    val inner = Aggregate(Nil, innerExprs, LFilter(cond, straddlerRel))
    val union = Union(Seq(local, inner))
    val uout = union.output
    val outer: Seq[NamedExpression] = exprs.zipWithIndex.map { case (orig, i) =>
      val a = orig.asInstanceOf[Alias]
      val combined: Expression = shapes(i) match {
        case CountStar | CountCol(_) =>
          // the union always has ≥1 row per branch (an ungrouped
          // aggregate returns one row even over empty input), so the
          // sum is never null at runtime; Coalesce keeps the output
          // attribute non-nullable like the original count
          Coalesce(Seq(
            AggregateExpression(Sum(uout(i)), Complete, isDistinct = false),
            Literal(0L)))
        case MinCol(_, _) =>
          AggregateExpression(Min(uout(i)), Complete, isDistinct = false)
        case MaxCol(_, _) =>
          AggregateExpression(Max(uout(i)), Complete, isDistinct = false)
        case SumCol(_, _) =>
          // SUM ignores null partials; null only when both branches
          // had zero non-null values — the SUM-of-empty contract
          AggregateExpression(Sum(uout(i)), Complete, isDistinct = false)
        case shape => throw new IllegalStateException(
          s"unreachable: non-combinable shape $shape in hybrid (guarded in answer)")
      }
      Alias(combined, a.name)(exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = a.explicitMetadata)
    }
    Aggregate(Nil, outer, union)
  }

  // ---- grouped fold (segment-aligned group keys) ----

  private sealed trait GroupedFoldResult
  /** Every qualified segment folded — one InternalRow per group in
    * the ORIGINAL output-expression order.
    */
  private case class GroupedFull(rows: Seq[InternalRow])
    extends GroupedFoldResult
  /** Some segments fold (all-in under the filter AND constant group
    * keys), the rest must scan. `partialRows` are in CANONICAL order:
    * group key values (grouping order) ++ aggregate partials (output
    * order, group refs excluded) — the union/combine plan's column
    * layout.
    */
  private case class GroupedHybrid(partialRows: Seq[Array[Any]],
                                   scanPaths: Seq[String],
                                   schema: StructType) extends GroupedFoldResult

  /** The aggregate shapes of `exprs` (group references excluded), in
    * output order — the canonical partial-column order the grouped
    * hybrid uses on both the fold and plan sides.
    */
  private def aggShapesOf(exprs: Seq[NamedExpression],
                          gid: Seq[ExprId]): Seq[Shaped] =
    exprs.flatMap {
      case a: AttributeReference if gid.contains(a.exprId) => None
      case Alias(a: AttributeReference, _) if gid.contains(a.exprId) => None
      case e => shapeOf(e)
    }

  /** Evaluate a DeclarativeAggregate's OWN evaluate expression with
    * its buffer attributes bound to folded literals — the fold then
    * serves exactly what Spark's final aggregation step computes from
    * the same buffer (overflow / eval-mode / decimal-divide semantics
    * verbatim, on this and every future Spark). Bails on any eval
    * error (e.g. an ANSI overflow the real scan should raise itself)
    * and on an unbound buffer attribute (an unexpected buffer layout).
    */
  private def serveDeclarative(
      fn: org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate,
      bind: Map[String, Literal]): Option[Any] =
    try {
      val expr = fn.evaluateExpression.transform {
        case a: AttributeReference if bind.contains(a.name) => bind(a.name)
      }
      if (expr.exists(_.isInstanceOf[AttributeReference])) None
      else Some(expr.eval(InternalRow.empty))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def internalLong(v: Any): Long = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(String.valueOf(other))
  }

  private def foldShape(segs: Seq[SegmentMeta], sh: Shaped): Option[Any] = {
    val inner: Option[Any] = sh.shape match {
      case CountStar => Some(StatsAggFromCatalog.foldCountStar(segs): Any)
      case CountCol(c) =>
        StatsAggFromCatalog.foldNonNullCount(segs, c).map(v => v: Any)
      case MinCol(c, dt) =>
        StatsAggFromCatalog.foldMinMax(segs, c, dt, isMin = true)
      case MaxCol(c, dt) =>
        StatsAggFromCatalog.foldMinMax(segs, c, dt, isMin = false)
      case SumCol(c, mode) => StatsAggFromCatalog.foldSum(segs, c, mode)
      case SumDecimalCol(c, fn) =>
        StatsAggFromCatalog.foldSumDecimalExact(segs, c).flatMap {
          case None =>
            serveDeclarative(fn, Map(
              "sum" -> Literal(null, fn.dataType),
              "isEmpty" -> Literal(true)))
          case Some(total) =>
            val rt = fn.dataType.asInstanceOf[DecimalType]
            val dec = Decimal(total.bigDecimal)
            // a total the result type cannot hold means the scan's own
            // buffer would have overflowed — its eval-mode contract
            // (ANSI throw / LEGACY null) must come from the real scan
            if (!dec.changePrecision(rt.precision, rt.scale)) None
            else serveDeclarative(fn, Map(
              "sum" -> Literal(dec, fn.dataType),
              "isEmpty" -> Literal(false)))
        }
      case AvgCol(c, fn) =>
        StatsAggFromCatalog.foldNonNullCount(segs, c).flatMap { n =>
          if (n == 0L) Some(null) // AVG over zero non-null values: NULL
          else fn.aggBufferAttributes.find(_.name == "sum") match {
            case None => None
            case Some(sa) => fn.child.dataType match {
              case _: DecimalType =>
                StatsAggFromCatalog.foldSumDecimalExact(segs, c).flatMap {
                  case Some(total) =>
                    val st = sa.dataType.asInstanceOf[DecimalType]
                    val dec = Decimal(total.bigDecimal)
                    if (!dec.changePrecision(st.precision, st.scale)) None
                    else serveDeclarative(fn, Map(
                      "sum" -> Literal(dec, sa.dataType),
                      "count" -> Literal(n)))
                  case None => None // n > 0 yet no sum: inconsistent, bail
                }
              case it if graft.table.SegmentedTable.isIntegral(it) &&
                  sa.dataType == DoubleType =>
                // the 2^53 exactness bound (see AvgCol): below it every
                // long→double cast and every intermediate addition the
                // scan performs is exact in any order, so one conversion
                // of the exact total equals the scan's buffer
                StatsAggFromCatalog.foldSumExact(segs, c).flatMap {
                  case Some(total) =>
                    val mn = StatsAggFromCatalog.foldMinMax(segs, c, it, isMin = true)
                    val mx = StatsAggFromCatalog.foldMinMax(segs, c, it, isMin = false)
                    (mn, mx) match {
                      case (Some(a), Some(b)) if a != null && b != null =>
                        val maxAbs = Seq(a, b).map(v => BigInt(internalLong(v)).abs).max
                        if (maxAbs * BigInt(n) < BigInt(1L << 53))
                          serveDeclarative(fn, Map(
                            "sum" -> Literal(total.toDouble, DoubleType),
                            "count" -> Literal(n)))
                        else None
                      case _ => None
                    }
                  case None => None
                }
              case _ => None // double child: FP order-dependence, never fold
            }
          }
        }
      case CountDistinctCol(c, dt) =>
        StatsAggFromCatalog.groupSegments(segs, Seq(c -> dt)).map(groups =>
          groups.count(_._1.head != null).toLong: Any)
    }
    (inner, sh.cast) match {
      // the plan's own Cast node applied driver-side over the folded
      // value (Literal of the aggregate's type) — eval-mode/timezone
      // semantics are the query's; an ANSI cast failure bails
      case (Some(v), Some(c)) =>
        try Some(c.withNewChildren(Seq(Literal(v, c.child.dataType))).eval(null))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => inner
    }
  }

  /** GROUP BY fold. A segment FOLDS when it is fully qualified by the
    * filter (all rows match — or no filter) AND every group column is
    * provably constant in it ([[StatsAggFromCatalog.groupSegments]]).
    * All segments fold → [[GroupedFull]] (one row per group, original
    * output order; zero qualified segments → zero rows, the grouped-
    * aggregate-of-empty contract). A MIX → [[GroupedHybrid]]: the
    * foldable segments' groups as canonical partial rows plus the
    * paths a real (filtered, re-grouped) scan must still cover —
    * which also serves tables where only SOME loads are key-aligned.
    * Nothing foldable → bail.
    */
  private def answerGrouped(scan: SegmentScan, cond: Option[Expression],
                            groups: Seq[AttributeReference],
                            exprs: Seq[NamedExpression])
      : Option[GroupedFoldResult] = {
    val t = scan.table
    val scanned = resolveScanned(scan).getOrElse(return None)
    val survivors = cond match {
      case None => scanned
      case Some(c) =>
        try t.pruneAmong(scanned, c)
        catch { case scala.util.control.NonFatal(_) => return None }
    }
    val cols = groups.map(g => g.name -> g.dataType)
    // a segment folds iff all-in under the filter AND constant-keyed
    val (foldable, scanSet) = survivors.partition { s =>
      cond.forall(c => t.provenAllIn(Seq(s), c)) &&
        StatsAggFromCatalog.groupSegments(Seq(s), cols).isDefined
    }
    val gid = groups.map(_.exprId)
    val shapes = aggShapesOf(exprs, gid)
    val grouped = StatsAggFromCatalog.groupSegments(foldable, cols)
      .getOrElse(return None) // unreachable: each foldable is constant

    if (scanSet.isEmpty) {
      // full fold: rows in ORIGINAL output order
      val rows = grouped.map { case (kv, segs) =>
        def keyValue(a: AttributeReference): Any = kv(gid.indexOf(a.exprId))
        val values = exprs.map {
          case a: AttributeReference if gid.contains(a.exprId) =>
            Some(keyValue(a))
          case Alias(a: AttributeReference, _) if gid.contains(a.exprId) =>
            Some(keyValue(a))
          case e => foldShape(segs, shapeOf(e).get)
        }
        if (values.exists(_.isEmpty)) return None
        InternalRow(values.map(_.get): _*)
      }
      Some(GroupedFull(rows))
    } else if (foldable.isEmpty || !shapes.forall(combinable)) None
    else {
      // hybrid: canonical partial rows (keys ++ agg partials)
      val partials = grouped.map { case (kv, segs) =>
        val vals = shapes.map(s => foldShape(segs, s))
        if (vals.exists(_.isEmpty)) return None
        (kv ++ vals.map(_.get)).toArray[Any]
      }
      Some(GroupedHybrid(partials,
        t.segmentPaths(scanSet.map(_.id)).map(_.toString), t.schema))
    }
  }

  /** The grouped-hybrid plan — the grouped twin of [[hybridPlan]]:
    * foldable segments' per-group partials as a LocalRelation, UNIONed
    * with the SAME grouped aggregate over a scan of ONLY the unproven
    * segment dirs (filter kept there), then an outer re-grouping
    * aggregate combining per group — COUNTs sum, MIN/MAX fold — with
    * the original output exprIds preserved. Canonical union layout:
    * group columns (grouping order) then aggregate partials (output
    * order). Converges: the inner grouped aggregate's segments are
    * all unprovable by construction, so the rule can never re-fold it.
    */
  private def hybridGroupedPlan(agg: Aggregate,
                                groups: Seq[AttributeReference],
                                cond: Option[Expression],
                                rel: FoldableScan,
                                h: GroupedHybrid): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Union}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val exprs = agg.aggregateExpressions
    val gid = groups.map(_.exprId)
    // combinable-only here (guarded in answerGrouped): cast-free, no
    // COUNT(DISTINCT)/decimal-SUM/AVG
    val shapes = aggShapesOf(exprs, gid).map(_.shape)
    val keyAttrs: Seq[Attribute] = groups.zipWithIndex.map { case (g, i) =>
      AttributeReference(s"__gkey$i", g.dataType)()
    }
    val partialAttrs: Seq[Attribute] = shapes.zipWithIndex.map {
      case (CountStar | CountCol(_), i) =>
        AttributeReference(s"__gpartial$i", LongType, nullable = false)()
      case (MinCol(_, dt), i) => AttributeReference(s"__gpartial$i", dt)()
      case (MaxCol(_, dt), i) => AttributeReference(s"__gpartial$i", dt)()
      case (SumCol(_, _), i) => AttributeReference(s"__gpartial$i", LongType)()
      case (shape, _) => throw new IllegalStateException(
        s"unreachable: non-combinable shape $shape in hybrid (guarded in answerGrouped)")
    }
    val local = LocalRelation(keyAttrs ++ partialAttrs,
      h.partialRows.map(v => InternalRow(v: _*)))
    val scanRel = rel.mkStraddler(h.scanPaths, h.schema)
    val innerChild = cond.fold(scanRel: LogicalPlan)(LFilter(_, scanRel))
    val innerAggAliases: Seq[NamedExpression] =
      exprs.collect { case Alias(ae: AggregateExpression, _) => ae }
        .zipWithIndex.map { case (ae, i) => Alias(ae, s"__gscan$i")() }
    val inner = Aggregate(groups,
      (groups: Seq[NamedExpression]) ++ innerAggAliases, innerChild)
    val union = Union(Seq(local, inner))
    val uout = union.output // keys first, then partials
    var aggIdx = -1
    val outerExprs: Seq[NamedExpression] = exprs.map {
      case a: AttributeReference if gid.contains(a.exprId) =>
        Alias(uout(gid.indexOf(a.exprId)), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, _) if gid.contains(a.exprId) =>
        Alias(uout(gid.indexOf(a.exprId)), al.name)(exprId = al.exprId,
          qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
      case orig =>
        val a = orig.asInstanceOf[Alias]
        aggIdx += 1
        val ref = uout(groups.length + aggIdx)
        val combined: Expression = shapes(aggIdx) match {
          case CountStar | CountCol(_) =>
            Coalesce(Seq(
              AggregateExpression(Sum(ref), Complete, isDistinct = false),
              Literal(0L)))
          case MinCol(_, _) =>
            AggregateExpression(Min(ref), Complete, isDistinct = false)
          case MaxCol(_, _) =>
            AggregateExpression(Max(ref), Complete, isDistinct = false)
          case SumCol(_, _) =>
            AggregateExpression(Sum(ref), Complete, isDistinct = false)
          case shape => throw new IllegalStateException(
            s"unreachable: non-combinable shape $shape in hybrid (guarded in " +
              "answerGrouped)")
        }
        Alias(combined, a.name)(exprId = a.exprId, qualifier = a.qualifier,
          explicitMetadata = a.explicitMetadata)
    }
    Aggregate(uout.take(groups.length), outerExprs, union)
  }
}
