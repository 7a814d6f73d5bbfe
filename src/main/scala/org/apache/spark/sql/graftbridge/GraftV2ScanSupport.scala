package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, InterpretedMutableProjection, Unevaluable}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum => V2Sum}
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, ScanBuilder, Statistics => V2Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, FileScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{GraftSnapshotFileIndex, SegmentMeta}

/** Bridge for the V2 catalog's segment-pruned parquet reads: Spark's
  * file-source scan builders push CATALYST filter expressions through
  * the `private[sql]`-namespaced [[SupportsPushDownCatalystFilters]],
  * so the wrapper that intercepts them to prune SEGMENT paths
  * driver-side (the catalog-read twin of the
  * `graft.table.GraftSegmentPruning` optimizer rule) must live under
  * `org.apache.spark.sql`.
  */
object GraftV2ScanSupport {

  /** A ScanBuilder over a snapshot of a graft table — a Parquet scan
    * builder over its [[GraftSnapshotFileIndex]], so the catalog names
    * every file and planning lists nothing — that, on filter pushdown,
    * asks `prune` which of the snapshot's segments survive the
    * predicate's min/max stats and rebuilds the inner builder over the
    * index narrowed to the survivors — then delegates filter, column
    * and aggregate pushdown to it unchanged. Spark's push order
    * (filters → sample → aggregates → … → columns) makes the rebuild
    * safe: it happens in the first step, before any other state lands
    * on the inner builder. `prune` failures fall back to the whole
    * snapshot — pruning is an optimization, never a correctness gate.
    *
    * The index's own entries additionally serve an UNFILTERED pushed aggregation
    * of COUNT(*)/COUNT(col)/MIN(col)/MAX(col) straight from the
    * segment stats as a [[LocalScan]] — `SELECT COUNT(*) FROM
    * cat.ns.t` then costs ONE catalog read instead of a footer read
    * per file (and instead of the full scan Spark plans when the
    * parquet aggregate-pushdown conf is off, which is its default).
    *
    * `trichotomy` (when supplied) extends the fold to FILTERED
    * aggregates: given the pushed conjuncts it must return
    * `Some(allInSurvivors)` ONLY when every snapshot
    * segment is PROVEN all-out (no row matches — pruned from the
    * scan) or all-in (every row matches, null semantics included;
    * `SegmentedTable.provenAllIn`). Exactness has two payoffs: the
    * filter is reported fully handled (no post-scan filter — Spark
    * drops the Filter node, which is also what lets its aggregate
    * pushdown fire at all), and a pushed COUNT/MIN/MAX then folds
    * over the all-in survivors from metadata — the time-range
    * `COUNT(*) WHERE ts >= X` fleet query costs one catalog read
    * through the BI-facing catalog surface. An unprovable predicate
    * (one straddling segment) falls back to plain pruning with the
    * filter kept post-scan.
    *
    * GROUPED pushed aggregations fold too, when every group column is
    * provably CONSTANT per segment (stats min == max with zero nulls,
    * or all-null for the NULL group — identity-partitioned loads):
    * the LocalScan serves one row per group, schema = group columns
    * then aggregate columns per Spark's pushed-aggregate contract,
    * and composes with the filter trichotomy (fold over the proven
    * survivors). DISTINCT, a non-constant group column, or an
    * unservable aggregate disables the fold and the scan proceeds
    * normally.
    */
  def segmentPrunedParquetBuilder(
      spark: SparkSession, name: String, schema: StructType,
      index: GraftSnapshotFileIndex,
      prune: Seq[Expression] => Seq[SegmentMeta],
      trichotomy: Seq[Expression] => Option[Seq[SegmentMeta]] = _ => None)
      : ScanBuilder =
    new ScanBuilder
      with SupportsPushDownCatalystFilters
      with SupportsPushDownRequiredColumns
      with SupportsPushDownAggregates {

      // the schemas a ParquetTable over `schema` hands its builder
      private val nullable = schema.asNullable

      private def mk(ix: GraftSnapshotFileIndex): FileScanBuilder =
        ParquetScanBuilder(spark, ix, nullable, nullable,
          CaseInsensitiveStringMap.empty())

      // the snapshot restricted to `segs`, or the whole index when
      // nothing was pruned away
      private def narrowed(segs: Seq[SegmentMeta]): FileScanBuilder =
        if (segs.size == index.metas.size) inner else mk(index.narrow(segs))

      private var inner: FileScanBuilder = mk(index)
      // the segment set a pushed aggregate may fold over: the full
      // snapshot while unfiltered, the proven all-in survivors once an
      // exactly-provable filter lands, None once any other filter does
      private var foldMetas: Option[Seq[SegmentMeta]] = Some(index.metas)
      private var folded: Option[(StructType, Seq[Array[Any]])] = None
      // false once ANY pushdown call lands. Spark builds every
      // EXECUTED scan through the pushdown rule (which always calls
      // pruneColumns), while the relation-level stats estimate
      // (DataSourceV2RelationBase.computeStats) builds straight from a
      // fresh builder — so an untouched build is the stats probe, and
      // serving it the catalog's EXACT rowCount/bytes (vs the file-
      // size heuristic) costs nothing on the execution path. At 100×
      // scale a mis-sized broadcast from a bad estimate is a driver
      // OOM; the catalog already knows the true numbers.
      private var untouched = true

      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        untouched = false
        if (filters.isEmpty) return inner.pushFilters(filters)
        val proven =
          try trichotomy(filters)
          catch { case scala.util.control.NonFatal(_) => None }
        proven match {
          case Some(allIn) =>
            // every row of every kept segment provably satisfies the
            // conjuncts: the pruned scan IS the filtered scan, and the
            // stats fold may serve aggregates over the survivors
            foldMetas = Some(allIn)
            inner = narrowed(allIn)
            inner.pushFilters(filters) // defense-in-depth; all rows match
            Nil // exact — no post-scan filter
          case None =>
            foldMetas = None
            inner = narrowed(
              try prune(filters)
              catch { case scala.util.control.NonFatal(_) => index.metas })
            inner.pushFilters(filters)
        }
      }

      override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        inner.pushedFilters

      override def pruneColumns(requiredSchema: StructType): Unit = {
        untouched = false
        inner.pruneColumns(requiredSchema)
      }

      /** One servable aggregate: its output field + the folded value. */
      private def foldOne(f: AggregateFunc,
                          segs: Seq[SegmentMeta]): Option[(StructField, Any)] = {
        import graft.mv.StatsAggFromCatalog._
        def colName(e: V2Expression): Option[String] = e match {
          case r: NamedReference if r.fieldNames.length == 1 =>
            Some(r.fieldNames.head)
          case _ => None
        }
        f match {
          case _: CountStar =>
            Some(StructField("count(*)", LongType, nullable = false) ->
              foldCountStar(segs))
          case c: Count if !c.isDistinct =>
            for {
              n <- colName(c.column)
              if schema.fieldNames.contains(n)
              v <- foldNonNullCount(segs, n)
            } yield StructField(s"count($n)", LongType, nullable = false) -> v
          case m: Min =>
            for {
              n <- colName(m.column)
              fld <- schema.fields.find(_.name == n)
              v <- foldMinMax(segs, n, fld.dataType, isMin = true)
            } yield StructField(s"min($n)", fld.dataType) -> v
          case m: Max =>
            for {
              n <- colName(m.column)
              fld <- schema.fields.find(_.name == n)
              v <- foldMinMax(segs, n, fld.dataType, isMin = false)
            } yield StructField(s"max($n)", fld.dataType) -> v
          case c: Count if c.isDistinct =>
            // COUNT(DISTINCT col) over a segment-constant column: the
            // answer IS the number of distinct non-null constants
            for {
              n <- colName(c.column)
              fld <- schema.fields.find(_.name == n)
              groups <- graft.mv.StatsAggFromCatalog
                .groupSegments(segs, Seq(n -> fld.dataType))
            } yield StructField(s"count(DISTINCT $n)", LongType,
              nullable = false) ->
              (groups.count(_._1.head != null).toLong: Any)
          case s: V2Sum if !s.isDistinct =>
            // integral SUM from the catalog's exact per-segment sums;
            // a pushed-complete aggregate's result is FINAL, so serve
            // only when the exact total fits the long the plan expects
            for {
              n <- colName(s.column)
              fld <- schema.fields.find(_.name == n)
              if graft.table.SegmentedTable.isIntegral(fld.dataType)
              t <- foldSumExact(segs, n)
              v <- t match {
                case None => Some(null: Any)
                case Some(total) if total.isValidLong =>
                  Some(java.lang.Long.valueOf(total.toLong): Any)
                case _ => None
              }
            } yield StructField(s"sum($n)", LongType) -> v
          case _ => None
        }
      }

      private def refName(e: V2Expression): Option[String] = e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          Some(r.fieldNames.head)
        case _ => None
      }

      /** The fold behind both pushdown shapes. Ungrouped: one row of
        * folded values over the whole fold set. GROUPED: one row per
        * group when every group column is provably CONSTANT per
        * segment ([[graft.mv.StatsAggFromCatalog.groupSegments]] —
        * identity-partitioned loads), each group folding over its own
        * segments. Spark's pushed-aggregate contract: readSchema =
        * groupBy columns (statement order) ++ aggregate columns.
        */
      private def tryFold(agg: Aggregation)
          : Option[(StructType, Seq[Array[Any]])] =
        foldMetas match {
          case Some(segs) if agg.groupByExpressions.isEmpty =>
            val per = agg.aggregateExpressions.map(f => foldOne(f, segs))
            if (per.exists(_.isEmpty) || per.isEmpty) None
            else Some((StructType(per.map(_.get._1)),
              Seq(per.map(_.get._2).toArray[Any])))
          case Some(segs) =>
            val groupFields: Seq[Option[StructField]] =
              agg.groupByExpressions.toSeq.map(g =>
                refName(g).flatMap(n => schema.fields.find(_.name == n)))
            if (groupFields.exists(_.isEmpty) ||
                agg.aggregateExpressions.isEmpty) return None
            val gf = groupFields.map(_.get)
            graft.mv.StatsAggFromCatalog
              .groupSegments(segs, gf.map(f => f.name -> f.dataType))
              .flatMap { groups =>
                val perGroup = groups.map { case (key, gsegs) =>
                  val per = agg.aggregateExpressions.map(f => foldOne(f, gsegs))
                  if (per.exists(_.isEmpty)) None
                  else Some((per.map(_.get._1), key ++ per.map(_.get._2)))
                }
                if (perGroup.exists(_.isEmpty)) None
                else {
                  // zero groups (everything pruned / empty table):
                  // derive the aggregate fields from an empty fold so
                  // the scan still has its contract schema
                  val aggFields: Seq[StructField] =
                    perGroup.headOption.flatMap(_.map(_._1)) match {
                      case Some(fields) => fields
                      case None =>
                        val fs = agg.aggregateExpressions.toSeq
                          .map(f => foldOne(f, Nil).map(_._1))
                        if (fs.exists(_.isEmpty)) return None
                        fs.map(_.get)
                    }
                  Some((StructType(gf ++ aggFields),
                    perGroup.map(_.get._2.toArray[Any])))
                }
              }
          case _ => None
        }

      override def supportCompletePushDown(agg: Aggregation): Boolean =
        tryFold(agg) match {
          case Some(_) => true
          case None => inner match {
            case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
            case _ => false
          }
        }

      override def pushAggregation(agg: Aggregation): Boolean = {
        untouched = false
        tryFold(agg) match {
          case s @ Some(_) => folded = s; true
          case None => inner match {
            case a: SupportsPushDownAggregates => a.pushAggregation(agg)
            case _ => false
          }
        }
      }

      override def build(): Scan = folded match {
        case Some((aggSchema, rowValues)) =>
          new GraftStatsFoldScan(name, aggSchema, rowValues.map(v => InternalRow(v: _*)))
        case None =>
          val built = inner.build()
          // runtime (join-driven) segment pruning: the columns the
          // snapshot has stats for are declared filterable, so Spark's
          // dynamic pruning hands the completed broadcast side's join
          // keys to the scan and key-less segments drop before a task
          // launches (the reference's FilterPushJoin at segment
          // granularity)
          // only columns the (possibly pruned) scan still OUTPUTS may
          // be declared filterable — Spark resolves filterAttributes
          // against the scan relation's output and fails on a column
          // pruning removed
          val readCols = built.readSchema().fieldNames.toSet
          val statCols: Array[String] = schema.fieldNames.filter(n =>
            readCols.contains(n) &&
              index.metas.exists(s => s.stats.contains(n) || s.nullCounts.contains(n)))
          val scan: Scan =
            if (statCols.isEmpty) built
            else new GraftRuntimePrunedScan(name, built, statCols,
              exprs => prune(exprs).map(m => index.segmentDir(m.id).toString),
              index.rootPaths.map(_.toString))
          // an untouched build is the relation-level stats probe (see
          // `untouched`): serve the catalog's EXACT totals when every
          // segment recorded its byte size; otherwise (old catalogs,
          // bytes = -1) fall through to the file-size heuristic. The
          // thin stats shell still forwards execution methods in case
          // anyone runs it — semantics identical either way.
          val segs = index.metas
          if (!untouched || !segs.forall(_.bytes >= 0L)) scan
          else new Scan with SupportsReportStatistics {
            override def readSchema(): StructType = scan.readSchema()
            override def toBatch: Batch = scan.toBatch
            override def description(): String = scan.description()
            // forward the full Scan surface, not just the methods
            // the stats probe is known to exercise — if a future
            // Spark path ever EXECUTES a never-pushed-down scan,
            // behavior must stay identical to the inner scan
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
              scan.toMicroBatchStream(checkpointLocation)
            override def toContinuousStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
              scan.toContinuousStream(checkpointLocation)
            override def supportedCustomMetrics()
                : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
              scan.supportedCustomMetrics()
            override def reportDriverMetrics()
                : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
              scan.reportDriverMetrics()
            override def columnarSupportMode(): Scan.ColumnarSupportMode =
              scan.columnarSupportMode()
            override def estimateStatistics(): V2Statistics = new V2Statistics {
              override def sizeInBytes(): java.util.OptionalLong =
                java.util.OptionalLong.of(math.max(1L, segs.map(_.bytes).sum))
              override def numRows(): java.util.OptionalLong =
                java.util.OptionalLong.of(segs.map(_.rowCount).sum)
            }
          }
      }
    }

  /** A pushed aggregate answered from the catalog: its rows, ready. */
  final class GraftStatsFoldScan(name: String, schema: StructType,
                                 folded: Seq[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = folded.toArray
    override def description(): String =
      s"GraftStatsFoldScan($name, ${schema.fieldNames.mkString(", ")})"
  }

  /** Plans the pushed-aggregate `Project` Spark keeps above a
    * [[GraftStatsFoldScan]] as one [[LocalTableScanExec]] holding the
    * projected rows — what `ConvertToLocalRelation` does for a
    * `LocalRelation`, which runs before scan pushdown and so never sees
    * this shape. `collect()` of a folded catalog aggregate then runs no
    * Spark job.
    */
  case class GraftFoldScanStrategy(spark: SparkSession) extends SparkStrategy {
    spark.conf.set(GraftFoldScanStrategy.Marker, "true")

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p @ Project(list, r: DataSourceV2ScanRelation)
          if r.scan.isInstanceOf[GraftStatsFoldScan] && list.forall(e =>
            e.deterministic && !e.exists(x =>
              x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])) =>
        val projection = new InterpretedMutableProjection(list, r.output)
        projection.initialize(0)
        val rows = r.scan.asInstanceOf[GraftStatsFoldScan].rows().toSeq
          .map(row => projection(row).copy())
        LocalTableScanExec(p.output, rows, None) :: Nil
      case _ => Nil
    }
  }

  object GraftFoldScanStrategy {
    private val Marker = "spark.graft.rule.foldScanStrategy"

    /** Register the strategy in a session built without
      * GraftSqlExtensions; no-op when it is already there.
      */
    def ensureRegistered(s: SparkSession): Unit = {
      s.sessionState.planner
      s.synchronized {
        if (!java.lang.Boolean.parseBoolean(s.conf.get(Marker, "false")))
          s.experimental.extraStrategies =
            s.experimental.extraStrategies :+ GraftFoldScanStrategy(s)
      }
    }
  }

  /** Test observability: scan name → (files before, files after) of
    * the LAST runtime-filtered partition planning. Driver-side only.
    */
  val lastRuntimePruned =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** Strip the runtime-pruning shell so plan-walking consumers (the
    * stats-fold rule's post-pushdown interception) see the underlying
    * file scan.
    */
  def unwrapRuntime(scan: Scan): Scan = scan match {
    case w: GraftRuntimePrunedScan => w.innerScan
    case s => s
  }

  /** Best-effort V2→catalyst translation of the runtime-filter
    * predicate shapes dynamic pruning produces (IN over the join key,
    * occasionally a single "="). UnresolvedAttribute is an Attribute,
    * which is exactly what the segment pruner's predicate walker
    * matches; unknown shapes are ignored (pruning is an optimization,
    * never a correctness gate).
    */
  private def v2ToCatalyst(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Expression] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
    import org.apache.spark.sql.connector.expressions.LiteralValue
    def ref(e: V2Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    def lit(e: V2Expression): Option[Literal] = e match {
      case l: LiteralValue[_] => Some(Literal(l.value, l.dataType))
      case _ => None
    }
    p.name() match {
      case "IN" =>
        val cs = p.children().toSeq
        for {
          h <- cs.headOption
          n <- ref(h)
          vs = cs.tail.map(lit)
          if vs.nonEmpty && vs.forall(_.isDefined)
        } yield In(UnresolvedAttribute.quoted(n), vs.map(_.get))
      case "=" =>
        p.children().toSeq match {
          case Seq(a, b) => (ref(a), lit(b), ref(b), lit(a)) match {
            case (Some(n), Some(v), _, _) =>
              Some(EqualTo(UnresolvedAttribute.quoted(n), v))
            case (_, _, Some(n), Some(v)) =>
              Some(EqualTo(UnresolvedAttribute.quoted(n), v))
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }
  }

  /** Runtime (join-driven) segment pruning — the reference's
    * FilterPushJoin (`integration/spark/.../execution/joins/
    * CarbonJoins.scala:31-93` pushed the broadcast side's join keys as
    * IN filters into the fact scan) re-expressed at SEGMENT
    * granularity on Spark's own dynamic-pruning machinery: when the
    * broadcast side of a star join completes, BatchScanExec hands the
    * surviving join-key values here as V2 predicates, the same
    * min/max/bloom stats that power static pruning eliminate whole
    * segment dirs, and partition planning drops their files before a
    * single task launches. Static pruning cannot see join keys; at
    * 100 TB a selective dim filter over a key-clustered fact
    * otherwise scans every live segment. Spark's row-group-level DPP
    * and runtime bloom filters still apply inside the surviving
    * segments — this works the directory tier above them.
    */
  private final class GraftRuntimePrunedScan(
      name: String,
      val innerScan: Scan,
      filterCols: Array[String],
      prune: Seq[Expression] => Seq[String],
      snapshotPaths: Seq[String]) extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

    // segment dirs allowed after runtime filtering; None = all.
    // Multiple filter() calls (one per runtime filter) intersect.
    @volatile private var surviving: Option[Set[String]] = None

    // the scan snapshot's own segment dirs: a planned file may only be
    // dropped when its dir IS one of these and was positively pruned —
    // an unrecognized path (prune/file path-form mismatch, a dir the
    // snapshot never described) is always KEPT, so any disagreement
    // fails toward reading, never toward silent row loss
    private val knownDirs: Set[String] = snapshotPaths.map(normalizeDir).toSet

    override def readSchema(): StructType = innerScan.readSchema()
    override def description(): String = innerScan.description()
    override def toMicroBatchStream(cp: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      innerScan.toMicroBatchStream(cp)
    override def toContinuousStream(cp: String)
        : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
      innerScan.toContinuousStream(cp)
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      innerScan.supportedCustomMetrics()
    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      innerScan.reportDriverMetrics()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      innerScan.columnarSupportMode()

    override def filterAttributes(): Array[NamedReference] =
      filterCols.map(
        org.apache.spark.sql.connector.expressions.FieldReference.column)

    override def filter(
        predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit = {
      val exprs = predicates.toSeq.flatMap(v2ToCatalyst)
      if (exprs.nonEmpty) {
        val kept =
          try prune(exprs)
          catch { case scala.util.control.NonFatal(_) => return }
        val norm = kept.map(normalizeDir).toSet
        surviving = Some(surviving.fold(norm)(_ intersect norm))
      }
    }

    private def normalizeDir(p: String): String = {
      val noScheme =
        try {
          val u = new java.net.URI(p)
          if (u.getPath != null && u.getPath.nonEmpty) u.getPath else p
        } catch { case scala.util.control.NonFatal(_) => p }
      noScheme.stripSuffix("/")
    }

    override def toBatch: Batch = new Batch {
      private val innerBatch = innerScan.toBatch
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        innerBatch.createReaderFactory()
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        val parts = innerBatch.planInputPartitions()
        surviving match {
          case None => parts
          case Some(dirs) =>
            import org.apache.spark.sql.execution.datasources.FilePartition
            // only FilePartitions are understood; anything else keeps
            // the unpruned plan (never a correctness gate)
            if (!parts.forall(_.isInstanceOf[FilePartition])) return parts
            val before = parts.iterator
              .map(_.asInstanceOf[FilePartition].files.length).sum
            val filtered = parts.iterator.map(_.asInstanceOf[FilePartition])
              .map(fp => fp.files.filter { f =>
                val fpath = normalizeDir(f.filePath.toString)
                // longest matching prefix: with nested snapshot dirs
                // (one dir a string prefix of another) an arbitrary
                // match could consult the wrong dir's surviving
                // status; the deepest dir is the file's true owner
                val owners = knownDirs.filter(d => fpath.startsWith(d + "/"))
                if (owners.isEmpty) true
                else dirs.contains(owners.maxBy(_.length))
              })
              .filter(_.nonEmpty)
              .zipWithIndex
              .map { case (files, i) => FilePartition(i, files) }
              .toArray[org.apache.spark.sql.connector.read.InputPartition]
            lastRuntimePruned.put(name,
              (before, filtered.iterator
                .map(_.asInstanceOf[FilePartition].files.length).sum))
            filtered
        }
      }
    }
  }
}
