package graft.mv

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.graftbridge.ColumnExpr
import org.json4s._
import org.json4s.jackson.Serialization

import graft.table.SegmentedTable.SegmentScan

/** One registered aggregate table: a parquet rollup of `basePath`
  * grouped by `groupCols`, holding pre-aggregated measures.
  * `measures` maps (func, baseColumn) → MV column name, where func ∈
  * sum | min | max and the implicit row count lives in `countCol`.
  */
/** `coveredFiles` records the base data-file listing entries
  * (name:length:mtime) the rollup aggregates — the incremental-refresh
  * watermark. Old catalogs without the field deserialize to Nil, which
  * simply forces the first refresh to be a full rebuild.
  */
case class AggTableMeta(name: String, basePath: String, mvPath: String,
                        groupCols: List[String],
                        measures: List[MeasureMeta], countCol: String,
                        fingerprint: String = "",
                        coveredFiles: List[String] = Nil)
/** cntCol: for sum measures, the MV column holding COUNT(baseCol)
  * (non-null count — required for exact AVG rewrites); empty otherwise.
  */
case class MeasureMeta(func: String, baseCol: String, mvCol: String,
                       cntCol: String = "")

/** Aggregate tables (materialized rollups) + automatic query rewrite —
  * the reference declares them via CREATE AGGREGATETABLE and selects
  * them only at LOAD time (AggregateTableSelecter.java); routing
  * queries to them automatically is the §4-row-14 upgrade, done here
  * as a logical optimizer rule.
  *
  * Scale rationale: a rollup of a 100 TB fact table by a handful of
  * dims is typically 1e3-1e6 rows; answering a matching aggregate from
  * it replaces a full fact scan with a scan of kilobytes. Re-aggregation
  * (SUM of partial SUMs, SUM of partial COUNTs, MIN of MINs, MAX of
  * MAXs) keeps results exactly equal to the base query for any
  * grouping subset of the MV's dims.
  */
object AggTables {

  private implicit val formats: Formats = DefaultFormats

  def catalogDir(spark: SparkSession): String =
    spark.conf.get("spark.graft.mv.store", "/tmp/graft_mv")

  /** Build + register an aggregate table over a base parquet path.
    * Measures: (func, column) with func ∈ sum|min|max. Count is always
    * materialized (needed for COUNT(*) and, later, AVG rewrites).
    */
  def create(spark: SparkSession, name: String, basePath: String,
             groupCols: Seq[String], measures: Seq[(String, String)]): AggTableMeta =
    withRefreshLock(spark, name) {
      createLocked(spark, name, basePath, groupCols, measures)
    }

  /** The build/register body — caller holds the per-MV refresh lock. */
  private def createLocked(spark: SparkSession, name: String, basePath: String,
      groupCols: Seq[String], measures: Seq[(String, String)]): AggTableMeta = {
    val dir = catalogDir(spark)
    graft.table.TableIO.mkdirs(new Path(dir))
    val prevPath = registered(spark).find(_.name == name).map(_.mvPath)
    val mvPath = newVersionPath(dir, name)
    val ms = measures.toList.map {
      case ("sum", c) => MeasureMeta("sum", c, s"sum_$c", s"cnt_$c")
      case (f, c) => MeasureMeta(f, c, s"${f}_$c")
    }
    // listing taken BEFORE the build, and the build scans EXACTLY the
    // listed files (not the directory): a concurrent writer landing
    // mid-build is then neither aggregated nor covered — the stored
    // print won't match the new listing, so the rewrite stays disabled
    // (fail-safe), and a later incremental refresh re-merges the new
    // file exactly once. Scanning the directory instead would bake the
    // late file into the rollup while leaving it out of coveredFiles —
    // the next incremental refresh would double-count it.
    val statuses = listFiles(spark, basePath)
    val entries = statuses.map(entryOf(_, normalize(basePath))).sorted
    val coveredPaths = statuses.map(_.getPath.toString)
    // empty base: a segmented table (or bare dir) with no data files
    // yet — the reference workflow declares aggregate tables BEFORE
    // the first load, so register an empty rollup with the base
    // table's schema instead of failing schema inference
    val src =
      if (coveredPaths.nonEmpty) spark.read.parquet(coveredPaths: _*)
      else if (graft.table.SegmentedTable.exists(normalize(basePath)))
        graft.table.SegmentedTable.open(spark, normalize(basePath)).read()
      else throw new IllegalArgumentException(
        s"aggregate table $name: base $basePath has no data files and no table schema")
    // versioned build: the rollup lands in a brand-new directory and
    // the catalog pointer flips to it — see [[newVersionPath]]
    rollup(src, groupCols, ms).write.mode("overwrite").parquet(mvPath)
    val meta = AggTableMeta(name, normalize(basePath), mvPath, groupCols.toList,
      ms, "cnt_rows", digest(entries), entries.toList)
    writeMeta(dir, name, meta)
    sweepOldVersions(dir, name, Set(mvPath) ++ prevPath)
    meta
  }

  /** Catalog-pointer flip — write-temp + atomic rename, like every
    * other metadata pointer (a reader between a truncate and a write
    * would otherwise see an empty/partial JSON).
    */
  private def writeMeta(dir: String, name: String, meta: AggTableMeta): Unit =
    graft.table.TableIO.writeStringAtomic(
      new Path(dir, s"$name.json"), Serialization.write(meta))

  /** Per-MV refresh mutual exclusion: concurrent refreshes of one MV
    * (e.g. two loads on a refresh_on_commit table committing back to
    * back) would otherwise double-merge the same delta and sweep each
    * other's in-flight swap artifacts. File-lock under the catalog dir
    * — same single-host semantics as the table commit lock; the loser
    * re-reads the winner's stamped coveredFiles and sees a no-op.
    */
  private def withRefreshLock[T](spark: SparkSession, name: String)(f: => T): T = {
    val dir = new Path(catalogDir(spark))
    graft.table.TableIO.mkdirs(dir)
    graft.table.MetadataLock.forPath(dir)
      .withExclusive(new Path(dir, s".$name.refresh_lock"))(f)
  }

  /** The partial rollup of one input slice: per-dim sums, non-null
    * counts (for AVG), mins, maxs, and the row count.
    */
  private def rollup(df: DataFrame, groupCols: Seq[String],
                     ms: Seq[MeasureMeta]): DataFrame = {
    val aggs = ms.flatMap {
      case MeasureMeta("sum", c, a, cc) => Seq(sum(col(c)).as(a), count(col(c)).as(cc))
      case MeasureMeta("min", c, a, _) => Seq(min(col(c)).as(a))
      case MeasureMeta("max", c, a, _) => Seq(max(col(c)).as(a))
      case MeasureMeta(f, _, _, _) => throw new IllegalArgumentException(s"func $f")
    } :+ count(lit(1)).as("cnt_rows")
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Refresh a registered MV — INCREMENTALLY when possible. Every MV
    * measure is re-aggregable (SUM of SUMs, SUM of COUNTs, MIN of
    * MINs, MAX of MAXs), so when the base has only gained files since
    * the last build, the new rollup = re-merge(old rollup ∪ rollup of
    * the delta files): O(delta + |MV|) instead of a full base scan —
    * the difference between a daily refresh reading one day and one
    * reading 100 TB. Any covered file that disappeared or changed
    * (compaction, overwrite, DML rewrite) falls back to a full
    * rebuild; a no-op delta just re-stamps the fingerprint.
    */
  def refresh(spark: SparkSession, name: String): AggTableMeta =
    refreshDetailed(spark, name)._1

  /** refresh() plus the path taken: "incremental" | "full" | "noop" —
    * exposed so callers (and specs) can assert the scale behavior.
    */
  def refreshDetailed(spark: SparkSession, name: String): (AggTableMeta, String) =
    withRefreshLock(spark, name) { refreshLocked(spark, name) }

  private def refreshLocked(spark: SparkSession, name: String): (AggTableMeta, String) = {
    // meta read INSIDE the lock: a refresh that lost the race to a
    // concurrent one sees the winner's stamped coveredFiles and takes
    // the noop path instead of re-merging the same delta
    val meta = registered(spark).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no MV named $name"))
    val currentStatuses = listFiles(spark, meta.basePath)
    val current = currentStatuses.map(entryOf(_, meta.basePath)).sorted
    val covered = meta.coveredFiles.toSet
    // a missing rollup (e.g. a crash inside a previous refresh's swap
    // window) must self-heal with a full rebuild, never an
    // incremental merge against nothing
    val fullRebuild = covered.isEmpty || !covered.subsetOf(current.toSet) ||
      !graft.table.TableIO.exists(new Path(meta.mvPath))
    if (fullRebuild)
      (createLocked(spark, meta.name, meta.basePath, meta.groupCols,
        meta.measures.map(m => (m.func, m.baseCol))), "full")
    else {
      val delta = current.filterNot(covered.contains)
      val dir = catalogDir(spark)
      if (delta.isEmpty) {
        val stamped = meta.copy(fingerprint = digest(current),
          coveredFiles = current.toList)
        writeMeta(dir, name, stamped)
        (stamped, "noop")
      } else {
        val deltaPaths = currentStatuses
          .filterNot(st => covered.contains(entryOf(st, meta.basePath)))
          .map(_.getPath.toString)
        val old = spark.read.parquet(meta.mvPath)
        val deltaAgg = rollup(spark.read.parquet(deltaPaths: _*),
          meta.groupCols, meta.measures)
        val mergeAggs = meta.measures.flatMap {
          case MeasureMeta("sum", _, a, cc) =>
            Seq(sum(col(a)).as(a), sum(col(cc)).as(cc))
          case MeasureMeta("min", _, a, _) => Seq(min(col(a)).as(a))
          case MeasureMeta("max", _, a, _) => Seq(max(col(a)).as(a))
          case MeasureMeta(f, _, _, _) =>
            throw new IllegalArgumentException(s"func $f")
        } :+ sum(col(meta.countCol)).as(meta.countCol)
        val remerged = old.unionByName(deltaAgg)
          .groupBy(meta.groupCols.map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
          // re-summing can widen types (sum(long) stays long but
          // sum(decimal) gains precision): pin the merged schema to
          // the existing MV's column types so rewrite plans never
          // see a schema drift across refreshes
          .select(old.schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        // versioned swap — see [[newVersionPath]]: the merged rollup
        // lands in a brand-new directory, the catalog pointer flips,
        // and the PREVIOUS version survives one refresh cycle so
        // in-flight readers keep real files under their captured path
        val newPath = newVersionPath(dir, name)
        remerged.write.mode("overwrite").parquet(newPath)
        val stamped = meta.copy(mvPath = newPath,
          fingerprint = digest(current), coveredFiles = current.toList)
        writeMeta(dir, name, stamped)
        sweepOldVersions(dir, name, Set(newPath, meta.mvPath))
        (stamped, "incremental")
      }
    }
  }

  /** Versioned rollup directories (MVCC-lite): every (re)build writes
    * a brand-new `<name>.parquet.v<nanos>` directory and re-stamps the
    * catalog pointer; the PREVIOUS version is retained for one refresh
    * cycle so an in-flight reader that captured the old path keeps
    * reading real files all the way through execution — the
    * vanishing-directory race of any in-place swap is structurally
    * gone (a reader would have to outlive two full refresh cycles to
    * lose its files). A crash leaves at worst an orphaned new version
    * with the pointer still on the old one — consistent, swept by the
    * next refresh.
    */
  private def newVersionPath(dir: String, name: String): String =
    s"$dir/$name.parquet.v${System.nanoTime()}"

  /** Delete every rollup version/artifact of `name` not in `keep` —
    * old versions past their grace cycle, legacy unversioned dirs, and
    * pre-versioning swap artifacts (`.refresh_tmp`, `.old_*`). Caller
    * holds the per-MV refresh lock.
    */
  private def sweepOldVersions(dir: String, name: String,
                               keep: Set[String]): Unit = {
    // listStatus returns fully-QUALIFIED paths (file:/... even for a
    // scheme-less catalog dir) while the recorded mvPath strings carry
    // whatever the conf spelled — compare on the scheme-less URI path
    // or the sweep would delete the live version it was told to keep
    val keepPaths = keep.map(s => new Path(s).toUri.getPath)
    graft.table.TableIO.listStatus(new Path(dir))
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n == s"$name.parquet" || n.startsWith(s"$name.parquet.")) &&
          !keepPaths.contains(p.toUri.getPath)
      }
      .foreach(graft.table.TableIO.delete)
  }

  /** Refresh every MV registered over `basePath` — the load-time
    * automatic aggregate-table maintenance hook (the reference rebuilds
    * declared rollups inside every LOAD: AggregateTableSelecter.java,
    * LoadAggregationTable at cubeSchema.scala:2058). Fired by
    * [[graft.table.SegmentedTable]] commits when the table opts in via
    * the `refresh_on_commit` property; the incremental path makes the
    * steady-state cost O(delta + |MV|). Returns (mv name, path taken).
    */
  def refreshForBase(spark: SparkSession, basePath: String): Seq[(String, String)] = {
    val b = normalize(basePath)
    registered(spark).filter(_.basePath == b).map { m =>
      val (_, mode) = refreshDetailed(spark, m.name)
      (m.name, mode)
    }
  }

  /** Point every MV registered over `oldBase` at `newBase` — the MOVE
    * TABLE hook. The rollup data, coveredFiles watermark and
    * fingerprint all stay valid: entries are RELATIVE to the base
    * (see [[entryOf]]) and a filesystem rename preserves file names,
    * sizes and mtimes — so the next refresh after a move is a no-op,
    * not a rebuild. Returns the rebased MV names.
    */
  def rebase(spark: SparkSession, oldBase: String, newBase: String): Seq[String] = {
    val ob = normalize(oldBase)
    registered(spark).filter(_.basePath == ob).map { m =>
      withRefreshLock(spark, m.name) {
        // re-read under the per-MV lock: a concurrent refresh may have
        // re-stamped the meta since the unlocked listing above
        registered(spark).find(_.name == m.name)
          .filter(_.basePath == ob)
          .foreach(c => writeMeta(catalogDir(spark), c.name,
            c.copy(basePath = normalize(newBase))))
      }
      m.name
    }
  }

  /** Deregister an MV and delete its rollup data. */
  def drop(spark: SparkSession, name: String): Unit =
    withRefreshLock(spark, name) {
      val dir = catalogDir(spark)
      graft.table.TableIO.delete(new Path(dir, s"$name.json"))
      sweepOldVersions(dir, name, Set.empty)
    }

  def registered(spark: SparkSession): Seq[AggTableMeta] =
    graft.table.TableIO.listStatus(new Path(catalogDir(spark)))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(st => Serialization.read[AggTableMeta](
        graft.table.TableIO.readString(st.getPath)))

  /** Whether a scan's read options carry FILE-LEVEL filters (glob,
    * mtime bounds, recursive lookup): such a scan reads a SUBSET of its
    * root paths' files, so no rule that reasons about roots — catalog
    * stats, segment pruning, an MV rewrite — may answer for it.
    * [[graft.table.SegmentedTable.scanOf]] refuses such scans for
    * every segment-scan rule; [[AggTableRewrite]] also checks it for
    * a plain-parquet base.
    */
  private[graft] def hasFileFilterKeys(optionKeys: Iterable[String]): Boolean = {
    val keys = optionKeys.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    Seq("pathglobfilter", "modifiedafter", "modifiedbefore",
      "recursivefilelookup").exists(keys.contains)
  }

  /** Staleness guard: digest of the base directory's data-file listing
    * (name, length, modtime). Any append/overwrite/compaction changes
    * it, which disables the rewrite until refresh(). One driver-side
    * directory listing — same cost class as Spark's own file-index
    * refresh, independent of data volume.
    */
  def fingerprint(spark: SparkSession, basePath: String): String =
    digest(listEntries(spark, basePath))

  /** The base's data files — a single-file base (a bare .parquet
    * path) lists as itself, a directory base as its non-hidden files,
    * and a SEGMENTED-TABLE root as the data files of its current live
    * segments (read from the table catalog, so retired/staging/index
    * dirs never leak into the rollup or the fingerprint).
    */
  private def listFiles(spark: SparkSession,
      basePath: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.Path
    val base = normalize(basePath)
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Nil
    def filesIn(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
    if (graft.table.SegmentedTable.exists(base))
      graft.table.SegmentedTable.open(spark, base).liveSegmentPaths
        .flatMap(seg => filesIn(new Path(seg.toString)))
    else filesIn(p)
  }

  /** Listing entry = "base-relative-path:length:mtime" — the unit the
    * incremental refresh diffs against `coveredFiles` (paths cannot
    * contain ':'). Base-relative, not bare name: a segmented base
    * holds same-named part files in every segment dir. Both sides are
    * compared as scheme-less URI paths so a scheme-qualified base
    * (hdfs://nn/...) still yields relative entries; when the prefix
    * genuinely doesn't match, the FULL path is the fallback — never
    * the bare name, which would re-open the cross-segment collision.
    */
  private def entryOf(st: org.apache.hadoop.fs.FileStatus,
                      basePath: String): String = {
    val full = st.getPath.toUri.getPath
    val b = new org.apache.hadoop.fs.Path(basePath).toUri.getPath
      .stripSuffix("/")
    val rel = if (full.startsWith(b + "/")) full.substring(b.length + 1)
              else full
    s"$rel:${st.getLen}:${st.getModificationTime}"
  }

  /** Data-file listing as sorted entries (see [[entryOf]]). */
  private def listEntries(spark: SparkSession, basePath: String): Seq[String] =
    listFiles(spark, basePath).map(entryOf(_, normalize(basePath))).sorted

  private def digest(entries: Seq[String]): String =
    if (entries.isEmpty) "missing"
    else java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The catalog's spelling of a base path (`basePath` keys). */
  private[mv] def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")
}

/** Logical rewrite: Aggregate over a base-table scan whose grouping is
  * a subset of a registered MV's dims and whose aggregates are
  * derivable from its measures → same Aggregate over the (tiny) MV.
  * Injected with `injectOptimizerRule(AggTableRewrite(_))`.
  */
object AggTableRewrite {
  private[mv] val Marker = "spark.graft.rule.aggTableRewrite"

  /** Register in a session built without GraftSqlExtensions; no-op
    * when the extension already injected the rule (see the identical
    * pattern on [[graft.table.GraftSegmentPruning.ensureRegistered]]).
    */
  def ensureRegistered(s: SparkSession): Unit = {
    s.sessionState.optimizer
    // synchronized on the session (the same monitor every
    // extraOptimizations appender uses): check-then-append is a
    // read-modify-write on a shared var, and two concurrent callers —
    // e.g. Verify's parallel dump running two gates — could otherwise
    // double-register this rule or overwrite another rule's append
    s.synchronized {
      if (!java.lang.Boolean.parseBoolean(s.conf.get(Marker, "false")))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ AggTableRewrite(s)
    }
  }
}

case class AggTableRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  spark.conf.set(AggTableRewrite.Marker, "true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // bail before ANY catalog I/O: registered() lists + parses every
    // MV meta file, and the optimizer invokes this rule for every
    // query (more than once in a fixed-point batch) — a plan with no
    // Aggregate can never rewrite
    if (!plan.exists(_.isInstanceOf[Aggregate])) return plan
    val mvs = AggTables.registered(spark)
    if (mvs.isEmpty) return plan
    // the BASE-LISTING fingerprint is cached per base path (one
    // driver listing per distinct base per query plan); the mvPath
    // existence probe and the fingerprint comparison are evaluated
    // PER MV (ADVICE r6: a verdict cached per base path would let a
    // stale or mid-swap MV inherit a fresh sibling's verdict). The
    // existence probe makes a refresh's swap window (or a crashed
    // refresh) fail-soft: queries fall back to the base scan instead
    // of planning against a missing rollup.
    val baseFp = scala.collection.mutable.Map.empty[String, String]
    def isFresh(mv: AggTableMeta): Boolean =
      graft.table.TableIO.exists(
        new org.apache.hadoop.fs.Path(mv.mvPath)) &&
        baseFp.getOrElseUpdate(mv.basePath,
          AggTables.fingerprint(spark, mv.basePath)) == mv.fingerprint
    plan.transformUp {
      case agg @ Aggregate(grouping, aggExprs, child, _) =>
        baseCandidates(child).flatMap { case (base, segmented) =>
          // try EVERY fresh MV on this base, first servable wins — a
          // base can carry several rollups (different dims) and the
          // listing-order-first one failing to serve must not mask a
          // sibling that matches exactly
          mvs.filter(_.basePath == base).filter(isFresh)
            .filter(_ => segmented.forall(scanIsCurrentLive))
            .flatMap(mv => rewrite(agg, mv))
            .headOption
        }.headOption.getOrElse(agg)
    }
  }

  /** child must be a bare scan (optionally behind an attribute-only
    * Project) with no Filter (a residual filter on non-dim columns
    * would make the rollup wrong). Two admissible base candidates,
    * tried in order:
    *  - exactly one parquet location → base = that path;
    *  - a segment scan of one graft table
    *    ([[graft.table.SegmentedTable.scanOf]], possibly of a single
    *    segment) → base = the table root; [[scanIsCurrentLive]] then
    *    verifies the scan reads exactly the table's CURRENT live
    *    segments, so a time-travel read or a reader's stale snapshot
    *    is never rewritten.
    * File-filtered scans (glob/mtime/recursive options) are neither:
    * they read a subset of the base's files and the full rollup would
    * overcount. Returns (candidate base, the segment scan to
    * live-check, if any).
    */
  private def baseCandidates(p: LogicalPlan): Seq[(String, Option[SegmentScan])] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation if !AggTables.hasFileFilterKeys(h.options.keySet) =>
        val exact = h.location.rootPaths match {
          case Seq(rp) => Seq((AggTables.normalize(rp.toString), None))
          case _ => Nil
        }
        exact ++ graft.table.SegmentedTable.scanOf(spark, h)
          .map(s => (AggTables.normalize(s.root.toString), Some(s)))
      case _ => Nil
    }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
      baseCandidates(child)
    case _ => Nil
  }

  /** A segment scan is rewritable only when it reads exactly the
    * table's current live segment set.
    */
  private def scanIsCurrentLive(scan: SegmentScan): Boolean = {
    val live = scan.table.liveScan.ids.toSet
    live.nonEmpty && scan.ids.toSet == live
  }

  private def rewrite(agg: Aggregate, mv: AggTableMeta): Option[LogicalPlan] = {
    // grouping must be plain columns, all present in the MV dims
    val groupNames = agg.groupingExpressions.map {
      case a: Attribute => a.name
      case _ => return None
    }
    if (!groupNames.forall(mv.groupCols.contains)) return None

    // fail-SOFT on the swap window: isFresh's existence probe and this
    // read are not atomic — a refresh's two-rename swap can empty
    // mvPath in between. Falling back to the base scan keeps the query
    // alive; the next plan re-probes.
    val mvPlan =
      try spark.read.parquet(mv.mvPath).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) => return None }
    val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap

    // map each output NamedExpression of the original aggregate
    val newGrouping = groupNames.map(mvAttr)
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if groupNames.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: Attribute, name) if groupNames.contains(a.name) =>
        Alias(mvAttr(a.name), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        val repl: Option[Expression] = fn match {
          case Sum(a: Attribute, _) =>
            mv.measures.find(m => m.func == "sum" && m.baseCol == a.name)
              .map(m => sumOf(mvAttr(m.mvCol)))
          case Min(a: Attribute) =>
            mv.measures.find(m => m.func == "min" && m.baseCol == a.name)
              .map(m => AggregateExpression(Min(mvAttr(m.mvCol)), Complete, isDistinct = false))
          case Max(a: Attribute) =>
            mv.measures.find(m => m.func == "max" && m.baseCol == a.name)
              .map(m => AggregateExpression(Max(mvAttr(m.mvCol)), Complete, isDistinct = false))
          case Count(Seq(Literal(1, _))) =>
            Some(countOf(mvAttr(mv.countCol)))
          // COUNT(col) = SUM of the per-group non-null counts the
          // rollup materializes beside every sum measure
          case Count(Seq(a: Attribute)) =>
            mv.measures.find(m => m.func == "sum" && m.baseCol == a.name &&
                m.cntCol.nonEmpty && mvAttr.contains(m.cntCol))
              .map(m => countOf(mvAttr(m.cntCol)))
          // AVG(c) = SUM(sum_c) / SUM(cnt_c) — divides by the
          // non-null count of c, matching AVG's null semantics
          case Average(a: Attribute, _)
              if Seq("double", "long", "integer", "short", "byte")
                .contains(a.dataType.typeName) =>
            mv.measures.find(m => m.func == "sum" && m.baseCol == a.name &&
                m.cntCol.nonEmpty && mvAttr.contains(m.cntCol)).map { m =>
              Divide(
                Cast(sumOf(mvAttr(m.mvCol)), org.apache.spark.sql.types.DoubleType),
                Cast(sumOf(mvAttr(m.cntCol)), org.apache.spark.sql.types.DoubleType))
            }
          case _ => None
        }
        repl match {
          case Some(e) =>
            // pin the rewritten expression to the ORIGINAL output
            // type: re-aggregation can widen (a decimal sum-of-sums
            // grows precision), and a drifted type under a preserved
            // exprId corrupts everything resolved above this plan —
            // the refresh path pins merged columns for the same reason
            val pinned =
              if (e.dataType == al.child.dataType) e
              else Cast(e, al.child.dataType)
            Alias(pinned, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    Some(Aggregate(newGrouping, newAggExprs, mvPlan))
  }

  /** SUM over a partial column (sum-of-sums / sum-of-counts). */
  private def sumOf(a: Attribute): Expression =
    AggregateExpression(Sum(a), Complete, isDistinct = false)

  /** COUNT rewrite = SUM of partial counts, with count's semantics
    * preserved exactly: a GLOBAL (no GROUP BY) count over an empty
    * table is 0, never NULL — and the output attribute stays
    * non-nullable like count's — so a rewritten plan's schema and
    * result never diverge from the base scan in the empty edge.
    */
  private def countOf(a: Attribute): Expression =
    Coalesce(Seq(sumOf(a),
      Literal(0L, org.apache.spark.sql.types.LongType)))
}
