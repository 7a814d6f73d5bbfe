package graft.mv

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.Serialization

import graft.table.{SegmentedTable, SegmentMeta}
import graft.table.SegmentedTable.SegmentScan

/** One registered aggregate table: a parquet rollup of `basePath`
  * grouped by `groupCols`, holding pre-aggregated measures.
  * `measures` maps (func, baseColumn) → MV column name, where func ∈
  * sum | min | max and the implicit row count lives in `countCol`.
  *
  * The entry alone decides whether the rollup can serve an aggregate
  * and whether it is fresh, so [[AggTableRewrite]] touches the
  * rollup's files only to build the relation it returns:
  *  - `schema`: the rollup's output schema (StructType JSON), stamped
  *    by every build and refresh; the rewrite reads the rollup with it
  *    and never infers one.
  *  - `liveStamp`: for a segmented-table base, the
  *    [[AggTables.stampOf]] of the live segment set the rollup
  *    aggregates, taken from the same status read whose segment
  *    directories the build listed. Empty for a plain-directory base.
  *  - `fingerprint`: the digest of the base's data-file listing — the
  *    freshness test of a plain-directory base.
  *  - `coveredFiles`: the listing entries (path:length:mtime) the
  *    rollup aggregates — the incremental-refresh watermark.
  * Entries written before a field existed read it as empty: no
  * `coveredFiles` makes the next refresh a full rebuild, and no
  * `schema` or `liveStamp` leaves the rollup unused until one refresh
  * stamps them.
  */
case class AggTableMeta(name: String, basePath: String, mvPath: String,
                        groupCols: List[String],
                        measures: List[MeasureMeta], countCol: String,
                        fingerprint: String = "",
                        coveredFiles: List[String] = Nil,
                        schema: String = "",
                        liveStamp: String = "")
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
    val listing = listBase(spark, basePath)
    val entries = listing.files.map(entryOf(_, normalize(basePath))).sorted
    val coveredPaths = listing.files.map(_.getPath.toString)
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
    val out = rollup(src, groupCols, ms)
    out.write.mode("overwrite").parquet(mvPath)
    val meta = AggTableMeta(name, normalize(basePath), mvPath, groupCols.toList,
      ms, "cnt_rows", digest(entries), entries.toList,
      storedSchema(out), listing.liveStamp)
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
    val listing = listBase(spark, meta.basePath)
    val current = listing.files.map(entryOf(_, meta.basePath)).sorted
    val covered = meta.coveredFiles.toSet
    // a missing rollup (e.g. a crash inside a previous refresh's swap
    // window) must self-heal with a full rebuild, never an
    // incremental merge against nothing; an entry without a stored
    // schema (written before the field existed) is rebuilt so that
    // no path ever infers the rollup's schema
    val fullRebuild = covered.isEmpty || !covered.subsetOf(current.toSet) ||
      meta.schema.isEmpty || !graft.table.TableIO.exists(new Path(meta.mvPath))
    if (fullRebuild)
      (createLocked(spark, meta.name, meta.basePath, meta.groupCols,
        meta.measures.map(m => (m.func, m.baseCol))), "full")
    else {
      val delta = current.filterNot(covered.contains)
      val dir = catalogDir(spark)
      if (delta.isEmpty) {
        val stamped = meta.copy(fingerprint = digest(current),
          coveredFiles = current.toList, liveStamp = listing.liveStamp)
        writeMeta(dir, name, stamped)
        (stamped, "noop")
      } else {
        val deltaPaths = listing.files
          .filterNot(st => covered.contains(entryOf(st, meta.basePath)))
          .map(_.getPath.toString)
        val old = spark.read.schema(schemaOf(meta)).parquet(meta.mvPath)
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
          fingerprint = digest(current), coveredFiles = current.toList,
          schema = storedSchema(remerged), liveStamp = listing.liveStamp)
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

  /** The data-file listing digest (name, length, modtime) of a base —
    * what a plain-directory base's rollup records as `fingerprint` and
    * [[isFresh]] compares: any append, overwrite or compaction changes
    * it. One driver-side listing per data directory (for a segmented
    * base, per live segment directory), independent of data volume.
    */
  def fingerprint(spark: SparkSession, basePath: String): String =
    digest(listBase(spark, basePath).files.map(entryOf(_, normalize(basePath))).sorted)

  /** Whether `meta`'s rollup still answers exactly for its base — the
    * one freshness test behind the rewrite, the `fresh` column of
    * `SHOW GRAFT AGGREGATE TABLES` and the q40 gate. A segmented-table
    * base is fresh iff its current live segment set has the stamp the
    * rollup recorded: one status read, cached by content identity, and
    * no listing. A plain-directory base is fresh iff its listing still
    * has the recorded fingerprint. An entry without a stored schema or
    * stamp (written before those fields existed) is never fresh; one
    * refresh stamps it.
    */
  def isFresh(spark: SparkSession, meta: AggTableMeta): Boolean =
    isFreshAgainst(spark, meta, {
      val base = normalize(meta.basePath)
      if (!SegmentedTable.exists(base)) None
      else Some(SegmentedTable.open(spark, base).liveSegments)
    })

  /** [[isFresh]] given the base table's current live segments (None:
    * the base is not a segmented table), for a caller that has them.
    */
  private[mv] def isFreshAgainst(spark: SparkSession, meta: AggTableMeta,
                                 live: => Option[Seq[SegmentMeta]]): Boolean =
    meta.schema.nonEmpty && (
      if (meta.liveStamp.isEmpty) fingerprint(spark, meta.basePath) == meta.fingerprint
      else live.exists(stampOf(_) == meta.liveStamp))

  /** The identity of a segmented table's live set: every segment's id
    * with its `createdAt`. Segment directories are immutable and ids
    * are never reused within one table, so an equal stamp means the
    * same rows. The creation times tell a table dropped and recreated
    * at the same root (ids and the commit version restart there) from
    * the one the rollup was built over. Never empty.
    */
  private[mv] def stampOf(live: Seq[SegmentMeta]): String =
    "segments:" + digest(live.map(s => s"${s.id}:${s.createdAt}").sorted)

  /** A rollup's output schema as its catalog entry stores it: every
    * column nullable, as Parquet reads it back.
    */
  private def storedSchema(rollup: DataFrame): String =
    StructType(rollup.schema.fields.map(_.copy(nullable = true))).json

  /** The rollup's stored output schema. */
  private[mv] def schemaOf(meta: AggTableMeta): StructType =
    DataType.fromJson(meta.schema).asInstanceOf[StructType]

  /** A base's data files, and for a segmented-table base the
    * [[stampOf]] of the live set they belong to (empty otherwise).
    */
  private case class BaseListing(files: Seq[FileStatus], liveStamp: String)

  /** The base's data files — a single-file base (a bare .parquet
    * path) lists as itself, a directory base as its non-hidden files,
    * and a SEGMENTED-TABLE root as the data files of its current live
    * segments, named by the table catalog through the live snapshot's
    * file index (so retired/staging/index dirs never leak into the
    * rollup or the fingerprint, and no segment dir is listed) together
    * with the stamp of that same live set: ONE status read gives both.
    */
  private def listBase(spark: SparkSession, basePath: String): BaseListing = {
    val base = normalize(basePath)
    if (SegmentedTable.exists(base)) {
      val t = SegmentedTable.open(spark, base)
      val live = t.liveSegments
      return BaseListing(t.snapshotIndex(live).allFiles(), stampOf(live))
    }
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) BaseListing(Nil, "")
    else BaseListing(fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq, "")
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
  *
  * The optimizer calls the rule for every plan holding an aggregate,
  * several times per query, so it decides cheapest-first and stops at
  * the first no:
  *  0. shape: an aggregate straight over a scan (`bareScan`), with no
  *     I/O — only then is the MV catalog listed;
  *  1. derivability, from each MV's catalog entry alone — an aggregate
  *     no registered MV can derive touches no file;
  *  2. the scan reads the MV's base ([[baseCandidates]]), and a
  *     segment scan reads exactly its table's current live set;
  *  3. an ungrouped aggregate the catalog stats fold in full is left to
  *     that fold ([[StatsAggFromCatalog.foldsInFull]]);
  *  4. freshness ([[AggTables.isFresh]]) — for a segmented base the
  *     status read of step 2, no listing;
  *  5. the rollup relation, read with the stored schema: one directory
  *     listing and no Spark job.
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
    // MV meta file — only an Aggregate straight over a scan can rewrite
    if (!plan.exists {
        case agg: Aggregate => bareScan(agg.child).isDefined
        case _ => false
      }) return plan
    val mvs = AggTables.registered(spark)
    if (mvs.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate =>
        val derivable = mvs.filter(mv => mv.schema.nonEmpty &&
          derive(agg, mv, DataTypeUtils.toAttributes(AggTables.schemaOf(mv))).isDefined)
        if (derivable.isEmpty) agg
        else bareScan(agg.child).toSeq.flatMap(baseCandidates).iterator.flatMap { case (base, scan) =>
          // a segmented base's rollup serves segment scans only (a
          // plain read of the table root also sees retired segments)
          serve(agg, derivable.filter(m =>
            m.basePath == base && m.liveStamp.nonEmpty == scan.isDefined), scan)
        }.nextOption().getOrElse(agg)
    }
  }

  /** `agg` over the first of `mvs` (derivable, on the scan's base) that
    * is fresh — trying EVERY one, since a base can carry several
    * rollups and the listing-order-first one failing to serve must not
    * mask a sibling that matches exactly. Freshness is checked per MV:
    * a verdict shared per base would let a stale MV inherit a fresh
    * sibling's.
    */
  private def serve(agg: Aggregate, mvs: Seq[AggTableMeta],
                    scan: Option[SegmentScan]): Option[LogicalPlan] = {
    if (mvs.isEmpty) return None
    // one status read serves the live-set check, the fold check and
    // every stamp comparison
    lazy val live = scan.map(_.table.liveSegments)
    val servable = scan.forall { s =>
      val ids = live.get.map(_.id)
      ids.nonEmpty && s.ids.size == ids.size && s.ids.toSet == ids.toSet &&
        !(agg.groupingExpressions.isEmpty &&
          StatsAggFromCatalog.foldsInFull(live.get, agg.aggregateExpressions))
    }
    if (!servable) None
    else mvs.iterator.filter(AggTables.isFreshAgainst(spark, _, live))
      .flatMap(build(agg, _)).nextOption()
  }

  /** The scan under `p`'s attribute-only Projects, when that is all `p`
    * is: the only child an aggregate a rollup serves may have (a
    * residual Filter on non-dim columns would make the rollup wrong).
    * A shape test, with no I/O.
    */
  private def bareScan(p: LogicalPlan): Option[LogicalPlan] = p match {
    case _: LogicalRelation | _: DataSourceV2Relation => Some(p)
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
      bareScan(child)
    case _ => None
  }

  /** The bases a bare scan ([[bareScan]]) reads. Admissible candidates:
    *  - exactly one parquet location → base = that path;
    *  - a segment scan of one graft table
    *    ([[graft.table.SegmentedTable.scanOf]], possibly of a single
    *    segment) → base = the table root; [[serve]] then requires the
    *    scan to read exactly the table's CURRENT live segments, so a
    *    time-travel read or a reader's stale snapshot is never
    *    rewritten;
    *  - a catalog relation (`graft.default.t`, before V2 scan
    *    pushdown) → its table's live scan
    *    ([[graft.sql.GraftV2Table.foldSnapshot]]), which is None for a
    *    time-travel read and for a table with declared defaults.
    * File-filtered scans (glob/mtime/recursive options) are none of
    * these: they read a subset of the base's files and the full rollup
    * would overcount. Returns (candidate base, the segment scan, if
    * any).
    */
  private def baseCandidates(p: LogicalPlan): Seq[(String, Option[SegmentScan])] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation if !AggTables.hasFileFilterKeys(h.options.keySet) =>
        val exact = h.location.rootPaths match {
          case Seq(rp) => Seq((AggTables.normalize(rp.toString), None))
          case _ => Nil
        }
        exact ++ SegmentedTable.scanOf(spark, h)
          .map(s => (AggTables.normalize(s.root.toString), Some(s)))
      case _ => Nil
    }
    case r: DataSourceV2Relation => r.table match {
      case t: graft.sql.GraftV2Table =>
        t.foldSnapshot.map(s => (AggTables.normalize(s.root.toString), Some(s))).toSeq
      case _ => Nil
    }
    case _ => Nil
  }

  /** `agg` over `mv`'s rollup. Fail-SOFT on the swap window: a
    * refresh can retire mvPath between the freshness check and this
    * listing, and the query then keeps its base scan; the next plan
    * re-checks.
    */
  private def build(agg: Aggregate, mv: AggTableMeta): Option[LogicalPlan] = {
    val rollup =
      try spark.read.schema(AggTables.schemaOf(mv)).parquet(mv.mvPath)
        .queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) => return None }
    derive(agg, mv, rollup.output).map { case (g, a) => Aggregate(g, a, rollup) }
  }

  /** The grouping and output expressions of `agg` re-derived over the
    * rollup columns `out`; None when `mv` cannot serve `agg`. Pure: the
    * rule first calls it with the stored schema's attributes to decide,
    * then with the built relation's.
    */
  private def derive(agg: Aggregate, mv: AggTableMeta, out: Seq[Attribute])
      : Option[(Seq[Expression], Seq[NamedExpression])] = {
    val mvAttr: Map[String, Attribute] = out.map(a => a.name -> a).toMap
    // grouping must be plain columns, all present in the MV dims
    val groupNames = agg.groupingExpressions.map {
      case a: Attribute => a.name
      case _ => return None
    }
    if (!groupNames.forall(n => mv.groupCols.contains(n) && mvAttr.contains(n))) return None

    // map each output NamedExpression of the original aggregate
    val newGrouping = groupNames.map(mvAttr)
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if groupNames.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: Attribute, name) if groupNames.contains(a.name) =>
        Alias(mvAttr(a.name), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        def measure(func: String, c: String): Option[MeasureMeta] =
          mv.measures.find(m => m.func == func && m.baseCol == c &&
            mvAttr.contains(m.mvCol))
        // COUNT(col) and AVG(col) need the non-null count the rollup
        // materializes beside every sum measure
        def counted(c: String): Option[MeasureMeta] =
          measure("sum", c).filter(m => m.cntCol.nonEmpty && mvAttr.contains(m.cntCol))
        val repl: Option[Expression] = fn match {
          case Sum(a: Attribute, _) =>
            measure("sum", a.name).map(m => sumOf(mvAttr(m.mvCol)))
          case Min(a: Attribute) =>
            measure("min", a.name)
              .map(m => AggregateExpression(Min(mvAttr(m.mvCol)), Complete, isDistinct = false))
          case Max(a: Attribute) =>
            measure("max", a.name)
              .map(m => AggregateExpression(Max(mvAttr(m.mvCol)), Complete, isDistinct = false))
          case Count(Seq(Literal(1, _))) =>
            mvAttr.get(mv.countCol).map(countOf)
          // COUNT(col) = SUM of the per-group non-null counts
          case Count(Seq(a: Attribute)) =>
            counted(a.name).map(m => countOf(mvAttr(m.cntCol)))
          // AVG(c) = SUM(sum_c) / SUM(cnt_c) — divides by the
          // non-null count of c, matching AVG's null semantics
          case Average(a: Attribute, _)
              if Seq("double", "long", "integer", "short", "byte")
                .contains(a.dataType.typeName) =>
            counted(a.name).map { m =>
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
    Some((newGrouping, newAggExprs))
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
