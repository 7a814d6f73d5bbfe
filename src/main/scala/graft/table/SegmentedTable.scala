package graft.table

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions.{col, lit, max, min, sum}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnExpr
import org.json4s._
import org.json4s.jackson.Serialization

/** Per-column min/max kept in the segment catalog, serialized as
  * strings with a type tag (numeric | string | timestamp).
  */
/** Per-segment exact column statistics. `sum` (r19): the EXACT sum of
  * an integral column's non-null values as a decimal string — collected
  * at stage time in DecimalType(38,0) so per-segment overflow is
  * impossible at any realistic row count — letting SUM (and, combined
  * with null counts, AVG-shaped reads) fold from the catalog like
  * COUNT/MIN/MAX. None for non-integral columns and for segments
  * staged before the field existed (folds bail, never guess).
  */
case class ColStats(min: String, max: String, kind: String,
                    sum: Option[String] = None)

/** One load = one segment (reference: Segment_N directories tracked in
  * table_status.thrift with LOAD_PROGRESS/SUCCESS/... states —
  * format/src/main/thrift/table_status.thrift:17-28).
  */
/** nullCounts: per-column null count, powering IsNull/IsNotNull segment
  * pruning. Default empty for catalogs written before the field existed
  * (absent = unknown = never prune).
  *
  * dataChange: false for segments that REORGANIZE rows already in the
  * table (compaction) rather than change its contents. The change feed
  * ([[SegmentedTable.readChanges]]) and the streaming source skip
  * them; defaults true for catalogs written before the field existed
  * (conservative: an old compacted segment replays as delete+insert
  * rather than silently vanishing from the feed).
  */
case class SegmentMeta(id: Int, status: String, rowCount: Long,
                       createdAt: Long, stats: Map[String, ColStats],
                       nullCounts: Map[String, Long] = Map.empty,
                       dataChange: Boolean = true,
                       bytes: Long = -1L)

/** version: monotone commit counter (0 for catalogs written before the
  * field existed). Every commit also lands as `_meta/log/<version>
  * .json`, giving snapshot time travel over the segment catalog.
  *
  * sinkEpochs: per-sink-lineage highest committed streaming epoch,
  * keyed by the sink's checkpoint location (epochs restart at 0 for
  * every NEW query, so a table-global counter would wrongly skip a
  * fresh query's first batches). Recorded in the SAME atomic commit
  * as the epoch's segment, so a replayed micro-batch after a sink
  * restart is recognized and skipped — exactly-once without a side
  * ledger. commitStatus carries the map forward when a commit
  * doesn't set it.
  *
  * manifest: ON DISK, a pointer to an immutable `_meta/manifests/`
  * page holding the catalog's frozen segment-list prefix, with
  * `segments` then holding only the small mutable TAIL appended since
  * the last fold — the 10^5-segment scale path (a whole-list rewrite
  * per commit is ~6.5 s there; a tail append is ms). IN MEMORY, every
  * status this class hands out is MERGED (segments = manifest prefix
  * ++ tail) with the pointer retained, so no caller ever sees a
  * partial list. Catalogs below the fold threshold (and every catalog
  * written before the field existed) keep the plain inline form:
  * manifest = None.
  */
case class TableStatus(nextId: Int, segments: List[SegmentMeta],
                       version: Long = 0L,
                       sinkEpochs: Map[String, Long] = Map.empty,
                       manifest: Option[String] = None)

/** One immutable manifest page (see [[TableStatus.manifest]]). */
case class ManifestPage(segments: List[SegmentMeta])

/** Segment-managed Parquet table: the Spark-native re-design of the
  * reference's store (SURVEY.md §7.1).
  *
  *  - Each load appends a `segment_N/` directory of Parquet sorted by
  *    the table's sort columns (replaces global-dictionary + MDKey
  *    sort: Parquet's own dictionary/RLE encodings give the same
  *    compression; multi-column sort gives the same locality).
  *  - `_meta/status.json` is the table-status state machine; commits
  *    are write-temp + atomic-rename, guarded by an exclusive file
  *    lock (single-node stand-in for the reference's ZooKeeper lock,
  *    core/.../locks/ZooKeeperLocking.java — on a cluster the same
  *    protocol runs against a shared DFS path, and the atomic rename
  *    is the commit point, so concurrent readers always see a
  *    consistent segment list).
  *  - Per-segment min/max stats power driver-side segment pruning
  *    (replaces the driver BTree of CarbonInputFormat.getSplits:177);
  *    Parquet row-group stats prune below segment granularity for free.
  *
  * Scale: the catalog holds one small JSON record per segment — at
  * 100 TB with multi-GB segments that is a few thousand entries, read
  * once per query on the driver; all data-plane work stays in Spark's
  * vectorized Parquet scan over only the surviving segment dirs.
  */
class SegmentedTable private (val spark: SparkSession, val root: Path,
                              val schema: StructType,
                              val properties: Map[String, String]) {
  import SegmentedTable._

  private def metaDir = new Path(root, "_meta")
  private def statusFile = new Path(metaDir, "status.json")
  private def lockFile = new Path(metaDir, ".lock")
  private def manifestsDir = new Path(metaDir, "manifests")
  private def segmentDir(id: Int) = new Path(root, s"segment_$id")

  /** Segment count at or below which the catalog stays a plain inline
    * list (`manifest.fold.threshold` property). 2000 entries ≈ 2 MB of
    * JSON ≈ 130 ms commits — interactive; beyond it the list folds
    * into an immutable manifest page and commits rewrite only the
    * tail (measured at 10^5 segments: 6.5 s whole-list vs ms tail).
    */
  private def manifestFoldThreshold: Int =
    properties.get("manifest.fold.threshold").map(_.toInt).getOrElse(2000)

  def sortColumns: Seq[String] =
    properties.get("sort_columns").toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)

  // ---- status file (atomic commit protocol) ----

  def status: TableStatus = readStatus(statusFile)

  private[graft] def commitStatus(s: TableStatus): Unit =
    commitStatusWith(s, newEpochs = None)

  /** Commit with optional EXPLICIT sink-epoch state; None preserves
    * the previous commit's epochs (every ordinary commit), so a data
    * commit can never accidentally wipe a sink lineage — and an
    * explicit Some can (clearSinkLineage's whole point).
    */
  private def commitStatusWith(s: TableStatus,
      newEpochs: Option[Map[String, Long]]): Unit = {
    // stamp the next commit version (status.json may not exist yet on
    // the very first commit from create())
    val prevStatus =
      if (TableIO.exists(statusFile)) Some(readStatus(statusFile)) else None
    val prev = prevStatus.map(_.version).getOrElse(0L)
    val sink = newEpochs.getOrElse(
      prevStatus.map(_.sinkEpochs).getOrElse(Map.empty[String, Long]))
    // ---- manifest layout (see [[TableStatus.manifest]]): keep the
    // previous pointer when the new list still extends its frozen
    // prefix (the append path — O(tail) commit); refold when the tail
    // outgrew the threshold or a mutation reached inside the prefix
    // (delete/compact/restore — O(n), amortized); stay inline below
    // the threshold (every ordinary table). Prefix comparison is
    // reference-first per element: append/update paths reuse the
    // unchanged SegmentMeta objects, so the common case is n pointer
    // compares, not n deep equalities. ----
    val full = s.segments
    val threshold = manifestFoldThreshold
    val kept: Option[(String, Int)] = prevStatus.flatMap(_.manifest).flatMap { m =>
      val mSegs = manifestSegments(statusFile, m)
      if (sharesPrefix(full, mSegs)) Some((m, mSegs.size)) else None
    }
    val (manifestOut, tail) = kept match {
      case Some((m, sz)) if full.size - sz <= threshold =>
        (Some(m), full.drop(sz))
      case _ if full.size <= threshold => (None, full)
      case _ =>
        val name = s"${prev + 1}-${System.nanoTime()}.json"
        TableIO.mkdirs(manifestsDir)
        val mp = new Path(manifestsDir, name)
        TableIO.writeStringAtomic(mp,
          Serialization.write(ManifestPage(full))(formats))
        seedManifestCache(mp, full)
        (Some(name), Nil)
    }
    val stamped = s.copy(version = prev + 1, sinkEpochs = sink,
      segments = tail, manifest = manifestOut)
    val json = Serialization.write(stamped)(formats)
    TableIO.writeStringAtomic(statusFile, json)
    // seed the parsed-catalog cache with the MERGED form of what was
    // just committed: the writer's next read can never be served a
    // stale entry even where the FS identity is only
    // millisecond-grained (DFS; see TableIO.contentIdentity)
    cacheStatus(statusFile, stamped.copy(segments = full))
    // append-only history entry — the time-travel anchor. Written
    // AFTER the commit point: a crash between the two loses only the
    // history entry, never current-state consistency. Same tmp +
    // atomic-rename discipline as status.json, so a half-written
    // entry can never poison statusAt/SHOW HISTORY. Stored (tail +
    // pointer) form: log entries SHARE the immutable manifest pages.
    val logDir = new Path(metaDir, "log")
    TableIO.mkdirs(logDir)
    // crash-repair: if the PREVIOUS commit's crash window lost its
    // log entry (statusAt healed it only while it was current),
    // backfill it now from the parsed previous status — otherwise
    // this commit would make that version permanently unresolvable
    // and wedge any consumer (e.g. a streaming reader's offset)
    // anchored at it
    prevStatus.foreach { ps =>
      val prevLog = new Path(logDir, s"${ps.version}.json")
      if (ps.version > 0 && !TableIO.exists(prevLog)) {
        val storedPrev = ps.manifest match {
          case Some(m) => ps.copy(segments =
            ps.segments.drop(manifestSegments(statusFile, m).size))
          case None => ps
        }
        TableIO.writeStringAtomic(prevLog,
          Serialization.write(storedPrev)(formats))
      }
    }
    TableIO.writeStringAtomic(new Path(logDir, s"${stamped.version}.json"), json)
  }

  /** Exclusive metadata lock for load/compact/delete (reference takes
    * METADATA_LOCK in LoadCube.run, cubeSchema.scala:1817-1827).
    * Implementation is pluggable per table via the `lock.impl`
    * property — [[LocalFileLock]] (single-host) or [[LeaseLock]]
    * (cross-host DFS lease); absent the property the root's scheme
    * picks the correct impl. See [[MetadataLock]].
    */
  private val metadataLock: MetadataLock =
    MetadataLock.forProperties(properties, root)

  private def withLock[T](f: => T): T =
    metadataLock.withExclusive(lockFile)(f)

  // ---- load path ----

  /** Append one segment. The input is sorted within partitions by the
    * table's sort columns (the MDKey-sort equivalent) so Parquet
    * row-group min/max stay tight and scans of sorted dims merge
    * cheaply. Returns the new segment id.
    */
  /** Hash-partition columns applied at load (reference PartitionData /
    * SampleDataPartitionerImpl): rows with equal keys land in the same
    * file, so equi-joins and group-bys on these keys read co-located
    * data and AQE can avoid re-shuffling small sides.
    */
  def partitionColumns: Seq[String] =
    properties.get("partition_columns").toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)

  /** Z-order columns (reference MDKey multi-dim sort): when set, the
    * segment is laid out by interleaved-bit z-value so min/max skipping
    * works on every listed column, not just a sort prefix. Takes
    * precedence over partition/sort columns.
    */
  def zorderColumns: Seq[String] =
    properties.get("zorder_columns").toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)

  /** Bloom-indexed columns (reference per-blocklet BTree/inverted
    * index for point predicates): per segment, a Bloom filter over
    * xxhash64(column) answers "can value X be in this segment?" for
    * equality/IN predicates where min/max proves nothing (unsorted
    * high-cardinality keys). Hashing to long on BOTH the build and
    * probe side keeps one unambiguous representation — no per-type
    * Bloom dispatch to mismatch.
    */
  def bloomColumns: Seq[String] =
    properties.get("bloom_columns").toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)

  private def bloomFile(segId: Int, column: String): Path =
    new Path(metaDir, s"bloom_${segId}_$column.bin")

  /** Hard cap on a bloom sidecar's expectedNumItems: at fpp 0.03 the
    * filter costs ~7.3 bits/item, so 32M items ≈ 29 MB — the ceiling
    * for what one (segment × column) may pin on the driver. A segment
    * beyond the cap gets a saturated filter (higher observed fpp =
    * fewer prunes, never a wrong prune — blooms have no false
    * negatives); the real remedy at that size is smaller segments.
    * Tunable per table via the `bloom.max.items` property.
    */
  private[table] def bloomExpectedItems(rows: Long): Long = {
    val cap = properties.get("bloom.max.items").map(_.toLong)
      .getOrElse(32L * 1024 * 1024)
    math.min(math.max(rows, 1L), math.max(cap, 1L))
  }

  /** One extra pass per bloom column at load/compact time — the write
    * path pays for the read path, as with every index. The distributed
    * scan happens where the STAGED data lives (outside the lock); only
    * the sidecar write needs the final segment id.
    */
  private def computeBlooms(dir: Path, rows: Long)
      : Seq[(String, org.apache.spark.util.sketch.BloomFilter)] =
    // rows == 0: Spark's stat.bloomFilter NPEs on empty input, and an
    // empty segment needs no sidecar anyway (it is either discarded —
    // empty stream batches — or prunes on rowCount). Without the guard
    // an empty micro-batch into a bloom-indexed table kills the stream.
    if (rows == 0) Nil
    else bloomColumns.filter(schema.fieldNames.contains).map { c =>
      c -> spark.read.schema(schema).parquet(dir.toString)
        .select(org.apache.spark.sql.functions.xxhash64(col(c)).as("h"))
        .stat.bloomFilter("h", bloomExpectedItems(rows), 0.03)
    }

  private def writeBlooms(segId: Int,
      blooms: Seq[(String, org.apache.spark.util.sketch.BloomFilter)]): Unit =
    blooms.foreach { case (c, bf) =>
      val os = TableIO.createOverwrite(bloomFile(segId, c))
      try bf.writeTo(os) finally os.close()
    }

  private def buildBlooms(dir: Path, segId: Int, rows: Long): Unit =
    writeBlooms(segId, computeBlooms(dir, rows))

  /** Lazily-loaded per-(segment, column) blooms; None = no sidecar
    * (column not indexed, or written by an older catalog) = never
    * prune.
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String),
      Option[org.apache.spark.util.sketch.BloomFilter]]()

  private def bloomOf(segId: Int, column: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.computeIfAbsent((segId, column), { _ =>
      val f = bloomFile(segId, column)
      if (!TableIO.exists(f)) None
      else {
        val is = TableIO.open(f)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(is))
        finally is.close()
      }
    })

  /** Bloom verdict for `column = v` on one segment: false ONLY when an
    * index exists and proves absence. The literal must carry the
    * column's exact type (no stripped cast) — xxhash64 is
    * type-sensitive, so a widened literal would hash differently and
    * prove nothing.
    */
  private def bloomMayContain(seg: SegmentMeta, column: String, v: Any,
                              t: DataType): Boolean =
    if (v == null || !bloomColumns.contains(column)) true
    else bloomOf(seg.id, column) match {
      case Some(bf) =>
        val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(Literal.create(v, t))).eval(null).asInstanceOf[Long]
        bf.mightContainLong(h)
      case None => true
    }

  /** The table's declared physical layout, applied to EVERY segment
    * write — initial load, compaction, and DML rewrites alike — so a
    * replacement segment never silently loses the z-order / partition
    * clustering / sort the table was created with.
    */
  private def applyLayout(df: DataFrame): DataFrame =
    if (zorderColumns.nonEmpty) ZOrder.layout(df, zorderColumns)
    else {
      val partitioned =
        if (partitionColumns.nonEmpty) df.repartition(partitionColumns.map(col): _*)
        else df
      if (sortColumns.nonEmpty)
        partitioned.sortWithinPartitions(sortColumns.map(col): _*)
      else partitioned
    }

  /** A crash between a segment-dir move and its status commit leaves
    * an orphan dir at an id the catalog will hand out again; since
    * the id is (re)allocated NOW, anything already at that path is by
    * definition garbage — heal instead of wedging on the move.
    */
  private def clearOrphan(id: Int): Unit = deleteRecursively(segmentDir(id))

  import SegmentedTable.StagedSegment

  /** All of a segment write's heavy work — the distributed layout +
    * parquet write, the stats pass, and the bloom passes — against a
    * unique temp dir, with NO lock held. Not dot-prefixed: Spark's
    * file listing skips hidden paths, which would break the stats
    * read; queries never scan the table root wholesale, so the
    * in-progress dir is invisible to them either way.
    */
  /** Refresh a staging dir's mtime so [[sweepStaleStaging]]'s TTL
    * measures time since the LAST completed phase, not since the
    * parquet write finished — the stats and bloom passes run after the
    * write stops touching the dir, and without the refresh a slow
    * stage could look abandoned mid-flight.
    */
  private def touchStaging(dir: Path): Unit =
    try TableIO.setMTime(dir, System.currentTimeMillis())
    catch { case _: java.io.IOException => () } // dir swept/raced: the move will fail loudly

  /** Write-time schema enforcement: a column the table does not
    * declare would land in the segment file but be SILENTLY dropped
    * by every read (reads impose the table schema) — data loss; a
    * same-name column with a different type would surface as an
    * obscure scan error long after the load. Both fail HERE, naming
    * the columns. Missing columns stay legal: reads fill null or the
    * declared default — that is the schema-evolution path.
    */
  private def validateAgainstSchema(df: DataFrame): Unit = {
    // name matching follows the session's resolution rules
    // (case-insensitive unless spark.sql.caseSensitive); type matching
    // uses sameType, which ignores nullability — file sources force
    // relation schemas nullable (asNullable), so the table's OWN
    // rewrite paths (compact/DML) hand back nested types whose only
    // difference is containsNull/nullable flags
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val declared = schema.fields.map(f => key(f.name) -> f.dataType).toMap
    val unknown = df.schema.fieldNames.filterNot(n => declared.contains(key(n)))
    require(unknown.isEmpty,
      s"schema mismatch writing to $root: column(s) ${unknown.mkString(", ")} " +
        "are not in the table schema and reads would silently drop them; " +
        "add them first (ALTER ... ADD COLUMN) or drop them from the input")
    val conflicts = df.schema.fields
      .filter(f => declared.get(key(f.name))
        .exists(d => !ColumnExpr.sameType(d, f.dataType)))
      .map(f => s"${f.name} (table ${declared(key(f.name)).simpleString}, " +
        s"input ${f.dataType.simpleString})")
    require(conflicts.isEmpty,
      s"schema mismatch writing to $root: type conflict on " +
        s"${conflicts.mkString("; ")} — cast the input explicitly")
  }

  private def stageSegment(df: DataFrame, prefix: String): StagedSegment = {
    validateAgainstSchema(df)
    val tmp = new Path(root,
      s"${prefix}_${System.nanoTime()}_${SegmentedTable.stagingSeq.incrementAndGet()}")
    applyLayout(df).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    touchStaging(tmp)
    val (rows, stats, nulls) = collectStats(tmp)
    touchStaging(tmp)
    val blooms = computeBlooms(tmp, rows)
    touchStaging(tmp)
    StagedSegment(tmp, rows, stats, nulls, blooms, dirBytes(tmp))
  }

  /** On-disk size of a staged segment (drives size-tiered minor
    * compaction). Metadata-only: one getContentSummary RPC on HDFS,
    * a local walk elsewhere.
    */
  private def dirBytes(dir: Path): Long = TableIO.contentBytes(dir)

  /** Allocate the next id, rename the staged dir into place, commit.
    * Caller MUST hold the metadata lock; everything here is
    * millisecond-scale driver-side work (one rename + one JSON write).
    * `retireLive = true` marks every currently-SUCCESS segment DELETED
    * in the SAME status write — the atomic swap [[overwrite]] needs:
    * no commit ever publishes the retirement without the replacement.
    */
  private def commitStagedLocked(staged: StagedSegment,
                                 retireLive: Boolean = false): Int = {
    val st = status
    val id = st.nextId
    clearOrphan(id)
    TableIO.rename(staged.tmp, segmentDir(id))
    writeBlooms(id, staged.blooms)
    val prior =
      if (retireLive) st.segments.map(s =>
        if (s.status == SUCCESS) s.copy(status = DELETED) else s)
      else st.segments
    commitStatus(TableStatus(id + 1,
      prior :+ SegmentMeta(id, SUCCESS, staged.rows,
        System.currentTimeMillis(), staged.stats, staged.nulls,
        bytes = staged.bytes)))
    id
  }

  /** Exactly-once streaming-sink append: commit the batch's segment
    * AND the sink lineage's batch id in one atomic status write; a
    * batch id at or below the lineage's recorded epoch (a replay
    * after a sink restart) is skipped — the staged write is
    * discarded and None returned. `sinkId` identifies the QUERY
    * LINEAGE (its checkpoint location): epochs restart at 0 for a
    * new query, so dedup must never cross lineages. The stage runs
    * outside the lock like every producer; the epoch check happens
    * under it, so two racing replays of one epoch net one segment.
    */
  def loadStreamBatch(df: DataFrame, sinkId: String,
                      batchId: Long): Option[Int] = {
    require(batchId >= 0, s"negative sink batch id: $batchId")
    // a batch id EQUAL to the recorded epoch is the normal replay
    // (Spark re-delivers the last epoch whose offset commit it cannot
    // prove); a batch id BELOW it can only mean the checkpoint was
    // deleted or reset while the table kept the old lineage — skipping
    // would silently drop every batch of the reprocess, so fail loudly
    def verdict(st: TableStatus): Option[Long] = st.sinkEpochs.get(sinkId)
    def check(rec: Option[Long]): Boolean = rec match {
      case Some(r) if batchId < r =>
        throw new IllegalStateException(
          s"sink lineage '$sinkId' has committed epoch $r but received " +
            s"epoch $batchId — the checkpoint was reset while the table " +
            "kept the lineage; reprocess into a fresh checkpoint path " +
            "or clearSinkLineage first")
      case Some(r) => r >= batchId // == r: replay, skip
      case None => false
    }
    if (check(verdict(status))) return None // cheap pre-check
    val staged = stageSegment(df, "loading")
    val r = withLock {
      val st = status
      if (check(verdict(st))) {
        deleteRecursively(staged.tmp)
        None
      } else if (staged.rows == 0) {
        // an empty micro-batch (upstream reorganization commit with
        // no data) must not land a zero-row segment + version bump;
        // the epoch stays unrecorded — replaying it re-lands nothing
        deleteRecursively(staged.tmp)
        None
      } else {
        val id = st.nextId
        clearOrphan(id)
        TableIO.rename(staged.tmp, segmentDir(id))
        writeBlooms(id, staged.blooms)
        commitStatusWith(TableStatus(id + 1,
          st.segments :+ SegmentMeta(id, SUCCESS, staged.rows,
            System.currentTimeMillis(), staged.stats, staged.nulls,
            bytes = staged.bytes)),
          newEpochs = Some(st.sinkEpochs + (sinkId -> batchId)))
        Some(id)
      }
    }
    if (r.isDefined) maybeAutoRefresh()
    r
  }

  /** Drop a sink lineage's recorded epoch (see [[loadStreamBatch]]):
    * the escape hatch for deliberately reprocessing into the same
    * checkpoint path. Lineage entries are one small map entry per
    * distinct checkpoint path — they do not grow per commit — and
    * are never pruned automatically (dropping an ACTIVE lineage
    * would reopen the duplicate window its entry exists to close).
    */
  def clearSinkLineage(sinkId: String): Unit = withLock {
    val st = status
    if (st.sinkEpochs.contains(sinkId))
      commitStatusWith(st, newEpochs = Some(st.sinkEpochs - sinkId))
  }

  /** Size-tiered auto-compaction policy shared by the streaming sink
    * and [[graft.streaming.EventStreams.streamIntoTable]]: when at
    * least `trigger` SMALL live segments have accumulated, fold them
    * with minor compaction and clean retired files. Counting all live
    * segments instead would fire on every batch forever once enough
    * LARGE segments exist.
    */
  def autoCompactMinorIfNeeded(trigger: Int): Unit =
    if (trigger > 0) {
      val thr = smallBytesThreshold
      val smalls = status.segments
        .count(s => s.status == SUCCESS && s.bytes < thr)
      if (smalls >= trigger && compactMinor().isDefined) cleanFiles()
    }

  /** Append one segment. The multi-minute distributed write runs
    * OUTSIDE the metadata lock — the same write-outside/commit-inside
    * protocol [[compact]] and the DML paths use — so concurrent loads
    * overlap their heavy work and serialize only on the id-allocate +
    * rename + status flip. At 100 TB this is the difference between
    * ingest throughput scaling with writers and every load queueing
    * behind the slowest one.
    */
  def load(df: DataFrame): Int = {
    val staged = stageSegment(df, "loading")
    val id = withLock { commitStagedLocked(staged) }
    maybeAutoRefresh()
    id
  }

  /** Load-time automatic aggregate-table maintenance (reference
    * AggregateTableSelecter.java — rollups rebuilt inside every LOAD;
    * our incremental refresh makes the steady-state cost
    * O(delta + |MV|)). Opt-in via the `refresh_on_commit` table
    * property; fires AFTER the commit, outside any lock. A refresh
    * failure only leaves the MV stale, which the rewrite's
    * fingerprint probe already treats as "serve from base"
    * (fail-safe) — so data commits never fail on MV maintenance.
    * The modes of the last refresh are recorded for observability.
    */
  @volatile private[graft] var lastAutoRefresh: Seq[(String, String)] = Nil
  private[graft] def maybeAutoRefresh(): Unit =
    if (properties.get("refresh_on_commit").exists(_.equalsIgnoreCase("true"))) {
      try lastAutoRefresh = graft.mv.AggTables.refreshForBase(spark, root.toString)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] refresh_on_commit failed for $root: ${e.getMessage} " +
              "(MVs left stale; queries fall back to the base scan)")
      }
    }

  // ---- staged-commit primitives (library-internal): building blocks
  // for composite operators (e.g. Dedup.ingestNovel) that must commit
  // a data segment and a companion-index segment atomically under ONE
  // external lock. All distributed work happens in stage(); every
  // commit variant is millisecond-scale driver work. ----

  private[graft] def stage(df: DataFrame): StagedSegment =
    stageSegment(df, "loading")

  private[graft] def discardStaged(s: StagedSegment): Unit =
    deleteRecursively(s.tmp)

  /** Commit iff the catalog version still equals `expected`; on
    * mismatch returns None and leaves the staged dir untouched (the
    * caller retries or discards).
    */
  private[graft] def commitStagedIfVersion(s: StagedSegment,
                                           expected: Long): Option[Int] =
    withLock {
      if (status.version == expected) Some(commitStagedLocked(s)) else None
    }

  /** Commit WITHOUT acquiring this table's lock — for callers already
    * inside [[withMetaLock]] (the metadata locks are non-reentrant).
    */
  private[graft] def commitStagedHoldingLock(s: StagedSegment): Int =
    commitStagedLocked(s)

  private[graft] def withMetaLock[T](f: => T): T = withLock(f)

  /** Idempotent append (exact dedup at ingest): load only incoming
    * rows whose key is absent from the table, so re-delivering a
    * batch — the normal at-least-once ingest failure mode — adds
    * nothing. One anti-join against the table's key projection (a
    * column-pruned scan of the key columns only); callers dedupe
    * within the batch if its own keys repeat. Returns the new segment
    * id, or None when every incoming row already existed.
    *
    * Concurrency: bounded optimistic retries. EVERY distributed step
    * — the keyed anti-join and the staged write — runs with no lock
    * held; the lock covers only the version check + rename + status
    * flip (millisecond-scale). Unchanged version ⇒ the snapshot check
    * still holds and the staged segment commits as-is (the common
    * path). Changed version ⇒ release the lock, re-verify against the
    * NEW snapshot using the already-staged subset as the source (a
    * verified subset of the batch, so re-verification shrinks
    * monotonically), and retry the commit. Two concurrent deliveries
    * of the same batch therefore net exactly one segment, and a
    * conflicted delivery never blocks other writers behind a
    * distributed job.
    */
  def loadUnique(df: DataFrame, keyCols: Seq[String]): Option[Int] = {
    val r = loadUniqueImpl(df, keyCols)
    if (r.isDefined) maybeAutoRefresh()
    r
  }

  private def loadUniqueImpl(df: DataFrame, keyCols: Seq[String]): Option[Int] = {
    require(keyCols.nonEmpty, "loadUnique requires at least one key column")
    val unknown = keyCols.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"unknown key columns: ${unknown.mkString(", ")}")
    val incoming = df.select(schema.fieldNames.map(col).toSeq: _*)
    var source: DataFrame = incoming
    var staged: Option[StagedSegment] = None
    var attempt = 0
    val maxAttempts = 5
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = status
      val snapLive = snap.segments.filter(_.status == SUCCESS)
      val existingKeys =
        readSegments(snapLive).select(keyCols.map(col): _*).distinct()
      val fresh = source.join(existingKeys, keyCols, "left_anti")
      // stage FIRST: the staged write is the one evaluation of the
      // anti-join, and its row count answers "anything fresh?" for
      // free — an `isEmpty` probe would run the whole join a second
      // time (the r15-measured double-execution pattern)
      val next = stageSegment(fresh, "loading")
      if (next.rows == 0) {
        deleteRecursively(next.tmp)
        staged.foreach(s => deleteRecursively(s.tmp))
        return None
      }
      staged.foreach(s => deleteRecursively(s.tmp))
      staged = Some(next)
      val committed = withLock {
        val cur = status
        if (cur.version == snap.version) Some(commitStagedLocked(next))
        else None
      }
      if (committed.isDefined) return committed
      // catalog moved between snapshot and commit: loop to re-verify
      // against the new snapshot, from the staged subset
      source = spark.read.schema(schema).parquet(next.tmp.toString)
    }
    // Pathological contention (maxAttempts consecutive catalog commits
    // landed inside this delivery's stage windows): fall back to one
    // verify + commit UNDER the lock so total work stays bounded while
    // the no-double-insert guarantee holds.
    withLock {
      val cur = status
      val curKeys = readSegments(cur.segments.filter(_.status == SUCCESS))
        .select(keyCols.map(col): _*).distinct()
      val s = staged.get
      val stagedDf = spark.read.schema(schema).parquet(s.tmp.toString)
      val still = stagedDf.join(curKeys, keyCols, "left_anti")
      val stillRows = still.count()
      if (stillRows == 0L) { deleteRecursively(s.tmp); None }
      else if (stillRows == s.rows) Some(commitStagedLocked(s))
      else {
        val restaged = stageSegment(still, "loading")
        deleteRecursively(s.tmp)
        Some(commitStagedLocked(restaged))
      }
    }
  }

  /** Overwrite = ONE atomic segment swap: the replacement stages
    * outside the lock (the multi-minute distributed write, like every
    * producer), then a SINGLE status commit both retires the live set
    * and registers the new segment. A concurrent reader therefore
    * observes either the old table or the new one — never the empty
    * intermediate two separate commits would publish — and a crash
    * anywhere before the commit leaves the old table fully live (the
    * staged dir is an orphan the next load's clearOrphan GCs).
    */
  def overwrite(df: DataFrame): Int = {
    val staged = stageSegment(df, "loading")
    val id = withLock { commitStagedLocked(staged, retireLive = true) }
    maybeAutoRefresh()
    id
  }

  /** One pass over the fresh segment computes per-column min/max for
    * the catalog (cheap: projection of stat-eligible columns only).
    */
  private def collectStats(dir: Path): (Long, Map[String, ColStats], Map[String, Long]) = {
    val df = spark.read.schema(schema).parquet(dir.toString)
    val eligible = schema.fields.filter(f => kindOf(f.dataType).isDefined)
    // integral and decimal columns additionally record their EXACT sum
    // (wide-decimal accumulation — immune to per-segment overflow and
    // to eval-mode differences between stage time and query time)
    val summable = schema.fields
      .flatMap(f => SegmentedTable.sumStageType(f.dataType).map(f -> _))
    val aggs = eligible.flatMap(f =>
      Seq(min(col(f.name)).as(s"min_${f.name}"), max(col(f.name)).as(s"max_${f.name}"))) ++
      summable.map { case (f, dt) =>
        sum(col(f.name).cast(dt)).as(s"sum_${f.name}") } ++
      schema.fields.map(f =>
        org.apache.spark.sql.functions.count(col(f.name)).as(s"cnt_${f.name}")) :+
      org.apache.spark.sql.functions.count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = row.getAs[Long]("__rows")
    val sums = summable.flatMap { case (f, _) =>
      Option(row.getAs[java.math.BigDecimal](s"sum_${f.name}")).map { v =>
        // integral sums keep their r19 integer-string format; decimal
        // sums carry the column's scale as a plain decimal string
        f.name -> (if (isIntegralType(f.dataType)) v.toBigInteger.toString
                   else v.toPlainString)
      }
    }.toMap
    val stats = eligible.flatMap { f =>
      val mn = row.getAs[Any](s"min_${f.name}")
      val mx = row.getAs[Any](s"max_${f.name}")
      if (mn == null || mx == null) None
      else Some(f.name -> ColStats(fmt(mn), fmt(mx), kindOf(f.dataType).get,
        sum = sums.get(f.name)))
    }.toMap
    // count(col) is the non-null count: nulls = rows - count
    val nullCounts = schema.fields.map(f =>
      f.name -> (rows - row.getAs[Long](s"cnt_${f.name}"))).toMap
    (rows, stats, nullCounts)
  }

  // ---- read path ----

  private def liveSegments: Seq[SegmentMeta] =
    status.segments.filter(_.status == SUCCESS)

  /** Current live segment directories — the surface
    * [[graft.mv.AggTables]] lists for MV-over-segmented-table bases
    * and `format("graft")` reads.
    */
  private[graft] def liveSegmentPaths: Seq[Path] =
    liveSegments.map(s => segmentDir(s.id))

  /** The current live set as a scan of this table — what a catalog
    * relation reads, and what [[graft.mv.AggTableRewrite]] requires a
    * segmented scan to equal before it rewrites.
    */
  private[graft] def liveScan: SegmentScan =
    new SegmentScan(root, liveSegments.map(_.id), this)

  /** The directories of segments `ids`, in order. */
  private[graft] def segmentPaths(ids: Seq[Int]): Seq[Path] =
    ids.map(segmentDir)

  /** ONE status read → (metas, dirs) of the same snapshot — the V2
    * catalog scan builder needs the stats metas and the scan paths to
    * describe the SAME segment set (two separate reads could straddle
    * a commit and fold stats for a segment the scan doesn't read).
    */
  private[graft] def liveSegmentSnapshot: (Seq[SegmentMeta], Seq[Path]) = {
    val segs = liveSegments
    (segs, segs.map(s => segmentDir(s.id)))
  }

  /** Full-table read: union of live segment dirs in one multi-path
    * Parquet scan (locality and split sizing handled by Spark).
    * Declared column defaults are applied here, so an evolved table
    * answers correctly through every entry point — callers never need
    * to know defaults exist (see [[applyDefaults]]).
    */
  def read(): DataFrame = applyDefaults(readSegments(liveSegments))

  private def readSegments(segs: Seq[SegmentMeta]): DataFrame =
    if (segs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(segs.map(s => segmentDir(s.id).toString): _*)

  /** Segment-pruned scan: driver-side min/max elimination on the
    * predicate's conjuncts, then the residual filter runs in the scan
    * (where Parquet row-group stats prune further). Mirrors
    * FilterExpressionProcessor.getFilterredBlocks (reference
    * core/.../query/filters/FilterExpressionProcessor.java:85-155).
    */
  def scan(predicate: Column): DataFrame =
    applyDefaults(readSegments(pruneSegments(predicate))).filter(predicate)

  /** The segments surviving min/max pruning (exposed for tests). */
  def pruneSegments(predicate: Column): Seq[SegmentMeta] = {
    // The raw Column is an unresolved tree (Spark 4 column nodes);
    // analyze it against an empty relation with the table schema to
    // get resolved comparisons.
    val dummy = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val analyzed = dummy.filter(predicate).queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    cond match {
      case None => liveSegments
      case Some(c) => pruneSegmentsExpr(c)
    }
  }

  /** Pruning against an already-resolved Catalyst condition (the
    * optimizer-rule entry point, [[GraftSegmentPruning]]). Constant
    * subtrees (e.g. Cast of a string literal to timestamp) are folded
    * first so they participate in min/max comparison.
    */
  private[graft] def pruneSegmentsExpr(c: Expression): Seq[SegmentMeta] =
    pruneAmong(liveSegments, c)

  /** Pruning restricted to an explicit candidate set — the optimizer
    * rule passes the segments its RELATION references (a reader's
    * snapshot), not the current live set, so a concurrent
    * compact/delete cannot make a captured plan silently lose rows.
    */
  private[graft] def pruneAmong(candidates: Seq[SegmentMeta],
                                c: Expression): Seq[SegmentMeta] = {
    val folded = c.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(), e.dataType)
    }
    val conjuncts = splitConjuncts(folded)
    candidates.filter(seg => conjuncts.forall(x => mayMatch(seg, x)))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The DUAL of pruning: segments PROVEN to satisfy `c` on EVERY row
    * (three-valued semantics included — a comparison conjunct is only
    * provable when the segment has zero physical nulls in the column,
    * since a null row fails the predicate). Used by
    * [[graft.mv.StatsAggFromCatalog]] to answer FILTERED global
    * aggregates from metadata alone: pruning proves the all-OUT
    * segments, this proves the survivors all-IN, and if every live
    * segment lands in one of the two classes the aggregate folds from
    * the catalog without a scan. Conservative: false = unproven,
    * never wrong.
    */
  private[graft] def provenAllIn(segs: Seq[SegmentMeta], c: Expression): Boolean = {
    val folded = c.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(), e.dataType)
    }
    val conjuncts = splitConjuncts(folded)
    segs.forall(seg => conjuncts.forall(x => mustMatch(seg, x)))
  }

  /** Zero physical nulls PROVEN (absent count = unknown = false). When
    * this holds, declared defaults never materialize in the segment,
    * so file stats describe exactly the rows a query sees.
    */
  private def provenNoNulls(seg: SegmentMeta, n: String): Boolean =
    seg.nullCounts.get(n).contains(0L)

  /** Every row of the segment provably satisfies the conjunct. The
    * comparison cases go through [[attrName]]'s cast stripping (the
    * widenings it admits are order-isomorphic, so "min ≥ literal"
    * proves the cast form too), but require [[provenNoNulls]] on the
    * BARE column: a cast cannot introduce nulls when its input has
    * none (the admitted casts are total on their input range) — and
    * if the bare name is hidden behind an unexpected shape we stay at
    * false.
    */
  private def mustMatch(seg: SegmentMeta, e: Expression): Boolean = {
    def noNulls(a: Expression): Boolean =
      bareAttrName(stripOrderCasts(a)).exists(n => provenNoNulls(seg, n))
    def minCmp(a: Expression, v: Any, t: DataType)(op: Int => Boolean): Boolean =
      attrName(a) match {
        case Some(n) => noNulls(a) && (seg.stats.get(n) match {
          case Some(s) => compare(s.min, v, t, s.kind).exists(op)
          case None => false
        })
        case None => false
      }
    def maxCmp(a: Expression, v: Any, t: DataType)(op: Int => Boolean): Boolean =
      attrName(a) match {
        case Some(n) => noNulls(a) && (seg.stats.get(n) match {
          case Some(s) => compare(s.max, v, t, s.kind).exists(op)
          case None => false
        })
        case None => false
      }
    e match {
      case Literal(true, BooleanType) => true
      case GreaterThanOrEqual(a, Literal(v, t)) => minCmp(a, v, t)(_ >= 0)
      case GreaterThan(a, Literal(v, t)) => minCmp(a, v, t)(_ > 0)
      case LessThanOrEqual(a, Literal(v, t)) => maxCmp(a, v, t)(_ <= 0)
      case LessThan(a, Literal(v, t)) => maxCmp(a, v, t)(_ < 0)
      case GreaterThanOrEqual(Literal(v, t), a) => maxCmp(a, v, t)(_ <= 0)
      case GreaterThan(Literal(v, t), a) => maxCmp(a, v, t)(_ < 0)
      case LessThanOrEqual(Literal(v, t), a) => minCmp(a, v, t)(_ >= 0)
      case LessThan(Literal(v, t), a) => minCmp(a, v, t)(_ > 0)
      case EqualTo(a, Literal(v, t)) =>
        minCmp(a, v, t)(_ == 0) && maxCmp(a, v, t)(_ == 0)
      case EqualTo(Literal(v, t), a) =>
        minCmp(a, v, t)(_ == 0) && maxCmp(a, v, t)(_ == 0)
      case IsNotNull(a) =>
        // ONLY physically proven: a declared default makes read rows
        // non-null solely on read paths that materialize defaults
        // (t.read()'s coalesce) — but this proof also reaches RAW
        // parquet scans (the optimizer rule's exact-filter elision and
        // hand-built segment-dir scans), where a physical NULL would
        // surface if the IsNotNull filter were elided on the strength
        // of the default alone
        bareAttrName(a).exists(n => provenNoNulls(seg, n))
      case _ => false // unknown shape: unprovable
    }
  }

  /** [[attrName]]'s cast-stripping, reusable for the bare-name lookup
    * in [[mustMatch]] (the admitted widenings cannot introduce nulls
    * from non-null input).
    */
  private def stripOrderCasts(e: Expression): Expression = e match {
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if org.apache.spark.sql.catalyst.expressions.Cast
             .canUpCast(c.child.dataType, c.dataType) ||
           (isTsType(c.child.dataType) && isTsType(c.dataType)) =>
      stripOrderCasts(c.child)
    case other => other
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name) // UnresolvedAttribute is an Attribute
    // analysis inserts widening casts around attributes (int col vs
    // long literal, NTZ col vs instant literal); numeric/timestamp
    // UP-casts preserve ordering (timezone pinned UTC in every entry
    // point, so NTZ↔instant is order-isomorphic) so pruning through
    // them is safe. A NARROWING cast is not order-isomorphic (long
    // 2^31 casts to int MIN_VALUE) — stripping one could "prove"
    // non-overlap on a segment whose cast values match (row loss), so
    // only Cast.canUpCast widenings and the timestamp pair qualify.
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if org.apache.spark.sql.catalyst.expressions.Cast
             .canUpCast(c.child.dataType, c.dataType) ||
           (isTsType(c.child.dataType) && isTsType(c.dataType)) =>
      attrName(c.child)
    case _ => None
  }

  private def isTsType(t: DataType): Boolean =
    t == TimestampType || t == TimestampNTZType

  /** Conservative overlap test: false only when stats PROVE the
    * segment cannot contain a matching row.
    */
  /** Bare attribute name — NO cast stripping, unlike [[attrName]]: the
    * bloom probe requires the literal to carry the column's exact type.
    */
  private def bareAttrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name) // UnresolvedAttribute is an Attribute
    case _ => None
  }

  /** Columns with a declared default, rendered in the same string
    * format the stats store (internal Catalyst representation via
    * toString: epoch days for dates, epoch micros for timestamps),
    * with their stats kind. Missing entry = no default declared, or
    * the default doesn't cast to the column type (then callers must
    * stay conservative).
    */
  private lazy val defaultStats: Map[String, (String, String)] = {
    val pairs = for {
      (k, d) <- properties.toSeq if k.startsWith("default.")
      n = k.stripPrefix("default.")
      f <- schema.fields.find(_.name == n)
      kind <- kindOf(f.dataType)
      v <- Option(org.apache.spark.sql.catalyst.expressions.Cast(
        Literal.create(d, StringType), f.dataType,
        Some(java.time.ZoneId.systemDefault().getId)).eval(null))
    } yield n -> (v.toString, kind)
    pairs.toMap
  }

  private def hasDefault(n: String): Boolean =
    properties.contains(s"default.$n")

  /** Whether the segment may hold physical NULLs in column n. Absent
    * counts (pre-upgrade catalog, or a column added AFTER this segment
    * was written — the common schema-evolution case) = unknown = may.
    */
  private def mayContainNulls(seg: SegmentMeta, n: String): Boolean =
    seg.nullCounts.get(n).forall(_ > 0)

  /** Whether a default-filled row of column n could satisfy
    * `col <op> literal`: raw-file stats know nothing about the
    * declared default that [[applyDefaults]] coalesces over physical
    * NULLs, so every stats/bloom verdict must be widened by this check
    * or a post-evolution segment is silently pruned away (row loss).
    * A single row's value is both its own min and max, so the same
    * comparison sign test applies for every predicate shape.
    */
  private def defaultMayMatch(seg: SegmentMeta, n: String, v: Any, t: DataType)(
      op: Int => Boolean): Boolean =
    hasDefault(n) && mayContainNulls(seg, n) && (defaultStats.get(n) match {
      case Some((ds, kind)) => compare(ds, v, t, kind).forall(op)
      case None => true // declared but not stats-comparable: never prune
    })

  private def mayMatch(seg: SegmentMeta, e: Expression): Boolean = e match {
    case EqualTo(a, Literal(v, t)) => attrName(a) match {
      case Some(n) => (rangeContains(seg, n, v, t) &&
        bareAttrName(a).forall(bn => bloomMayContain(seg, bn, v, t))) ||
        defaultMayMatch(seg, n, v, t)(_ == 0)
      case None => true
    }
    case EqualTo(Literal(v, t), a) => attrName(a) match {
      case Some(n) => (rangeContains(seg, n, v, t) &&
        bareAttrName(a).forall(bn => bloomMayContain(seg, bn, v, t))) ||
        defaultMayMatch(seg, n, v, t)(_ == 0)
      case None => true
    }
    case GreaterThan(a, Literal(v, t)) => cmpMax(seg, a, v, t)(_ > 0)
    case GreaterThanOrEqual(a, Literal(v, t)) => cmpMax(seg, a, v, t)(_ >= 0)
    case LessThan(a, Literal(v, t)) => cmpMin(seg, a, v, t)(_ < 0)
    case LessThanOrEqual(a, Literal(v, t)) => cmpMin(seg, a, v, t)(_ <= 0)
    case GreaterThan(Literal(v, t), a) => cmpMin(seg, a, v, t)(_ < 0)
    case GreaterThanOrEqual(Literal(v, t), a) => cmpMin(seg, a, v, t)(_ <= 0)
    case LessThan(Literal(v, t), a) => cmpMax(seg, a, v, t)(_ > 0)
    case LessThanOrEqual(Literal(v, t), a) => cmpMax(seg, a, v, t)(_ >= 0)
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) => attrName(a) match {
      case Some(n) => vs.exists { case Literal(v, t) =>
        (rangeContains(seg, n, v, t) &&
          bareAttrName(a).forall(bn => bloomMayContain(seg, bn, v, t))) ||
          defaultMayMatch(seg, n, v, t)(_ == 0)
      }
      case None => true
    }
    // null-count pruning: a segment with PROVEN zero nulls in the
    // column cannot satisfy IS NULL; one with all-null cannot satisfy
    // IS NOT NULL. Absent counts (pre-upgrade catalogs) never prune.
    // bareAttrName, NOT attrName: a cast can INTRODUCE nulls
    // (try_cast, string→numeric), so "zero stored nulls" proves
    // nothing about IS NULL over a cast column. Columns with a
    // declared default are unprunable here: their physical NULLs read
    // as the (non-null) default, so null counts describe the files,
    // not the rows a query sees.
    case IsNull(a) => bareAttrName(a) match {
      case Some(n) if !hasDefault(n) => seg.nullCounts.get(n).forall(_ > 0)
      case _ => true
    }
    case IsNotNull(a) => bareAttrName(a) match {
      case Some(n) if !hasDefault(n) =>
        seg.nullCounts.get(n).forall(_ < seg.rowCount)
      case _ => true
    }
    case _ => true // unknown predicate shape: cannot prune
  }

  /** max(seg) op literal must hold for any row to match (or a
    * default-filled row satisfies the predicate on its own).
    */
  private def cmpMax(seg: SegmentMeta, a: Expression, v: Any, t: DataType)(
      op: Int => Boolean): Boolean = attrName(a) match {
    case Some(n) => (seg.stats.get(n) match {
      case Some(s) => compare(s.max, v, t, s.kind).forall(op)
      case None => true
    }) || defaultMayMatch(seg, n, v, t)(op)
    case None => true
  }

  private def cmpMin(seg: SegmentMeta, a: Expression, v: Any, t: DataType)(
      op: Int => Boolean): Boolean = attrName(a) match {
    case Some(n) => (seg.stats.get(n) match {
      case Some(s) => compare(s.min, v, t, s.kind).forall(op)
      case None => true
    }) || defaultMayMatch(seg, n, v, t)(op)
    case None => true
  }

  private def rangeContains(seg: SegmentMeta, n: String, v: Any, t: DataType): Boolean =
    seg.stats.get(n) match {
      case Some(s) =>
        compare(s.min, v, t, s.kind).forall(_ <= 0) &&
          compare(s.max, v, t, s.kind).forall(_ >= 0)
      case None => true
    }

  /** compare(stored, literal): Some(sign) or None if incomparable.
    * A null literal is incomparable (col === null never prunes — its
    * three-valued semantics are left to the residual filter). Numerics
    * compare as BigDecimal: a Double round-trip would collapse bigint
    * values beyond 2^53 (or high-precision decimals) and could "prove"
    * non-overlap on a segment that actually matches.
    */
  private def compare(stored: String, v: Any, t: DataType, kind: String): Option[Int] =
    if (v == null) None
    else (kind, t) match {
      case ("numeric", _: NumericType) =>
        try Some(BigDecimal(stored).compare(BigDecimal(v.toString)))
        catch { case _: NumberFormatException => None } // NaN/Inf stats
      case ("string", StringType) =>
        // UTF8String binary order, matching the order Spark's filter
        // evaluates `col <op> literal` in — java.lang.String.compareTo
        // is UTF-16 code-unit order, which ranks supplementary-plane
        // characters BELOW U+E000..U+FFFF while UTF-8 bytes rank them
        // above all of the BMP; comparing in the wrong order could
        // "prove" non-overlap on a segment that matches (row loss)
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(stored)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)))
      case ("timestamp", TimestampType | TimestampNTZType) =>
        // catalyst timestamp literals are epoch micros
        Some(stored.toLong.compareTo(v.asInstanceOf[Long]))
      case ("date", DateType) =>
        // catalyst date literals are epoch days (Int)
        Some(stored.toLong.compareTo(v.asInstanceOf[Int].toLong))
      case _ => None
    }

  // ---- segment lifecycle (reference §2.8 command surface) ----

  def showSegments(): Seq[SegmentMeta] = status.segments.sortBy(_.id)

  /** Mark segments deleted by id (reference DeleteLoadsById). */
  def deleteSegments(ids: Seq[Int]): Unit = {
    withLock {
      val st = status
      commitStatus(st.copy(segments = st.segments.map(s =>
        if (ids.contains(s.id) && s.status == SUCCESS) s.copy(status = DELETED) else s)))
    }
    maybeAutoRefresh()
  }

  /** Retention: mark segments loaded before the cutoff deleted
    * (reference DeleteLoadByDate).
    */
  def deleteSegmentsBefore(epochMillis: Long): Unit = {
    withLock {
      val st = status
      commitStatus(st.copy(segments = st.segments.map(s =>
        if (s.createdAt < epochMillis && s.status == SUCCESS) s.copy(status = DELETED) else s)))
    }
    maybeAutoRefresh()
  }

  /** Physically remove non-live segment dirs (reference CleanFiles). */
  def cleanFiles(): Unit = withLock {
    val st = status
    val dead = st.segments.filter(s => s.status == DELETED || s.status == COMPACTED)
    dead.foreach { s =>
      deleteRecursively(segmentDir(s.id))
      // bloom sidecars of the removed segment, whatever the current
      // bloom_columns property says (it may have changed since load)
      TableIO.listStatus(metaDir)
        .filter(_.getPath.getName.startsWith(s"bloom_${s.id}_"))
        .foreach(st => TableIO.delete(st.getPath))
    }
    sweepStaleStaging()
    pruneHistoryLog()
    // GC EPHEMERAL sink lineages (per-start UUID ids from unnamed /
    // temp-checkpointed streaming queries — see GraftSource.createSink):
    // such an id can never recur after its query ends, so its epoch
    // entry is permanent garbage; durable (checkpoint-pathed) lineages
    // are never touched. Run cleanFiles only when no unnamed ephemeral
    // stream is actively writing — the same in-use caveat as file GC.
    val liveEpochs = st.sinkEpochs.filterNot(
      _._1.startsWith(SegmentedTable.EphemeralSinkPrefix))
    commitStatusWith(
      st.copy(segments = st.segments.filterNot(s => dead.exists(_.id == s.id))),
      newEpochs = Some(liveEpochs))
    sweepOrphanManifests()
  }

  /** Manifest-page GC (the paged catalog's cleanFiles leg): delete
    * every `_meta/manifests/` page referenced by neither the current
    * status nor any RETAINED history-log entry. Runs after the commit
    * and after pruneHistoryLog, under the same lock, so the reference
    * set it computes is final. Same retention contract as segment
    * files: a reader anchored at a pruned version loses its manifest
    * with it.
    */
  private def sweepOrphanManifests(): Unit = {
    if (!TableIO.isDirectory(manifestsDir)) return
    def refOf(p: Path): Option[String] =
      try Serialization.read[TableStatus](TableIO.readString(p)).manifest
      catch { case scala.util.control.NonFatal(_) => None } // tmp/corrupt: skip
    val logDir = new Path(metaDir, "log")
    val referenced = (TableIO.listStatus(logDir).map(_.getPath).flatMap(refOf)
      ++ refOf(statusFile)).toSet
    TableIO.listStatus(manifestsDir).map(_.getPath)
      .filterNot(p => referenced.contains(p.getName))
      .foreach(TableIO.delete)
  }

  /** History-log retention, wired into [[cleanFiles]] like every other
    * physical cleanup: keep the newest `log.retain.versions` snapshot
    * entries (default 100) and delete older ones. At thousands of
    * commits the log is the only unbounded metadata growth; the
    * current state is never touched (status.json is authoritative),
    * and time travel simply reaches no further back than retention —
    * the same contract cleanFiles already imposes on segment files.
    */
  private def pruneHistoryLog(): Unit = {
    val retain = properties.get("log.retain.versions").map(_.toInt).getOrElse(100)
    val vs = versions
    if (vs.size > retain) {
      val logDir = new Path(metaDir, "log")
      vs.dropRight(retain).foreach(v =>
        TableIO.delete(new Path(logDir, s"$v.json")))
    }
  }

  /** Crash hygiene: a writer that died between staging and commit
    * leaves its temp dir behind (the price of writing outside the
    * lock). Sweep staging dirs untouched for longer than the TTL.
    * [[stageSegment]] refreshes the dir's mtime between its phases
    * (parquet write, stats pass, bloom passes), so the TTL bounds ONE
    * phase plus the final lock wait (LeaseLock acquisition times out
    * at 2 min) — default 1 h covers both; a table whose single bloom
    * or stats pass runs longer should raise the `staging.ttl.ms`
    * property.
    */
  private def sweepStaleStaging(): Unit = {
    val ttl = properties.get("staging.ttl.ms").map(_.toLong).getOrElse(3600000L)
    val cutoff = System.currentTimeMillis() - ttl
    val prefixes = Seq("loading_", "compacting_", "rewriting_", "merging_")
    TableIO.listStatus(root)
      .filter(st => prefixes.exists(st.getPath.getName.startsWith))
      .filter(_.getModificationTime < cutoff)
      .foreach(st => deleteRecursively(st.getPath))
  }

  /** Compaction: merge all live segments into one new segment, retire
    * the inputs (reference MergeCube / CarbonMergerRDD). The merged
    * segment is re-sorted by the table's sort columns.
    */
  def compact(): Option[Int] = {
    val r = compactImpl()
    if (r.isDefined) maybeAutoRefresh()
    r
  }

  private def compactImpl(): Option[Int] = mergeLive(minSegments = 2)

  /** OPTIMIZE ... ZORDER BY: persist `cols` as the table's
    * zorder_columns (every FUTURE segment write keeps the layout —
    * see [[applyLayout]]) and rewrite all current live segments into
    * one z-ordered segment. A pure reorganization: the merged segment
    * commits with `dataChange = false`, so the change feed and
    * streaming readers skip it exactly like compaction. Returns the
    * new table handle (property sets are immutable per handle).
    *
    * Scale: one distributed re-layout pass over the live data —
    * the same cost profile as compaction, run on the same
    * write-outside/commit-inside protocol; queries and loads proceed
    * during the rewrite.
    */
  def optimizeZOrder(cols: Seq[String]): SegmentedTable = {
    require(cols.nonEmpty, "optimizeZOrder requires at least one column")
    cols.foreach(c =>
      require(schema.fieldNames.contains(c), s"no column $c in ${root}"))
    val newProps = properties + ("zorder_columns" -> cols.mkString(","))
    val updated = withLock {
      SegmentedTable.writeSchema(root, schema, newProps)
      new SegmentedTable(spark, root, schema, newProps)
    }
    updated.mergeLive(minSegments = 1)
    updated
  }

  /** Size-tiered MINOR compaction: merge only live segments smaller
    * than `smallBytes` (default from the `compact.small.bytes`
    * property, 128 MB), leaving large segments untouched. The
    * production steady state for streaming/micro-batch ingest: the
    * full compact() rewrites the whole table — O(table) — while
    * minor compaction is O(small tail). Segments from catalogs
    * written before sizes were recorded (bytes = -1) count as small
    * once, so legacy tails still fold.
    */
  /** The size under which a live segment counts as "small" for minor
    * compaction (`compact.small.bytes` property, default 128 MB).
    */
  def smallBytesThreshold: Long =
    properties.get("compact.small.bytes").map(_.toLong)
      .getOrElse(128L * 1024 * 1024)

  def compactMinor(smallBytes: Long = -1L): Option[Int] = {
    val threshold = if (smallBytes > 0) smallBytes else smallBytesThreshold
    val r = mergeSegments(
      liveSegments.filter(s => s.bytes < threshold), minSegments = 2)
    if (r.isDefined) maybeAutoRefresh()
    r
  }

  private def mergeLive(minSegments: Int): Option[Int] =
    mergeSegments(liveSegments, minSegments)

  private def mergeSegments(live: Seq[SegmentMeta],
      minSegments: Int): Option[Int] = {
    if (live.size < minSegments) return None
    // the long-running merge write happens OUTSIDE the lock (so loads
    // and queries proceed during compaction, as with the reference's
    // background merger); the commit inside the lock first re-verifies
    // that every input segment is still SUCCESS — a concurrent
    // deleteSegments/deleteSegmentsBefore in the merge window aborts
    // the compaction instead of resurrecting the deleted rows
    // write + stats + blooms all staged outside the lock
    val staged = stageSegment(readSegments(live), "compacting")
    withLock {
      val st = status
      val stillLive = live.forall(s =>
        st.segments.exists(x => x.id == s.id && x.status == SUCCESS))
      if (!stillLive) {
        deleteRecursively(staged.tmp)
        None
      } else {
        val newId = st.nextId
        clearOrphan(newId)
        TableIO.rename(staged.tmp, segmentDir(newId))
        writeBlooms(newId, staged.blooms)
        commitStatus(TableStatus(newId + 1,
          st.segments.map(s => if (live.exists(_.id == s.id)) s.copy(status = COMPACTED) else s) :+
            SegmentMeta(newId, SUCCESS, staged.rows, System.currentTimeMillis(),
              staged.stats, staged.nulls, dataChange = false,
              bytes = staged.bytes)))
        Some(newId)
      }
    }
  }

  /** Total row count from catalog metadata only — the reference's
    * driver-side count(*) fast path (CountStarQueryExecutor).
    */
  def countFromCatalog: Long = liveSegments.map(_.rowCount).sum

  // ---- snapshot time travel ----
  //
  // Every catalog commit is also an immutable `_meta/log/<v>.json`
  // snapshot, and segment files outlive their retirement until
  // cleanFiles — so any version whose segments still exist on disk is
  // readable as of that commit. The log is driver-side kilobytes per
  // commit; at 100 TB the data plane is untouched (time travel is
  // pure catalog selection, like any snapshot-isolation table format).

  def currentVersion: Long = status.version

  /** All catalog versions still reachable: the history log plus the
    * CURRENT version — status.json is the commit point and the log
    * entry is written after it, so a crash between the two loses only
    * the log file. The current state then still IS that snapshot, and
    * time travel / the change feed / the streaming source (whose
    * offset is always the current version) must keep resolving it.
    */
  def versions: Seq[Long] = {
    val logDir = new Path(metaDir, "log")
    val logged: Seq[Long] =
      if (!TableIO.isDirectory(logDir)) Nil
      else TableIO.listStatus(logDir)
        .flatMap(st => st.getPath.getName.stripSuffix(".json").toLongOption)
    val cur = if (TableIO.exists(statusFile)) Seq(status.version) else Nil
    (logged ++ cur).distinct.sorted
  }

  /** Live segment dirs of a PAST version — the V2 catalog's
    * time-travel scan delegates the parquet paths from here.
    */
  private[graft] def liveSegmentPathsAt(version: Long): Seq[Path] =
    statusAt(version).segments
      .filter(_.status == SUCCESS).map(s => segmentDir(s.id))

  /** (metas, dirs) of a PAST version's live set, or metas = None when
    * any segment dir is gone (cleanFiles removed a retired dir): the
    * snapshot's stats are exact — segment dirs are immutable and ids
    * never reused — so time-travel aggregates may fold from them, but
    * ONLY while the data is still on disk: a fold must never silently
    * outlive files whose scan would fail (the time-travel contract:
    * never serve history we cannot prove still exists).
    */
  private[graft] def segmentSnapshotAt(version: Long)
      : (Option[Seq[SegmentMeta]], Seq[Path]) = {
    val segs = statusAt(version).segments.filter(_.status == SUCCESS)
    val paths = segs.map(s => segmentDir(s.id))
    val metas =
      if (paths.forall(TableIO.exists)) Some(segs) else None
    (metas, paths)
  }

  /** Segment paths surviving min/max pruning against a resolved
    * predicate, within the live set or a past version's snapshot —
    * the V2 catalog's scan builder prunes driver-side from the
    * pushed filters through here (the query-plan twin of
    * [[GraftSegmentPruning]] for catalog-resolved reads).
    */
  private[graft] def prunedSegmentPaths(cond: Expression,
                                        version: Option[Long]): Seq[Path] = {
    val base = version.fold(liveSegments)(v =>
      statusAt(v).segments.filter(_.status == SUCCESS))
    pruneAmong(base, cond).map(s => segmentDir(s.id))
  }

  /** The version that was CURRENT at `epochMillis` (TIMESTAMP AS OF):
    * every commit writes its immutable `_meta/log/<v>.json` entry AT
    * COMMIT TIME, so that file's mtime IS version v's commit instant
    * — the answer is the LARGEST version committed at or before the
    * target. A timestamp before the first retained commit fails
    * loudly (the Spark time-travel contract: never silently serve
    * history we cannot prove existed).
    */
  def versionAsOfTimestamp(epochMillis: Long): Long = {
    val vs = versions
    require(vs.nonEmpty, s"graft table $root has no committed versions")
    val logDir = new Path(metaDir, "log")
    val commits = vs.map { v =>
      val entry = new Path(logDir, s"$v.json")
      val committedAt =
        if (TableIO.exists(entry)) TableIO.mtime(entry)
        else TableIO.mtime(statusFile) // pre-log-era current version
      (v, committedAt)
    }
    val atOrBefore = commits.filter(_._2 <= epochMillis)
    require(atOrBefore.nonEmpty,
      s"graft table $root: no version at or before $epochMillis " +
        s"(retained history begins at ${commits.map(_._2).min})")
    atOrBefore.maxBy(_._1)._1
  }

  def statusAt(version: Long): TableStatus = {
    val f = new Path(new Path(metaDir, "log"), s"$version.json")
    if (TableIO.exists(f)) readStatus(f)
    else {
      // crash-heal: the commit point is status.json; a crash before
      // the log write leaves the newest version without a log entry
      val st = status
      require(st.version == version,
        s"no catalog version $version (have: ${versions.mkString(",")})")
      st
    }
  }

  /** Read the table as of a past catalog version. Fails loudly when a
    * segment of that snapshot has since been physically removed by
    * cleanFiles (retention bounds how far back travel reaches).
    */
  def readAsOf(version: Long): DataFrame = {
    val live = statusAt(version).segments.filter(_.status == SUCCESS)
    val gone = live.filterNot(s => TableIO.isDirectory(segmentDir(s.id)))
    require(gone.isEmpty,
      s"version $version references segments removed by cleanFiles: ${gone.map(_.id).mkString(",")}")
    applyDefaults(readSegments(live))
  }

  /** Change-data feed between two catalog versions (CDC): every row
    * added or removed in `(fromVersion, toVersion]`, tagged with
    * `_change_type` ('insert' | 'delete') and `_commit_version` (the
    * commit that produced it).
    *
    * The feed is computed by walking the commit log one version at a
    * time and diffing live-segment sets — pure driver-side catalog
    * work; row data is only read for segments that actually changed,
    * so the cost is O(changed data), never a table scan. Semantics:
    *
    *  - loads emit their segment's rows as inserts;
    *  - segment deletes (delete-by-id / retention) emit deletes;
    *  - row-level DML emits the rewritten segment's old rows as
    *    deletes and its new rows as inserts (file-granularity CDC,
    *    the copy-on-write format norm — consumers reconcile on keys);
    *  - compaction commits are invisible: their additions carry
    *    `dataChange = false` and the inputs they retire are skipped
    *    with them (the table contents did not change);
    *  - a segment inserted and later deleted INSIDE the range emits
    *    both events (a consumer replaying the feed reproduces the
    *    endpoint state and sees the transient rows' lifecycle).
    *
    * Fails loudly when a needed segment's files were already removed
    * by cleanFiles (same retention bound as [[readAsOf]]).
    */
  /** The catalog-walk half of [[readChanges]]: one (segment, commit
    * version, 'insert' | 'delete') event per changed live segment in
    * `(fromVersion, toVersion]`, compaction commits skipped. Shared
    * with the streaming source (whose offsets ARE catalog versions).
    */
  private[graft] def changeEvents(fromVersion: Long,
      toVersion: Long): Seq[(SegmentMeta, Long, String)] = {
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    val have = versions.toSet
    require(have.contains(fromVersion),
      s"no catalog version $fromVersion (have: ${versions.mkString(",")})")
    require(have.contains(toVersion),
      s"no catalog version $toVersion (have: ${versions.mkString(",")})")
    val steps = versions.filter(v => v > fromVersion && v <= toVersion)
    var prev = statusAt(fromVersion).segments
      .filter(_.status == SUCCESS).map(s => s.id -> s).toMap
    val events = Seq.newBuilder[(SegmentMeta, Long, String)]
    for (v <- steps) {
      val cur = statusAt(v).segments
        .filter(_.status == SUCCESS).map(s => s.id -> s).toMap
      val added = (cur.keySet -- prev.keySet).toSeq.sorted.map(cur)
      val removed = (prev.keySet -- cur.keySet).toSeq.sorted.map(prev)
      val pureReorg = added.nonEmpty && added.forall(!_.dataChange)
      if (!pureReorg) {
        added.filter(_.dataChange).foreach(s => events += ((s, v, "insert")))
        removed.foreach(s => events += ((s, v, "delete")))
      }
      prev = cur
    }
    events.result()
  }

  /** Read a specific segment set with declared defaults applied —
    * the building block readChanges and the streaming source share.
    */
  private[graft] def readSegmentSet(segs: Seq[SegmentMeta]): DataFrame =
    applyDefaults(readSegments(segs))

  /** The documented loud-failure contract shared by batch
    * [[readChanges]] and the streaming source: a change-feed range
    * whose segment dirs cleanFiles already removed must fail BY NAME,
    * never as a generic path-not-found from inside the Parquet reader.
    */
  private[graft] def requireChangeSegmentsPresent(segs: Seq[SegmentMeta]): Unit = {
    val gone = segs.filterNot(s => TableIO.isDirectory(segmentDir(s.id)))
    require(gone.isEmpty,
      s"change feed references segments removed by cleanFiles: ${gone.map(_.id).distinct.mkString(",")}")
  }

  def readChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    val parts = changeEvents(fromVersion, toVersion)
    requireChangeSegmentsPresent(parts.map(_._1))
    if (parts.isEmpty) {
      val extended = schema
        .add("_change_type", StringType).add("_commit_version", LongType)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), extended)
    }
    parts.groupBy(p => (p._2, p._3)).toSeq.sortBy(_._1).map {
      case ((v, kind), group) =>
        readSegmentSet(group.map(_._1))
          .withColumn("_change_type", lit(kind))
          .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_))
  }

  /** RESTORE to a past catalog version: one new commit whose live
    * segment set is the snapshot's — a pure metadata operation (no
    * data files move; the segments must simply still exist, the same
    * retention bound readAsOf has). History is preserved: the restore
    * is a NEW version on top, so the feed and time travel keep the
    * full lineage, and the restore itself is CDC-VISIBLE (segments
    * it revives emit inserts, segments it retires emit deletes —
    * a consumer replaying the feed tracks the table's contents
    * through the rollback). Returns the new current version.
    */
  def restoreTo(version: Long): Long = {
    val v = withLock {
      val snapshot = statusAt(version)
      val target = snapshot.segments.filter(_.status == SUCCESS)
      val gone = target.filterNot(s => TableIO.isDirectory(segmentDir(s.id)))
      require(gone.isEmpty,
        s"cannot restore to version $version: segments ${gone.map(_.id).mkString(",")} " +
          "were removed by cleanFiles")
      val st = status
      val targetIds = target.map(_.id).toSet
      // revive snapshot members, retire everything else that is live;
      // segments unknown to the current status (impossible under the
      // append-only id allocator, but defensive) are re-added verbatim
      val known = st.segments.map(_.id).toSet
      // revived segments are stamped dataChange=true IN THIS COMMIT's
      // snapshot: a revived compaction output (originally dc=false)
      // re-ENTERS the live set here, and the change feed must see
      // that as inserts — without the stamp, changeEvents' pure-reorg
      // heuristic would classify a restore whose revivals are all
      // compaction outputs as invisible, silently hiding a rollback
      // that changed the table's contents. Earlier log snapshots are
      // immutable, so the original compaction commit stays invisible.
      val updated = st.segments.map { s =>
        if (targetIds.contains(s.id)) s.copy(status = SUCCESS, dataChange = true)
        else if (s.status == SUCCESS) s.copy(status = DELETED)
        else s
      } ++ target.filterNot(s => known.contains(s.id))
        .map(_.copy(dataChange = true))
      commitStatus(TableStatus(st.nextId, updated))
      currentVersion
    }
    maybeAutoRefresh() // outside the non-reentrant lock, like load's
    v
  }

  // ---- row-level DML (copy-on-write) ----
  //
  // The reference stops at segment granularity (DeleteLoadsById,
  // cubeSchema.scala:1678); row-level IUD arrived in its successors
  // with exactly this design: rewrite only the affected files, leave
  // the rest of the table untouched. Here the unit of rewrite is the
  // segment, and segment stats + bloom sidecars bound the work: a
  // DELETE whose predicate touches 3 of 3000 segments rewrites 3.

  /** Row-level DELETE. Segments whose stats/bloom prove no matching
    * row keep their files; every other candidate gets one cheap
    * match-count scan (projection = predicate columns only), and only
    * segments with real matches are rewritten without those rows into
    * replacement segments (re-sorted by the table's sort columns).
    * SQL semantics: rows where the predicate is NULL survive.
    * Returns the number of rows removed.
    *
    * Scale: cost is proportional to segments actually containing
    * matches — each rewrite is one distributed filter+write over a
    * single segment directory, never a full-table pass. The write
    * happens outside the metadata lock (queries and loads proceed);
    * the commit re-verifies the inputs are still live, so a
    * concurrent compact/delete aborts this DML instead of silently
    * resurrecting or double-deleting rows.
    */
  /** Per-segment match counts for a predicate over the candidate set,
    * in ONE distributed job: the segment id is recovered from the
    * input file path, so 500 affected segments cost one aggregation,
    * not 500 sequential count() jobs.
    */
  private def matchCounts(candidates: Seq[SegmentMeta],
                          predicate: Column): Map[Int, Long] =
    if (candidates.isEmpty) Map.empty
    else readSegments(candidates)
      .filter(predicate)
      .groupBy(org.apache.spark.sql.functions.regexp_extract(
        org.apache.spark.sql.functions.input_file_name(),
        "segment_(\\d+)/", 1).cast("int").as("__seg"))
      .count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Stage per-segment rewrite jobs CONCURRENTLY on a bounded pool.
    * Each item's `f` runs one independent filter+write Spark job over
    * a single segment; the scheduler interleaves them, hiding the
    * per-job driver round-trip that makes sequential staging scale
    * with SEGMENT COUNT instead of data size (a full-sync MERGE over
    * 10⁴ segments staged one-by-one pays 10⁴ serialized round-trips).
    * Order is preserved in the result; the commit that follows is
    * still ONE atomic status write, so crash/abort semantics are
    * unchanged — a failure here propagates before anything commits
    * and already-staged tmp dirs fall to the TTL sweep exactly as
    * they do on a sequential failure. Pool size:
    * `spark.graft.dmlStagingParallelism` (default 8), capped at the
    * item count; ≤1 stays on the caller's thread.
    */
  private def stagePar[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val par = math.min(items.size, math.max(1,
      spark.conf.get(SegmentedTable.DmlStagingParallelismKey,
        SegmentedTable.DmlStagingParallelismDefault).toInt))
    if (par <= 1) return items.map(f)
    // daemon threads: a failure path must never leave non-daemon pool
    // threads pinning the JVM while their doomed staging jobs drain
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-dml-staging-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    // every staging job runs under one cancellable job group, so the
    // first failure stops the cluster burning time on doomed siblings
    val group = s"graft-dml-staging-${java.util.UUID.randomUUID()}"
    try {
      val futures = items.map(a =>
        pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = {
            spark.sparkContext.setJobGroup(group,
              "graft COW-DML segment staging", interruptOnCancel = true)
            try f(a) finally spark.sparkContext.clearJobGroup()
          }
        }))
      futures.map(fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          // fail fast: drop queued work, interrupt in-flight stagers,
          // and cancel their running Spark jobs before propagating
          pool.shutdownNow()
          try spark.sparkContext.cancelJobGroup(group)
          catch { case scala.util.control.NonFatal(_) => () }
          throw e.getCause })
    } finally pool.shutdown()
  }

  def delete(predicate: Column): Long = {
    val keep = org.apache.spark.sql.functions.not(
      org.apache.spark.sql.functions.coalesce(predicate, lit(false)))
    val candidates = pruneSegments(predicate)
    val counts = matchCounts(candidates, predicate)
    val affected =
      candidates.flatMap(seg => counts.get(seg.id).filter(_ > 0).map(seg -> _))
    if (affected.isEmpty) return 0L
    // rewrite survivors outside the lock; None = whole segment dies
    val replacements: Seq[(SegmentMeta, Option[StagedSegment])] =
      stagePar(affected) { case (seg, matched) =>
        if (matched == seg.rowCount) seg -> None
        else seg -> Some(stageSegment(
          readSegments(Seq(seg)).filter(keep), s"rewriting_${seg.id}"))
      }
    commitRewrites(affected.map(_._1), replacements, "DELETE")
    affected.map(_._2).sum
  }

  /** Row-level UPDATE: copy-on-write like [[delete]]. Matching rows
    * get each assignment applied (cast to the column's declared type);
    * non-matching rows in the same segment are rewritten unchanged;
    * untouched segments keep their files. Returns rows updated.
    */
  def update(predicate: Column, assignments: Map[String, Column]): Long = {
    val unknown = assignments.keySet.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"unknown columns in UPDATE: ${unknown.mkString(", ")}")
    val hit = org.apache.spark.sql.functions.coalesce(predicate, lit(false))
    val candidates = pruneSegments(predicate)
    val counts = matchCounts(candidates, predicate)
    val affected =
      candidates.flatMap(seg => counts.get(seg.id).filter(_ > 0).map(seg -> _))
    if (affected.isEmpty) return 0L
    val replacements = stagePar(affected) { case (seg, _) =>
      val rewritten = readSegments(Seq(seg)).select(schema.fields.toSeq.map { f =>
        assignments.get(f.name) match {
          case Some(v) =>
            org.apache.spark.sql.functions.when(hit, v.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      seg -> Some(stageSegment(rewritten, s"rewriting_${seg.id}"))
    }
    commitRewrites(affected.map(_._1), replacements, "UPDATE")
    affected.map(_._2).sum
  }

  /** Shared DML commit: verify every input segment is still SUCCESS,
    * then atomically retire inputs and promote replacements (plus any
    * brand-new `additions` segments, e.g. a MERGE's inserts) in ONE
    * status write (readers never observe a half-applied DML).
    */
  private def commitRewrites(
      inputs: Seq[SegmentMeta],
      replacements: Seq[(SegmentMeta, Option[StagedSegment])],
      op: String,
      additions: Seq[StagedSegment] = Nil): Unit = {
    commitRewritesLocked(inputs, replacements, op, additions)
    maybeAutoRefresh()
  }

  private def commitRewritesLocked(
      inputs: Seq[SegmentMeta],
      replacements: Seq[(SegmentMeta, Option[StagedSegment])],
      op: String,
      additions: Seq[StagedSegment] = Nil)
      : Unit = withLock {
    val st = status
    val stillLive = inputs.forall(s =>
      st.segments.exists(x => x.id == s.id && x.status == SUCCESS))
    if (!stillLive) {
      replacements.foreach { case (_, r) => r.foreach(x => deleteRecursively(x.tmp)) }
      additions.foreach(x => deleteRecursively(x.tmp))
      throw new IllegalStateException(
        s"concurrent segment change during $op — no rows were modified; retry")
    }
    var next = st.nextId
    var segs = st.segments.map(s =>
      if (inputs.exists(_.id == s.id)) s.copy(status = DELETED) else s)
    def promote(staged: StagedSegment): Unit = {
      val id = next; next += 1
      clearOrphan(id)
      TableIO.rename(staged.tmp, segmentDir(id))
      writeBlooms(id, staged.blooms)
      segs = segs :+ SegmentMeta(id, SUCCESS, staged.rows,
        System.currentTimeMillis(), staged.stats, staged.nulls,
        bytes = staged.bytes)
    }
    replacements.foreach {
      case (_, Some(staged)) => promote(staged)
      case (_, None) => ()
    }
    additions.foreach(promote)
    commitStatus(TableStatus(next, segs))
  }

  /** MERGE (upsert) by key, last-write-wins: incoming rows REPLACE
    * existing rows with the same key and the remainder appends as a
    * new segment — all in one atomic commit. Candidate segments come
    * from the incoming key envelope (min/max per key column) through
    * the normal stats pruning, matches are confirmed with one
    * semi-join job, and only segments actually holding a matched key
    * are rewritten (anti-join against the broadcast incoming keys).
    * Incoming rows are appended as-is — callers dedupe the batch if
    * its keys repeat. Returns the number of existing rows replaced.
    *
    * Scale: key envelope + stats bound the rewrite set exactly like
    * DELETE; the only corpus-wide work is one semi-join keyed on the
    * merge key. The key-set side carries NO broadcast hint — an
    * explicit hint is honored regardless of size and would pin a huge
    * merge batch to the driver/8 GB broadcast ceiling; letting the
    * planner (and AQE at runtime) choose broadcasts small batches and
    * degrades large ones to a shuffle join of the same shape.
    */
  def merge(df: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    val unknown = keyCols.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"unknown merge key columns: ${unknown.mkString(", ")}")
    val incoming = df.select(schema.fieldNames.map(col).toSeq: _*)
    val keys = incoming.select(keyCols.map(col): _*).distinct()
    // incoming key envelope -> candidate segments via stats pruning
    val aggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
    val env = incoming.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (env.getAs[Any](s"__mn_${keyCols.head}") == null) return 0L // empty batch
    val envelope = keyCols.map(k =>
      col(k) >= lit(env.getAs[Any](s"__mn_$k")) &&
        col(k) <= lit(env.getAs[Any](s"__mx_$k"))).reduce(_ && _)
    val candidates = pruneSegments(envelope)
    // one job: which candidate segments hold at least one matched key?
    val hitCounts: Map[Int, Long] =
      if (candidates.isEmpty) Map.empty
      else readSegments(candidates)
        // the file-derived segment id must attach BEFORE the join
        // (input_file_name is single-source only)
        .withColumn("__seg", org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.input_file_name(),
          "segment_(\\d+)/", 1).cast("int"))
        .join(keys, keyCols, "left_semi")
        .groupBy(col("__seg"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val affected =
      candidates.flatMap(seg => hitCounts.get(seg.id).filter(_ > 0).map(seg -> _))
    // rewrite matched segments without the replaced keys
    val replacements = stagePar(affected) { case (seg, matched) =>
      if (matched == seg.rowCount) seg -> None
      else {
        val survivors = readSegments(Seq(seg))
          .join(keys, keyCols, "left_anti")
        seg -> Some(stageSegment(survivors, s"rewriting_${seg.id}"))
      }
    }
    // incoming batch lands as one new segment in the same commit
    commitRewrites(affected.map(_._1), replacements, "MERGE",
      additions = Seq(stageSegment(incoming, "merging")))
    affected.map(_._2).sum
  }

  /** FULL ANSI MERGE: conditional `WHEN MATCHED [AND p] THEN UPDATE
    * SET c = e, ...` / `... THEN DELETE` / `WHEN NOT MATCHED [AND p]
    * THEN INSERT ...` / `WHEN NOT MATCHED BY SOURCE [AND p] THEN
    * UPDATE SET .../DELETE`, multiple clauses with first-match
    * semantics — the general form the key-equality upsert ([[merge]])
    * cannot express. One copy-on-write commit like every DML here:
    * only segments holding a row some clause actually fires on are
    * rewritten, inserts land as one new segment, and readers see the
    * whole MERGE or none of it.
    *
    * `bySource` clauses (the full-sync/SCD-1 family: act on target
    * rows the source no longer carries) act on target-only join rows;
    * their UPDATE assignments may only reference target columns —
    * source columns are all NULL on a by-source row. COST NOTE: a
    * by-source clause makes EVERY live segment a rewrite candidate —
    * no source-key envelope can prune segments that might hold
    * UNmatched rows — so a by-source MERGE always scans and
    * potentially rewrites the whole table. That is inherent to the
    * semantics, not a plan defect.
    *
    * Execution, all distributed: ONE full-outer join of the candidate
    * segments with the source on the ON condition, projected
    * immediately to a flat frame carrying the per-row first-firing
    * clause index and each output column's post-merge value, then
    * persisted (MEMORY_AND_DISK) so the cardinality check, the
    * per-segment hit counts, the rewrites and the insert extraction
    * all reuse one join materialization. Only candidate-segment rows
    * enter the join: when the ON condition is an AND of target=source
    * column equalities the incoming key envelope prunes segments via
    * stats exactly like [[merge]] (`equiKeys`); otherwise every live
    * segment is a candidate — the price of an arbitrary ON.
    *
    * ANSI cardinality rule: a target row matched by MORE THAN ONE
    * source row on which a matched clause fires is ambiguous — the
    * statement aborts (before any write) rather than applying an
    * arbitrary one. A multi-match where only one source row fires
    * applies that one. Scale note: a non-equi ON plans as a
    * broadcast-nested-loop join (Spark has no shuffled full-outer
    * without equi keys) — fine for broadcastable sources, use an
    * equi ON beyond that.
    *
    * Returns (updated, deleted, inserted) row counts.
    */
  def mergeFull(source: DataFrame, sourceAlias: String, targetAlias: String,
                onSql: String,
                matched: Seq[SegmentedTable.MergeWhen],
                notMatched: Seq[SegmentedTable.MergeInsert],
                equiKeys: Seq[(String, String)] = Nil,
                bySource: Seq[SegmentedTable.MergeWhen] = Nil)
      : (Long, Long, Long) = {
    import SegmentedTable.{MergeDelete, MergeInsert, MergeUpdate}
    val F = org.apache.spark.sql.functions
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE requires at least one WHEN clause")
    (matched ++ bySource).foreach {
      case _: MergeUpdate | _: MergeDelete => ()
      case other => throw new IllegalArgumentException(
        s"WHEN [NOT] MATCHED [BY SOURCE] supports UPDATE/DELETE, got $other")
    }
    bySource.foreach {
      case u: MergeUpdate if u.sets.isEmpty =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * — source " +
            "columns are all NULL on a by-source row; list assignments")
      case _ => ()
    }
    val unknownSet = (matched ++ bySource).collect { case u: MergeUpdate => u }
      .flatMap(_.sets.map(_._1)).filterNot(schema.fieldNames.contains)
    require(unknownSet.isEmpty,
      s"unknown columns in MERGE UPDATE SET: ${unknownSet.mkString(", ")}")
    val unknownIns = notMatched.flatMap(_.cols)
      .filterNot(schema.fieldNames.contains)
    require(unknownIns.isEmpty,
      s"unknown columns in MERGE INSERT: ${unknownIns.mkString(", ")}")

    // candidate segments: stats-pruned via the source key envelope
    // when the ON gave us equi pairs — UNLESS a by-source clause
    // exists: a target row the source does NOT carry can live in any
    // segment, so no envelope over source keys may prune (see the
    // scaladoc cost note); every live segment is a candidate then
    val candidates: Seq[SegmentMeta] =
      if (equiKeys.isEmpty || bySource.nonEmpty) pruneSegments(lit(true))
      else {
        val aggs = equiKeys.flatMap { case (_, sc) =>
          Seq(min(col(sc)).as(s"__mn_$sc"), max(col(sc)).as(s"__mx_$sc")) }
        val env = source.agg(aggs.head, aggs.tail: _*).collect()(0)
        if (env.getAs[Any](s"__mn_${equiKeys.head._2}") == null) Nil
        else pruneSegments(equiKeys.map { case (tc, sc) =>
          col(tc) >= lit(env.getAs[Any](s"__mn_$sc")) &&
            col(tc) <= lit(env.getAs[Any](s"__mx_$sc")) }.reduce(_ && _))
      }

    val tgt = readSegments(candidates)
      .withColumn("__seg", F.regexp_extract(F.input_file_name(),
        "segment_(\\d+)/", 1).cast("int"))
      .withColumn("__tid", F.monotonically_increasing_id())
      .withColumn("__tp", lit(true))
      .alias(targetAlias)
    val src = source.withColumn("__sp", lit(true)).alias(sourceAlias)
    val joined = tgt.join(src, F.expr(onSql), "full_outer")

    val isMatched = col("__tp").isNotNull && col("__sp").isNotNull
    val isSrcOnly = col("__tp").isNull && col("__sp").isNotNull
    val isTgtOnly = col("__tp").isNotNull && col("__sp").isNull
    def condOf(sql: Option[String]): Column = sql.map(F.expr).getOrElse(lit(true))

    // the two target-row clause families share one ordered chain: a
    // join row is either matched or target-only, never both, so the
    // matched clauses (guarded by isMatched) and the by-source clauses
    // (guarded by isTgtOnly) compose into a single first-match CASE —
    // one __act index, one __del flag, one outCol chain downstream
    val targetClauses: Seq[(Column, SegmentedTable.MergeWhen)] =
      matched.map(w => (isMatched, w)) ++ bySource.map(w => (isTgtOnly, w))

    // first-firing clause index (0 = none fires), the same ordered
    // when-chain SQL CASE gives — evaluated once here and replicated
    // structurally for the per-column values below
    val act =
      if (targetClauses.isEmpty) lit(0)
      else targetClauses.zipWithIndex.foldLeft(F.when(lit(false), 0)) {
        case (acc, ((pred, w), i)) =>
          acc.when(pred && condOf(w.condSql), lit(i + 1))
      }.otherwise(lit(0))
    val isDel =
      if (targetClauses.isEmpty) lit(false)
      else targetClauses.foldLeft(F.when(lit(false), false)) {
        case (acc, (pred, w)) => acc.when(pred && condOf(w.condSql),
          lit(w.isInstanceOf[MergeDelete]))
      }.otherwise(lit(false))
    val iact =
      if (notMatched.isEmpty) lit(0)
      else notMatched.zipWithIndex.foldLeft(F.when(lit(false), 0)) {
        case (acc, (w, i)) =>
          acc.when(isSrcOnly && condOf(w.condSql), lit(i + 1))
      }.otherwise(lit(0))

    // post-merge value of each target column for a surviving target
    // row (original unless the first-firing clause is an UPDATE with
    // an assignment for it), and the insert value for a source-only
    // row under its first-firing INSERT clause
    def outCol(f: StructField): Column = {
      val orig = col(s"$targetAlias.${f.name}")
      if (targetClauses.isEmpty) orig
      else targetClauses.foldLeft(
        F.when(lit(false), lit(null).cast(f.dataType))) {
        case (acc, (pred, w)) =>
          val v = w match {
            case u: MergeUpdate if u.sets.isEmpty => // UPDATE SET *
              col(s"$sourceAlias.${f.name}").cast(f.dataType)
            case u: MergeUpdate =>
              u.sets.find(_._1 == f.name)
                .map { case (_, e) => F.expr(e).cast(f.dataType) }
                .getOrElse(orig)
            case _: MergeDelete => orig // row is dropped via isDel
            case other => throw new IllegalStateException(other.toString)
          }
          acc.when(pred && condOf(w.condSql), v)
      }.otherwise(orig)
    }
    def insCol(f: StructField): Column =
      if (notMatched.isEmpty) lit(null).cast(f.dataType)
      else notMatched.foldLeft(F.when(lit(false), lit(null).cast(f.dataType))) {
        case (acc, w) =>
          val v =
            if (w.cols.isEmpty) col(s"$sourceAlias.${f.name}").cast(f.dataType)
            else w.cols.zip(w.vals).find(_._1 == f.name)
              .map { case (_, e) => F.expr(e).cast(f.dataType) }
              .getOrElse(lit(null).cast(f.dataType))
          acc.when(isSrcOnly && condOf(w.condSql), v)
      }.otherwise(lit(null).cast(f.dataType))

    val flat = joined.select(
      Seq(col("__seg"), col("__tid"), isMatched.as("__matched"),
        isSrcOnly.as("__srconly"), act.as("__act"), isDel.as("__del"),
        iact.as("__iact")) ++
        schema.fields.toSeq.map(f => outCol(f).as(s"__out_${f.name}")) ++
        schema.fields.toSeq.map(f => insCol(f).as(s"__ins_${f.name}")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ANSI cardinality check BEFORE any write
      val ambiguous = flat.filter(col("__matched") && col("__act") > 0)
        .groupBy("__tid").count().filter(col("count") > 1).limit(1).count()
      if (ambiguous > 0) throw new IllegalStateException(
        "MERGE cardinality violation: a target row matches more than " +
          "one source row on which a WHEN MATCHED clause fires — " +
          "deduplicate the source on the merge keys")

      // segments holding at least one firing matched row get rewritten
      val segStats = flat.filter(col("__act") > 0)
        .groupBy("__seg")
        .agg(F.count(lit(1)).as("fired"),
          F.sum(F.when(col("__del"), 1L).otherwise(0L)).as("dels"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val affected = candidates.filter(s => segStats.contains(s.id))
      val updated = segStats.values.map(v => v._1 - v._2).sum
      val deleted = segStats.values.map(_._2).sum

      val outCols = schema.fields.toSeq.map(f =>
        col(s"__out_${f.name}").as(f.name))
      val insCols = schema.fields.toSeq.map(f =>
        col(s"__ins_${f.name}").as(f.name))
      // survivors of an affected segment: one row per target row
      // (multi-match duplicates collapse to the firing row when one
      // exists — act desc puts it first — or any identical original),
      // minus fired deletes
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__tid")).orderBy(col("__act").desc)
      // EVERY affected segment's survivors in ONE windowed pass over
      // the persisted join result (previously the window recomputed —
      // and re-shuffled — once per segment); the per-segment staging
      // job then just filters the cached survivor frame by __seg and
      // writes, and the independent writes run on the bounded pool
      // (stagePar) instead of one serialized job per segment
      val affectedIds = affected.map(_.id)
      val survivorsAll = flat
        .filter(col("__tid").isNotNull &&
          col("__seg").isin(affectedIds.map(i => i: Any): _*))
        .withColumn("__rn", F.row_number().over(w))
        .filter(col("__rn") === 1 && !(col("__act") > 0 && col("__del")))
        .select(col("__seg") +: outCols: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val replacements =
        try stagePar(affected) { seg =>
          val staged = stageSegment(
            survivorsAll.filter(col("__seg") === seg.id).drop("__seg"),
            s"rewriting_${seg.id}")
          if (staged.rows == 0L) { deleteRecursively(staged.tmp); seg -> None }
          else seg -> Some(staged)
        } finally survivorsAll.unpersist()
      // an update/delete-only MERGE never stages an insert segment —
      // without a WHEN NOT MATCHED clause the write job (plus its
      // stats/bloom collection) would only produce an empty result to
      // delete again
      val insStagedOpt =
        if (notMatched.isEmpty) None
        else {
          val inserts = flat.filter(col("__iact") > 0).select(insCols: _*)
          val staged = stageSegment(inserts, "merging")
          if (staged.rows == 0L) { deleteRecursively(staged.tmp); None }
          else Some(staged)
        }
      val inserted = insStagedOpt.map(_.rows).getOrElse(0L)
      if (affected.nonEmpty || insStagedOpt.nonEmpty)
        commitRewrites(affected, replacements, "MERGE",
          additions = insStagedOpt.toSeq)
      (updated, deleted, inserted)
    } finally flat.unpersist()
  }

  // ---- schema evolution (reference AlterCube / RestructureUtil:
  // add/drop columns recorded as timestamped entries; old segments are
  // served with defaults filled at read time) ----

  /** Add a column with an optional default. Existing segments keep
    * their files; reads fill the default (or null). Returns the new
    * table handle (schema objects are immutable).
    */
  def addColumn(name: String, dataType: DataType,
                default: Option[String] = None): SegmentedTable = withLock {
    require(!schema.fieldNames.contains(name), s"column $name exists")
    val newSchema = StructType(schema.fields :+ StructField(name, dataType, nullable = true))
    val newProps = default match {
      case Some(d) => properties + (s"default.$name" -> d)
      case None => properties
    }
    SegmentedTable.writeSchema(root, newSchema, newProps)
    new SegmentedTable(spark, root, newSchema, newProps)
  }

  /** Update table properties (ALTER ... SET/UNSET TBLPROPERTIES):
    * merge `set`, remove `unset`, one schema-file write under the
    * lock. `default.*` keys are the column-default ledger managed by
    * [[addColumn]]/[[dropColumn]] — editing them here could declare a
    * default for a column that predates it (silently rewriting
    * history), so they are rejected. Returns the new handle (property
    * maps are immutable, like schemas).
    */
  def alterProperties(set: Map[String, String],
                      unset: Seq[String] = Nil): SegmentedTable = withLock {
    val touched = (set.keys ++ unset).filter(_.startsWith("default."))
    require(touched.isEmpty,
      s"column defaults are managed by ADD/DROP COLUMN, not " +
        s"TBLPROPERTIES: ${touched.mkString(", ")}")
    val newProps = properties ++ set -- unset
    SegmentedTable.writeSchema(root, schema, newProps)
    new SegmentedTable(spark, root, schema, newProps)
  }

  /** Drop a column: hidden from reads immediately; files untouched
    * (the reference's restructure keeps old folders too).
    */
  def dropColumn(name: String): SegmentedTable = withLock {
    require(schema.fieldNames.contains(name), s"no column $name")
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    val newProps = properties - s"default.$name"
    SegmentedTable.writeSchema(root, newSchema, newProps)
    new SegmentedTable(spark, root, newSchema, newProps)
  }

  /** Declared defaults applied to columns absent from older segment
    * files (Parquet returns null for missing columns; the default
    * replaces only those nulls, mirroring
    * RestructureFilterExecuterImpl's default-fill). This is folded
    * into EVERY read entry point ([[read]], [[scan]], [[readAsOf]]) so
    * evolved tables answer correctly by default; it is the identity
    * (zero plan change) for tables with no `default.*` property.
    */
  private def applyDefaults(base: DataFrame): DataFrame = {
    val defaults = properties.collect {
      case (k, v) if k.startsWith("default.") => k.stripPrefix("default.") -> v
    }
    defaults.foldLeft(base) { case (df, (c, d)) =>
      if (df.columns.contains(c))
        df.withColumn(c, org.apache.spark.sql.functions.coalesce(
          col(c), lit(d).cast(df.schema(c).dataType)))
      else df
    }
  }

  /** Kept for source compatibility — [[read]] now applies defaults. */
  def readWithDefaults(): DataFrame = read()

  /** Whether any column declares a default — the DataSource read path
    * uses this to decide between the direct multi-path parquet
    * relation (pushdown-friendly) and the default-applying plan.
    */
  private[graft] def hasDeclaredDefaults: Boolean =
    properties.keys.exists(_.startsWith("default."))
}

object SegmentedTable {
  val SUCCESS = "SUCCESS"
  val DELETED = "DELETED"
  val COMPACTED = "COMPACTED"

  /** A read of one graft table's segment directories: the table root,
    * the segment ids the read names (in its path order, duplicates
    * kept) and the table, opened on first use.
    */
  private[graft] final class SegmentScan(val root: Path, val ids: Seq[Int],
                                         openTable: => SegmentedTable) {
    lazy val table: SegmentedTable = openTable
  }

  /** A segment directory name as the table writes it (no leading zeros). */
  private val SegmentDirName = "segment_(0|[1-9][0-9]*)".r

  /** The one reader of the segment-directory layout, behind every rule
    * that reasons from the catalog: `rootPaths` is a segment scan iff
    * every path is `<root>/segment_N` of ONE root that holds a graft
    * table. Paths compare as Hadoop Paths (parents spelled with and
    * without a scheme are qualified first) and `_meta/status.json` is
    * probed through the path's own FileSystem, so any scheme works. A
    * read with a file-level filter option (glob, mtime bounds,
    * recursive lookup) sees a SUBSET of the segments' files, which the
    * catalog does not describe, so it is never a segment scan.
    */
  private[graft] def scanOf(spark: SparkSession, rootPaths: Seq[Path],
                            optionKeys: Iterable[String]): Option[SegmentScan] = {
    val ids = rootPaths.flatMap(_.getName match {
      case SegmentDirName(n) => n.toIntOption
      case _ => None
    })
    if (ids.isEmpty || ids.size != rootPaths.size ||
        graft.mv.AggTables.hasFileFilterKeys(optionKeys)) return None
    val parents = rootPaths.map(_.getParent).distinct
    (if (parents.size == 1) parents
     else parents.map(p => new Path(TableIO.qualified(p))).distinct) match {
      case Seq(root) if exists(root.toString) =>
        Some(new SegmentScan(root, ids, open(spark, root.toString)))
      case _ => None
    }
  }

  /** [[scanOf]] over a V1 file relation's root paths and read options. */
  private[graft] def scanOf(spark: SparkSession,
      h: org.apache.spark.sql.execution.datasources.HadoopFsRelation)
      : Option[SegmentScan] =
    scanOf(spark, h.location.rootPaths, h.options.keySet)

  /** Bound on concurrent per-segment staging jobs during broad COW
    * DML (delete/update/merge). The stage writes are independent
    * Spark jobs and the commit is one atomic status write that
    * tolerates any staging order, so the only question is how many
    * jobs to keep in flight: enough to hide the per-job scheduling
    * round-trip (a 10⁴-segment MERGE staged sequentially pays 10⁴
    * serialized round-trips — minutes of driver latency independent
    * of data size), few enough not to thrash the scheduler.
    */
  val DmlStagingParallelismKey = "spark.graft.dmlStagingParallelism"
  val DmlStagingParallelismDefault = "8"

  /** The column types whose per-segment exact sums the catalog records
    * (see [[ColStats.sum]]) — shared with the stats-fold consumers.
    */
  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The wide-decimal accumulator a column's stage-time exact sum is
    * collected in — integral columns in Decimal(38,0) (r19), decimal
    * columns in Decimal(38, scale). Decimal columns above precision 28
    * are skipped: the accumulator would have under 10 digits of
    * headroom, the same safety class the integral path relies on
    * (>10^10 max-magnitude rows per segment before overflow could
    * surface). None = no exact sum recorded (doubles NEVER sum here:
    * FP accumulation is order-dependent, so no stored total could
    * reproduce what a query's own scan computes).
    */
  def sumStageType(t: DataType): Option[DecimalType] = t match {
    case _ if isIntegral(t) => Some(DecimalType(38, 0))
    case d: DecimalType if d.precision <= 28 => Some(DecimalType(38, d.scale))
    case _ => None
  }

  /** Disambiguates staging dirs created in the same nanosecond by
    * concurrent staging threads (prefix matching for the TTL sweep is
    * unaffected).
    */
  private[table] val stagingSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[SegmentedTable.mergeFull]]'s clause model: conditions and
    * assignment values stay SQL TEXT (resolved against the aliased
    * target⋈source join inside mergeFull, so `t.c`/`s.c` references
    * mean what the statement wrote). Clause order IS evaluation order
    * (ANSI first-match).
    */
  sealed trait MergeWhen { def condSql: Option[String] }
  /** UPDATE SET assignments; empty `sets` means `UPDATE SET *`. */
  final case class MergeUpdate(condSql: Option[String],
                               sets: Seq[(String, String)]) extends MergeWhen
  final case class MergeDelete(condSql: Option[String]) extends MergeWhen
  /** INSERT; empty `cols` means `INSERT *`, otherwise the column list
    * with positionally matching value expressions (unlisted columns
    * insert NULL).
    */
  final case class MergeInsert(condSql: Option[String], cols: Seq[String],
                               vals: Seq[String]) extends MergeWhen

  /** Sink-lineage id prefix for PER-START (non-durable) streaming
    * queries: epoch entries under it are garbage once their query
    * ends (the UUID never recurs) and are pruned by cleanFiles.
    */
  val EphemeralSinkPrefix = "graft-sink-ephemeral-"

  /** A segment fully written and analyzed under a temporary path,
    * awaiting only id allocation + rename + catalog commit.
    */
  private[graft] case class StagedSegment(tmp: Path, rows: Long,
      stats: Map[String, ColStats], nulls: Map[String, Long],
      blooms: Seq[(String, org.apache.spark.util.sketch.BloomFilter)],
      bytes: Long = -1L)

  private[table] implicit val formats: Formats = DefaultFormats

  private def isIntegralType(t: DataType): Boolean =
    SegmentedTable.isIntegral(t)

  private def kindOf(t: DataType): Option[String] = t match {
    case _: NumericType => Some("numeric")
    case StringType => Some("string")
    case TimestampType | TimestampNTZType => Some("timestamp")
    case DateType => Some("date")
    case _ => None
  }

  private def fmt(v: Any): String = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case t: java.sql.Timestamp => (t.getTime * 1000L + t.getNanos / 1000 % 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case other => other.toString
  }

  /** Parsed-catalog cache. `status` is consulted several times per
    * query (pruning, read, counts) and per commit; at 10^4 segments a
    * fresh parse is hundreds of ms, so repeated reads must not re-parse
    * an unchanged file. Every commit writes a NEW temp file and
    * atomically renames it over status.json, so the file's content
    * identity (see [[TableIO.contentIdentity]]: inode+size+mtime-nanos
    * locally, length+mtime on DFS) identifies the committed content —
    * and every commit additionally SEEDS the cache with what it wrote
    * ([[cacheStatus]]), so a writer's read-after-write is exact even at
    * DFS mtime granularity. One entry per open table path, dropped when
    * the identity changes.
    */
  private val statusCache =
    new java.util.concurrent.ConcurrentHashMap[String, (AnyRef, TableStatus)]()

  private def readStatus(p: Path): TableStatus = {
    val identity = TableIO.contentIdentity(p)
    val key = TableIO.qualified(p)
    val cached = statusCache.get(key)
    if (cached != null && cached._1 == identity) cached._2
    else {
      val stored = Serialization.read[TableStatus](TableIO.readString(p))
      // merge the manifest prefix back in: callers always see the full
      // list (see TableStatus.manifest)
      val parsed = stored.manifest match {
        case Some(m) =>
          stored.copy(segments = manifestSegments(p, m) ++ stored.segments)
        case None => stored
      }
      statusCache.put(key, (identity, parsed))
      parsed
    }
  }

  /** `_meta/manifests/` for a path that is either `_meta/status.json`
    * or `_meta/log/<v>.json`.
    */
  private def manifestsDirOf(near: Path): Path = {
    val parent = near.getParent
    if (parent.getName == "_meta") new Path(parent, "manifests")
    else new Path(parent.getParent, "manifests")
  }

  /** Manifest pages are immutable once written, so the cache never
    * invalidates — only bounds memory (a live table references one or
    * two pages; clear-on-overflow keeps pathological histories from
    * pinning hundreds of MB).
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, List[SegmentMeta]]()

  private def manifestSegments(near: Path, name: String): List[SegmentMeta] = {
    val mp = new Path(manifestsDirOf(near), name)
    val key = TableIO.qualified(mp)
    val cached = manifestCache.get(key)
    if (cached != null) cached
    else {
      val segs = Serialization.read[ManifestPage](TableIO.readString(mp)).segments
      seedManifestCache(mp, segs)
      segs
    }
  }

  private def seedManifestCache(mp: Path, segs: List[SegmentMeta]): Unit = {
    if (manifestCache.size > 8) manifestCache.clear()
    manifestCache.put(TableIO.qualified(mp), segs)
  }

  /** Does `full` still extend the frozen prefix `m`? Reference-first
    * element compare — the append/update paths reuse unchanged
    * SegmentMeta objects, so this is n pointer compares in the common
    * case, with deep equality as the cross-process fallback.
    */
  private def sharesPrefix(full: List[SegmentMeta],
                           m: List[SegmentMeta]): Boolean =
    m.size <= full.size && {
      val fi = full.iterator
      m.forall { s =>
        val f = fi.next()
        (f.asInstanceOf[AnyRef] eq s.asInstanceOf[AnyRef]) || f == s
      }
    }

  /** Writer-side cache seed: called right after a commit's rename so
    * this JVM's next read parses nothing and can never be stale.
    */
  private def cacheStatus(p: Path, s: TableStatus): Unit =
    try statusCache.put(TableIO.qualified(p), (TableIO.contentIdentity(p), s))
    catch { case _: java.io.IOException => () } // raced delete: readers re-read

  private def deleteRecursively(p: Path): Unit = TableIO.delete(p)

  private[table] def writeSchema(root: Path, schema: StructType,
                                 properties: Map[String, String]): Unit = {
    val meta = new Path(root, "_meta")
    TableIO.mkdirs(meta)
    val schemaJson = JObject(
      "schema" -> JString(schema.json),
      "properties" -> JObject(properties.map { case (k, v) => k -> (JString(v): JValue) }.toList))
    TableIO.writeStringAtomic(new Path(meta, "schema.json"),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(schemaJson)))
  }

  /** Create a new table (reference CreateCube, cubeSchema.scala:1608). */
  def create(spark: SparkSession, root: String, schema: StructType,
             properties: Map[String, String] = Map.empty): SegmentedTable = {
    val r = new Path(root)
    writeSchema(r, schema, properties)
    val t = new SegmentedTable(spark, r, schema, properties)
    t.commitStatus(TableStatus(0, Nil))
    t
  }

  /** Open an existing table from its metadata. */
  def open(spark: SparkSession, root: String): SegmentedTable = {
    val r = new Path(root)
    val j = org.json4s.jackson.JsonMethods.parse(
      TableIO.readString(new Path(new Path(r, "_meta"), "schema.json")))
    val schema = DataType.fromJson((j \ "schema").extract[String]).asInstanceOf[StructType]
    val props = (j \ "properties") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    new SegmentedTable(spark, r, schema, props)
  }

  def exists(root: String): Boolean =
    TableIO.exists(new Path(new Path(new Path(root), "_meta"), "status.json"))

  /** An EMPTY table at `root` with exactly `schema`/`properties`: the
    * existing table is cleared and reused when its stored schema and
    * properties still match, otherwise the root is deleted and the
    * table recreated. Fixture-shaped helper: a schema drift under a
    * persistent root (e.g. the event-time encoding of regenerated
    * source data changing between runs) must degrade to a rebuild,
    * never to loads against a stale stored schema.
    */
  def fresh(spark: SparkSession, root: String, schema: StructType,
            properties: Map[String, String] = Map.empty): SegmentedTable =
    if (exists(root)) {
      val t = open(spark, root)
      if (t.schema == schema && t.properties == properties) {
        t.deleteSegments(t.showSegments().map(_.id)); t.cleanFiles(); t
      } else {
        TableIO.delete(new Path(root))
        create(spark, root, schema, properties)
      }
    } else create(spark, root, schema, properties)

  /** DataFrame-writer entry with the reference's SaveMode matrix
    * (CarbonDatasourceRelation.scala:76-97).
    */
  def save(df: DataFrame, root: String, mode: SaveMode,
           properties: Map[String, String] = Map.empty): SegmentedTable = {
    val spark = df.sparkSession
    mode match {
      case SaveMode.ErrorIfExists if exists(root) =>
        throw new IllegalStateException(s"table already exists at $root")
      case SaveMode.Ignore if exists(root) => open(spark, root)
      case SaveMode.Overwrite if exists(root) =>
        val t = open(spark, root); t.overwrite(df); t
      case _ =>
        val t = if (exists(root)) open(spark, root)
                else create(spark, root, df.schema, properties)
        t.load(df); t
    }
  }
}
