package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{SegmentedTable, TableIO}

/** V2 session-catalog plugin: graft tables as FIRST-CLASS catalog
  * tables, so `SELECT * FROM graft.default.t`, `INSERT INTO
  * graft.default.t`, `SHOW TABLES IN graft.default`, `CREATE/DROP
  * TABLE graft.default.t` — and every BI tool that speaks
  * catalog-qualified SQL — resolve through the session catalog
  * instead of the TVF spelling. Reference parity:
  * CarbonMetastoreCatalog.lookupRelation
  * (integration/spark/src/main/scala/org/apache/spark/sql/hive/
  * CarbonMetastoreCatalog.scala:125-263) made cubes resolvable as
  * Hive catalog tables; this is the Spark-4 native form. Register
  * with `spark.sql.catalog.graft = graft.sql.GraftCatalogPlugin`.
  *
  * The TVFs stay for versioned reads (`graft_table('t', <asof>)`) —
  * catalog identifiers name CURRENT state.
  *
  * Resolution maps `graft.default.<name>` to `<spark.graft.store>/
  * <name>`, the same root the DDL commands and [[GraftCatalog]] use,
  * so tables created by `CREATE GRAFT TABLE`/`CREATE CUBE`/the API
  * are immediately visible catalog-side and vice versa.
  */
class GraftCatalogPlugin extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private var rootOverride: Option[String] = None

  /** `spark.sql.catalog.<name>.root = <dir>` pins THIS catalog
    * instance to its own store root — several graft catalogs can then
    * coexist in one session over disjoint stores (a scratch catalog
    * next to the production one, a per-pipeline staging store). With
    * no option the catalog follows the session-wide
    * `spark.graft.store`, the same root the DDL dialect uses.
    */
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootOverride = Option(options.get("root")).filter(_.nonEmpty)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def store: String =
    rootOverride.getOrElse(GraftCatalog.storeRoot(spark))

  /** The single-level namespace name an identifier's namespace array
    * resolves to, None when it names no EXISTING namespace (deeper
    * nesting included — the store layout is `store/<ns>/<table>`,
    * one level, like the reference's `storePath/<db>/<table>`).
    */
  private def nsNameOpt(ns: Array[String]): Option[String] = ns match {
    case Array() => Some("default")
    case Array(one) if GraftCatalog.namespaceExists(store, one) => Some(one)
    case _ => None
  }

  /** The directory `ident`'s namespace maps to (the store root for
    * `default`, `store/<ns>` otherwise).
    */
  private def nsRootFor(ident: Identifier): String =
    GraftCatalog.nsRootOf(store,
      nsNameOpt(ident.namespace)
        .getOrElse(throw new NoSuchTableException(ident)))

  /** Strict logical-name resolution (honors RENAME's name→dir
    * indirection, per namespace; a rename-claimed physical dir name
    * does NOT resolve). Falls back to the identity path for error
    * messages and the not-exists checks.
    */
  private def pathFor(ident: Identifier): String = {
    val r = nsRootFor(ident)
    GraftCatalog.resolvedPath(r, ident.name).getOrElse(s"$r/${ident.name}")
  }

  private def reachable(ident: Identifier): Boolean =
    nsNameOpt(ident.namespace).exists { ns =>
      val r = GraftCatalog.nsRootOf(store, ns)
      GraftCatalog.resolvedPath(r, ident.name).exists(GraftCatalog.isTablePath)
    }

  private val DefaultNs = Array("default")

  override def defaultNamespace(): Array[String] = DefaultNs

  /** Aggregate tables (MVs) visible through THIS catalog: all of them
    * for the session-wide catalog, only those over its own store for a
    * root-scoped one. They browse and SELECT like tables (read-only —
    * BI tools see rollups next to their bases) but stay owned by the
    * MV lifecycle: writes/renames/drops go through the MV DDL, not
    * the table surface.
    */
  private def visibleMvs(): Seq[graft.mv.AggTableMeta] =
    graft.mv.AggTables.registered(spark).filter(m =>
      rootOverride.forall(r =>
        m.basePath == r || m.basePath.startsWith(s"$r/")))

  private def mvMetaFor(ident: Identifier): Option[graft.mv.AggTableMeta] =
    nsNameOpt(ident.namespace).filter(_ == "default")
      .flatMap(_ => visibleMvs().find(_.name == ident.name))

  // ---- TableCatalog -------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val nsName = nsNameOpt(ns).getOrElse(throw new NoSuchNamespaceException(ns))
    val nsRoot = GraftCatalog.nsRootOf(store, nsName)
    val root = new Path(nsRoot)
    if (!TableIO.exists(root)) Array.empty
    else {
      // list LOGICAL names: a rename-claimed dir shows under the name
      // that claimed it, every other dir under its own. The per-dir
      // table check rides the positive memo (GraftCatalog.isTablePath)
      // so a large store costs ONE listing, not a stat per table; the
      // prune drops memo entries whose dir vanished out-of-band.
      // Namespace dirs under the default root carry no table meta, so
      // the same check excludes them from the default listing.
      val logical = GraftCatalog.nameMap(nsRoot).map(_.swap)
      val dirs = TableIO.listStatus(root)
        .filter(_.isDirectory)
        .map(_.getPath)
      GraftCatalog.pruneTablePaths(nsRoot, dirs.map(_.getName).toSet)
      val tables = dirs
        .filter(p => GraftCatalog.isTablePath(p.toString))
        .map(p => logical.getOrElse(p.getName, p.getName))
      // registered MVs browse alongside their bases (default ns only;
      // a real table dir of the same name wins)
      val mvs =
        if (nsName != "default") Nil
        else visibleMvs().map(_.name).filterNot(tables.contains)
      (tables ++ mvs).distinct
        .map(n => Identifier.of(Array(nsName), n))
        .sortBy(_.name)
        .toArray
    }
  }

  override def loadTable(ident: Identifier): Table = {
    if (reachable(ident))
      new GraftV2Table(ident, pathFor(ident), catalogPluginName = catalogName)
    else mvMetaFor(ident) match {
      case Some(mv) => new GraftMvV2Table(ident, mv.mvPath)
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <v>` — catalog versions ARE the table's version
    * numbers (the same ones SHOW GRAFT HISTORY and `graft_table('t',
    * v)` name), so the identifier surface and the TVF surface time
    * travel to identical snapshots.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!reachable(ident)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"graft catalog: VERSION AS OF expects a numeric catalog " +
        s"version, got '$version'"))
    new GraftV2Table(ident, pathFor(ident), Some(v), catalogPluginName = catalogName)
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands the instant in MICROseconds;
    * resolved to the version that was current then (see
    * [[SegmentedTable.versionAsOfTimestamp]]).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!reachable(ident)) throw new NoSuchTableException(ident)
    val t = SegmentedTable.open(spark, pathFor(ident))
    val v = t.versionAsOfTimestamp(timestampMicros / 1000L)
    new GraftV2Table(ident, pathFor(ident), Some(v), catalogPluginName = catalogName)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val nsName = nsNameOpt(ident.namespace)
      .getOrElse(throw new NoSuchNamespaceException(ident.namespace))
    if (SegmentedTable.exists(pathFor(ident)))
      throw new TableAlreadyExistsException(ident)
    if (nsName == "default" &&
        GraftCatalog.namespaceExists(store, ident.name))
      throw new IllegalArgumentException(
        s"graft catalog: cannot create table '${ident.name}' in the " +
          "default namespace — a namespace of that name exists")
    // identity PARTITIONED BY transforms map to the engine's
    // partition_columns bucketed layout (the g03 co-location
    // machinery) — the boilerplate `CREATE TABLE ... PARTITIONED BY
    // (k)` any tool emits works; non-identity transforms (bucket,
    // days, ...) have no layout equivalent and fail loudly
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform '$other' — " +
          "only identity transforms (PARTITIONED BY (col, ...)) map " +
          "to the engine's co-located bucketed layout")
    }
    // Spark stuffs engine bookkeeping (provider/location/owner) into
    // the property map; only user properties reach the table
    val props = properties.asScala.toMap --
      Seq("provider", "location", "owner", "comment", "external")
    val withParts =
      if (partCols.isEmpty) props
      else props + ("partition_columns" -> partCols.mkString(","))
    SegmentedTable.create(spark, pathFor(ident), schema, withParts)
    loadTable(ident)
  }

  /** DEFAULT-carrying ADD COLUMN is accepted (the engine's
    * schema-evolution defaults — old segments read the default where
    * the column is absent); advertised via
    * [[TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE]] so the
    * analyzer lets `ADD COLUMN c T DEFAULT v` through.
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!reachable(ident)) throw new NoSuchTableException(ident)
    var t = SegmentedTable.open(spark, pathFor(ident))
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft catalog: nested column adds are not supported")
        // the engine stores defaults as strings cast at read time, so
        // the analyzed literal round-trips through its string form
        val default = Option(add.defaultValue)
          .map(d => String.valueOf(d.getValue.value))
        t = t.addColumn(add.fieldNames.head, add.dataType, default)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft catalog: nested column drops are not supported")
        t = t.dropColumn(del.fieldNames.head)
      case set: TableChange.SetProperty =>
        t = t.alterProperties(Map(set.property -> set.value))
      case rm: TableChange.RemoveProperty =>
        t = t.alterProperties(Map.empty, Seq(rm.property))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    // resolution + delete + memo-invalidate + name-map pruning run as
    // ONE critical section under the namespace's name-map lock, so a
    // concurrent RENAME can never redirect the drop or resurrect the
    // dropped entry (r16 verdict; fuzz-pinned in ConcurrencySpec)
    nsNameOpt(ident.namespace).exists(ns =>
      GraftCatalog.dropTableUnderLock(
        GraftCatalog.nsRootOf(store, ns), ident.name, lax = false))

  /** RENAME via the store-root name indirection (`_names.json`): the
    * LOGICAL name remaps; the physical segment directory — the path
    * MV registrations and streaming checkpoints embed — stays where
    * it is, so both survive the rename untouched (GraftSqlSpec pins
    * exactly that round-trip). Renaming back to the directory's own
    * name folds the entry away again.
    */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!reachable(from)) throw new NoSuchTableException(from)
    val fromNs = nsNameOpt(from.namespace).get
    val toNs = nsNameOpt(to.namespace)
      .getOrElse(throw new NoSuchNamespaceException(to.namespace))
    // renames stay WITHIN a namespace: the name→dir indirection is
    // per-namespace, and a cross-namespace "rename" is really a
    // physical move of the segment directory — MOVE GRAFT TABLE does
    // that with the registrations that embed the path kept coherent
    // (MVs re-based, durable stream lineages guarded behind FORCE)
    if (fromNs != toNs)
      throw new UnsupportedOperationException(
        s"graft catalog: cross-namespace rename ($fromNs → $toNs) is a " +
          "physical move — use MOVE GRAFT TABLE " +
          s"$fromNs.${from.name} TO $toNs.${to.name} [FORCE]")
    val nsRoot = GraftCatalog.nsRootOf(store, fromNs)
    val m = GraftCatalog.nameMap(nsRoot)
    val fromDir = m.getOrElse(from.name, from.name)
    // the target conflicts when another LOGICAL table answers to it:
    // a mapped name, a dir claimed by a different entry, or an
    // unclaimed existing dir — but renaming BACK to the source's own
    // physical dir name is the legal fold-away case
    val toTaken =
      m.contains(to.name) ||
        (m.valuesIterator.contains(to.name) && to.name != fromDir) ||
        (!m.valuesIterator.contains(to.name) &&
          SegmentedTable.exists(s"$nsRoot/${to.name}") && to.name != fromDir)
    if (toTaken && to.name != from.name)
      throw new TableAlreadyExistsException(to)
    // the pre-check above is the fast path with the V2-typed error;
    // renameEntry RE-VERIFIES target availability inside the name-map
    // lock (two racing renames to one target: exactly one wins)
    try GraftCatalog.renameEntry(nsRoot, from.name, to.name)
    catch {
      case _: GraftCatalog.RenameTargetTakenException =>
        throw new TableAlreadyExistsException(to)
    }
  }

  // ---- SupportsNamespaces --------------------------------------------
  // Namespaces are store-root subdirectories with a `_ns.json` marker
  // (reference store layout: storePath/<db>/<table>); `default` is the
  // root itself and always exists. Single level, like the reference's
  // schema.cube two-part names.

  override def listNamespaces(): Array[Array[String]] =
    GraftCatalog.listNamespaceNames(store).map(Array(_)).toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (nsNameOpt(ns).isDefined) Array.empty // no nesting below level 1
    else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean =
    nsNameOpt(ns).isDefined

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] =
    nsNameOpt(ns) match {
      case Some(n) => GraftCatalog.namespaceMetadata(store, n).asJava
      case None => throw new NoSuchNamespaceException(ns)
    }

  override def createNamespace(ns: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    require(ns.length == 1,
      s"graft catalog: namespaces are single-level, got ${ns.mkString(".")}")
    if (nsNameOpt(ns).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(ns)
    GraftCatalog.createNamespace(store, ns.head,
      metadata.asScala.toMap - "owner")
  }

  override def alterNamespace(ns: Array[String],
                              changes: NamespaceChange*): Unit = {
    val n = nsNameOpt(ns).getOrElse(throw new NoSuchNamespaceException(ns))
    require(n != "default",
      "graft catalog: the default namespace carries no metadata")
    val sets = changes.collect {
      case s: NamespaceChange.SetProperty => s.property -> s.value
    }.toMap
    val unsets = changes.collect {
      case r: NamespaceChange.RemoveProperty => r.property
    }
    GraftCatalog.alterNamespaceMetadata(store, n, sets, unsets)
  }

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    nsNameOpt(ns) match {
      case Some("default") => throw new UnsupportedOperationException(
        "graft catalog: the default namespace cannot be dropped")
      case Some(n) => GraftCatalog.dropNamespace(store, n, cascade)
      case None => false
    }
}

/** A graft table surfaced through the V2 catalog.
  *
  * READ — two paths, chosen per scan:
  *  - no declared column defaults (the common case): Spark's own
  *    Parquet scan builder over a [[graft.table.GraftSnapshotFileIndex]]
  *    of the CURRENT live segments — the full vectorized DSv2 parquet
  *    path, filter/column pushdown included, with every file named by
  *    the catalog (loadTable runs at analysis, so every query sees a
  *    fresh snapshot of the segment set);
  *  - declared defaults present: a [[V1Scan]] over
  *    [[SegmentedTable.read]], which coalesces defaults — correct on
  *    evolved tables at the cost of the row-conversion boundary.
  *
  * WRITE — [[V1Write]] into the segment commit protocol:
  * INSERT INTO appends one atomically-committed segment via
  * [[SegmentedTable.load]]; INSERT OVERWRITE (full-table only) is
  * [[SegmentedTable.overwrite]] — one status commit that retires the
  * live set and registers the replacement, so readers never observe
  * an empty intermediate state.
  *
  * DELETE/TRUNCATE — [[SupportsDeleteV2]]: `DELETE FROM
  * graft.default.t WHERE p` routes Spark's V2 predicates back through
  * catalyst into [[SegmentedTable.delete]]'s one-commit copy-on-write
  * rewrite; `TRUNCATE TABLE` is a delete-all commit (history kept).
  *
  * STREAMING — [[V2TableWithV1Fallback]]: `spark.readStream
  * .table("graft.default.t")` and `writeStream.format("graft")
  * .toTable(...)` resolve to the SAME V1 [[graft.sources
  * .GraftStreamSource]]/[[graft.sources.GraftStreamSink]] machinery
  * `format("graft")` uses (Spark's analyzer swaps a
  * StreamingRelationV2 whose table lacks MICRO_BATCH_READ for the
  * declared v1 fallback, and DataStreamWriter routes toTable through
  * the provider) — catalog-version offsets, rate limiting,
  * AvailableNow admission and exactly-once epochs all carry over
  * unchanged. Reader options (e.g. `readChangeFeed`) flow through:
  * FindDataSourceTable forwards the stream reader's extraOptions into
  * the fallback relation.
  */
private[graft] class GraftV2Table(ident: Identifier, tablePath: String,
                                  asOfVersion: Option[Long] = None,
                                  catalogPluginName: String = "graft")
  extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
  with org.apache.spark.sql.graftbridge.GraftV1FallbackTable {

  private def spark: SparkSession = SparkSession.active
  private[graft] def open(): SegmentedTable = SegmentedTable.open(spark, tablePath)

  /** The live segment scan a stats fold may reason over, exposed
    * for [[graft.mv.StatsAggFromCatalog]]'s PRE-pushdown interception
    * (extension-injected optimizer rules run before V2 scan pushdown,
    * so the HYBRID fold — which the builder's all-or-nothing pushed-
    * aggregate contract cannot express — must fire on the
    * DataSourceV2Relation itself). None for time-travel snapshots and
    * defaults-bearing tables (their reads coalesce declared defaults
    * over physical NULLs, which raw segment stats know nothing about).
    */
  private[graft] def foldSnapshot: Option[SegmentedTable.SegmentScan] = {
    val t = open()
    if (asOfVersion.nonEmpty || t.hasDeclaredDefaults) None
    else Some(t.liveScan)
  }

  override def name(): String =
    asOfVersion.fold(ident.toString)(v => s"$ident@v$v")
  override def schema(): StructType = open().schema
  override def properties(): util.Map[String, String] =
    open().properties.asJava

  /** The engine's partition_columns layout surfaced as identity
    * transforms, so DESCRIBE/SHOW CREATE and catalog browsers see the
    * co-location contract `CREATE TABLE ... PARTITIONED BY` declared.
    */
  override def partitioning(): Array[Transform] =
    open().partitionColumns.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  /** The V1 face of this table, consulted ONLY on streaming paths
    * (readStream.table resolution and DataStreamWriter.toTable):
    * provider `graft` + the table path, so the fallback lands in
    * [[graft.sources.GraftSource]]'s createSource/createSink exactly
    * as a `format("graft")` stream would. Time-travel snapshots
    * refuse — a "stream" of a frozen snapshot would silently read
    * CURRENT state through the fallback's path-only contract.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(asOfVersion.isEmpty,
      s"graft catalog: cannot stream the time-travel snapshot $name")
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        ident.name, ident.namespace.lastOption.orElse(Some("default")),
        Some(catalogPluginName)),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new Path(tablePath).toUri)),
      schema = open().schema,
      provider = Some("graft"))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val t = open()
    if (t.hasDeclaredDefaults) {
      // defaults-correct fallback: the whole-table read with coalesced
      // defaults, surfaced through the V1 scan bridge
      new ScanBuilder {
        override def build(): Scan = new V1Scan {
          override def readSchema(): StructType = t.schema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = t.schema
              override def buildScan(): RDD[Row] =
                asOfVersion.fold(t.read())(t.readAsOf).rdd
            }.asInstanceOf[T]
        }
      }
    } else {
      // one snapshot feeds the scan's file index and the stats metas
      // behind aggregate pushdown — a pushed COUNT(*)/COUNT(col)/MIN/MAX
      // with no filters folds from the segment catalog as a LocalScan,
      // zero file I/O. Time-travel reads fold too: the snapshot's
      // per-segment stats are exact (dirs immutable, ids never reused).
      // A snapshot whose dirs cleanFiles removed fails here, at planning,
      // exactly as readAsOf does — the index names files from the
      // catalog, so nothing later would notice before execution
      val metas = asOfVersion.fold(t.liveSegments)(t.segmentSnapshotAt)
      // exact-filter trichotomy over the SAME snapshot: every segment
      // proven all-out (pruned) or all-in (every row matches,
      // provenAllIn) ⇒ the pruned scan IS the filtered scan — the
      // filter is dropped from the plan and a pushed COUNT/MIN/MAX
      // folds from the survivors' stats (the filtered time-range
      // aggregate answers from one catalog read through the BI-facing
      // catalog surface). One straddler ⇒ None, plain pruning with
      // the filter kept.
      val trich: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          Option[Seq[graft.table.SegmentMeta]] = filters => {
        val cond = filters.reduce(org.apache.spark.sql.catalyst.expressions.And)
        val survivors = t.pruneAmong(metas, cond)
        if (t.provenAllIn(survivors, cond)) Some(survivors) else None
      }
      // driver-side segment pruning from the pushed filters — the
      // catalog-read twin of the GraftSegmentPruning optimizer rule
      // (min/max stats eliminate whole segments before the scan plans;
      // parquet row-group stats prune further inside it). Pruning runs
      // among the CAPTURED snapshot metas, never a fresh live read:
      // runtime (join-driven) filters arrive at EXECUTION time, and a
      // compaction/DELETE committing between planning and the
      // broadcast completing must not retire a planned segment from
      // the prune answer (pruneAmong's snapshot invariant).
      val pruneFn: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          Seq[graft.table.SegmentMeta] = filters =>
        filters.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .fold(metas)(t.pruneAmong(metas, _))
      org.apache.spark.sql.graftbridge.GraftV2ScanSupport
        .segmentPrunedParquetBuilder(spark, s"graft.${ident.name}",
          t.schema, t.snapshotIndex(metas), pruneFn, trichotomy = trich)
    }
  }

  /** `DELETE FROM graft.default.t WHERE p` — Spark pushes the
    * translated filters here ([[SupportsDelete]]) and the engine's
    * copy-on-write delete runs them as ONE atomic rewrite commit
    * (stats-pruned candidate set, whole dead segments retired without
    * a rewrite — the same path the `DELETE FROM GRAFT TABLE` dialect
    * and g05 gate). `canDeleteWhere` declines anything the translation
    * can't express faithfully, so Spark fails the statement loudly
    * instead of deleting the wrong rows; SQL semantics (NULL predicate
    * = not deleted) match the engine's.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    asOfVersion.isEmpty && predicates.forall(p => predicateToColumn(p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    require(asOfVersion.isEmpty,
      s"graft catalog: cannot delete from the time-travel snapshot $name")
    val cond = predicates.toSeq.map(p => predicateToColumn(p).getOrElse(
        throw new UnsupportedOperationException(
          s"graft catalog: untranslatable DELETE predicate $p")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    open().delete(cond)
    ()
  }

  /** `TRUNCATE TABLE graft.default.t`: every live segment retired in
    * one commit — readers see the full table or the empty one, never
    * a partial, and the history keeps the pre-truncate version for
    * RESTORE/time travel (delete-all, not a directory wipe).
    */
  override def truncateTable(): Boolean = {
    require(asOfVersion.isEmpty,
      s"graft catalog: cannot truncate the time-travel snapshot $name")
    open().delete(org.apache.spark.sql.functions.lit(true))
    true
  }

  /** V2 predicate -> Column through Spark's own reverse translation
    * (the one runtime filtering uses), so arithmetic/modulo/function
    * predicates survive where the V1 Filter bridge would drop them;
    * anything it cannot express stays None and the statement fails
    * loudly at `canDeleteWhere`.
    */
  private def predicateToColumn(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Column] =
    org.apache.spark.sql.catalyst.expressions.V2ExpressionUtils.toCatalyst(p)
      .map(org.apache.spark.sql.graftbridge.ColumnExpr.toColumn)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfVersion.isEmpty,
      s"graft catalog: cannot write to the time-travel snapshot $name")
    new WriteBuilder with SupportsOverwrite {
      private var doTruncate = false

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        require(filters.forall(_.isInstanceOf[AlwaysTrue]),
          "graft catalog: only full-table INSERT OVERWRITE is " +
            s"supported, got filters ${filters.mkString(", ")}")
        doTruncate = true
        this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val t = open()
              // by-position semantics, like every V1 insert: align to
              // the table schema's names before the load validates it
              val aligned = data.toDF(t.schema.fieldNames: _*)
                .select(t.schema.fieldNames.map(col): _*)
              // INSERT OVERWRITE is SegmentedTable.overwrite — ONE
              // atomic commit that retires the live set and registers
              // the replacement, so concurrent readers never see the
              // empty intermediate (and a crash mid-way leaves the old
              // table live)
              if (doTruncate || overwrite) t.overwrite(aligned)
              else t.load(aligned)
              ()
            }
          }
      }
    }
  }
}

/** A registered aggregate table (MV) surfaced READ-ONLY through the V2
  * catalog: BI tools browse and SELECT the rollup next to its base
  * (`SELECT * FROM graft.default.<mv>`), while its lifecycle —
  * refresh, drop, versioned rewrite paths — stays with the MV DDL.
  * No SupportsWrite/SupportsDeleteV2: Spark rejects INSERT/DELETE
  * against it at analysis. The mvPath is re-resolved per loadTable,
  * so each query reads the MV's CURRENT version after any refresh.
  */
private[sql] class GraftMvV2Table(ident: Identifier, mvPath: String)
  extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"$ident (aggregate table)"
  // schema() is called repeatedly during analysis — cache the footer
  // read per mvPath. Freshness is preserved: a refresh writes a NEW
  // versioned path and loadTable re-resolves it, so a stale entry is
  // simply never looked up again.
  override def schema(): StructType =
    GraftMvV2Table.schemaCache.computeIfAbsent(mvPath,
      p => spark.read.parquet(p).schema)
  override def properties(): util.Map[String, String] =
    java.util.Collections.singletonMap("graft.mv", "true")

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      s"graft.mv.${ident.name}", spark, CaseInsensitiveStringMap.empty(),
      Seq(mvPath), Some(schema()),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
      .newScanBuilder(CaseInsensitiveStringMap.empty())
}

private[sql] object GraftMvV2Table {
  /** mvPath → StructType. Bounded in practice: one entry per MV
    * VERSION touched in this driver's lifetime, each a few KB.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
}

/** Session-catalog mirror — the reference's Hive-metastore mirroring
  * (`CarbonMetastoreCatalog.scala:229-263` loadMetadata registers
  * every cube into the Hive metastore, so ANY Hive-aware session sees
  * the tables with no engine conf). The Spark-4 native form: register
  * as the `spark_catalog` extension —
  *
  *   spark.sql.catalog.spark_catalog = graft.sql.GraftSessionCatalog
  *
  * — and BARE identifiers resolve to graft tables when the session
  * catalog has none: `spark.table("t")`, `SELECT * FROM t`,
  * unqualified INSERT/SHOW TABLES, with zero other graft conf (store
  * root defaults apply). Precedence is strict: the real session
  * catalog always wins — mirroring can never shadow a Hive/parquet
  * table of the same name. Reads resolve to full [[GraftV2Table]]s
  * (scan pruning, writes, time travel included); lifecycle DDL
  * (CREATE/ALTER/RENAME) stays with the session catalog or the graft
  * dialect — only DROP falls through, because Spark's DropTableExec
  * ignores a `false` return and would otherwise no-op SILENTLY on a
  * mirrored name it just resolved.
  */
class GraftSessionCatalog extends DelegatingCatalogExtension {

  private val graft = new GraftCatalogPlugin

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    graft.initialize(name, options)
  }

  private def graftFallback[T](primary: => T)(fallback: => T): T =
    try primary
    catch {
      case e: NoSuchTableException =>
        try fallback
        catch { case _: NoSuchTableException => throw e }
      case e: NoSuchNamespaceException =>
        // the session catalog throws the namespace variant for an
        // unknown database (e.g. `SELECT * FROM staging.t` where
        // `staging` is a graft namespace, not a Hive database)
        try fallback
        catch { case _: Exception => throw e }
    }

  override def loadTable(ident: Identifier): Table =
    graftFallback(super.loadTable(ident))(graft.loadTable(ident))

  override def loadTable(ident: Identifier, version: String): Table =
    graftFallback(super.loadTable(ident, version))(
      graft.loadTable(ident, version))

  override def loadTable(ident: Identifier, timestamp: Long): Table =
    graftFallback(super.loadTable(ident, timestamp))(
      graft.loadTable(ident, timestamp))

  override def tableExists(ident: Identifier): Boolean =
    super.tableExists(ident) || graft.tableExists(ident)

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val base =
      try super.listTables(ns)
      catch { case e: NoSuchNamespaceException =>
        if (graft.namespaceExists(ns)) Array.empty[Identifier] else throw e }
    val mirrored =
      try graft.listTables(ns)
      catch { case _: NoSuchNamespaceException => Array.empty[Identifier] }
    val names = base.map(_.name).toSet
    base ++ mirrored.filterNot(i => names.contains(i.name))
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    super.namespaceExists(ns) || graft.namespaceExists(ns)

  override def invalidateTable(ident: Identifier): Unit = {
    super.invalidateTable(ident)
    graft.invalidateTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    super.dropTable(ident) || graft.dropTable(ident)
}
