package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.dsum
import graft.table.SegmentedTable

/** Segment-lifecycle operators run through the DuckDB gate: the table
  * is (re)built from the driver's parquet inputs inside /tmp, so the
  * oracle is simply the equivalent query over the original table —
  * load, pruned scan, and compaction must be exactly row-preserving.
  */
object SegmentQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Build-once-per-JVM cache (Verify/Bench call each query once). */
  private val built = new graft.util.BuildOnce[SegmentedTable]

  /** g18's catalog-DML'd table, cached by its catalog identifier. */
  private val catalogDml = new graft.util.BuildOnce[String]

  private def catalogDmlTable(s: SparkSession, d: String): String =
    catalogDml.getOrElseUpdate(s"gdml|$d|${s.sparkContext.applicationId}", {
      val cat = s"gdml${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_dml/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.orders(s, d).createOrReplaceTempView("g18_orders_src")
      s.sql(s"CREATE TABLE $cat.default.ord USING graft " +
        "AS SELECT * FROM g18_orders_src")
      s.sql(s"DELETE FROM $cat.default.ord " +
        "WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0")
      s"$cat.default.ord"
    })

  /** g23's catalog table: lineitem in two segments behind a V2
    * catalog identifier, so the gate's aggregates travel the
    * SupportsPushDownAggregates → LocalScan fold.
    */
  private val catalogStats = new graft.util.BuildOnce[String]

  private def catalogStatsTable(s: SparkSession, d: String): String =
    catalogStats.getOrElseUpdate(s"gcs|$d|${s.sparkContext.applicationId}", {
      val cat = s"gcs${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_stats/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.lineitem(s, d).createOrReplaceTempView("g23_lineitem_src")
      s.sql(s"CREATE TABLE $cat.default.li_stats USING graft " +
        "AS SELECT * FROM g23_lineitem_src WHERE l_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $cat.default.li_stats " +
        "SELECT * FROM g23_lineitem_src WHERE l_orderkey % 2 <> 0")
      s"$cat.default.li_stats"
    })

  /** g24's catalog table: lineitem behind a V2 catalog identifier in
    * two SEGMENT-ALIGNED loads (ship year ≤1995 / >1995), so a
    * time-range predicate proves one segment all-out and the other
    * all-in — the filtered aggregate then folds from the catalog as a
    * LocalScan through the V2 path (plan pin in GraftSqlSpec).
    */
  private val catalogAligned = new graft.util.BuildOnce[String]

  private def catalogAlignedTable(s: SparkSession, d: String): String =
    catalogAligned.getOrElseUpdate(s"gca|$d|${s.sparkContext.applicationId}", {
      val cat = s"gca${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_aligned/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.lineitem(s, d).createOrReplaceTempView("g24_lineitem_src")
      s.sql(s"CREATE TABLE $cat.default.li_aligned USING graft " +
        "AS SELECT * FROM g24_lineitem_src WHERE year(l_shipdate) <= 1995")
      s.sql(s"INSERT INTO $cat.default.li_aligned " +
        "SELECT * FROM g24_lineitem_src WHERE year(l_shipdate) > 1995")
      s"$cat.default.li_aligned"
    })

  /** g32's catalog table: lineitem behind a V2 catalog identifier in
    * THREE ship-year loads (≤1994, 1995, ≥1996) so a time-range
    * predicate proves one segment all-out, one all-in, and STRADDLES
    * the third — the hybrid fold's shape through the BI-facing catalog
    * surface (plan pin in GraftSqlSpec: LocalTableScan partials + a
    * scan of exactly the straddler's dir).
    */
  private val catalogHybrid = new graft.util.BuildOnce[String]

  private def catalogHybridTable(s: SparkSession, d: String): String =
    catalogHybrid.getOrElseUpdate(s"gch|$d|${s.sparkContext.applicationId}", {
      val cat = s"gch${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_hybrid/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.lineitem(s, d).createOrReplaceTempView("g32_lineitem_src")
      s.sql(s"CREATE TABLE $cat.default.li_hybrid USING graft " +
        "AS SELECT * FROM g32_lineitem_src WHERE year(l_shipdate) <= 1994")
      s.sql(s"INSERT INTO $cat.default.li_hybrid " +
        "SELECT * FROM g32_lineitem_src WHERE year(l_shipdate) = 1995")
      s.sql(s"INSERT INTO $cat.default.li_hybrid " +
        "SELECT * FROM g32_lineitem_src WHERE year(l_shipdate) > 1995")
      s"$cat.default.li_hybrid"
    })

  /** g35's catalog table: orders in three KEY-RANGE loads — the
    * key-clustered fact of a star join, where runtime (join-driven)
    * segment pruning drops whole segments once the broadcast dim
    * side's surviving keys are known (GraftSqlSpec pins the
    * file-count; this gate proves result parity under the pruning).
    */
  private val catalogRuntime = new graft.util.BuildOnce[String]

  private def catalogRuntimeJoinTable(s: SparkSession, d: String): String =
    catalogRuntime.getOrElseUpdate(s"gcr|$d|${s.sparkContext.applicationId}", {
      val cat = s"gcr${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_runtime/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.orders(s, d).createOrReplaceTempView("g35_orders_src")
      s.sql(s"CREATE TABLE $cat.default.ordruntime USING graft " +
        "AS SELECT * FROM g35_orders_src WHERE o_orderkey <= 500")
      s.sql(s"INSERT INTO $cat.default.ordruntime " +
        "SELECT * FROM g35_orders_src WHERE o_orderkey > 500 AND o_orderkey <= 1000")
      s.sql(s"INSERT INTO $cat.default.ordruntime " +
        "SELECT * FROM g35_orders_src WHERE o_orderkey > 1000")
      s"$cat.default.ordruntime"
    })

  /** g37's catalog table: lineitem with a true DECIMAL(12,2) money
    * column behind a V2 catalog identifier, two loads — the decimal
    * SUM/AVG folds proven on the BI-facing SQL surface (the rule's
    * V2 interception serves what the builder's pushed-aggregate
    * contract cannot).
    */
  private val catalogDecimal = new graft.util.BuildOnce[String]

  private def catalogDecimalTable(s: SparkSession, d: String): String =
    catalogDecimal.getOrElseUpdate(s"gcd|$d|${s.sparkContext.applicationId}", {
      val cat = s"gcd${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_decimal/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.lineitem(s, d).createOrReplaceTempView("g37_lineitem_src")
      s.sql(s"CREATE TABLE $cat.default.li_decimal USING graft " +
        "AS SELECT l_orderkey, l_quantity, " +
        "CAST(l_extendedprice AS DECIMAL(12,2)) AS l_price_dec, l_shipdate " +
        "FROM g37_lineitem_src WHERE l_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $cat.default.li_decimal " +
        "SELECT l_orderkey, l_quantity, " +
        "CAST(l_extendedprice AS DECIMAL(12,2)), l_shipdate " +
        "FROM g37_lineitem_src WHERE l_orderkey % 2 <> 0")
      s"$cat.default.li_decimal"
    })

  /** g27's catalog table: orders behind a V2 catalog identifier, one
    * INSERT per order status — the group key is constant per segment,
    * so a catalog-side GROUP BY folds from segment stats through the
    * grouped aggregate pushdown (LocalScan of one row per group).
    */
  private val catalogGrouped = new graft.util.BuildOnce[String]

  private def catalogGroupedTable(s: SparkSession, d: String): String =
    catalogGrouped.getOrElseUpdate(s"gcg|$d|${s.sparkContext.applicationId}", {
      val cat = s"gcg${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_grouped/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.orders(s, d).createOrReplaceTempView("g27_orders_src")
      s.sql(s"CREATE TABLE $cat.default.obs USING graft " +
        "AS SELECT * FROM g27_orders_src WHERE o_orderstatus = 'O'")
      Seq("F", "P").foreach(st =>
        s.sql(s"INSERT INTO $cat.default.obs " +
          s"SELECT * FROM g27_orders_src WHERE o_orderstatus = '$st'"))
      s"$cat.default.obs"
    })

  /** g29's catalog table + the snapshot version to time-travel to:
    * CTAS loads the ≤1995 ship-years (the frozen snapshot the gate
    * aggregates), a second INSERT moves the table past it. Returns
    * "name|version".
    */
  private val catalogTimeTravel = new graft.util.BuildOnce[String]

  private def catalogTimeTravelTable(s: SparkSession, d: String): String =
    catalogTimeTravel.getOrElseUpdate(s"gtt|$d|${s.sparkContext.applicationId}", {
      val cat = s"gtt${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_catalog_tt/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.lineitem(s, d).createOrReplaceTempView("g29_lineitem_src")
      s.sql(s"CREATE TABLE $cat.default.li_tt USING graft " +
        "AS SELECT * FROM g29_lineitem_src WHERE year(l_shipdate) <= 1995")
      // the CURRENT version right after the CTAS is the snapshot
      val v = SegmentedTable.open(s, s"$root/li_tt").versions.max
      s.sql(s"INSERT INTO $cat.default.li_tt " +
        "SELECT * FROM g29_lineitem_src WHERE year(l_shipdate) > 1995")
      s"$cat.default.li_tt|$v"
    })

  /** `stmt` parsed and analyzed by Spark, then planned by the graft
    * row-level DML rule — what a session with the graft extensions
    * does to an ANSI MERGE/UPDATE on a graft catalog table.
    */
  private def graftDml(s: SparkSession, stmt: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    graft.sql.GraftRowLevelDml(s.sessionState.analyzer.executeAndCheck(
      s.sessionState.sqlParser.parsePlan(stmt),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker))

  /** g19's full-MERGE'd table: one mixed ANSI MERGE — conditional
    * UPDATE with expression assignments, bare DELETE, conditional
    * column-list INSERT — applied through the catalog SQL surface.
    */
  private val mergeFullDml = new graft.util.BuildOnce[String]

  private def mergeFullTable(s: SparkSession, d: String): String =
    mergeFullDml.getOrElseUpdate(s"gmf|$d|${s.sparkContext.applicationId}", {
      val cat = s"gmf${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_merge_full/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.orders(s, d).createOrReplaceTempView("g19_orders_src")
      s.sql(s"CREATE TABLE $cat.default.mord USING graft " +
        "AS SELECT * FROM g19_orders_src")
      // matched 'O' rows re-price, every other matched row deletes,
      // unmatched cheap source rows insert with a column list. The
      // statement is analyzed and converted by the graft rule
      // EXPLICITLY: Verify's session has no injected extensions
      // (analyzer rules cannot be added at runtime), and the gate must
      // exercise the same parse → analyze → MergeFullGraftCommand →
      // mergeFull path a session-with-extensions user gets.
      val stmt =
        s"""MERGE INTO $cat.default.mord t
            USING (SELECT o_orderkey AS k, o_totalprice AS p
                   FROM g19_orders_src WHERE o_orderkey % 4 = 1
                   UNION ALL
                   SELECT o_orderkey + 10000000, o_totalprice
                   FROM g19_orders_src WHERE o_orderkey % 4 = 2) s
            ON t.o_orderkey = s.k
            WHEN MATCHED AND t.o_orderstatus = 'O' THEN
              UPDATE SET o_totalprice = s.p * 2
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.p < 100000 THEN
              INSERT (o_orderkey, o_orderstatus, o_totalprice)
              VALUES (s.k, 'N', s.p)"""
      graftDml(s, stmt) match {
        case cmd: graft.sql.MergeFullGraftCommand => cmd.run(s)
        case other => throw new IllegalStateException(
          s"g19 statement must parse to the full-merge command, got $other")
      }
      s"$cat.default.mord"
    })

  /** g20's table: ONE statement exercising all three MERGE clause
    * families — conditional matched UPDATE, matched DELETE,
    * conditional column-list INSERT, and the full-sync `WHEN NOT
    * MATCHED BY SOURCE` pair (conditional DELETE + catch-all UPDATE)
    * acting on target rows the source does not carry.
    */
  private val mergeBySourceDml = new graft.util.BuildOnce[String]

  private def mergeBySourceTable(s: SparkSession, d: String): String =
    mergeBySourceDml.getOrElseUpdate(s"gbs|$d|${s.sparkContext.applicationId}", {
      val cat = s"gbs${(d + s.sparkContext.applicationId).hashCode.abs}"
      val root = graft.util.RunRoot.under(
        s"graft_merge_by_source/${d.replace('/', '_')}")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.orders(s, d).createOrReplaceTempView("g20_orders_src")
      s.sql(s"CREATE TABLE $cat.default.bsord USING graft " +
        "AS SELECT * FROM g20_orders_src")
      // the source carries keys %4==1 (as-is) and %4==2 (shifted →
      // source-only inserts); every OTHER target row is by-source:
      // 'F' rows delete, the rest re-flag to 'Z'. The matched family
      // re-prices 'O' rows and deletes the rest — so all five clauses
      // fire. A clause condition is a top-level CASE WHEN ... THEN ...
      // END, whose WHEN/THEN belong to the condition, not the clause
      // list.
      val stmt =
        s"""MERGE INTO $cat.default.bsord t
            USING (SELECT o_orderkey AS k, o_totalprice AS p
                   FROM g20_orders_src WHERE o_orderkey % 4 = 1
                   UNION ALL
                   SELECT o_orderkey + 10000000, o_totalprice
                   FROM g20_orders_src WHERE o_orderkey % 4 = 2) s
            ON t.o_orderkey = s.k
            WHEN MATCHED AND CASE WHEN t.o_orderstatus = 'O'
                             THEN true ELSE false END THEN
              UPDATE SET o_totalprice = s.p * 2
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.p < 100000 THEN
              INSERT (o_orderkey, o_orderstatus, o_totalprice)
              VALUES (s.k, 'N', s.p)
            WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F' THEN
              DELETE
            WHEN NOT MATCHED BY SOURCE THEN
              UPDATE SET o_orderstatus = 'Z'"""
      graftDml(s, stmt) match {
        case cmd: graft.sql.MergeFullGraftCommand =>
          require(cmd.bySource.size == 2,
            s"g20 statement must carry 2 by-source clauses, got $cmd")
          cmd.run(s)
        case other => throw new IllegalStateException(
          s"g20 statement must parse to the full-merge command, got $other")
      }
      s"$cat.default.bsord"
    })

  private def lineitemTable(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"li|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/lineitem")
      val li = Tables.lineitem(s, d)
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("sort_columns" -> "l_shipdate"))
      // two loads split on ship year → disjoint segment date ranges
      t.load(li.filter(year(col("l_shipdate")) <= 1995))
      t.load(li.filter(year(col("l_shipdate")) > 1995))
      t
    })

  /** g25's table: lineitem in THREE ship-year segments (≤1994, 1995,
    * ≥1996) so a range predicate can prove one all-out, one all-in,
    * and leave one straddling — the hybrid fold's shape.
    */
  private def lineitemThreeSegs(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"li3|$d", {
      val root = graft.util.RunRoot.under(
        s"graft_tables/${d.replace('/', '_')}/lineitem3")
      val li = Tables.lineitem(s, d)
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("sort_columns" -> "l_shipdate"))
      t.load(li.filter(year(col("l_shipdate")) <= 1994))
      t.load(li.filter(year(col("l_shipdate")) === 1995))
      t.load(li.filter(year(col("l_shipdate")) > 1995))
      t
    })

  /** g33's table: lineitem with l_extendedprice projected to a true
    * DECIMAL(12,2) column, in two SEGMENT-ALIGNED ship-year loads —
    * the money-column shape (exact decimal SUM/AVG folds, r20) behind
    * a filter the trichotomy can prove.
    */
  private def lineitemDecimalSegs(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"lidec|$d", {
      val root = graft.util.RunRoot.under(
        s"graft_tables/${d.replace('/', '_')}/lineitem_decimal")
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
          .as("l_price_dec"),
        col("l_shipdate"))
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("sort_columns" -> "l_shipdate"))
      t.load(li.filter(year(col("l_shipdate")) <= 1995))
      t.load(li.filter(year(col("l_shipdate")) > 1995))
      t
    })

  /** g34's table: orders with o_totalprice as DECIMAL(12,2), loaded
    * once per order status — decimal SUM/AVG folds per segment group.
    */
  private def ordersDecimalByStatus(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"odec|$d", {
      val root = graft.util.RunRoot.under(
        s"graft_tables/${d.replace('/', '_')}/orders_decimal_by_status")
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
          .as("o_price_dec"),
        col("o_orderdate"))
      val t = SegmentedTable.fresh(s, root, o.schema, Map.empty)
      Seq("O", "F", "P").foreach(st =>
        t.load(o.filter(col("o_orderstatus") === st)))
      t
    })

  /** g36's table: lineitem in ONE segment sorted by l_shipdate — the
    * ordered-scan elision's shape (a K-way merge of the per-file
    * sorted runs serves a global ORDER BY with no SortExec;
    * MergeSortedScanSpec pins the plan on both the fire and decline
    * sides).
    */
  private def sortedLineitemSingle(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"lis1|$d", {
      val root = graft.util.RunRoot.under(
        s"graft_tables/${d.replace('/', '_')}/lineitem_sorted1")
      val li = Tables.lineitem(s, d)
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("sort_columns" -> "l_shipdate"))
      t.load(li)
      t
    })

  /** g26's table: orders loaded once per order status — the group key
    * is CONSTANT per segment (identity-partitioned loads), the shape
    * the grouped stats fold serves from the catalog.
    */
  private def ordersByStatus(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"obs|$d", {
      val root = graft.util.RunRoot.under(
        s"graft_tables/${d.replace('/', '_')}/orders_by_status")
      val o = Tables.orders(s, d)
      val t = SegmentedTable.fresh(s, root, o.schema, Map.empty)
      Seq("O", "F", "P").foreach(st =>
        t.load(o.filter(col("o_orderstatus") === st)))
      t
    })

  /** g28's table: two status-constant loads plus one MIXED remainder
    * load — the grouped-hybrid shape (only the aligned loads fold).
    */
  private def ordersMixedStatus(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"oms|$d", {
      val root = graft.util.RunRoot.under(
        s"graft_tables/${d.replace('/', '_')}/orders_mixed_status")
      val o = Tables.orders(s, d)
      val t = SegmentedTable.fresh(s, root, o.schema, Map.empty)
      t.load(o.filter(col("o_orderstatus") === "O" && col("o_orderkey") % 3 =!= 0))
      t.load(o.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 3 =!= 0))
      t.load(o.filter(col("o_orderstatus") === "P" || col("o_orderkey") % 3 === 0))
      t
    })

  private def ordersCompacted(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"ord|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/orders")
      val t = SegmentedTable.fresh(s, root, Tables.orders(s, d).schema,
        Map("sort_columns" -> "o_orderdate"))
      loadAndCompact(t, s, d)
    })

  private def loadAndCompact(t: SegmentedTable, s: SparkSession, d: String) = {
    val o = Tables.orders(s, d)
    t.load(o.filter(col("o_orderkey") % 2 === 0))
    t.load(o.filter(col("o_orderkey") % 2 === 1))
    t.compact()
    t.cleanFiles()
    t
  }

  /** Orders split into two interleaved-key segments (even/odd order
    * key) with a bloom index on the key: every segment spans the whole
    * key range, so min/max pruning proves nothing for a point lookup —
    * only the bloom sidecar can skip a segment.
    */
  private def ordersBloom(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"ob|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/orders_bloom")
      val o = Tables.orders(s, d)
      val t = SegmentedTable.fresh(s, root, o.schema,
        Map("bloom_columns" -> "o_orderkey"))
      t.load(o.filter(col("o_orderkey") % 2 === 0))
      t.load(o.filter(col("o_orderkey") % 2 === 1))
      t
    })

  /** Fact-fact co-location (reference PartitionData pre-split,
    * SampleDataPartitionerImpl): lineitem and orders are written as
    * Spark bucketed tables hashed on the order key with the SAME
    * bucket count, so the equi-join on that key plans with NO shuffle
    * Exchange on either side — the layout cost is paid once at load
    * and every subsequent fact-fact join reads co-located buckets.
    * This is the 100 TB lever for q04/q05-shaped joins: the
    * lineitem⋈orders shuffle is the dominant stage at scale, and
    * bucketing removes it entirely (PlanSpec asserts zero Exchange
    * below the join).
    */
  private val bucketsBuilt = new graft.util.BuildOnce[Boolean]

  def bucketedFacts(s: SparkSession, d: String): (String, String) = {
    val suffix = math.abs(d.hashCode).toString
    val (liName, ordName) = (s"graft_b_lineitem_$suffix", s"graft_b_orders_$suffix")
    bucketsBuilt.getOrElseUpdate(s"$d|${s.sparkContext.applicationId}", {
      val wh = graft.util.RunRoot.under(s"graft_buckets/${d.replace('/', '_')}")
      // fresh dirs: a stale location from a previous JVM would collide
      // with saveAsTable's overwrite into the session catalog
      def reset(n: String, sub: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $n")
        val p = Paths.get(s"$wh/$sub")
        if (Files.exists(p)) {
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
          finally walk.close()
        }
      }
      reset(liName, "lineitem"); reset(ordName, "orders")
      Tables.lineitem(s, d).write.format("parquet")
        .option("path", s"$wh/lineitem")
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(liName)
      Tables.orders(s, d).write.format("parquet")
        .option("path", s"$wh/orders")
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ordName)
      true
    })
    (liName, ordName)
  }

  /** Documents table with two segments split on doc_id parity, then a
    * row-level DELETE of one language — both segments span the full
    * id range, so the DML's copy-on-write path must rewrite both, and
    * the oracle proves it removed exactly the matching rows.
    */
  private def documentsDeleted(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"docdel|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/documents_del")
      val docs = Tables.documents(s, d)
      val t = SegmentedTable.fresh(s, root, docs.schema,
        Map("sort_columns" -> "doc_id"))
      t.load(docs.filter(col("doc_id") % 2 === 0))
      t.load(docs.filter(col("doc_id") % 2 === 1))
      t.delete(col("lang") === "de")
      t
    })

  /** Orders table in two segments, then a row-level UPDATE doubling
    * the price of finished orders (double-by-2 is exact in binary, so
    * the rewritten values hash-match the oracle's CASE expression).
    */
  private def ordersUpdated(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"ordupd|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/orders_upd")
      val o = Tables.orders(s, d)
      val t = SegmentedTable.fresh(s, root, o.schema,
        Map("sort_columns" -> "o_orderdate"))
      t.load(o.filter(col("o_orderkey") % 2 === 0))
      t.load(o.filter(col("o_orderkey") % 2 === 1))
      t.update(col("o_orderstatus") === "F",
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      t
    })

  /** Lineitem in one z-ordered segment (zorder_columns property routes
    * the load through [[graft.table.ZOrder.layout]]): interleaved-bit
    * layout over (partkey, suppkey) so range predicates on EITHER
    * column skip most files — the oracle proves the exotic layout is
    * still exactly row-preserving.
    */
  private def lineitemZOrdered(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"liz|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/lineitem_z")
      val li = Tables.lineitem(s, d)
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("zorder_columns" -> "l_partkey,l_suppkey"))
      t.load(li)
      t
    })

  /** Documents table whose history is: create → load evens → load
    * odds → delete lang='fr'. g08 time-travels back to the first load.
    */
  private def documentsVersioned(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"docver|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/documents_ver")
      val docs = Tables.documents(s, d)
      // time travel needs the table's FULL history: always rebuild from
      // a fresh root (an existing dir would carry old log entries)
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      }
      val t = SegmentedTable.create(s, root, docs.schema,
        Map("sort_columns" -> "doc_id"))
      t.load(docs.filter(col("doc_id") % 2 === 0))
      t.load(docs.filter(col("doc_id") % 2 === 1))
      t.delete(col("lang") === "fr")
      t
    })

  /** Orders table upserted via MERGE: keys ≡1 (mod 100) arrive with a
    * doubled price (replace), keys ≡2 shifted by 10M arrive as inserts.
    */
  private def ordersMerged(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"ordmrg|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/orders_mrg")
      val o = Tables.orders(s, d)
      val t = SegmentedTable.fresh(s, root, o.schema,
        Map("sort_columns" -> "o_orderkey"))
      t.load(o.filter(col("o_orderkey") % 2 === 0))
      t.load(o.filter(col("o_orderkey") % 2 === 1))
      val upserts = o.filter(col("o_orderkey") % 100 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = o.filter(col("o_orderkey") % 100 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      t.merge(upserts.unionByName(inserts), Seq("o_orderkey"))
      t
    })

  /** Documents ingested idempotently: evens load normally, then the
    * WHOLE corpus is delivered twice through loadUnique — double
    * delivery must be a no-op.
    */
  private def documentsIngested(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"docing|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/documents_ing")
      val docs = Tables.documents(s, d)
      val t = SegmentedTable.fresh(s, root, docs.schema,
        Map("sort_columns" -> "doc_id"))
      t.load(docs.filter(col("doc_id") % 2 === 0))
      assert(t.loadUnique(docs, Seq("doc_id")).nonEmpty) // odds land
      assert(t.loadUnique(docs, Seq("doc_id")).isEmpty)  // re-delivery no-ops
      t
    })

  /** Events in the segmented store, two segments split by event-id
    * parity (orthogonal to any query key, so every segment spans all
    * users and timestamps — nothing about the layout helps g11 "by
    * accident").
    */
  private def eventsSegmented(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"evseg|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/events_seg")
      val ev = Tables.events(s, d)
      val t = SegmentedTable.fresh(s, root, ev.schema,
        Map("sort_columns" -> "ts"))
      t.load(ev.filter(col("event_id") % 2 === 0))
      t.load(ev.filter(col("event_id") % 2 === 1))
      t
    })

  /** Documents ingested near-dup-aware: evens load normally, then the
    * FULL corpus is delivered through Dedup.ingestNovel — re-delivered
    * evens drop by id, and odd docs drop when they share a MinHash
    * band with any even doc already in the table.
    */
  private def documentsNearIngested(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"docnear|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/documents_near")
      val docs = Tables.documents(s, d)
      val t = SegmentedTable.fresh(s, root, docs.schema,
        Map("sort_columns" -> "doc_id"))
      t.load(docs.filter(col("doc_id") % 2 === 0))
      graft.dedup.Dedup.ingestNovel(t, docs, "doc_id", "text")
      t
    })

  /** Star-schema bulk load through the SQL surface: one LOAD GRAFT
    * DATA FACT FROM ... DIMENSION FROM ... statement ingests orders as
    * the fact table and customer/nation as dimension tables (created
    * on first load from the file schema). Parsed by GraftSqlParser —
    * the gate proves the reference's one-statement star ingest
    * (CarbonSqlParser.scala:779-793) is reachable and row-exact.
    */
  private def factDimLoaded(s: SparkSession, d: String): (String, String, String) = {
    val sfx = math.abs(d.hashCode).toString
    val (ordName, custName, natName) =
      (s"orders_fd_$sfx", s"customer_fd_$sfx", s"nation_fd_$sfx")
    built.getOrElseUpdate(s"fd|$d", {
      Seq(ordName, custName, natName)
        .foreach(n => graft.sql.DropGraftTableCommand(n).run(s))
      val src = s"orders_fd_src_$sfx"
      Tables.orders(s, d).limit(0).createOrReplaceTempView(src)
      runGraftSql(s, s"CREATE GRAFT TABLE $ordName AS SELECT * FROM $src")
      runGraftSql(s,
        s"""LOAD GRAFT DATA FACT FROM '$d/orders.parquet'
            DIMENSION FROM $custName:'$d/customer.parquet',
                           $natName:'$d/nation.parquet'
            INTO TABLE $ordName""")
      graft.sql.GraftCatalog.open(s, ordName)
    })
    (ordName, custName, natName)
  }

  /** Execute a graft SQL statement through the real parser (sessions
    * here are built without extensions, so the command path is what
    * the gate exercises — GraftSqlSpec covers the injected form).
    */
  private def runGraftSql(s: SparkSession, sql: String): Unit = {
    val plan = new graft.sql.GraftSqlParser(s.sessionState.sqlParser).parsePlan(sql)
    org.apache.spark.sql.graftbridge.ColumnExpr.ofRows(s, plan).collect()
  }

  /** CDC scenario: after create, four commits — load evens, load odds
    * (minus keys ending in 3), row-DELETE keys ending in 7, compact.
    * Returns the table plus the version captured after the FIRST load,
    * so the change feed covers exactly the last three commits.
    */
  private val cdcBuilt = new graft.util.BuildOnce[(SegmentedTable, Long, Long)]

  /** Returns (table, baseV, fromV): baseV is the clean-slate version
    * BEFORE the first load (the full feed (baseV, current] replays
    * every row this scenario ever committed — g17's apply anchor; the
    * table root is reused across sessions, so version numbers do NOT
    * start at 0), fromV the version after the even load (g14's feed
    * start).
    */
  private def cdcScenario(s: SparkSession, d: String): (SegmentedTable, Long, Long) =
    cdcBuilt.getOrElseUpdate(s"cdc|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/lineitem_cdc")
      val li = Tables.lineitem(s, d)
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("sort_columns" -> "l_orderkey"))
      val baseV = t.currentVersion
      t.load(li.filter(col("l_orderkey") % 2 === 0))
      val fromV = t.currentVersion
      t.load(li.filter(col("l_orderkey") % 2 === 1 && col("l_orderkey") % 10 =!= 3))
      t.delete(col("l_orderkey") % 10 === 7)
      t.compact()
      (t, baseV, fromV)
    })

  /** RESTORE scenario: load evens, snapshot, load odds, row-DELETE
    * (rewrites the even segment), then restore to the snapshot — the
    * rollback must revive the ORIGINAL even segment (pre-delete) and
    * retire everything after it, purely in metadata.
    */
  private def restoreScenario(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"restore|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/documents_restore")
      val docs = Tables.documents(s, d)
      val t = SegmentedTable.fresh(s, root, docs.schema,
        Map("sort_columns" -> "doc_id"))
      t.load(docs.filter(col("doc_id") % 2 === 0))
      val snap = t.currentVersion
      t.load(docs.filter(col("doc_id") % 2 === 1))
      t.delete(col("doc_id") % 10 === 2)
      t.restoreTo(snap)
      t
    })

  /** OPTIMIZE scenario: two loads, then a z-order re-layout on
    * (suppkey, partkey) — the gate reads through the rewritten
    * layout, so the re-layout must be exactly row-preserving.
    */
  private def optimizedScenario(s: SparkSession, d: String): SegmentedTable =
    built.getOrElseUpdate(s"opt|$d", {
      val root = graft.util.RunRoot.under(s"graft_tables/${d.replace('/', '_')}/lineitem_opt")
      val li = Tables.lineitem(s, d)
      val t = SegmentedTable.fresh(s, root, li.schema,
        Map("sort_columns" -> "l_shipdate"))
      t.load(li.filter(col("l_orderkey") % 2 === 0))
      t.load(li.filter(col("l_orderkey") % 2 === 1))
      t.optimizeZOrder(Seq("l_suppkey", "l_partkey"))
    })

  val queries: Map[String, Q] = Map(
    // OPTIMIZE ... ZORDER BY through the gate: a range predicate on
    // the SECOND z column over the re-laid-out table — the rewrite
    // must lose/duplicate nothing and the z layout must still answer
    // exactly (file skipping is ZOrderSpec's claim; exactness is
    // this gate's)
    "g16_optimize_zorder" -> ((s, d) => {
      val t = optimizedScenario(s, d)
      t.read()
        .filter(col("l_partkey").between(50L, 150L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_partkey")).as("key_sum"))
    }),

    // metadata-only ROLLBACK: after a second load and a row-DELETE
    // that rewrote the first segment, RESTORE TO the first-load
    // version must read exactly the original even half — reviving
    // the pre-delete segment and retiring the rewrite, no data moved
    "g15_restore" -> ((s, d) => {
      val t = restoreScenario(s, d)
      t.read()
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),

    // one-statement star ingest (fact + 2 dimension tables), then the
    // classic star join over the three graft tables — dims broadcast
    "g13_fact_dim_load" -> ((s, d) => {
      val (ordName, custName, natName) = factDimLoaded(s, d)
      val o = graft.sql.GraftCatalog.open(s, ordName).read()
      val c = broadcast(graft.sql.GraftCatalog.open(s, custName).read())
      val n = broadcast(graft.sql.GraftCatalog.open(s, natName).read())
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),
    // the as-of join (q41's plan, verbatim) over the SEGMENTED events
    // table: the store must compose with the union + ordered-window
    // construction exactly — same oracle as q41, different storage
    "g11_asof_segmented" -> ((s, d) => {
      RelationalQueries.asOfJoinPlan(eventsSegmented(s, d).read())
    }),

    // near-dup-aware ingest through the gate: after the even half
    // loads, the WHOLE corpus is delivered via Dedup.ingestNovel —
    // the table must end up holding exactly evens ∪ {odds that share
    // no MinHash band with any even}, which the oracle reconstructs
    // from first principles (same band SQL the d02/t10 oracles use)
    "g12_neardup_ingest" -> ((s, d) => {
      val t = documentsNearIngested(s, d)
      t.read()
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),

    // load (2 segments) → min/max-pruned scan → aggregate; oracle is
    // the same filter+agg on the source table, so pruning must lose
    // nothing. Pruning happens through the OPTIMIZER RULE
    // (GraftSegmentPruning) over a plain read().filter(), not the
    // manual scan() API — the gate proves the automatic path row-exact
    // change-data feed between catalog versions: the feed from just
    // after the first load must replay the second load as inserts,
    // the row-DELETE as file-granularity delete+insert of the
    // rewritten segment, and show NOTHING for the final compaction
    // (its segment carries dataChange=false). The oracle reconstructs
    // the same event multiset from the source table, so the catalog
    // diff walk, the dataChange plumbing, and the per-commit grouping
    // all have to be exact.
    "g14_cdc_feed" -> ((s, d) => {
      val (t, _, fromV) = cdcScenario(s, d)
      t.readChanges(fromV, t.currentVersion)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("rows_changed"),
          sum(col("l_orderkey")).as("key_sum"))
        .select(col("_change_type").as("change_type"),
          col("rows_changed"), col("key_sum"))
    }),

    // CDC APPLY — the consumer half of g14's feed: a downstream
    // replica materializes the table by MULTISET-netting the change
    // feed (insert = +1, delete = −1, netted per full row value, so
    // either per-row deletes or whole-segment-rewrite deletes replay
    // identically), and the replica must equal the table's final
    // contents after loads + row-DELETE + compaction. This is the
    // replication shape a warehouse sinks a 100 TB feed into: one
    // keyed shuffle on the row value, weighted re-aggregation, no
    // ordering assumptions, no row-identity column required.
    "g17_cdc_apply" -> ((s, d) => {
      val (t, baseV, _) = cdcScenario(s, d)
      val feed = t.readChanges(baseV, t.currentVersion)
      val dataCols = feed.columns
        .filterNot(c => c == "_change_type" || c == "_commit_version")
      // net on a compound ROW FINGERPRINT (xxhash64 + murmur over the
      // full row, plus the consumed columns in the group key), not on
      // the 16 raw columns: the netting shuffle then carries 4 narrow
      // columns instead of whole rows — at 100 TB that is the
      // difference between shuffling fingerprints and re-shuffling
      // the table. Identical rows share a fingerprint by
      // construction; distinct rows colliding on BOTH hashes AND
      // (l_returnflag, l_orderkey) is the d01-style negligible edge.
      val byRow = feed
        .withColumn("__delta",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .withColumn("__fp", xxhash64(dataCols.map(col): _*))
        .withColumn("__fp2", hash(dataCols.map(col): _*))
        .groupBy(col("__fp"), col("__fp2"), col("l_returnflag"),
          col("l_orderkey"))
        .agg(sum(col("__delta")).as("__net"))
        .filter(col("__net") =!= 0L)
      byRow.groupBy(col("l_returnflag"))
        .agg(sum(col("__net")).as("cnt"),
          sum(col("__net") * col("l_orderkey")).as("key_sum"))
    }),

    // table lifecycle driven ENTIRELY by catalog SQL — CTAS through
    // the V2 catalog, then `DELETE FROM <cat>.default.ord WHERE
    // status AND modulo` through SupportsDeleteV2 (the modulo proves
    // the V2-predicate→catalyst bridge, which the V1 Filter route
    // could not express): the surviving table must equal the oracle's
    // NOT(predicate) replay over raw orders. The catalog registers at
    // runtime under its own root (the st22 discipline).
    "g18_catalog_dml" -> ((s, d) => {
      val n = catalogDmlTable(s, d)
      s.table(n)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // g19: the full ANSI MERGE surface (conditional update + delete +
    // column-list insert in ONE statement, one atomic commit); the
    // oracle replays the same statement as join/CASE/union SQL
    "g19_merge_full" -> ((s, d) => {
      val n = mergeFullTable(s, d)
      s.table(n)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // g20: the complete MERGE clause surface in one atomic statement —
    // the full-sync shape (WHEN NOT MATCHED BY SOURCE DELETE/UPDATE)
    // on top of g19's three families; the oracle replays it as
    // join/CASE/union SQL
    "g20_merge_by_source" -> ((s, d) => {
      val n = mergeBySourceTable(s, d)
      s.table(n)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // g21: global min/max/count answered from the segment catalog's
    // exact per-segment stats — zero executor job (the generalized
    // getRowCount fast path; plan pin in AggTableSpec). The oracle
    // proves the stats fold equals the real scan over doubles,
    // strings, and the timestamp sort column across both segments.
    "g21_stats_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = lineitemTable(s, d)
      t.read().agg(
        count(lit(1)).as("cnt"),
        count(col("l_returnflag")).as("cnt_rf"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        min(col("l_returnflag")).as("min_rf"),
        max(col("l_linestatus")).as("max_ls"))
    }),

    // g23: the V2 CATALOG twin of g21 — the same aggregates through
    // spark.sql over a catalog identifier, where the scan builder's
    // SupportsPushDownAggregates intercept serves the fold as a
    // connector LocalScan (zero file I/O; plan pin in GraftSqlSpec).
    "g23_catalog_stats_agg" -> ((s, d) => {
      val n = catalogStatsTable(s, d)
      s.sql(
        s"""SELECT COUNT(*) AS cnt,
                   COUNT(l_quantity) AS cnt_qty,
                   MIN(l_extendedprice) AS min_price,
                   MAX(l_extendedprice) AS max_price,
                   MIN(l_shipdate) AS min_ship,
                   MAX(l_returnflag) AS max_rf,
                   SUM(l_orderkey) AS sum_okey
            FROM $n""")
    }),

    // g24: FILTERED stats fold through the V2 CATALOG path — the
    // catalog twin of g22: the WHERE aligns with the two loads' ship-
    // year split, the scan builder's trichotomy proves one segment
    // all-out and the other all-in, the filter is reported exactly
    // handled, and the pushed COUNT/MIN/MAX folds from the survivors'
    // stats as a connector LocalScan (plan pin + straddle fall-through
    // pin in GraftSqlSpec). Oracle = the same filtered aggregate over
    // the raw table.
    "g24_catalog_filtered_agg" -> ((s, d) => {
      val n = catalogAlignedTable(s, d)
      s.sql(
        s"""SELECT COUNT(*) AS cnt,
                   COUNT(l_quantity) AS cnt_qty,
                   MIN(l_shipdate) AS min_ship,
                   MAX(l_shipdate) AS max_ship,
                   MAX(l_extendedprice) AS max_price
            FROM $n
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'""")
    }),

    // g25: HYBRID stats fold — the predicate proves one segment
    // all-out (≤1994) and one all-in (1995) but STRADDLES the third
    // (the 1996-06-30 cutoff cuts the >1995 segment): the proven mass
    // folds from metadata and the plan scans exactly the straddler's
    // dir, combining the two (StatsAggSpec pins the single-dir scan).
    // At 100 TB this is the difference between a metadata read and a
    // full scan every time a predicate misses a load boundary.
    "g25_hybrid_stats_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = lineitemThreeSegs(s, d)
      t.read()
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .agg(
          count(lit(1)).as("cnt"),
          count(col("l_quantity")).as("cnt_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          max(col("l_extendedprice")).as("max_price"),
          sum(col("l_orderkey")).as("sum_okey"))
    }),

    // g32: HYBRID stats fold through the V2 CATALOG path — the
    // catalog twin of g25: the straddling time-range aggregate over
    // `cat.default.t` folds the proven segments from metadata and
    // scans ONLY the straddler's dir (the rule intercepts the V2
    // relation; the builder's all-or-nothing pushed-aggregate contract
    // cannot express fold + scan). In Verify's plain session this
    // exercises the post-pushdown DataSourceV2ScanRelation shape; the
    // GraftSqlSpec pin exercises the extension session's pre-pushdown
    // shape. At 100 TB: "9,998 proven segments + 2 straddlers" through
    // the BI-facing catalog surface costs a 2-segment scan, not a full
    // filtered scan.
    "g32_catalog_hybrid_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val n = catalogHybridTable(s, d)
      s.sql(
        s"""SELECT COUNT(*) AS cnt,
                   COUNT(l_quantity) AS cnt_qty,
                   MIN(l_shipdate) AS min_ship,
                   MAX(l_shipdate) AS max_ship,
                   MAX(l_extendedprice) AS max_price,
                   SUM(l_orderkey) AS sum_okey
            FROM $n
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-07-01'""")
    }),

    // g33: DECIMAL SUM + AVG folds — decimal addition is exact and
    // associative, so the catalog's exact per-segment decimal sums
    // (r20 staging) serve money-column SUM/AVG the way integral SUM
    // already folds; AVG serves through the Average function's own
    // evaluate expression (decimal divide, scale+4 HALF_UP) and the
    // integral AVG under the 2^53 exactness bound. The filter aligns
    // with the two ship-year loads, so the whole thing answers from
    // one catalog read (StatsAggSpec pins the no-scan plan; doubles
    // never fold — pin there too). Casts to double are applied by the
    // plan's own Cast over the folded values, keeping the DuckDB
    // compare schema-stable.
    "g33_decimal_stats_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = lineitemDecimalSegs(s, d)
      t.read()
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .agg(
          sum(col("l_price_dec")).cast("double").as("sum_price"),
          avg(col("l_price_dec")).cast("double").as("avg_price"),
          avg(col("l_orderkey")).cast("double").as("avg_okey"),
          count(lit(1)).as("cnt"))
    }),

    // g34: the GROUPED decimal twin — one load per order status makes
    // the key constant per segment, and the per-group decimal SUM/AVG
    // folds from each group's own segment stats.
    "g34_decimal_grouped_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = ordersDecimalByStatus(s, d)
      t.read()
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(col("o_price_dec")).cast("double").as("sum_price"),
          avg(col("o_price_dec")).cast("double").as("avg_price"),
          count(lit(1)).as("cnt"))
    }),

    // g35: star join over the catalog fact with RUNTIME segment
    // pruning live — the broadcast dim side's surviving keys reach the
    // scan through SupportsRuntimeV2Filtering and whole key-ranges of
    // segments drop before any task launches (the reference's
    // FilterPushJoin at segment granularity; file-count pin in
    // GraftSqlSpec). The oracle proves result parity under pruning.
    "g35_catalog_runtime_join" -> ((s, d) => {
      val n = catalogRuntimeJoinTable(s, d)
      s.sql(
        s"""SELECT COUNT(*) AS cnt,
                   CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp
            FROM $n f
            JOIN (SELECT o_orderkey AS k FROM g35_orders_src
                  WHERE o_orderkey % 7 = 1 AND o_orderkey <= 600) d
              ON f.o_orderkey = d.k""")
    }),

    // g36: ordered-scan elision — a global ORDER BY over the
    // ascending sort_columns prefix of one small sorted segment plans
    // as a K-way merge of the per-file runs: no SortExec, no Exchange
    // (MergeSortedScanSpec pins both the fire and decline sides; the
    // size bound keeps the single-task merge scale-honest).
    "g36_sorted_scan" -> ((s, d) => {
      graft.plans.MergeSortedScan.ensureRegistered(s)
      val t = sortedLineitemSingle(s, d)
      t.read()
        .orderBy(col("l_shipdate"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
    }),

    // g37: decimal SUM/AVG folds through the V2 CATALOG's SQL surface
    // — the BI-idiomatic CAST(SUM/AVG(money) AS DOUBLE) over
    // cat.ns.t answers from one catalog read: the builder's pushed-
    // aggregate contract cannot serve decimal/AVG/cast shapes, so the
    // rule's V2 interception does (both session kinds; GraftSqlSpec
    // pins the extension-session LocalRelation plan).
    "g37_catalog_decimal_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val n = catalogDecimalTable(s, d)
      s.sql(
        s"""SELECT CAST(SUM(l_price_dec) AS DOUBLE) AS sum_price,
                   CAST(AVG(l_price_dec) AS DOUBLE) AS avg_price,
                   CAST(AVG(l_orderkey) AS DOUBLE) AS avg_okey,
                   COUNT(*) AS cnt
            FROM $n""")
    }),

    // g26: GROUPED stats fold over segment-aligned group keys — one
    // load per order status makes the group key constant per segment,
    // so GROUP BY folds per segment group from the catalog with zero
    // executor job (StatsAggSpec pins the no-scan plan).
    "g26_grouped_stats_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = ordersByStatus(s, d)
      t.read()
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("cnt"),
          count(col("o_orderpriority")).as("cnt_pri"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_orderkey")).as("sum_okey"))
    }),

    // g27: GROUPED aggregate pushdown through the V2 CATALOG — the
    // catalog twin of g26: one load per order status makes the group
    // key constant per segment, and the pushed GROUP BY COUNT/MIN/MAX
    // is served as a LocalScan of one row per group (plan pin in
    // GraftSqlSpec). Oracle = the same grouped aggregate over the raw
    // table.
    "g27_catalog_grouped_agg" -> ((s, d) => {
      val n = catalogGroupedTable(s, d)
      s.sql(
        s"""SELECT o_orderstatus, COUNT(*) AS cnt,
                   COUNT(o_orderpriority) AS cnt_pri,
                   MIN(o_orderdate) AS min_date,
                   MAX(o_orderdate) AS max_date,
                   MAX(o_totalprice) AS max_price,
                   SUM(o_orderkey) AS sum_okey
            FROM $n GROUP BY o_orderstatus""")
    }),

    // g28: grouped HYBRID fold — two loads are status-constant and
    // fold from the catalog, the third (mixed remainder) is the only
    // one scanned; the outer aggregate merges groups across the
    // metadata and scan branches (StatsAggSpec pins the single-dir
    // scan). The partially-aligned-table shape: at 100 TB most tables
    // have SOME loads key-aligned and some not.
    "g28_grouped_hybrid_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = ordersMixedStatus(s, d)
      t.read()
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("cnt"),
          count(col("o_orderpriority")).as("cnt_pri"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_orderkey")).as("sum_okey"))
    }),

    // g29: TIME-TRAVEL stats fold — COUNT/MIN/MAX over `VERSION AS OF`
    // the pre-INSERT snapshot folds from that version's segment stats
    // (exact: dirs immutable, ids never reused) as long as every dir
    // is still on disk; the oracle replays the snapshot's content
    // (the ≤1995 ship-years) from the raw table. Plan pin in
    // GraftSqlSpec; a cleaned snapshot keeps failing at scan.
    "g29_timetravel_stats_agg" -> ((s, d) => {
      val Array(n, v) = catalogTimeTravelTable(s, d).split('|')
      s.sql(
        s"""SELECT COUNT(*) AS cnt,
                   COUNT(l_quantity) AS cnt_qty,
                   MIN(l_shipdate) AS min_ship,
                   MAX(l_shipdate) AS max_ship,
                   MAX(l_extendedprice) AS max_price
            FROM $n VERSION AS OF $v""")
    }),

    // g22: FILTERED metadata-only aggregates — the predicate aligns
    // with the two segments' ship-year split (≤1995 / >1995), so the
    // catalog proves one segment all-out and the other all-in and the
    // time-range count/min/max folds with zero executor job (the
    // lakehouse "how many rows since X" fleet query). Oracle = the
    // same filtered aggregate over the raw table.
    "g22_metadata_filtered_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = lineitemTable(s, d)
      t.read()
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .agg(
          count(lit(1)).as("cnt"),
          count(col("l_quantity")).as("cnt_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          max(col("l_extendedprice")).as("max_price"),
          sum(col("l_orderkey")).as("sum_okey"))
    }),

    // g30: integral SUM answered from the catalog's exact per-segment
    // sums (decimal-accumulated at stage time) — the missing member of
    // the getRowCount fast-path family: SUM(key) over 100 TB becomes a
    // driver-side catalog read like COUNT/MIN/MAX. Non-integral sums
    // and pre-r19 segments bail to the scan (StatsAggSpec pins).
    "g30_sum_stats_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = lineitemTable(s, d)
      t.read().agg(
        count(lit(1)).as("cnt"),
        sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_linenumber")).as("sum_ln"),
        sum(col("l_suppkey")).as("sum_sk"))
    }),

    // g31: COUNT(DISTINCT k) over a segment-constant column answers
    // from the catalog (the distinct count IS the number of distinct
    // per-segment constants); non-constant columns bail (StatsAggSpec
    // pins). The "how many tenants/sources does this table hold"
    // operability query at 100 TB: a catalog read, not a shuffle.
    "g31_distinct_stats_agg" -> ((s, d) => {
      graft.mv.StatsAggFromCatalog.ensureRegistered(s)
      val t = ordersByStatus(s, d)
      t.read().agg(
        count_distinct(col("o_orderstatus")).as("n_status"),
        count(lit(1)).as("cnt"),
        min(col("o_orderdate")).as("min_date"))
    }),

    "g01_segment_pruned_scan" -> ((s, d) => {
      graft.table.GraftSegmentPruning.ensureRegistered(s)
      val t = lineitemTable(s, d)
      val pred = col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
      t.read().filter(pred)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    }),

    // load 2 segments → compact → clean → full read; compaction must
    // be exactly row-preserving
    "g02_segment_compaction" -> ((s, d) => {
      val t = ordersCompacted(s, d)
      t.read()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // bloom-indexed point lookup through the automatic pruning rule:
    // even keys live in segment 0, odd in segment 1, and both span the
    // full key range — min/max cannot prune, the bloom skips the odd
    // segment, and the oracle proves the lookup loses no rows
    "g04_bloom_point_lookup" -> ((s, d) => {
      graft.table.GraftSegmentPruning.ensureRegistered(s)
      val t = ordersBloom(s, d)
      t.read()
        .filter(col("o_orderkey").isin(2L, 4L, 6L, 32L))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // row-level DELETE through copy-on-write rewrite: the oracle is
    // the same aggregate over the source rows the predicate spared
    "g05_row_delete" -> ((s, d) => {
      val t = documentsDeleted(s, d)
      t.read()
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
    }),

    // row-level UPDATE: assignments applied to matching rows only,
    // hash-checked against the oracle's CASE projection
    "g06_row_update" -> ((s, d) => {
      val t = ordersUpdated(s, d)
      t.read()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // z-ordered layout scan: a range predicate on the SECOND z column
    // (useless to a lexicographic sort) — row-group stats under the
    // z layout carve it down, and the result must match the source
    "g07_zorder_scan" -> ((s, d) => {
      val t = lineitemZOrdered(s, d)
      t.read()
        .filter(col("l_suppkey").between(10L, 20L))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    }),

    // idempotent dedup ingest: after loading the even half, the FULL
    // corpus is delivered twice via loadUnique — only the odd half
    // lands (once), and the table must equal the source exactly
    "g10_dedup_ingest" -> ((s, d) => {
      val t = documentsIngested(s, d)
      t.read()
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),

    // MERGE upsert: replaced keys carry the incoming values, new keys
    // append, untouched rows survive — the aggregate hash-checks all
    // three against the oracle's reconstruction
    "g09_merge_upsert" -> ((s, d) => {
      val t = ordersMerged(s, d)
      t.read()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // time travel: the documents table is read AS OF the version
    // committed by its FIRST load (even doc_ids only) even though a
    // second load and a row-level delete have since changed the live
    // set — and the snapshot read goes through the SQL surface (the
    // graft_table table-valued function), so the gate proves VERSION
    // AS OF is reachable from pure SQL, not just the API
    "g08_time_travel" -> ((s, d) => {
      val t = documentsVersioned(s, d)
      val firstLoadVersion = t.versions.sorted.apply(1) // create, load, load, delete
      graft.sql.GraftTableFunction.ensureRegistered(s)
      s.sql(
        s"""SELECT lang, COUNT(*) AS cnt,
              CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM graft_table('${t.root}', $firstLoadVersion)
            GROUP BY lang""")
    }),

    // co-located fact-fact join: both sides bucketed on the order key,
    // so the join itself needs no Exchange (the tiny post-join agg
    // shuffle remains — it moves grouped rows, not the fact tables)
    "g03_colocated_join" -> ((s, d) => {
      val (liName, ordName) = bucketedFacts(s, d)
      val l = s.table(liName)
      val o = s.table(ordName)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("line_cnt"),
          sum(col("l_quantity")).as("sum_qty"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the one-statement star ingest must be exactly row-preserving on
    // all three tables: same join+agg over the original inputs
    "g13_fact_dim_load" ->
      """SELECT n_name, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    // evens ∪ {odds with no band collision against evens}; short docs
    // (no shingles) carry no bands and always pass — same MinHash band
    // construction as the d02/t10 oracles
    "g12_neardup_ingest" ->
      s"""WITH t AS (SELECT doc_id, ${PipelineQueries.W} AS words FROM documents),
          sh AS (SELECT doc_id, ${PipelineQueries.SH} AS s FROM t),
          sig AS (SELECT doc_id,
            ${(0 until 4).map(b => s"${PipelineQueries.band(b, 4)} AS band$b").mkString(", ")}
          FROM sh WHERE len(s) > 0),
          ev AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
          od AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
          hits AS (SELECT DISTINCT od.doc_id FROM od JOIN ev
            ON od.band0 = ev.band0 OR od.band1 = ev.band1
            OR od.band2 = ev.band2 OR od.band3 = ev.band3),
          final AS (
            SELECT doc_id FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id FROM documents WHERE doc_id % 2 = 1
              AND doc_id NOT IN (SELECT doc_id FROM hits))
          SELECT lang, COUNT(*) AS cnt,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM final JOIN documents USING (doc_id) GROUP BY lang""",

    // identical to q41's oracle: the segmented layout must be exactly
    // row-preserving under the same as-of construction
    "g11_asof_segmented" ->
      """WITH u AS (
           SELECT user_id, ts, 0 AS side, value AS pvalue,
                  CAST(NULL AS BIGINT) AS event_id
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 1, NULL, event_id
           FROM events WHERE event_type = 'error')
         SELECT event_id, user_id, last_pvalue AS last_purchase FROM (
           SELECT *, last_value(pvalue IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, side, pvalue
             ROWS UNBOUNDED PRECEDING) AS last_pvalue
           FROM u) t
         WHERE side = 1""",

    // the re-laid-out table answers exactly like the source
    "g16_optimize_zorder" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(l_partkey) AS BIGINT) AS key_sum
         FROM lineitem WHERE l_partkey BETWEEN 50 AND 150
         GROUP BY l_returnflag""",

    // the restored state is exactly the first load
    "g15_restore" ->
      """SELECT lang, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE doc_id % 2 = 0 GROUP BY lang""",

    // reconstruct the feed's event multiset from the source: the
    // second load's rows insert once; the DELETE retires the whole
    // odd segment (file-granularity CDC) and re-inserts it minus the
    // deleted keys; compaction contributes nothing
    "g14_cdc_feed" ->
      """WITH odds AS (SELECT l_orderkey FROM lineitem
                       WHERE l_orderkey % 2 = 1 AND l_orderkey % 10 <> 3)
         SELECT 'insert' AS change_type, COUNT(*) AS rows_changed,
                CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
         FROM (SELECT l_orderkey FROM odds
               UNION ALL
               SELECT l_orderkey FROM odds WHERE l_orderkey % 10 <> 7) i
         UNION ALL
         SELECT 'delete', COUNT(*), CAST(SUM(l_orderkey) AS BIGINT)
         FROM odds""",

    // the replica must equal the table's final contents: evens (all
    // kept — an even key never ends in 7) plus odds ending in neither
    // 3 (never loaded) nor 7 (row-deleted)
    "g17_cdc_apply" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
         CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
         FROM lineitem
         WHERE (l_orderkey % 2 = 0
                OR (l_orderkey % 2 = 1 AND l_orderkey % 10 <> 3))
           AND l_orderkey % 10 <> 7
         GROUP BY l_returnflag""",

    "g01_segment_pruned_scan" ->
      """SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
         FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         GROUP BY l_returnflag""",

    // the full MERGE replayed declaratively: matched-'O' rows
    // re-priced, other matched rows deleted, unmatched cheap source
    // rows inserted
    "g19_merge_full" ->
      """WITH src AS (
           SELECT o_orderkey AS k, o_totalprice AS p
           FROM orders WHERE o_orderkey % 4 = 1
           UNION ALL
           SELECT o_orderkey + 10000000, o_totalprice
           FROM orders WHERE o_orderkey % 4 = 2
         ),
         merged AS (
           SELECT o.o_orderstatus,
                  CASE WHEN s.k IS NOT NULL AND o.o_orderstatus = 'O'
                       THEN s.p * 2 ELSE o.o_totalprice END AS o_totalprice
           FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k
           WHERE s.k IS NULL OR o.o_orderstatus = 'O'
           UNION ALL
           SELECT 'N', s.p
           FROM src s LEFT JOIN orders o ON o.o_orderkey = s.k
           WHERE o.o_orderkey IS NULL AND s.p < 100000
         )
         SELECT o_orderstatus, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM merged GROUP BY o_orderstatus""",

    // the full-sync MERGE replayed declaratively: matched-'O' rows
    // re-priced, other matched rows deleted, by-source 'F' rows
    // deleted, remaining by-source rows re-flagged 'Z', cheap
    // source-only rows inserted as 'N'
    "g20_merge_by_source" ->
      """WITH merged AS (
           SELECT o_orderstatus, o_totalprice * 2 AS o_totalprice
           FROM orders WHERE o_orderkey % 4 = 1 AND o_orderstatus = 'O'
           UNION ALL
           SELECT 'Z', o_totalprice
           FROM orders WHERE o_orderkey % 4 <> 1 AND o_orderstatus <> 'F'
           UNION ALL
           SELECT 'N', o_totalprice
           FROM orders WHERE o_orderkey % 4 = 2 AND o_totalprice < 100000
         )
         SELECT o_orderstatus, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM merged GROUP BY o_orderstatus""",

    // the V2 LocalScan fold must equal the real scan's aggregates
    "g23_catalog_stats_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_quantity) AS cnt_qty,
                MIN(l_extendedprice) AS min_price,
                MAX(l_extendedprice) AS max_price,
                MIN(l_shipdate) AS min_ship,
                MAX(l_returnflag) AS max_rf,
                CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
         FROM lineitem""",

    // the stats fold must equal the real scan's aggregates exactly
    "g21_stats_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_returnflag) AS cnt_rf,
                MIN(l_extendedprice) AS min_price,
                MAX(l_extendedprice) AS max_price,
                MAX(l_quantity) AS max_qty,
                MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship,
                MIN(l_returnflag) AS min_rf,
                MAX(l_linestatus) AS max_ls
         FROM lineitem""",

    // the catalog-path filtered fold must equal the real filtered scan
    "g24_catalog_filtered_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_quantity) AS cnt_qty,
                MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship,
                MAX(l_extendedprice) AS max_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'""",

    // the hybrid fold (metadata + one-segment scan) must equal the
    // real filtered scan exactly
    "g25_hybrid_stats_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_quantity) AS cnt_qty,
                MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship,
                MAX(l_extendedprice) AS max_price,
                CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-07-01'""",

    // the decimal folds must equal the real filtered scan exactly.
    // AVG(decimal(12,2)) in Spark is the exact decimal division
    // rounded HALF_UP at scale 6 and THEN cast to double — DuckDB's
    // AVG keeps full double precision, so the oracle reproduces
    // Spark's value with exact HUGEINT arithmetic: the sum scaled to
    // 10^-6 units, half-up-divided by the count ((2*s6+n)//(2*n),
    // positive prices), rebuilt as an exact decimal and cast once.
    "g33_decimal_stats_agg" ->
      """WITH f AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) p,
                           l_orderkey
                    FROM lineitem
                    WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
              s AS (SELECT CAST(SUM(p) * 1000000 AS HUGEINT) s6,
                           COUNT(p) n,
                           CAST(SUM(p) AS DOUBLE) sd,
                           CAST(AVG(l_orderkey) AS DOUBLE) ao,
                           COUNT(*) c
                    FROM f)
         SELECT sd AS sum_price,
                CAST(CAST((2*s6 + n) // (2*n) AS DECIMAL(30,0))
                     * 0.000001 AS DOUBLE) AS avg_price,
                ao AS avg_okey,
                c AS cnt
         FROM s""",

    // the catalog-surface decimal folds, same exact-arithmetic oracle
    // (unfiltered)
    "g37_catalog_decimal_agg" ->
      """WITH f AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) p,
                           l_orderkey
                    FROM lineitem),
              s AS (SELECT CAST(SUM(p) * 1000000 AS HUGEINT) s6,
                           COUNT(p) n,
                           CAST(SUM(p) AS DOUBLE) sd,
                           CAST(AVG(l_orderkey) AS DOUBLE) ao,
                           COUNT(*) c
                    FROM f)
         SELECT sd AS sum_price,
                CAST(CAST((2*s6 + n) // (2*n) AS DECIMAL(30,0))
                     * 0.000001 AS DOUBLE) AS avg_price,
                ao AS avg_okey,
                c AS cnt
         FROM s""",

    // the grouped decimal folds, same exact-arithmetic oracle per group
    "g34_decimal_grouped_agg" ->
      """WITH f AS (SELECT o_orderstatus st,
                           CAST(o_totalprice AS DECIMAL(12,2)) p
                    FROM orders),
              s AS (SELECT st,
                           CAST(SUM(p) * 1000000 AS HUGEINT) s6,
                           COUNT(p) n,
                           CAST(SUM(p) AS DOUBLE) sd,
                           COUNT(*) c
                    FROM f GROUP BY st)
         SELECT st AS o_orderstatus,
                sd AS sum_price,
                CAST(CAST((2*s6 + n) // (2*n) AS DECIMAL(30,0))
                     * 0.000001 AS DOUBLE) AS avg_price,
                c AS cnt
         FROM s""",

    // the merged ordered scan must equal the real sort's rows (the
    // driver compare is order-insensitive; MergeSortedScanSpec pins
    // the ORDER itself)
    "g36_sorted_scan" ->
      """SELECT l_orderkey, l_shipdate, l_quantity
         FROM lineitem ORDER BY l_shipdate""",

    // the runtime-pruned star join must equal the plain join exactly
    "g35_catalog_runtime_join" ->
      """SELECT COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp
         FROM orders
         WHERE o_orderkey % 7 = 1 AND o_orderkey <= 600""",

    // the catalog-path hybrid (metadata partials + a scan of only the
    // straddler's dir) must equal the real filtered scan exactly
    "g32_catalog_hybrid_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_quantity) AS cnt_qty,
                MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship,
                MAX(l_extendedprice) AS max_price,
                CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-07-01'""",

    // the grouped fold must equal the real grouped scan exactly
    "g26_grouped_stats_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
                COUNT(o_orderpriority) AS cnt_pri,
                MIN(o_orderdate) AS min_date,
                MAX(o_orderdate) AS max_date,
                MAX(o_totalprice) AS max_price,
                CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey
         FROM orders GROUP BY o_orderstatus""",

    // the catalog-path grouped fold must equal the real grouped scan
    "g27_catalog_grouped_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
                COUNT(o_orderpriority) AS cnt_pri,
                MIN(o_orderdate) AS min_date,
                MAX(o_orderdate) AS max_date,
                MAX(o_totalprice) AS max_price,
                CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey
         FROM orders GROUP BY o_orderstatus""",

    // the grouped hybrid (metadata groups + one-segment scan,
    // re-grouped) must equal the real grouped scan exactly
    "g28_grouped_hybrid_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
                COUNT(o_orderpriority) AS cnt_pri,
                MIN(o_orderdate) AS min_date,
                MAX(o_orderdate) AS max_date,
                MAX(o_totalprice) AS max_price,
                CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey
         FROM orders GROUP BY o_orderstatus""",

    // the time-travel fold must equal the frozen snapshot's content
    "g29_timetravel_stats_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_quantity) AS cnt_qty,
                MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship,
                MAX(l_extendedprice) AS max_price
         FROM lineitem
         WHERE year(l_shipdate) <= 1995""",

    // the distinct-count fold must equal the real distinct count
    "g31_distinct_stats_agg" ->
      """SELECT COUNT(DISTINCT o_orderstatus) AS n_status,
                COUNT(*) AS cnt,
                MIN(o_orderdate) AS min_date
         FROM orders""",

    // the filtered fold must equal the real filtered scan exactly
    "g22_metadata_filtered_agg" ->
      """SELECT COUNT(*) AS cnt,
                COUNT(l_quantity) AS cnt_qty,
                MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship,
                MAX(l_extendedprice) AS max_price,
                CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'""",

    // the SUM fold must equal the real scan's sums exactly
    "g30_sum_stats_agg" ->
      """SELECT COUNT(*) AS cnt,
                CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
                CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln,
                CAST(SUM(l_suppkey) AS BIGINT) AS sum_sk
         FROM lineitem""",

    // the catalog DELETE's survivors = the NOT(predicate) replay
    "g18_catalog_dml" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
         GROUP BY o_orderstatus""",

    "g02_segment_compaction" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus""",

    "g04_bloom_point_lookup" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderkey IN (2, 4, 6, 32)""",

    // double delivery must reconstruct exactly the source corpus
    "g10_dedup_ingest" ->
      """SELECT lang, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""",

    "g09_merge_upsert" ->
      """WITH incoming AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 100 = 1
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 100 = 2),
         merged AS (
           SELECT * FROM incoming
           UNION ALL
           SELECT * FROM orders o
           WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM incoming))
         SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM merged GROUP BY o_orderstatus""",

    // the as-of-first-load snapshot is exactly the even doc_ids
    "g08_time_travel" ->
      """SELECT lang, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE doc_id % 2 = 0 GROUP BY lang""",

    "g07_zorder_scan" ->
      """SELECT l_suppkey, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
         FROM lineitem WHERE l_suppkey BETWEEN 10 AND 20
         GROUP BY l_suppkey""",

    "g05_row_delete" ->
      """SELECT lang, COUNT(*) AS cnt,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE lang <> 'de' GROUP BY lang""",

    "g06_row_update" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F'
                            THEN o_totalprice * 2
                            ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus""",

    // the bucketed layout must be exactly row-preserving: the oracle is
    // the same join+agg over the original tables
    "g03_colocated_join" ->
      """SELECT o_orderpriority, COUNT(*) AS line_cnt,
         SUM(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority"""
  )
}
