package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.Tables.{dsum, davg, dsumProduct}

/** Core relational operator surface (SURVEY.md §2.1-§2.5).
  *
  * Each entry is a Spark-first re-expression of a capability the
  * reference implements in its own scan/aggregate engine:
  *  - projection/filter pushdown: reference CarbonOperators.scala:238-259,
  *    387-431 → here Catalyst ColumnPruning + Parquet PushedFilters.
  *  - partial aggregation: reference CarbonAggregate.scala:46-205 and
  *    CarbonAggregates.scala (Sum/Count/Avg/Min/Max/Distinct variants) →
  *    here HashAggregateExec partial→shuffle→final, automatic.
  *  - broadcast-side join pushdown: reference CarbonJoins.scala:31-93
  *    (FilterPushJoin) → here broadcast() hash join + AQE.
  *  - top-k: reference CarbonStrategies.scala:60-118 → here
  *    TakeOrderedAndProjectExec via orderBy().limit().
  *
  * Numeric discipline: sums over monetary doubles go through
  * [[Tables.dsum]] (exact decimal) so results are bit-identical to the
  * DuckDB oracle regardless of partial-aggregation order — summing raw
  * doubles distributively is not reproducible across engines.
  */
object RelationalQueries {

  /** As-of join (each error event picks up the user's most recent
    * purchase value at or before it), built as union + ordered window
    * — the composition Spark lacks a native operator for. Shared by
    * q41 (raw parquet) and g11 (segmented store): same plan, two
    * storage layers. pvalue as the final tie-break makes the order
    * total even if one user had two purchases at the same instant
    * (side-1 rows all carry null pvalue, so cross-engine null
    * placement is moot).
    */
  private[queries] def asOfJoinPlan(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("value").as("pvalue"), lit(null).cast("long").as("event_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("double").as("pvalue"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("side").asc, col("pvalue").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(errors)
      .withColumn("last_purchase", last(col("pvalue"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("last_purchase"))
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // §2.4 aggregations: TPC-H Q1 pricing summary (sum/avg/count, 2 group cols)
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumProduct(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // §2.2 projection + filter pushdown (detail query)
    "q02_filter_proj" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
    }),

    // §2.3 broadcast hash join (reference FilterPushJoin semantics)
    "q03_broadcast_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("order_cnt"),
          dsum(col("o_totalprice")).as("total_price"))
    }),

    // §2.3 large-large equi join (shuffle; AQE picks strategy)
    "q04_join_agg" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("line_cnt"),
          dsumProduct(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }),

    // §2.3 multi-way star join (TPC-H Q5 shape): dims broadcast, facts
    // co-located. The fact tables come from the bucketed layout
    // (g03_colocated_join's builder) so the lineitem⋈orders join — the
    // dominant stage at 100 TB — needs no Exchange; Spark still
    // broadcasts orders instead when it is small enough, which is the
    // right call at tiny scale. Dims broadcast as before.
    "q05_star_join" -> ((s, d) => {
      val (liName, ordName) = SegmentQueries.bucketedFacts(s, d)
      val l = s.table(liName)
      val o = s.table(ordName)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsumProduct(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("line_cnt"))
    }),

    // §2.5 top-k → TakeOrderedAndProjectExec (deterministic tiebreak)
    "q06_topk" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // §2.4 exact count(distinct) (reference DistinctCountAggregator)
    "q07_count_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"))
    }),

    // §2.4 exact sum(distinct) (reference SumDistinct*Aggregator)
    "q08_sum_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(sum_distinct(col("l_quantity")).as("sum_dist_qty"))
    }),

    // §2.4 min/max/avg measure aggregators
    "q09_minmax" -> ((s, d) => {
      Tables.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(min(col("s_acctbal")).as("min_bal"),
          max(col("s_acctbal")).as("max_bal"),
          davg(col("s_acctbal")).as("avg_bal"),
          count(lit(1)).as("supp_cnt"))
    }),

    // §2.4 group-by + HAVING (post-aggregate filter)
    "q10_having" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
    }),

    // §2.5 multi-column sort with limit
    "q11_sort_multi" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc,
          col("o_orderkey").asc)
        .limit(100)
    }),

    // §2.4 count(*) fast path (reference CountStarQueryExecutor —
    // Spark answers from parquet footer row counts via agg pushdown)
    "q12_count_star" -> ((s, d) => {
      Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))
    }),

    // §2.2 IN / NOT IN predicate translation
    "q13_in_filter" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          && !col("o_orderstatus").isin("F"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // §2.2 LIKE / contains filters (reference likefilters/)
    "q14_like_filter" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_type").like("%ECO%") || col("p_name").startsWith("blue"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), min(col("p_size")).as("min_size"))
    }),

    // §2.2 range predicate on timestamp (direct-dictionary equivalence)
    "q15_between_dates" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total"))
    }),

    // §2.6 set operation: UNION ALL then aggregate
    "q16_union" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nationkey"))
      c.unionAll(sup).groupBy(col("nationkey")).agg(count(lit(1)).as("cnt"))
    }),

    // §2.6 set operation: INTERSECT (distinct semantics)
    "q17_intersect" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nationkey"))
      c.intersect(sup)
    }),

    // §2.6 set operation: EXCEPT (distinct semantics)
    "q18_except" -> ((s, d) => {
      val heavy = Tables.lineitem(s, d).filter(col("l_quantity") > 47)
        .select(col("l_partkey").as("partkey"))
      val p = Tables.part(s, d).select(col("p_partkey").as("partkey"))
      p.except(heavy)
    }),

    // §2.6 window: rank within group (reference `Top` operator,
    // CarbonCatalystOperators.scala:34-42 → Window + row_number)
    "q19_window_topn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rn"))
    }),

    // §2.6 window: running aggregate
    "q20_window_running" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity")).over(w).as("running_qty"))
    }),

    // §2.4 ROLLUP (capability win over reference; exact distinct too)
    "q21_rollup" -> ((s, d) => {
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    }),

    // §2.4 conditional aggregation (reference SparkUnknownExpression —
    // arbitrary expression evaluated inside the scan)
    "q22_case_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0.0))).as("qty_high_disc"),
          count(when(col("l_tax") > 0.04, lit(1))).as("cnt_high_tax"))
    }),

    // §2.2 arithmetic in projection + filter (reference translates
    // +,-,*,/ into its filter tree, CarbonOperators.scala:403-418)
    "q23_arith" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") * (lit(1) + col("l_tax")) > 52)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum((col("l_quantity") * 2 - 1).cast("long")).as("derived_sum"))
    }),

    // §2.3 left semi join (EXISTS)
    "q24_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // §2.3 left anti join (NOT EXISTS)
    "q25_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // §2.3 left outer join with null-producing aggregation
    "q26_outer_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("order_cnt"))
        .groupBy(col("order_cnt"))
        .agg(count(lit(1)).as("cust_cnt"))
    }),

    // §2.4 first/arg-extremum aggregate (reference FirstCarbon — made
    // deterministic via min_by/max_by)
    "q27_argminmax" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order"),
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("priciest_order"))
    }),

    // §2.2 null semantics (IsNotNull / IsNull translation)
    "q28_null_filter" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .filter(col("o_orderkey").isNull)
        .agg(count(lit(1)).as("custs_without_orders"))
    }),

    // §2.6 scalar functions: string/date built-ins end-to-end
    "q29_scalar_funcs" -> ((s, d) => {
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 3, 10)).as("prio_name"),
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .groupBy(col("prio_name"), col("order_year"))
        .agg(count(lit(1)).as("cnt"), min(col("order_month")).as("min_month"))
    }),

    // §2.6 time-window aggregation over events (streaming-shaped query
    // run as batch). Tables.events normalizes ts to epoch-nanos longs
    // whatever the parquet encoding, so the hour bucket is exact
    // integer division on both engines (DuckDB: epoch_ns(ts)).
    "q30_time_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
    }),

    // §1.2 complex types: ARRAY via explode (reference ARRAY<T> columns,
    // ComplexDataTypesTestCase)
    "q31_explode_array" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("docs"))
        .filter(col("cnt") >= 20)
    }),

    // §1.2 complex types: STRUCT build + field access through agg
    "q32_struct" -> ((s, d) => {
      Tables.orders(s, d)
        .select(struct(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m")).as("ym"),
          col("o_totalprice"))
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .select(col("ym.y").as("y"), col("ym.m").as("m"), col("cnt"), col("total"))
    }),

    // §1.2 complex types: array aggregation with deterministic order
    "q33_array_agg" -> ((s, d) => {
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("cnt"))
    }),

    // §2.4 exact distinct via Roaring bitmap (reference
    // DistinctCountAggregator parity — custom TypedImperativeAggregate)
    "q34_bitmap_distinct" -> ((s, d) => {
      import graft.functions.BitmapDistinctCount.bitmapDistinctCount
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(bitmapDistinctCount(col("l_orderkey")).as("distinct_orders"),
          bitmapDistinctCount(col("l_partkey")).as("distinct_parts"))
    }),

    // §2.4 percentiles (exact interpolated) per group. State is
    // O(distinct l_quantity) — fine for integral measures; a FLOAT
    // column at 100 TB routes to
    // [[graft.functions.KllQuantiles.exactQuantiles]] / SQL
    // `kll_sketch` (O(k·log) state, exact order statistics).
    "q37_percentile" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
    }),

    // §2.1 global dictionary generation (reference GlobalDictionaryUtil):
    // order-preserving surrogate ids over a dimension + encoded agg
    "q38_dictionary" -> ((s, d) => {
      import graft.functions.GlobalDictionary
      val o = Tables.orders(s, d)
      val dict = GlobalDictionary.build(o, "o_orderpriority")
      GlobalDictionary.encode(o, dict, "o_orderpriority")
        .groupBy(col("o_orderpriority_id"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // §2.4 pivot (cross-tab): status columns per priority
    // §2.3-beyond: as-of join (each error event picks up the latest
    // purchase amount by the same user at or before it). Spark lacks a
    // native as-of operator; the scalable composition is union + a
    // per-user ordered window with last(ignoreNulls) — one shuffle on
    // user_id, no range cross-product, no per-row subquery. At 100 TB
    // this is the standard pattern (partition keys bound the window;
    // no state beyond one running value per user).
    "q41_asof_join" -> ((s, d) => asOfJoinPlan(Tables.events(s, d))),

    // bounded-time correlation join: every error event pairs with the
    // same user's purchases in the preceding hour. Spark has no
    // native band/interval join; the naive form (equi on user +
    // inequality on ts) degenerates to a per-user cross product. The
    // scalable composition: quantize time into window-sized buckets,
    // explode the SMALL side (purchases) into (bucket, bucket+1), and
    // equi-join on (user_id, bucket) — each qualifying pair matches in
    // EXACTLY one bucket (p.ts ∈ (e.ts−W, e.ts] pins p's bucket to
    // e.bucket or e.bucket−1, and the +1 ghost covers the latter), so
    // no post-join dedup is needed. At 100 TB this is one keyed
    // shuffle with 2× replication of one side, never a range scan.
    "q44_time_corr_join" -> ((s, d) => {
      val W = 3600000000000L // 1 hour in ns
      val ev = Tables.events(s, d)
      val err = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("ets"), col("event_id").as("err_id"))
        .withColumn("bucket", expr(s"ets div $W"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
        .withColumn("pb", expr(s"pts div $W"))
        .select(col("user_id"), col("pts"),
          explode(array(col("pb"), col("pb") + 1)).as("bucket"))
      err.join(pur, Seq("user_id", "bucket"))
        .filter(col("pts") > col("ets") - W && col("pts") <= col("ets"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("err_id")).as("errors_with_purchase"))
    }),

    // §2.4 CUBE + grouping_id (q21's ROLLUP companion — completes the
    // reference's GROUPING SETS family, reference Aggregate plans in
    // query/src/.../agg): every subtotal combination in one pass,
    // with the grouping bit-vector distinguishing (NULL key) from
    // (rolled-up key). Spark's grouping_id() orders bits first-col-
    // most-significant; the oracle composes DuckDB GROUPING() calls
    // in the same order.
    "q45_cube_grouping" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          Tables.dsum(col("o_totalprice")).as("total"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("gid").cast("long").as("gid"), col("cnt"), col("total"))
    }),

    // §2.6 interval RANGE window frame (the value-based frame q20's
    // ROWS frame can't express): each order's rolling 90-day customer
    // spend — the frame is bounded by the ORDER KEY'S VALUE (epoch
    // day), so ties share one frame and gaps shrink it, exactly the
    // trailing-window semantics a revenue dashboard wants. Decimal
    // window sum on both engines keeps the rolling total ulp-exact.
    // Scale: one keyed shuffle on o_custkey; the frame walk is a
    // per-partition two-pointer scan, never a self-join.
    "q46_range_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-89, 0)
      Tables.orders(s, d)
        .withColumn("day",
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(w)
            .cast("double").as("rolling_total"))
    }),

    // §2.2/2.4 correlated scalar subquery (Catalyst's decorrelation
    // rewrites this into a join + aggregate — the reference's query
    // layer punts correlated predicates to Spark the same way):
    // orders carrying more than half their customer's lifetime spend.
    // All arithmetic in exact decimal so the half-boundary can never
    // flip between engines.
    "q47_correlated_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_q47_orders")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM graft_q47_orders o
           WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 >
             (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              FROM graft_q47_orders i WHERE i.o_custkey = o.o_custkey)
           GROUP BY o_orderstatus""")
    }),

    // skyline / Pareto front (EDBT 2023 "Integration of Skyline
    // Queries into Spark SQL" — PAPERS.md): line items on the
    // (price, quantity) Pareto front, both minimized. The Spark side
    // runs the 2-phase SFS operator; the oracle computes the same
    // front with a DIFFERENT algorithm (sorted running-min), so the
    // hash match cross-validates two independent implementations.
    "q42_skyline" -> ((s, d) => {
      Skyline.skyline(Tables.lineitem(s, d),
        Seq("l_extendedprice", "l_quantity"))
    }),

    "q39_pivot" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(Tables.dsum(col("o_totalprice")))
    }),

    // event-sequence analytics: signup→purchase funnel per user
    "q36_funnel" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
        .filter(col("first_signup").isNotNull && col("last_purchase").isNotNull
          && col("first_signup") < col("last_purchase"))
        .select(col("user_id"))
    }),

    // §2.4/§2.8 aggregate table (MV): the rollup is created through the
    // SQL DDL (CREATE GRAFT AGGREGATE TABLE, reference AddAggregatesToCube
    // cubeSchema.scala:1970), then a matching aggregate over the BASE
    // path is answered from the rollup by AggTableRewrite — the oracle
    // computes from the base table, so a hash match proves the rewrite
    // is exact. Grouping is a strict subset of the MV dims and AVG
    // re-derives as sum-of-sums / sum-of-counts.
    "q40_agg_mv" -> ((s, d) => {
      import graft.mv.{AggTables, AggTableRewrite}
      val base = s"$d/orders.parquet"
      val mvName = s"orders_rollup_${math.abs(d.hashCode)}"
      // build once per base-data state: skip the rebuild while the
      // registered MV is fresh (the steady state on a cluster — MVs
      // are built once and queried many times)
      val fresh = AggTables.registered(s).exists(m => m.name == mvName &&
        AggTables.isFresh(s, m))
      if (!fresh) {
        val parser = new graft.sql.GraftSqlParser(s.sessionState.sqlParser)
        val ddl = s"CREATE GRAFT AGGREGATE TABLE $mvName ON PATH '$base' " +
          "GROUP BY (o_orderstatus, o_orderpriority) " +
          "AGG (sum(o_orderkey), min(o_totalprice), max(o_totalprice))"
        org.apache.spark.sql.graftbridge.ColumnExpr
          .ofRows(s, parser.parsePlan(ddl)).collect()
      }
      // Verify/Bench run on a plain session (no injected extensions);
      // registering the rewrite via experimental optimizer rules gives
      // the same optimizer-batch behavior, and ensureRegistered is a
      // no-op when GraftSqlExtensions already injected the rule.
      AggTableRewrite.ensureRegistered(s)
      s.read.parquet(base)
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("o_orderkey")).as("sum_key"),
          avg(col("o_orderkey")).as("avg_key"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("cnt"))
    }),

    // §2.6 semi-structured: JSON property extraction from events.props
    "q35_json_props" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_cnt"),
          max(col("k")).as("k_max"))
    }),

    // §2.6 NATIVE event-time path (q30's timestamp-typed twin): the
    // normalized epoch-ns boundary interops with Spark's real time
    // operators — reconstruct a timestamp and bucket with date_trunc
    // instead of integer division (reference stores time as direct-
    // dictionary surrogates precisely so queries can use either form,
    // TimeStampDirectDictionaryGenerator.java). Emitted as epoch-µs
    // longs on both engines so the hash compare never depends on
    // timestamp rendering.
    "q48_native_time" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
        .groupBy(date_trunc("hour", col("ts_utc")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .select(unix_micros(col("h")).as("hour_us"), col("event_type"),
          col("cnt"), col("total_value"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",

    "q02_filter_proj" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45""",

    "q03_broadcast_join" ->
      """SELECT c_mktsegment, COUNT(*) AS order_cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    "q04_join_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS line_cnt,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "q05_star_join" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS line_cnt
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name""",

    "q06_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "q07_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
         COUNT(DISTINCT l_suppkey) AS distinct_supps
         FROM lineitem GROUP BY l_returnflag""",

    "q08_sum_distinct" ->
      """SELECT l_linestatus, SUM(DISTINCT l_quantity) AS sum_dist_qty
         FROM lineitem GROUP BY l_linestatus""",

    "q09_minmax" ->
      """SELECT s_nationkey, MIN(s_acctbal) AS min_bal, MAX(s_acctbal) AS max_bal,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(s_acctbal) AS avg_bal,
         COUNT(*) AS supp_cnt
         FROM supplier GROUP BY s_nationkey""",

    "q10_having" ->
      """SELECT l_suppkey, SUM(l_quantity) AS sum_qty FROM lineitem
         GROUP BY l_suppkey HAVING SUM(l_quantity) > 300""",

    "q11_sort_multi" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
         LIMIT 100""",

    "q12_count_star" ->
      """SELECT COUNT(*) AS cnt FROM lineitem""",

    "q13_in_filter" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders
         WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
         AND o_orderstatus NOT IN ('F')
         GROUP BY o_orderstatus, o_orderpriority""",

    "q14_like_filter" ->
      """SELECT p_brand, COUNT(*) AS cnt, MIN(p_size) AS min_size FROM part
         WHERE p_type LIKE '%ECO%' OR p_name LIKE 'blue%'
         GROUP BY p_brand""",

    "q15_between_dates" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
         AND o_orderdate < TIMESTAMP '1996-01-01'
         GROUP BY o_orderpriority""",

    "q16_union" ->
      """SELECT nationkey, COUNT(*) AS cnt FROM (
           SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
           UNION ALL
           SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
         ) GROUP BY nationkey""",

    "q17_intersect" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
         INTERSECT
         SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier""",

    "q18_except" ->
      """SELECT p_partkey AS partkey FROM part
         EXCEPT
         SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity > 47""",

    "q19_window_topn" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""",

    "q20_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         SUM(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_orderkey ASC, l_linenumber ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         FROM lineitem WHERE l_suppkey <= 5""",

    "q21_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",

    "q22_case_agg" ->
      """SELECT l_returnflag,
         SUM(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0.0 END) AS qty_high_disc,
         COUNT(CASE WHEN l_tax > 0.04 THEN 1 END) AS cnt_high_tax
         FROM lineitem GROUP BY l_returnflag""",

    "q23_arith" ->
      """SELECT l_linestatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(l_quantity * 2 - 1 AS BIGINT)) AS BIGINT) AS derived_sum
         FROM lineitem WHERE l_quantity * (1 + l_tax) > 52
         GROUP BY l_linestatus""",

    "q24_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS cnt FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         GROUP BY c_mktsegment""",

    "q25_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_orderpriority = '1-URGENT')""",

    "q26_outer_join" ->
      """SELECT order_cnt, COUNT(*) AS cust_cnt FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY order_cnt""",

    "q27_argminmax" ->
      """WITH ranked AS (
           SELECT o_orderpriority, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax
           FROM orders)
         SELECT o_orderpriority,
         MIN(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
         MIN(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order
         FROM ranked GROUP BY o_orderpriority""",

    "q28_null_filter" ->
      """SELECT COUNT(*) AS custs_without_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         WHERE o_orderkey IS NULL""",

    "q29_scalar_funcs" ->
      """SELECT UPPER(SUBSTRING(o_orderpriority, 3, 10)) AS prio_name,
         YEAR(o_orderdate) AS order_year, COUNT(*) AS cnt,
         MIN(MONTH(o_orderdate)) AS min_month
         FROM orders GROUP BY 1, 2""",

    "q30_time_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    "q31_explode_array" ->
      """SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS docs FROM (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents WHERE doc_id < 50)
         GROUP BY token HAVING COUNT(*) >= 20""",

    "q32_struct" ->
      """SELECT ym.y AS y, ym.m AS m, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM (SELECT struct_pack(y := YEAR(o_orderdate), m := MONTH(o_orderdate)) AS ym,
               o_totalprice FROM orders)
         GROUP BY ym""",

    "q33_array_agg" ->
      """SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS nations,
         COUNT(*) AS cnt
         FROM nation GROUP BY n_regionkey""",

    "q34_bitmap_distinct" ->
      """SELECT l_linestatus, COUNT(DISTINCT l_orderkey) AS distinct_orders,
         COUNT(DISTINCT l_partkey) AS distinct_parts
         FROM lineitem GROUP BY l_linestatus""",

    "q37_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.9) AS p90
         FROM lineitem GROUP BY l_returnflag""",

    "q38_dictionary" ->
      """WITH dict AS (
           SELECT value, CAST(ROW_NUMBER() OVER (ORDER BY value) AS BIGINT) AS id
           FROM (SELECT DISTINCT o_orderpriority AS value FROM orders
                 WHERE o_orderpriority IS NOT NULL))
         SELECT d.id AS o_orderpriority_id, COUNT(*) AS cnt
         FROM orders o JOIN dict d ON o.o_orderpriority = d.value
         GROUP BY d.id""",

    "q39_pivot" ->
      """SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
         CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
         FROM orders GROUP BY o_orderpriority""",

    // same union + ordered-window construction; side 0 (purchase)
    // sorts before side 1 (error) at equal ts, so a same-instant
    // purchase is visible to the error ("at or before")
    "q41_asof_join" ->
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

    // plain inequality join — DuckDB handles the range predicate
    // directly at oracle scale; the Spark side must produce the same
    // pair set from the bucketed equi-join
    "q44_time_corr_join" ->
      """SELECT e.user_id, COUNT(*) AS n_pairs,
         COUNT(DISTINCT e.event_id) AS errors_with_purchase
         FROM (SELECT user_id, event_id, epoch_ns(ts) AS ets
               FROM events WHERE event_type = 'error') e
         JOIN (SELECT user_id, epoch_ns(ts) AS pts
               FROM events WHERE event_type = 'purchase') p
         ON e.user_id = p.user_id
         AND p.pts > e.ets - 3600000000000 AND p.pts <= e.ets
         GROUP BY e.user_id""",

    // GROUPING() in DuckDB returns the same 0/1 per column; composed
    // first-col-most-significant to match Spark's grouping_id()
    "q45_cube_grouping" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS BIGINT) AS gid,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    // the RANGE frame is value-bounded on the epoch day; decimal
    // window sum keeps both engines ulp-exact
    "q46_range_window" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
             CAST(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             o_totalprice
           FROM orders)
         SELECT o_orderkey, o_custkey, day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_total
         FROM o""",

    // the same correlated predicate, decorrelated by DuckDB's planner
    "q47_correlated_subquery" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders o
         WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 >
           (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FROM orders i WHERE i.o_custkey = o.o_custkey)
         GROUP BY o_orderstatus""",

    "q36_funnel" ->
      """SELECT user_id FROM (
           SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) END) AS fs,
             MAX(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS lp
           FROM events GROUP BY user_id)
         WHERE fs IS NOT NULL AND lp IS NOT NULL AND fs < lp""",

    // 2-D skyline by sorted running-min: a distinct point is on the
    // front iff no point ordered before it (price asc, qty asc) has
    // qty <= its qty — same-price smaller-qty and smaller-price
    // equal-or-smaller-qty points both dominate
    "q42_skyline" ->
      """WITH pts AS (
           SELECT DISTINCT CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                           CAST(l_quantity AS DOUBLE) AS l_quantity
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
         w AS (
           SELECT l_extendedprice, l_quantity,
             MIN(l_quantity) OVER (ORDER BY l_extendedprice ASC, l_quantity ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
           FROM pts)
         SELECT l_extendedprice, l_quantity FROM w
         WHERE prev_min IS NULL OR prev_min > l_quantity""",

    // computes from the BASE table: hash-equality proves the MV rewrite
    // returns exactly the base answer. avg is written as the same
    // sum/count division the rewrite produces (sums of bigint keys are
    // exact, so the double division is bit-identical in both engines).
    "q40_agg_mv" ->
      """SELECT o_orderstatus,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
         CAST(SUM(o_orderkey) AS DOUBLE) / COUNT(o_orderkey) AS avg_key,
         MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price,
         COUNT(*) AS cnt
         FROM orders GROUP BY o_orderstatus""",

    "q35_json_props" ->
      """SELECT event_type,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
         COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_cnt,
         MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
         FROM events GROUP BY event_type""",

    // date_trunc on a reconstructed µs timestamp == Spark's
    // date_trunc('hour', ts_utc); both engines emit epoch-µs longs
    "q48_native_time" ->
      """SELECT epoch_us(date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)))
           AS hour_us, event_type, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2"""
  )
}
