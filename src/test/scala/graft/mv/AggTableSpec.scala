package graft.mv

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AggTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val base = "/root/testdata/sf0.001/lineitem.parquet"

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  private def q() = spark.read.parquet(base)
    .groupBy(col("l_returnflag"))
    .agg(sum(col("l_quantity")).as("sq"),
      max(col("l_extendedprice")).as("mx"),
      count(lit(1)).as("cnt"))

  test("matching aggregate is answered from the MV, with equal results") {
    AggTables.create(spark, "li_rollup", base,
      Seq("l_returnflag", "l_linestatus"),
      Seq("sum" -> "l_quantity", "min" -> "l_discount", "max" -> "l_extendedprice"))

    // plan must scan the MV, not the base table
    val paths = scannedPaths(q())
    assert(paths.exists(_.contains("li_rollup")), s"scanned: $paths")
    assert(!paths.exists(_.endsWith("lineitem.parquet")), s"scanned: $paths")

    // results must equal the base computation (rule disabled via an
    // empty MV store)
    spark.conf.set("spark.graft.mv.store", "/nonexistent_mv_dir")
    val want = q().orderBy("l_returnflag").collect()
    spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
    val got = q().orderBy("l_returnflag").collect()
    assert(got.sameElements(want))
  }

  test("non-derivable aggregates are left untouched") {
    val qd = spark.read.parquet(base)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d"))
    assert(scannedPaths(qd).exists(_.endsWith("lineitem.parquet")))
    // grouping outside MV dims: untouched
    val q2 = spark.read.parquet(base)
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("s"))
    assert(scannedPaths(q2).exists(_.endsWith("lineitem.parquet")))
    // filter present: untouched
    val q3 = spark.read.parquet(base)
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"))
    assert(scannedPaths(q3).exists(_.endsWith("lineitem.parquet")))
  }

  test("global count(*) over a graft table is answered from the catalog") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_cnt").resolve("t").toString
    val n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val t = graft.table.SegmentedTable.create(spark, root, n.schema, Map.empty)
    t.load(n); t.load(n)
    val q = t.read().agg(count(lit(1)).as("cnt"))
    // plan collapses to a LocalRelation (no scan at all)
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.isEmpty, q.queryExecution.optimizedPlan.toString)
    assert(q.head().getLong(0) == 50)
    // filtered count must NOT use the fast path
    val qf = t.read().filter(col("n_nationkey") > 5).agg(count(lit(1)).as("cnt"))
    val scansF = qf.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scansF.nonEmpty)
    assert(qf.head().getLong(0) == n.filter(col("n_nationkey") > 5).count() * 2)
  }

  test("with several MVs on one base, the servable sibling wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mv_multi")
    val b = dir.resolve("ev").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.parquet(b)
    AggTables.create(spark, "multi_by_prio", b,
      Seq("o_orderpriority"), Seq("sum" -> "o_totalprice"))
    AggTables.create(spark, "multi_by_status", b,
      Seq("o_orderstatus"), Seq("sum" -> "o_totalprice"))
    // a query only the SECOND-registered MV can serve must still
    // rewrite (listing order is not a serve order)
    val q = spark.read.parquet(b).groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice")).as("s"))
    val paths = scannedPaths(q)
    assert(paths.exists(_.contains("multi_by_status")), s"scanned: $paths")
    // and each MV serves its own dims with equal results
    val want = spark.read.option("pathGlobFilter", "*.parquet").parquet(b)
      .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")).as("s"))
      .orderBy("o_orderstatus").collect()
    assert(q.orderBy("o_orderstatus").collect().sameElements(want))
  }

  test("file-filtered scans are never rewritten and never catalog-counted") {
    // pathGlobFilter & co. read a SUBSET of the scan roots' files —
    // an MV rewrite or a catalog count would silently overcount
    val filtered = spark.read.option("pathGlobFilter", "*.parquet")
      .parquet(base)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(scannedPaths(filtered).exists(_.endsWith("lineitem.parquet")),
      "an option-carrying scan must keep reading the base")
    // count(*) fast path: an EXCLUDING glob over a graft table must
    // count the (zero) matching files, not the catalog
    val root = java.nio.file.Files
      .createTempDirectory("graft_cnt_glob").resolve("t").toString
    val n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val t = graft.table.SegmentedTable.create(spark, root, n.schema, Map.empty)
    t.load(n)
    val seg = t.read().inputFiles.head.replaceFirst("/[^/]*$", "")
    val globbed = spark.read.schema(n.schema)
      .option("pathGlobFilter", "no_such_prefix*").parquet(seg)
      .agg(count(lit(1)).as("cnt"))
    assert(globbed.head().getLong(0) == 0L,
      "excluding glob must yield 0, not the catalog rowCount")
  }

  test("stale MV is not used; refresh re-enables; drop deregisters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mvbase")
    val basePath = dir.resolve("nation.parquet").toString
    val n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    n.write.parquet(basePath)
    AggTables.create(spark, "nation_rollup", basePath,
      Seq("n_regionkey"), Seq("sum" -> "n_nationkey"))
    def qn() = spark.read.parquet(basePath)
      .groupBy(col("n_regionkey")).agg(sum(col("n_nationkey")).as("s"))
    assert(scannedPaths(qn()).exists(_.contains("nation_rollup")))

    // append to the base: the fingerprint no longer matches, so the
    // rewrite must stop firing and the query must see the new rows
    n.limit(5).write.mode("append").parquet(basePath)
    assert(scannedPaths(qn()).exists(_.contains("nation.parquet")),
      "stale MV must not be used after base data changed")
    val want = qn().orderBy("n_regionkey").collect()

    // refresh rebuilds and re-enables
    AggTables.refresh(spark, "nation_rollup")
    assert(scannedPaths(qn()).exists(_.contains("nation_rollup")))
    assert(qn().orderBy("n_regionkey").collect().sameElements(want))

    // drop removes registration and data
    AggTables.drop(spark, "nation_rollup")
    assert(!AggTables.registered(spark).exists(_.name == "nation_rollup"))
    assert(scannedPaths(qn()).exists(_.contains("nation.parquet")))
  }

  test("refresh is incremental on append, noop when clean, full on rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mvincr")
    val basePath = dir.resolve("orders.parquet").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    o.filter(col("o_orderkey") % 2 === 0).write.parquet(basePath)
    AggTables.create(spark, "ord_incr", basePath,
      Seq("o_orderstatus"), Seq("sum" -> "o_totalprice", "max" -> "o_totalprice"))

    // no base change → refresh is a metadata stamp, no rollup job
    assert(AggTables.refreshDetailed(spark, "ord_incr")._2 == "noop")

    // append → incremental merge; result equals a from-scratch rollup
    o.filter(col("o_orderkey") % 2 === 1).write.mode("append").parquet(basePath)
    val (_, how) = AggTables.refreshDetailed(spark, "ord_incr")
    assert(how == "incremental")
    val mv = spark.read.parquet(AggTables.registered(spark)
      .find(_.name == "ord_incr").get.mvPath)
    val want = o.groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice")).as("sum_o_totalprice"),
        count(col("o_totalprice")).as("cnt_o_totalprice"),
        max(col("o_totalprice")).as("max_o_totalprice"),
        count(lit(1)).as("cnt_rows"))
    val got = mv.orderBy("o_orderstatus").collect()
    val exp = want.orderBy("o_orderstatus").collect()
    assert(got.length == exp.length)
    // double sums re-aggregate in a different order than a full scan —
    // equal to the last ulp is the correct expectation, not bit-equal
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0))
      assert(math.abs(g.getDouble(1) - e.getDouble(1)) <=
        math.ulp(e.getDouble(1)) * 8)
      assert(g.getLong(2) == e.getLong(2))     // cnt_o_totalprice
      assert(g.getDouble(3) == e.getDouble(3)) // max: order-insensitive
      assert(g.getLong(4) == e.getLong(4))     // cnt_rows
    }
    // column names and types must not drift across refreshes (rewrite
    // plans bind to them; parquet makes everything nullable on disk)
    assert(mv.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.schema.fields.map(f => (f.name, f.dataType)).toSeq)

    // and the rewrite fires again after the incremental refresh
    def qo() = spark.read.parquet(basePath)
      .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")).as("s"))
    assert(scannedPaths(qo()).exists(_.contains("ord_incr")))

    // a covered file REWRITTEN in place (overwrite shrinks the set) →
    // the listing diff detects it and falls back to a full rebuild
    o.limit(100).write.mode("overwrite").parquet(basePath)
    assert(AggTables.refreshDetailed(spark, "ord_incr")._2 == "full")
    AggTables.drop(spark, "ord_incr")
  }

  test("multi-path scan is never rewritten to a single-base MV") {
    val other = java.nio.file.Files
      .createTempDirectory("graft_mvmp").resolve("extra.parquet").toString
    spark.read.parquet(base).limit(7).write.parquet(other)
    // li_rollup over `base` is registered by the first test; a scan of
    // (base, other) must NOT route to it
    val qmp = spark.read.parquet(base, other)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), max(col("l_extendedprice")).as("mx"),
        count(lit(1)).as("cnt"))
    assert(scannedPaths(qmp).exists(_.endsWith("lineitem.parquet")),
      s"scanned: ${scannedPaths(qmp)}")
    assert(qmp.agg(sum(col("cnt"))).head().getLong(0) ==
      spark.read.parquet(base).count() + 7)
  }

  test("q40_agg_mv is answered from the MV created through SQL DDL") {
    val df = graft.queries.RelationalQueries.queries("q40_agg_mv")(
      spark, "/root/testdata/sf0.001")
    val paths = scannedPaths(df)
    assert(paths.exists(_.contains("orders_rollup")), s"scanned: $paths")
    assert(!paths.exists(_.endsWith("orders.parquet")), s"scanned: $paths")
    // and the MV answer equals the base answer
    spark.conf.set("spark.graft.mv.store", "/nonexistent_mv_dir")
    val want = df.orderBy("o_orderstatus").collect()
    spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
    val got = df.orderBy("o_orderstatus").collect()
    assert(got.sameElements(want))
  }

  test("AVG rewrites to sum-of-sums over non-null counts") {
    import org.apache.spark.sql.functions._
    AggTables.create(spark, "li_rollup_avg", base,
      Seq("l_returnflag"), Seq("sum" -> "l_quantity"))
    def qa() = spark.read.parquet(base)
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("aq"))
    val paths = qa().queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    // either registered rollup of this base table is a valid answer
    assert(paths.exists(_.contains("li_rollup")), s"scanned: $paths")
    assert(!paths.exists(_.endsWith("lineitem.parquet")), s"scanned: $paths")
    spark.conf.set("spark.graft.mv.store", "/nonexistent_mv_dir")
    val want = qa().orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
    val got = qa().orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    // quantities are integral doubles: sums are exact, so AVG matches
    // bit-for-bit even through the rollup
    assert(got == want, s"got=$got want=$want")
  }

  test("COUNT(col) is served from the rollup's non-null counts") {
    // li_rollup (first test) materializes cnt_l_quantity beside the sum
    val qc = spark.read.parquet(base)
      .groupBy(col("l_returnflag"))
      .agg(count(col("l_quantity")).as("c"))
    val paths = scannedPaths(qc)
    assert(paths.exists(_.contains("li_rollup")), s"scanned: $paths")
    spark.conf.set("spark.graft.mv.store", "/nonexistent_mv_dir")
    val want = qc.orderBy("l_returnflag").collect()
    spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
    assert(qc.orderBy("l_returnflag").collect().sameElements(want))
  }

  test("AGGREGATETABLE declared before the first load registers and serves after it") {
    import graft.table.SegmentedTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_mvempty").resolve("t").toString
    val n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val t = SegmentedTable.create(spark, root, n.schema,
      Map("refresh_on_commit" -> "true"))
    // the reference workflow: declare the rollup on the EMPTY cube
    AggTables.create(spark, "nation_empty_mv", root,
      Seq("n_regionkey"), Seq("sum" -> "n_nationkey"))
    def qn() = t.read()
      .groupBy(col("n_regionkey")).agg(sum(col("n_nationkey")).as("s"))
    assert(qn().count() == 0)
    // first load auto-refreshes (full rebuild: covered was empty)
    t.load(n)
    assert(t.lastAutoRefresh == Seq("nation_empty_mv" -> "full"),
      s"autoRefresh=${t.lastAutoRefresh}")
    assert(scannedPaths(qn()).exists(_.contains("nation_empty_mv")))
    assert(qn().collect().map(_.getLong(1)).sum ==
      n.agg(sum(col("n_nationkey"))).head().getLong(0))
    AggTables.drop(spark, "nation_empty_mv")
  }

  test("concurrent commits refresh the MV exactly, never double-merging a delta") {
    import graft.table.SegmentedTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_mvrace").resolve("t").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val t = SegmentedTable.create(spark, root, o.schema,
      Map("refresh_on_commit" -> "true"))
    t.load(o.filter(col("o_orderkey") % 4 === 0))
    AggTables.create(spark, "ord_race", root,
      Seq("o_orderstatus"), Seq("sum" -> "o_orderkey"))
    // two loads race: their post-commit refreshes serialize on the
    // per-MV lock; the loser re-reads the winner's coveredFiles, so a
    // delta is merged exactly once whatever the interleaving
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fs = (1 to 3).map(r => Future {
      t.load(o.filter(col("o_orderkey") % 4 === r))
    })
    Await.result(Future.sequence(fs), 5.minutes)
    pool.shutdown()
    // one final refresh (no-op or incremental) then compare exactly
    AggTables.refresh(spark, "ord_race")
    val mvPath = AggTables.registered(spark).find(_.name == "ord_race").get.mvPath
    val got = spark.read.parquet(mvPath)
      .select(col("o_orderstatus"), col("sum_o_orderkey"), col("cnt_rows"))
      .orderBy("o_orderstatus").collect()
    val want = o.groupBy(col("o_orderstatus"))
      .agg(sum(col("o_orderkey")).as("s"), count(lit(1)).as("c"))
      .orderBy("o_orderstatus").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(1) == w.getLong(1), s"double-merged sum for ${g.getString(0)}")
      assert(g.getLong(2) == w.getLong(2), s"double-merged count for ${g.getString(0)}")
    }
    AggTables.drop(spark, "ord_race")
  }

  test("refresh_on_commit: load into the base auto-refreshes the MV incrementally") {
    import graft.table.SegmentedTable
    val root = java.nio.file.Files
      .createTempDirectory("graft_mvauto").resolve("t").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val t = SegmentedTable.create(spark, root, o.schema,
      Map("refresh_on_commit" -> "true"))
    t.load(o.filter(col("o_orderkey") % 2 === 0))

    // MV over the SEGMENTED TABLE ROOT (live segment files listed via
    // the table catalog)
    AggTables.create(spark, "ord_auto", root,
      Seq("o_orderstatus"), Seq("sum" -> "o_totalprice"))
    def qt() = t.read()
      .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")).as("s"))
    assert(scannedPaths(qt()).exists(_.contains("ord_auto")),
      s"scanned: ${scannedPaths(qt())}")

    // the load-time hook must refresh WITHOUT a manual REFRESH call,
    // and take the incremental path (segments only gained files)
    t.load(o.filter(col("o_orderkey") % 2 === 1))
    assert(t.lastAutoRefresh == Seq("ord_auto" -> "incremental"),
      s"autoRefresh=${t.lastAutoRefresh}")
    val paths = scannedPaths(qt())
    assert(paths.exists(_.contains("ord_auto")), s"scanned: $paths")
    assert(!paths.exists(_.contains("segment_")), s"scanned: $paths")
    // and the rewritten answer equals the base computation
    spark.conf.set("spark.graft.mv.store", "/nonexistent_mv_dir")
    val want = qt().orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
    val got = qt().orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) <= math.ulp(want(k)) * 8, s"$k: $v vs ${want(k)}")
    }

    // compaction changes the covered listing → the hook full-rebuilds,
    // and the rewrite keeps firing on the compacted layout
    t.compact()
    assert(t.lastAutoRefresh == Seq("ord_auto" -> "full"),
      s"autoRefresh=${t.lastAutoRefresh}")
    assert(scannedPaths(qt()).exists(_.contains("ord_auto")))

    // a time-travel read of an older segment set must NOT rewrite
    val old = t.versions.min
    val qOld = t.readAsOf(old)
      .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")).as("s"))
    assert(!scannedPaths(qOld).exists(_.contains("ord_auto")),
      s"scanned: ${scannedPaths(qOld)}")
    AggTables.drop(spark, "ord_auto")
  }

  // ---- planning cost and staleness of the rollup rewrite on both
  // read surfaces: SegmentedTable.read() and graft.default.<t> ----

  private def rewritten(df: org.apache.spark.sql.DataFrame, mv: String): Boolean =
    scannedPaths(df).exists(_.contains(mv))

  /** `f`'s answer computed with no rollup registered. */
  private def withoutMvs[T](f: => T): T = {
    spark.conf.set("spark.graft.mv.store", "/nonexistent_mv_dir")
    try f finally spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** A catalog table over orders with a rollup by o_orderstatus. */
  private def orders(name: String, mv: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS graft.default.$name")
    spark.sql(s"CREATE TABLE graft.default.$name " +
      "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) USING graft")
    insert(name, "o_orderkey % 4 = 0")
    insert(name, "o_orderkey % 4 = 1")
    val root = graft.sql.GraftCatalog.open(spark, name).root.toString
    if (AggTables.registered(spark).exists(_.name == mv)) AggTables.drop(spark, mv)
    AggTables.create(spark, mv, root, Seq("o_orderstatus"), Seq("sum" -> "o_orderkey"))
    root
  }

  private def insert(name: String, where: String): Unit =
    spark.sql(s"INSERT INTO graft.default.$name " +
      "SELECT o_orderkey, o_orderstatus, o_totalprice " +
      s"FROM parquet.`${TestSpark.sf}/orders.parquet` WHERE $where")

  private def rollupSql(name: String) = spark.sql(
    s"SELECT o_orderstatus, sum(o_orderkey) s, count(*) c FROM graft.default.$name " +
      "GROUP BY o_orderstatus")

  test("planning runs no Spark job: rollup-served, catalog-folded and non-derivable aggregates on both surfaces") {
    import org.apache.spark.sql.DataFrame
    orders("plan_jobs", "plan_jobs_mv")
    val v1: () => DataFrame = () => graft.sql.GraftCatalog.open(spark, "plan_jobs").read()
    val v2: () => DataFrame = () => spark.table("graft.default.plan_jobs")
    val cases: Seq[(String, DataFrame => DataFrame, Boolean)] = Seq(
      ("rollup", _.groupBy(col("o_orderstatus"))
        .agg(sum(col("o_orderkey")).as("s"), count(lit(1)).as("c")), true),
      // the rollup could serve count(*) too; the catalog fold wins
      ("fold", _.agg(count(lit(1)).as("c")), false),
      ("non-derivable", _.groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("p")), false))
    for ((surface, read) <- Seq("read()" -> v1, "graft.default" -> v2);
         (what, q, served) <- cases) {
      val df = q(read())
      df.queryExecution.analyzed
      assert(graft.SparkJobs.count(spark)(df.queryExecution.optimizedPlan) == 0,
        s"$what on $surface ran a job while planning")
      assert(rewritten(df, "plan_jobs_mv") == served,
        s"$what on $surface: ${df.queryExecution.optimizedPlan}")
      assert(sorted(df) == withoutMvs(sorted(q(read()))), s"$what on $surface")
    }
    AggTables.drop(spark, "plan_jobs_mv")
    spark.sql("DROP TABLE graft.default.plan_jobs")
  }

  test("catalog surface: a stale rollup declines until REFRESH, time travel never rewrites") {
    orders("v2_stale", "v2_stale_mv")
    assert(rewritten(rollupSql("v2_stale"), "v2_stale_mv"))
    val built = graft.sql.GraftCatalog.open(spark, "v2_stale").currentVersion
    insert("v2_stale", "o_orderkey % 4 = 2")
    val afterInsert = rollupSql("v2_stale")
    assert(!rewritten(afterInsert, "v2_stale_mv"))
    val want = withoutMvs(sorted(rollupSql("v2_stale")))
    assert(sorted(afterInsert) == want)

    spark.sql("REFRESH GRAFT AGGREGATE TABLE v2_stale_mv")
    val afterRefresh = rollupSql("v2_stale")
    assert(rewritten(afterRefresh, "v2_stale_mv"))
    assert(sorted(afterRefresh) == want)

    // the snapshot the rollup was first built at, and the current one
    for (v <- Seq(built, graft.sql.GraftCatalog.open(spark, "v2_stale").currentVersion)) {
      val old = spark.sql(
        s"SELECT o_orderstatus, sum(o_orderkey) s, count(*) c FROM graft.default.v2_stale " +
          s"VERSION AS OF $v GROUP BY o_orderstatus")
      assert(!rewritten(old, "v2_stale_mv"), s"VERSION AS OF $v")
    }
    AggTables.drop(spark, "v2_stale_mv")
    spark.sql("DROP TABLE graft.default.v2_stale")
  }

  test("catalog surface: a table recreated at the same root never uses the old rollup") {
    val root = orders("v2_recreate", "v2_recreate_mv")
    val before = graft.sql.GraftCatalog.open(spark, "v2_recreate")
    val (version, ids) = (before.currentVersion, before.liveScan.ids)
    assert(rewritten(rollupSql("v2_recreate"), "v2_recreate_mv"))

    spark.sql("DROP TABLE graft.default.v2_recreate")
    spark.sql("CREATE TABLE graft.default.v2_recreate " +
      "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) USING graft")
    val after = graft.sql.GraftCatalog.open(spark, "v2_recreate")
    assert(after.root.toString == root)
    // load other rows until the commit version and the segment ids
    // are back where the rollup was built
    Iterator.from(0).takeWhile(_ => after.currentVersion < version)
      .foreach(i => insert("v2_recreate", s"o_orderkey % 8 = ${i % 8} AND o_orderkey < 200"))
    assert(after.currentVersion == version && after.liveScan.ids == ids)

    val q = rollupSql("v2_recreate")
    assert(!rewritten(q, "v2_recreate_mv"))
    assert(sorted(q) == withoutMvs(sorted(rollupSql("v2_recreate"))))
    AggTables.drop(spark, "v2_recreate_mv")
    spark.sql("DROP TABLE graft.default.v2_recreate")
  }

  test("a grouped aggregate a rollup serves is not pre-empted by a partial catalog fold") {
    // two segments constant in o_orderstatus and one mixed: the grouped
    // stats fold could answer the first two from the catalog and scan
    // the third, but the rollup answers without any base scan
    val root = java.nio.file.Files
      .createTempDirectory("graft_mvhybrid").resolve("t").toString
    val o = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
    val t = graft.table.SegmentedTable.create(spark, root, o.schema)
    val even = col("o_orderkey") % 2 === 0
    t.load(o.filter(even && col("o_orderstatus") === "F"))
    t.load(o.filter(even && col("o_orderstatus") === "O"))
    t.load(o.filter(!even || !col("o_orderstatus").isin("F", "O")))
    AggTables.create(spark, "hybrid_mv", root, Seq("o_orderstatus"), Seq("sum" -> "o_orderkey"))
    def q() = t.read().groupBy(col("o_orderstatus")).agg(count(lit(1)).as("c"))
    val paths = scannedPaths(q())
    assert(paths.exists(_.contains("hybrid_mv")) && !paths.exists(_.contains("segment_")),
      s"scanned: $paths")
    assert(sorted(q()) == withoutMvs(sorted(q())))
    // without the rollup, the same query takes the partial fold
    assert(withoutMvs(scannedPaths(q())).count(_.contains("segment_")) == 1)
    AggTables.drop(spark, "hybrid_mv")
  }

  test("a catalog entry without a stored schema and stamp declines until one REFRESH") {
    orders("v2_legacy", "v2_legacy_mv")
    // rewrite the entry as it was stored before the two fields existed
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val file = new org.apache.hadoop.fs.Path(AggTables.catalogDir(spark), "v2_legacy_mv.json")
    val legacy = parse(graft.table.TableIO.readString(file)).removeField {
      case (k, _) => k == "schema" || k == "liveStamp"
    }
    graft.table.TableIO.writeStringAtomic(file, compact(render(legacy)))
    val meta = AggTables.registered(spark).find(_.name == "v2_legacy_mv").get
    assert(meta.schema.isEmpty && meta.liveStamp.isEmpty)
    assert(!AggTables.isFresh(spark, meta))

    val declined = rollupSql("v2_legacy")
    assert(!rewritten(declined, "v2_legacy_mv"))
    val want = withoutMvs(sorted(rollupSql("v2_legacy")))
    assert(sorted(declined) == want)

    spark.sql("REFRESH GRAFT AGGREGATE TABLE v2_legacy_mv")
    val served = rollupSql("v2_legacy")
    assert(rewritten(served, "v2_legacy_mv"))
    assert(sorted(served) == want)
    AggTables.drop(spark, "v2_legacy_mv")
    spark.sql("DROP TABLE graft.default.v2_legacy")
  }

  test("catalog surface: collect() of a folded aggregate runs no Spark job") {
    orders("v2_fold", "v2_fold_mv")
    val q = "SELECT count(*), min(o_orderkey), max(o_orderkey) FROM graft.default.v2_fold"
    val df = spark.sql(q)
    var got: Seq[org.apache.spark.sql.Row] = Nil
    assert(graft.SparkJobs.count(spark) { got = df.collect().toSeq } == 0,
      df.queryExecution.executedPlan.toString)
    // the rows the scan gives, read without the catalog
    val dirs = graft.table.LiveDirs.of(graft.sql.GraftCatalog.open(spark, "v2_fold"))
    val want = spark.read.parquet(dirs: _*)
      .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey"))).collect().toSeq
    assert(got == want)
    AggTables.drop(spark, "v2_fold_mv")
    spark.sql("DROP TABLE graft.default.v2_fold")
  }

  test("a filtered aggregate over a table with a rollup plans without reading the MV store") {
    graft.table.FaultFileSystem.register(spark)
    val root = orders("mv_shape", "mv_shape_mv")
    // the MV catalog served through faultfs:, so every read of it is seen
    val local = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.table.FaultFileSystem.localRoot), "mvstore")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(AggTables.catalogDir(spark), "mv_shape_mv.json"),
      local.resolve("mv_shape_mv.json"))
    val store = graft.table.FaultFileSystem.pathOf(local.toString)
    val t = graft.table.SegmentedTable.open(spark, root)
    def planned(df: org.apache.spark.sql.DataFrame) = graft.table.FaultFileSystem.recording {
      df.queryExecution.optimizedPlan
    }._2.filter(_._2.toString.startsWith(store))
    spark.conf.set("spark.graft.mv.store", store)
    try {
      val filtered = t.read().where(col("o_orderkey") > 100)
        .groupBy(col("o_orderstatus")).agg(sum(col("o_orderkey")).as("s"))
      assert(planned(filtered).isEmpty)
      val bare = t.read().groupBy(col("o_orderstatus")).agg(sum(col("o_orderkey")).as("s"))
      assert(planned(bare).exists(_._1 == "listStatus"))
      assert(rewritten(bare, "mv_shape_mv"))
    } finally spark.conf.set("spark.graft.mv.store", TestSpark.mvStore)
    AggTables.drop(spark, "mv_shape_mv")
    spark.sql("DROP TABLE graft.default.mv_shape")
  }
}
