package graft.server

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end wire-protocol check: start the thrift service on the
  * shared session, connect with the stock Hive JDBC driver, and run
  * graft-dialect statements over the wire — the reference's
  * CarbonThriftServer usage shape (beeline → HiveServer2 → cube SQL).
  */
class ThriftServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def connect(url: String): java.sql.Connection = {
    var c: java.sql.Connection = null
    var attempts = 0
    while (c == null) {
      try c = DriverManager.getConnection(url, "anonymous", "")
      catch {
        case e: Exception =>
          attempts += 1
          if (attempts > 60) throw e
          Thread.sleep(500)
      }
    }
    c
  }

  private lazy val jdbcUrl: String = {
    val port = freePort()
    GraftThriftServer.start(spark, port)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    s"jdbc:hive2://localhost:$port/default"
  }

  test("graft SQL is reachable over Hive JDBC") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/region.parquet")
      .createOrReplaceTempView("thrift_region_src")
    spark.sql("CREATE GRAFT TABLE thrift_regions AS SELECT * FROM thrift_region_src")

    // the service binds asynchronously; poll until it accepts
    val conn = connect(jdbcUrl)
    try {
      val st = conn.createStatement()

      // plain SQL over the wire
      val r1 = st.executeQuery("SELECT 1 + 1 AS x")
      assert(r1.next() && r1.getInt("x") == 2)

      // graft dialect: the per-connection session inherits the parser
      val r2 = st.executeQuery(
        "SELECT count(*) AS c FROM graft_table('thrift_regions')")
      assert(r2.next() && r2.getLong("c") == 5L)

      st.execute(
        s"LOAD GRAFT DATA INPATH '$sf/region.parquet' INTO TABLE thrift_regions")
      val r3 = st.executeQuery(
        "SELECT count(*) AS c FROM graft_table('thrift_regions')")
      assert(r3.next() && r3.getLong("c") == 10L)

      // segment metadata commands round-trip too
      val r4 = st.executeQuery("SHOW GRAFT SEGMENTS FOR thrift_regions")
      var segs = 0
      while (r4.next()) segs += 1
      assert(segs == 2)

      // the V2 catalog resolves over the wire: catalog-qualified
      // reads and writes from a stock JDBC client (the BI-tool shape
      // the plugin exists for)
      val r5 = st.executeQuery(
        "SELECT count(*) AS c FROM graft.default.thrift_regions")
      assert(r5.next() && r5.getLong("c") == 10L)
      // (a temp view would be invisible here — the JDBC connection is
      // its own session — so the insert reads a parquet path)
      st.execute("INSERT INTO graft.default.thrift_regions " +
        s"SELECT * FROM parquet.`$sf/region.parquet`")
      val r6 = st.executeQuery(
        "SELECT count(*) AS c FROM graft.default.thrift_regions")
      assert(r6.next() && r6.getLong("c") == 15L)
      val r7 = st.executeQuery("SHOW TABLES IN graft.default")
      var sawIt = false
      while (r7.next()) if (r7.getString(2) == "thrift_regions") sawIt = true
      assert(sawIt, "SHOW TABLES IN graft.default must list the table over JDBC")

      // the r16 DML surface from a stock JDBC client: row-level
      // DELETE through SupportsDeleteV2, ANSI UPDATE and MERGE INTO
      // through Spark's parser and the per-connection graft analyzer
      // rule
      st.execute("DELETE FROM graft.default.thrift_regions WHERE r_regionkey % 5 = 0")
      val r8 = st.executeQuery(
        "SELECT count(*) AS c FROM graft.default.thrift_regions")
      assert(r8.next() && r8.getLong("c") == 12L) // 3 of 15 rows had key 0
      st.execute("UPDATE graft.default.thrift_regions " +
        "SET r_name = 'RENAMED' WHERE r_regionkey = 1")
      val r9 = st.executeQuery("SELECT count(*) AS c FROM " +
        "graft.default.thrift_regions WHERE r_name = 'RENAMED'")
      assert(r9.next() && r9.getLong("c") == 3L)
      st.execute("MERGE INTO graft.default.thrift_regions t " +
        s"USING (SELECT r_regionkey + 100 AS r_regionkey, r_name " +
        s"FROM parquet.`$sf/region.parquet`) s ON t.r_regionkey = s.r_regionkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val r10 = st.executeQuery(
        "SELECT count(*) AS c FROM graft.default.thrift_regions")
      assert(r10.next() && r10.getLong("c") == 17L) // 12 survivors + 5 new keys

      // namespace-qualified identifiers over the wire (r17): the
      // store-root subdirectory layout resolves from a stock client
      st.execute("CREATE NAMESPACE IF NOT EXISTS graft.jdbc_ns")
      st.execute("CREATE TABLE graft.jdbc_ns.regions USING graft AS " +
        s"SELECT * FROM parquet.`$sf/region.parquet`")
      val r11 = st.executeQuery(
        "SELECT count(*) AS c FROM graft.jdbc_ns.regions")
      assert(r11.next() && r11.getLong("c") == 5L)
      val r12 = st.executeQuery("SHOW NAMESPACES IN graft")
      val nss = scala.collection.mutable.Set.empty[String]
      while (r12.next()) nss += r12.getString(1)
      assert(nss.contains("jdbc_ns"), s"got $nss")
      st.execute("DROP NAMESPACE graft.jdbc_ns CASCADE")
    } finally {
      conn.close()
      spark.sql("DROP GRAFT TABLE thrift_regions")
    }
  }

  test("stats folds serve BI-shaped aggregates over Hive JDBC") {
    // the r19 catalog folds exist for exactly this surface: a stock
    // JDBC client (BI tool) issuing global, time-range-filtered and
    // grouped aggregates against a catalog identifier. Values must be
    // exact; the fold itself is plan-pinned in GraftSqlSpec — here we
    // prove the same scan builder serves them over the wire.
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("thrift_fold_src")
    // segment-aligned loads: disjoint key ranges + per-status groups
    spark.sql("CREATE TABLE graft.default.thrift_folds USING graft AS " +
      "SELECT * FROM thrift_fold_src WHERE o_orderkey <= 300")
    spark.sql("INSERT INTO graft.default.thrift_folds " +
      "SELECT * FROM thrift_fold_src WHERE o_orderkey > 300")
    val want = spark.sql(
      """SELECT COUNT(*), MIN(o_totalprice), MAX(o_orderdate)
         FROM thrift_fold_src WHERE o_orderkey > 300""").head()
    val wantAll = spark.sql("SELECT COUNT(*) FROM thrift_fold_src").head()
    val conn = connect(jdbcUrl)
    try {
      val st = conn.createStatement()
      val r1 = st.executeQuery(
        "SELECT COUNT(*) AS c FROM graft.default.thrift_folds")
      assert(r1.next() && r1.getLong("c") == wantAll.getLong(0))
      val r2 = st.executeQuery(
        """SELECT COUNT(*) AS c, MIN(o_totalprice) AS mn,
                  MAX(o_orderdate) AS mx
           FROM graft.default.thrift_folds WHERE o_orderkey > 300""")
      assert(r2.next())
      assert(r2.getLong("c") == want.getLong(0))
      assert(math.abs(r2.getDouble("mn") - want.getDouble(1)) < 1e-9)
      // normalize the two timestamp renderings (JDBC "2001-08-01
      // 00:00:00.0" vs LocalDateTime "2001-08-01T00:00")
      assert(r2.getTimestamp("mx").toLocalDateTime ==
        want.getAs[java.time.LocalDateTime](2),
        s"${r2.getTimestamp("mx")} vs ${want.get(2)}")
    } finally {
      conn.close()
      spark.sql("DROP TABLE IF EXISTS graft.default.thrift_folds")
    }
  }

  test("CDC feed and minor compaction round-trip over the wire") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("thrift_cdc_src")
    spark.sql("CREATE GRAFT TABLE thrift_cdc AS SELECT * FROM thrift_cdc_src")
    val store = spark.conf.get("spark.graft.store")
    val t = graft.table.SegmentedTable.open(spark, s"$store/thrift_cdc")
    val afterCtas = t.currentVersion

    val conn = connect(jdbcUrl)
    try {
      val st = conn.createStatement()
      st.execute(
        s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE thrift_cdc")
      // the change feed is a FROM-able TVF over JDBC
      val r1 = st.executeQuery(
        s"""SELECT _change_type, COUNT(*) AS n
            FROM graft_changes('thrift_cdc', $afterCtas, ${t.currentVersion})
            GROUP BY _change_type""")
      assert(r1.next() && r1.getString(1) == "insert" && r1.getLong(2) == 25L)
      assert(!r1.next())
      // minor compaction folds the two small segments; the feed over
      // the compaction range stays empty (dataChange=false)
      val beforeCompact = t.currentVersion
      st.execute("COMPACT GRAFT TABLE thrift_cdc MINOR")
      assert(t.showSegments().count(_.status == "SUCCESS") == 1)
      val r2 = st.executeQuery(
        s"""SELECT COUNT(*) AS n
            FROM graft_changes('thrift_cdc', $beforeCompact, ${t.currentVersion})""")
      assert(r2.next() && r2.getLong(1) == 0L)
    } finally {
      conn.close()
      spark.sql("DROP GRAFT TABLE thrift_cdc")
    }
  }

  test("two concurrent JDBC sessions: DDL/DML on one table, no cross-session leakage") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("thrift_nation_src")
    spark.sql(
      "CREATE GRAFT TABLE thrift_cc AS SELECT * FROM thrift_nation_src WHERE 1=0")

    val c1 = connect(jdbcUrl)
    val c2 = connect(jdbcUrl)
    try {
      // both sessions LOAD the same table concurrently, several times
      // each — this drives SegmentedTable's metadata lock through the
      // server path; every commit must land (no lost segment, no
      // corrupted catalog)
      val perSession = 3
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      def loads(conn: java.sql.Connection): Future[Unit] = Future {
        val st = conn.createStatement()
        (1 to perSession).foreach { _ =>
          st.execute(
            s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE thrift_cc")
        }
      }
      Await.result(Future.sequence(Seq(loads(c1), loads(c2))), 5.minutes)
      pool.shutdown()

      // all 6 loads committed: 6 SUCCESS segments beyond the empty
      // CTAS seed (segment 0), 6×25 rows
      val st1 = c1.createStatement()
      val r = st1.executeQuery(
        "SELECT count(*) AS c FROM graft_table('thrift_cc')")
      assert(r.next() && r.getLong("c") == 6L * 25)
      val rs = st1.executeQuery("SHOW GRAFT SEGMENTS FOR thrift_cc")
      var success = 0
      while (rs.next()) if (rs.getString(2) == "SUCCESS") success += 1
      assert(success == 7, s"expected 7 SUCCESS segments (CTAS seed + 6 loads), got $success")

      // session-scoped state must NOT leak across connections: a temp
      // view created on session 1 is invisible to session 2
      st1.execute("CREATE TEMPORARY VIEW cc_private AS SELECT 42 AS v")
      val st2 = c2.createStatement()
      val own = st1.executeQuery("SELECT v FROM cc_private")
      assert(own.next() && own.getInt(1) == 42)
      val leaked =
        try { st2.executeQuery("SELECT v FROM cc_private"); true }
        catch { case _: java.sql.SQLException => false }
      assert(!leaked, "session 2 must not see session 1's temp view")

      // and both sessions agree on the shared catalog state afterwards
      val r2 = st2.executeQuery(
        "SELECT count(*) AS c FROM graft_table('thrift_cc')")
      assert(r2.next() && r2.getLong("c") == 6L * 25)
    } finally {
      c1.close(); c2.close()
      spark.sql("DROP GRAFT TABLE thrift_cc")
    }
  }
}
