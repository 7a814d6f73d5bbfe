package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end SQL command surface (parser injected in TestSpark's
  * shared session).
  */
class GraftSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def store = TestSpark.store

  test("full DDL/DML lifecycle through SQL") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_src")

    spark.sql("CREATE GRAFT TABLE nations TBLPROPERTIES('sort_columns'='n_nationkey') " +
      "AS SELECT * FROM nation_src")
    assert(spark.sql("SELECT count(*) FROM nations").head().getLong(0) == 25)

    // append a second segment from a parquet path
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE nations")
    assert(spark.sql("SELECT count(*) FROM nations").head().getLong(0) == 50)

    val segs = spark.sql("SHOW GRAFT SEGMENTS FOR nations").collect()
    assert(segs.length == 2 && segs.forall(_.getString(1) == "SUCCESS"))

    spark.sql("COMPACT GRAFT TABLE nations")
    val afterCompact = spark.sql("SHOW GRAFT SEGMENTS FOR nations").collect()
    assert(afterCompact.count(_.getString(1) == "SUCCESS") == 1)
    assert(afterCompact.count(_.getString(1) == "COMPACTED") == 2)

    spark.sql("CLEAN GRAFT FILES FOR nations")
    assert(spark.sql("SHOW GRAFT SEGMENTS FOR nations").collect().length == 1)

    // segment delete then count via a re-registered view
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE nations")
    val ids = spark.sql("SHOW GRAFT SEGMENTS FOR nations").collect()
      .filter(_.getString(1) == "SUCCESS").map(_.getInt(0))
    spark.sql(s"DELETE GRAFT SEGMENT ${ids.max} FROM nations")
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE nations")
    assert(spark.sql("SELECT count(*) FROM nations").head().getLong(0) == 75)

    spark.sql("DROP GRAFT TABLE nations")
    assert(!graft.table.SegmentedTable.exists(s"$store/nations"))

    // non-graft SQL still parses through the delegate
    assert(spark.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
  }

  test("graft_table TVF: current read and VERSION AS OF from pure SQL") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("nation_tvf_src")
    spark.sql("CREATE GRAFT TABLE tvf_nations AS SELECT * FROM nation_tvf_src")
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE tvf_nations")

    // current state, FROM-able like any table
    assert(spark.sql("SELECT count(*) FROM graft_table('tvf_nations')")
      .head().getLong(0) == 50)

    // snapshot as of the first load (history: create, CTAS load, LOAD)
    val t = graft.table.SegmentedTable.open(spark, s"$store/tvf_nations")
    val firstLoad = t.versions.sorted.apply(1)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table('tvf_nations', $firstLoad)")
      .head().getLong(0) == 25)

    // absolute-path form composes with ordinary SQL (joins, aliases)
    assert(spark.sql(
      s"""SELECT count(*) FROM graft_table('${t.root}', $firstLoad) g
          JOIN nation_tvf_src n ON g.n_nationkey = n.n_nationkey""")
      .head().getLong(0) == 25)

    // runtime registration path (sessions built without extensions)
    GraftTableFunction.ensureRegistered(spark)
    assert(spark.sql("SELECT count(*) FROM graft_table('tvf_nations')")
      .head().getLong(0) == 50)

    spark.sql("DROP GRAFT TABLE tvf_nations")
  }

  test("RESTORE ... TO VERSION rolls back through SQL") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("nation_restore_src")
    spark.sql("CREATE GRAFT TABLE restore_nations AS SELECT * FROM nation_restore_src")
    val t = graft.table.SegmentedTable.open(spark, s"$store/restore_nations")
    val snap = t.currentVersion
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE restore_nations")
    assert(spark.sql("SELECT count(*) FROM graft_table('restore_nations')")
      .head().getLong(0) == 50)
    spark.sql(s"RESTORE GRAFT TABLE restore_nations TO VERSION $snap")
    assert(spark.sql("SELECT count(*) FROM graft_table('restore_nations')")
      .head().getLong(0) == 25)
    spark.sql("DROP GRAFT TABLE restore_nations")
  }

  test("COMPACT ... MINOR folds small segments through SQL") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("nation_minor_src")
    spark.sql("CREATE GRAFT TABLE minor_nations AS SELECT * FROM nation_minor_src")
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE minor_nations")
    val t = graft.table.SegmentedTable.open(spark, s"$store/minor_nations")
    val before = t.showSegments().count(_.status == "SUCCESS")
    assert(before == 2)
    spark.sql("COMPACT GRAFT TABLE minor_nations MINOR")
    assert(t.showSegments().count(_.status == "SUCCESS") == 1)
    assert(spark.sql("SELECT count(*) FROM graft_table('minor_nations')")
      .head().getLong(0) == 50)
    spark.sql("DROP GRAFT TABLE minor_nations")
  }

  test("graft_changes TVF: the change feed from pure SQL") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("nation_cdc_src")
    spark.sql("CREATE GRAFT TABLE cdc_nations AS SELECT * FROM nation_cdc_src")
    val t = graft.table.SegmentedTable.open(spark, s"$store/cdc_nations")
    val afterCtas = t.currentVersion
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE cdc_nations")

    val feed = spark.sql(
      s"""SELECT _change_type, COUNT(*) AS n
          FROM graft_changes('cdc_nations', $afterCtas, ${t.currentVersion})
          GROUP BY 1""").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("insert" -> 25L))

    // empty range; bad version fails loudly
    assert(spark.sql(
      s"SELECT * FROM graft_changes('cdc_nations', $afterCtas, $afterCtas)")
      .count() == 0)
    val err = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_changes('cdc_nations', 1, 999)").collect())
    assert(err.getMessage.contains("no catalog version"))

    spark.sql("DROP GRAFT TABLE cdc_nations")
  }

  test("custom functions are callable from SQL") {
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("li_fn")
    val d = spark.sql(
      "SELECT bitmap_distinct_count(l_orderkey) AS d FROM li_fn").head().getLong(0)
    val want = spark.sql(
      "SELECT count(DISTINCT l_orderkey) AS d FROM li_fn").head().getLong(0)
    assert(d == want)

    val dot = spark.sql(
      "SELECT array_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS x").head().getDouble(0)
    assert(dot == 11.0)

    // array<double> (the default type of SQL array literals) dispatches
    // on the element type instead of silently reading garbage
    val dotD = spark.sql(
      "SELECT array_dot(array(1.5D, 2.0D), array(2.0D, 4.0D)) AS x").head().getDouble(0)
    assert(dotD == 11.0)
    // non-float/double element types must fail analysis, not return junk
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_dot(array(1, 2), array(3, 4)) AS x").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))

    val sh = spark.sql("SELECT graft_simhash32('a b c d e f') AS h").head().getLong(0)
    val sh2 = spark.sql("SELECT graft_simhash32('a b c d e f') AS h").head().getLong(0)
    assert(sh == sh2 && sh != 0)

    assert(spark.sql("SELECT graft_lang_id('the cat and the dog of a house') AS l")
      .head().getString(0) == "en")

    // nfc_normalize composes the decomposed sequence (DuckDB-name
    // parity: the oracle spells the same call); graft_canonicalize
    // runs the whole t49 stage from SQL
    assert(spark.sql("SELECT nfc_normalize('café') AS s")
      .head().getString(0) == "café")
    assert(spark.sql(
      "SELECT graft_canonicalize('  á  b ') AS s")
      .head().getString(0) == "á b")

    // mg_candidates: every value with frequency > n/(k+1) must appear
    val cand = spark.sql(
      "SELECT mg_candidates(l_returnflag, 2) AS c FROM li_fn")
      .head().getSeq[String](0)
    assert(cand.nonEmpty && cand.size <= 2 && cand == cand.sorted)
    val errK = intercept[Exception] {
      spark.sql("SELECT mg_candidates(l_returnflag, l_linenumber) FROM li_fn")
        .collect()
    }
    assert(errK.getMessage.contains("literal"))
  }

  test("ALTER GRAFT TABLE add/drop column with default") {
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .createOrReplaceTempView("region_src")
    spark.sql("CREATE GRAFT TABLE regions2 AS SELECT * FROM region_src")
    spark.sql("ALTER GRAFT TABLE regions2 ADD COLUMN r_comment STRING DEFAULT 'n/a'")
    val r = spark.sql("SELECT count(*) FROM regions2 WHERE r_comment = 'n/a'")
      .head().getLong(0)
    assert(r == 5)
    spark.sql("ALTER GRAFT TABLE regions2 DROP COLUMN r_comment")
    assert(!spark.sql("SELECT * FROM regions2").columns.contains("r_comment"))
    spark.sql("DROP GRAFT TABLE regions2")
  }

  test("LOAD GRAFT DATA INPATH accepts CSV with complex-type delimiters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvload")
    val csv = dir.resolve("d.csv")
    java.nio.file.Files.writeString(csv,
      "10,alpha,x1$x2\n20,beta,y1\n")
    spark.sql("CREATE GRAFT TABLE csvt AS SELECT CAST(1 AS INT) AS id, " +
      "'seed' AS name, array('a') AS tags")
    spark.sql(s"LOAD GRAFT DATA INPATH '$csv' INTO TABLE csvt")
    val rows = spark.sql("SELECT id, name, tags FROM csvt ORDER BY id").collect()
    assert(rows.length == 3)
    assert(rows(1).getString(1) == "alpha")
    assert(rows(1).getSeq[String](2) == Seq("x1", "x2"))
    spark.sql("DROP GRAFT TABLE csvt")
  }

  test("aggregate-table DDL: create, rewrite, stale, refresh, drop") {
    import org.apache.spark.sql.functions._
    // private base copy so appends don't touch the shared testdata
    val dir = java.nio.file.Files.createTempDirectory("graft_aggddl")
    val base = dir.resolve("nation.parquet").toString
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet").write.parquet(base)

    spark.sql(s"CREATE GRAFT AGGREGATE TABLE nation_mv ON PATH '$base' " +
      "GROUP BY (n_regionkey) AGG (sum(n_nationkey), max(n_nationkey))")

    def scanned() = spark.read.parquet(base)
      .groupBy(col("n_regionkey")).agg(sum(col("n_nationkey")).as("s"))
      .queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten

    assert(scanned().exists(_.contains("nation_mv")), s"scanned: ${scanned()}")

    val shown = spark.sql("SHOW GRAFT AGGREGATE TABLES").collect()
      .filter(_.getString(0) == "nation_mv")
    assert(shown.length == 1)
    assert(shown.head.getString(2) == "n_regionkey")
    assert(shown.head.getString(3) == "sum(n_nationkey),max(n_nationkey)")
    assert(shown.head.getBoolean(4), "freshly created MV must report fresh")

    // append → stale (rewrite off, SHOW reports stale); refresh → fresh
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet").limit(3)
      .write.mode("append").parquet(base)
    assert(!spark.sql("SHOW GRAFT AGGREGATE TABLES").collect()
      .find(_.getString(0) == "nation_mv").get.getBoolean(4))
    assert(scanned().exists(_.contains("nation.parquet")))
    spark.sql("REFRESH GRAFT AGGREGATE TABLE nation_mv")
    assert(scanned().exists(_.contains("nation_mv")))

    spark.sql("DROP GRAFT AGGREGATE TABLE nation_mv")
    assert(!graft.mv.AggTables.registered(spark).exists(_.name == "nation_mv"))
    assert(scanned().exists(_.contains("nation.parquet")))
  }

  test("SHOW GRAFT TABLES enumerates the store") {
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .createOrReplaceTempView("region_src3")
    spark.sql("CREATE GRAFT TABLE cat_a AS SELECT * FROM region_src3")
    spark.sql("CREATE GRAFT TABLE cat_b AS SELECT * FROM region_src3")
    spark.sql(s"LOAD GRAFT DATA INPATH '/root/testdata/sf0.001/region.parquet' " +
      "INTO TABLE cat_b")
    val rows = spark.sql("SHOW GRAFT TABLES").collect()
      .filter(r => Set("cat_a", "cat_b")(r.getString(0)))
    assert(rows.map(_.getString(0)).toSeq == Seq("cat_a", "cat_b"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("cat_a").getInt(2) == 1 && byName("cat_a").getLong(3) == 5)
    assert(byName("cat_b").getInt(2) == 2 && byName("cat_b").getLong(3) == 10)
    spark.sql("DROP GRAFT TABLE cat_a")
    spark.sql("DROP GRAFT TABLE cat_b")
  }

  test("DELETE GRAFT SEGMENTS BEFORE applies the retention cutoff") {
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .createOrReplaceTempView("region_src4")
    spark.sql("CREATE GRAFT TABLE retain_t AS SELECT * FROM region_src4")
    spark.sql("LOAD GRAFT DATA INPATH '/root/testdata/sf0.001/region.parquet' " +
      "INTO TABLE retain_t")
    // cutoff in the future (UTC): everything loaded so far is older
    val future = java.time.LocalDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 60000),
        java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    spark.sql(s"DELETE GRAFT SEGMENTS FROM retain_t BEFORE '$future'")
    val segs = spark.sql("SHOW GRAFT SEGMENTS FOR retain_t").collect()
    assert(segs.nonEmpty && segs.forall(_.getString(1) == "DELETED"))
    // a date-only cutoff in the past deletes nothing further (all gone)
    spark.sql("DELETE GRAFT SEGMENTS FROM retain_t BEFORE '1970-01-02'")
    spark.sql("DROP GRAFT TABLE retain_t")
  }

  test("SHOW CREATE / DESCRIBE introspection") {
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .createOrReplaceTempView("region_src2")
    spark.sql("CREATE GRAFT TABLE regions3 TBLPROPERTIES('sort_columns'='r_regionkey') " +
      "AS SELECT * FROM region_src2")
    val ddl = spark.sql("SHOW CREATE GRAFT TABLE regions3").head().getString(0)
    assert(ddl.contains("CREATE GRAFT TABLE regions3"))
    assert(ddl.contains("r_regionkey INT") && ddl.contains("r_name STRING"))
    assert(ddl.contains("'sort_columns'='r_regionkey'"))

    val desc = spark.sql("DESCRIBE GRAFT TABLE regions3").collect()
    assert(desc.exists(r => r.getString(0) == "r_name" && r.getString(1) == "string"))
    assert(desc.exists(r => r.getString(0) == "# total_rows" && r.getString(1) == "5"))
    spark.sql("DROP GRAFT TABLE regions3")
  }

  test("LOAD GRAFT DATA FACT FROM ... DIMENSION FROM ingests star schema") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet").limit(0)
      .createOrReplaceTempView("orders_fd_src")
    spark.sql("CREATE GRAFT TABLE fd_orders AS SELECT * FROM orders_fd_src")

    // one statement: fact file into fd_orders, each dimension file into
    // its own graft table (created on first load from the file schema)
    spark.sql(
      s"""LOAD GRAFT DATA FACT FROM '$sf/orders.parquet'
          DIMENSION FROM fd_customer:'$sf/customer.parquet',
                         fd_nation:'$sf/nation.parquet'
          INTO TABLE fd_orders""")

    val expected = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(spark.sql("SELECT count(*) FROM fd_orders").head().getLong(0) == expected)
    assert(spark.sql("SELECT count(*) FROM fd_nation").head().getLong(0) == 25)

    // dimensions are full graft tables: segment lifecycle applies
    val segs = spark.sql("SHOW GRAFT SEGMENTS FOR fd_nation").collect()
    assert(segs.length == 1 && segs.head.getString(1) == "SUCCESS")

    // star join across the ingested tables
    val joined = spark.sql(
      """SELECT n.n_name, count(*) AS cnt
         FROM fd_orders o JOIN fd_customer c ON o.o_custkey = c.c_custkey
                          JOIN fd_nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name""").collect()
    assert(joined.nonEmpty && joined.map(_.getLong(1)).sum == expected)

    // a second delivery appends (no DIMENSION clause: fact only)
    spark.sql(s"LOAD GRAFT DATA FACT FROM '$sf/orders.parquet' INTO TABLE fd_orders")
    assert(spark.sql("SELECT count(*) FROM fd_orders").head().getLong(0) == 2 * expected)

    // CSV dimension: schema inferred from the header on first load
    val csvDir = java.nio.file.Files.createTempDirectory("fd_csv")
    val csv = csvDir.resolve("dim.csv")
    java.nio.file.Files.write(csv,
      "k,name\n1,alpha\n2,beta\n".getBytes("UTF-8"))
    spark.sql(
      s"""LOAD GRAFT DATA FACT FROM '$sf/orders.parquet'
          DIMENSION FROM fd_csvdim:'$csv'
          INTO TABLE fd_orders""")
    val dim = spark.sql("SELECT * FROM fd_csvdim ORDER BY k").collect()
    assert(dim.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "alpha"), (2, "beta")))

    Seq("fd_orders", "fd_customer", "fd_nation", "fd_csvdim")
      .foreach(t => spark.sql(s"DROP GRAFT TABLE $t"))
  }

  test("carbon-native cube dialect: CREATE/LOAD/SHOW/AGGREGATETABLE/DROP") {
    val sf = "/root/testdata/sf0.001"
    // CREATE CUBE ... DIMENSIONS/MEASURES/OPTIONS (reference
    // CarbonSqlParser createCube) — columns concatenate; 'integer' and
    // 'numeric' normalize per the reference's type table
    spark.sql(
      """CREATE CUBE nation_cube
         DIMENSIONS (n_name string, n_comment string)
         MEASURES (n_nationkey integer, n_regionkey numeric)
         OPTIONS ('sort_columns'='n_nationkey')""")
    assert(spark.sql("SELECT count(*) FROM nation_cube").head().getLong(0) == 0)

    // IF NOT EXISTS is a no-op on an existing cube; without it, error
    spark.sql("CREATE CUBE IF NOT EXISTS nation_cube DIMENSIONS (x string)")
    intercept[Exception] {
      spark.sql("CREATE CUBE nation_cube DIMENSIONS (x string)")
    }

    // LOAD DATA INPATH ... INTO CUBE (reference loadCube grammar); the
    // parquet file's columns project into the cube schema
    spark.sql(s"LOAD DATA INPATH '$sf/nation.parquet' INTO CUBE nation_cube")
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft_table('nation_cube')").head().getLong(0) == 25)
    // numeric → double really happened
    assert(spark.sql("SELECT n_regionkey FROM graft_table('nation_cube') LIMIT 1")
      .schema.head.dataType == org.apache.spark.sql.types.DoubleType)

    // SHOW CUBES lists it
    assert(spark.sql("SHOW CUBES").collect()
      .exists(_.getString(0) == "nation_cube"))

    // SHOW CREATE CUBE = the cube-dialect alias of SHOW CREATE GRAFT
    // TABLE (reference ShowCreateCube)
    val ddl = spark.sql("SHOW CREATE CUBE nation_cube")
      .collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("nation_cube"), ddl)
    assert(ddl == spark.sql("SHOW CREATE GRAFT TABLE nation_cube")
      .collect().map(_.getString(0)).mkString("\n"))

    // CREATE AGGREGATETABLE bare-dims + aggregates FROM CUBE: registers
    // an auto-named rollup over the cube root; the rewrite then serves
    // a matching aggregate over the cube's read
    val agg = spark.sql(
      "CREATE AGGREGATETABLE n_regionkey, sum(n_nationkey), max(n_nationkey) FROM CUBE nation_cube")
      .head().getString(0)
    assert(agg.endsWith("_nation_cube"), agg)
    val q = spark.sql(
      """SELECT n_regionkey, sum(n_nationkey) AS s
         FROM graft_table('nation_cube') GROUP BY n_regionkey""")
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(scans.exists(_.contains(agg)), s"scanned: $scans")
    // and the answer is the base answer
    val want = spark.sql(
      s"""SELECT CAST(n_regionkey AS DOUBLE) AS k, sum(CAST(n_nationkey AS INT)) AS s
          FROM parquet.`$sf/nation.parquet` GROUP BY 1""").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(q.collect().map(r => (r.getDouble(0), r.getLong(1))).toMap == want)

    // distinct aggregates are rejected (cannot re-aggregate a rollup)
    intercept[Exception] {
      spark.sql("CREATE AGGREGATETABLE n_regionkey, count(distinct n_name) FROM CUBE nation_cube")
    }

    spark.sql(s"DROP GRAFT AGGREGATE TABLE $agg")

    // ALTER CUBE: drop a dimension, add a measure with a default that
    // serves the pre-add rows (reference alterCube restructure)
    spark.sql(
      """ALTER CUBE nation_cube DROP (n_comment)
         ADD MEASURES (score integer) OPTIONS ('score'='7')""")
    val cols = spark.sql("SELECT * FROM graft_table('nation_cube') LIMIT 1").columns
    assert(!cols.contains("n_comment") && cols.contains("score"))
    assert(spark.sql(
      "SELECT count(*) FROM graft_table('nation_cube') WHERE score = 7")
      .head().getLong(0) == 25)

    spark.sql("DROP CUBE nation_cube")
    assert(!spark.sql("SHOW CUBES").collect()
      .exists(_.getString(0) == "nation_cube"))
  }

  test("malformed DIMENSION list is a parse error, not a partial ingest") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet").limit(0)
      .createOrReplaceTempView("orders_fm_src")
    spark.sql("CREATE GRAFT TABLE fm_orders AS SELECT * FROM orders_fm_src")
    try {
      // second entry misses its opening quote: previously it silently
      // dropped and the statement loaded one dimension of two
      val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        spark.sql(
          s"""LOAD GRAFT DATA FACT FROM '$sf/orders.parquet'
              DIMENSION FROM fm_customer:'$sf/customer.parquet',
                             fm_nation:$sf/nation.parquet'
              INTO TABLE fm_orders""")
      }
      assert(e.getMessage.contains("DIMENSION"))
      // nothing landed: the fact table is untouched and no dimension
      // table was created
      assert(spark.sql("SELECT count(*) FROM fm_orders").head().getLong(0) == 0)
      assert(!spark.catalog.tableExists("fm_customer"))
    } finally spark.sql("DROP GRAFT TABLE fm_orders")
  }

  test("g13 star ingest matches the plain-parquet star join") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("g13_fact_dim_load")(spark, sf)
      .orderBy("n_name").collect()
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val n = spark.read.parquet(s"$sf/nation.parquet")
    val want = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("cnt"), graft.Tables.dsum(col("o_totalprice")).as("total"))
      .orderBy("n_name").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("CREATE guards, DROP hygiene, keyword-prefixed columns, formatted statements") {
    val sf = graft.TestSpark.sf
    spark.sql(s"CREATE GRAFT TABLE guard_t AS SELECT * FROM parquet.`$sf/region.parquet`")
    // CREATE over an existing table fails loudly (recreating would
    // reset the catalog on top of the old commit log)
    val exCreate = intercept[Exception] {
      spark.sql(s"CREATE GRAFT TABLE guard_t AS SELECT * FROM parquet.`$sf/region.parquet`")
    }
    assert(exCreate.getMessage.contains("already exists"), exCreate.getMessage)
    // a column whose name starts with a keyword + underscore must not
    // confuse the WHERE-clause split
    spark.sql("CREATE GRAFT TABLE guard_kw AS " +
      s"SELECT r_regionkey, 0 AS where_flag FROM parquet.`$sf/region.parquet`")
    spark.sql("UPDATE GRAFT TABLE guard_kw SET where_flag = 7 WHERE r_regionkey = 0")
    assert(spark.sql(
      "SELECT where_flag FROM graft_table('guard_kw') WHERE r_regionkey = 0")
      .head().getInt(0) == 7)
    spark.sql("DROP GRAFT TABLE guard_kw")
    // whitespace-formatted statements route to the graft parser
    spark.sql("SHOW\n  GRAFT   TABLES").collect()
    // DROP removes the temp view with the table
    spark.sql("DROP GRAFT TABLE guard_t")
    assert(!spark.catalog.tableExists("guard_t"))
    // idempotent with IF EXISTS; loud without
    spark.sql("DROP GRAFT TABLE IF EXISTS guard_t")
    val exDrop = intercept[Exception] { spark.sql("DROP CUBE guard_t") }
    assert(exDrop.getMessage.contains("does not exist"), exDrop.getMessage)
    // malformed AGG items are rejected, not silently dropped
    val exAgg = intercept[Exception] {
      spark.sql(s"CREATE GRAFT AGGREGATE TABLE bad_mv ON PATH '$sf/orders.parquet' " +
        "GROUP BY (o_orderstatus) AGG (sum(o_totalprice), count(*))")
    }
    assert(exAgg.getMessage.contains("malformed AGG item"), exAgg.getMessage)
  }

  test("V2 catalog: catalog-qualified SELECT/INSERT/SHOW/CREATE/DROP lifecycle") {
    val sf = graft.TestSpark.sf
    // CREATE through the catalog plugin — a V2 CREATE TABLE
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_t")
    spark.sql("CREATE TABLE graft.default.cat_t " +
      "(r_regionkey BIGINT, r_name STRING) USING graft")
    // INSERT INTO appends one committed segment per statement
    spark.sql(s"INSERT INTO graft.default.cat_t " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    assert(spark.sql("SELECT count(*) FROM graft.default.cat_t")
      .head().getLong(0) == 5)
    spark.sql(s"INSERT INTO graft.default.cat_t " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    assert(spark.table("graft.default.cat_t").count() == 10)
    // the catalog names the SAME store the graft DDL uses: the table
    // is visible to the native surface and vice versa
    assert(spark.sql("SHOW GRAFT SEGMENTS FOR cat_t").count() == 2)
    spark.sql(s"CREATE GRAFT TABLE cat_ddl AS SELECT * FROM parquet.`$sf/region.parquet`")
    assert(spark.sql("SELECT count(*) FROM graft.default.cat_ddl")
      .head().getLong(0) == 5)
    // SHOW TABLES enumerates the store through the catalog
    val listed = spark.sql("SHOW TABLES IN graft.default")
      .collect().map(_.getString(1)).toSet
    assert(Set("cat_t", "cat_ddl").subsetOf(listed), listed.toString)
    // INSERT OVERWRITE replaces the live segments atomically
    spark.sql(s"INSERT OVERWRITE graft.default.cat_t " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet` " +
      "WHERE r_regionkey < 2")
    assert(spark.table("graft.default.cat_t").count() == 2)
    // filter pushdown reaches the parquet scan through the catalog
    val plan = spark.sql(
      "SELECT r_name FROM graft.default.cat_ddl WHERE r_regionkey = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("r_regionkey"),
      s"catalog read must keep pushdown:\n${plan.take(2000)}")
    spark.sql("DROP TABLE graft.default.cat_ddl")
    spark.sql("DROP TABLE graft.default.cat_t")
    assert(!spark.sql("SHOW TABLES IN graft.default")
      .collect().map(_.getString(1)).contains("cat_t"))
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft.default.cat_t").collect()
    }
    assert(ex.getMessage.contains("cat_t"), ex.getMessage)
  }

  test("V2 catalog: CTAS and REPLACE-shaped misuse behave") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_ctas")
    // CTAS through the plugin: createTable + append write
    spark.sql("CREATE TABLE graft.default.cat_ctas USING graft AS " +
      s"SELECT r_regionkey AS k, r_name AS v FROM parquet.`$sf/region.parquet`")
    assert(spark.table("graft.default.cat_ctas").count() == 5)
    assert(spark.table("graft.default.cat_ctas").columns.toSeq == Seq("k", "v"))
    // CTAS over an existing table fails loudly, nothing clobbered
    val ex = intercept[Exception] {
      spark.sql("CREATE TABLE graft.default.cat_ctas USING graft AS SELECT 1 AS k")
    }
    assert(ex.getMessage.contains("already exists") ||
      ex.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS"), ex.getMessage)
    assert(spark.table("graft.default.cat_ctas").count() == 5)
    spark.sql("DROP TABLE graft.default.cat_ctas")
  }

  test("V2 catalog: VERSION AS OF / TIMESTAMP AS OF time travel; snapshots reject writes") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_tt")
    spark.sql("CREATE TABLE graft.default.cat_tt (k BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_tt " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    // mtime-based supersession instants need the commits separated by
    // more than filesystem timestamp granularity
    Thread.sleep(1100)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql(s"INSERT INTO graft.default.cat_tt " +
      s"SELECT r_regionkey + 100, r_name FROM parquet.`$sf/region.parquet`")
    val versions = spark.sql("SHOW GRAFT HISTORY FOR cat_tt")
      .collect().map(_.getLong(0)).sorted
    val v1 = versions.find { v =>
      spark.sql(s"SELECT count(*) AS c FROM graft.default.cat_tt VERSION AS OF $v")
        .head().getLong(0) == 5L
    }
    assert(v1.isDefined, s"no 5-row version among ${versions.toSeq}")
    assert(spark.table("graft.default.cat_tt").count() == 10)
    // the TVF names the same snapshot for the same version number
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_table('cat_tt', ${v1.get})")
      .head().getLong(0) == 5L)
    // TIMESTAMP AS OF between the commits sees only the first
    val ts = java.time.Instant.ofEpochMilli(betweenMs).toString
    assert(spark.sql(
      s"SELECT count(*) AS c FROM graft.default.cat_tt TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 5L)
    // a timestamp before the table existed fails loudly
    val exEarly = intercept[Exception] {
      spark.sql("SELECT * FROM graft.default.cat_tt " +
        "TIMESTAMP AS OF '2001-01-01 00:00:00'").collect()
    }
    assert(exEarly.getMessage.contains("no version"), exEarly.getMessage)
    // snapshots are read-only: Spark rejects the statement (and the
    // table builder's own guard backstops any future write path) —
    // either way nothing lands
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.default.cat_tt VERSION AS OF ${v1.get} " +
        s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    }
    assert(spark.table("graft.default.cat_tt").count() == 10)
    spark.sql("DROP TABLE graft.default.cat_tt")
  }

  test("V2 catalog: VERSION AS OF a snapshot cleanFiles removed fails at planning") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_tt_clean")
    spark.sql("CREATE TABLE graft.default.cat_tt_clean (k BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_tt_clean " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    spark.sql(s"INSERT INTO graft.default.cat_tt_clean " +
      s"SELECT r_regionkey + 100, r_name FROM parquet.`$sf/region.parquet`")
    val store = spark.conf.get("spark.graft.store")
    val t = graft.table.SegmentedTable.open(spark, s"$store/cat_tt_clean")
    val v2 = t.currentVersion
    try {
      // two segments become one: the v2 snapshot's dirs are retired
      spark.sql("COMPACT GRAFT TABLE cat_tt_clean")
      spark.sql("CLEAN GRAFT FILES FOR cat_tt_clean")
      assert(spark.table("graft.default.cat_tt_clean").count() == 10)
      Seq("false", "true").foreach { ignore =>
        spark.conf.set("spark.sql.files.ignoreMissingFiles", ignore)
        try Seq(s"SELECT * FROM graft.default.cat_tt_clean VERSION AS OF $v2",
                s"SELECT count(*) FROM graft.default.cat_tt_clean VERSION AS OF $v2")
          .foreach { q =>
            val e = intercept[Exception] { spark.sql(q).queryExecution.executedPlan }
            assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
              .exists(c => String.valueOf(c.getMessage).contains("removed by cleanFiles")),
              s"ignoreMissingFiles=$ignore, $q: $e")
          }
        finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.cat_tt_clean")
  }

  test("V2 catalog: filtered reads segment-prune driver-side") {
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_prune")
    spark.sql("CREATE TABLE graft.default.cat_prune (k BIGINT, v STRING) USING graft")
    // two segments with DISJOINT key ranges — min/max stats decide
    spark.sql("INSERT INTO graft.default.cat_prune " +
      "SELECT id, concat('lo', id) FROM range(0, 100)")
    spark.sql("INSERT INTO graft.default.cat_prune " +
      "SELECT id, concat('hi', id) FROM range(1000, 1100)")
    // Dataset.inputFiles only recognizes FileTable-backed relations,
    // so read the scanned files off the executed plan's FileScan
    def scannedSegments(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          // strip the runtime-pruning shell to reach the file scan
          org.apache.spark.sql.graftbridge.GraftV2ScanSupport
            .unwrapRuntime(b.scan) match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.inputFiles.toSeq
            case _ => Seq.empty[String]
          }
      }.flatten.map(_.replaceAll("/[^/]*$", "")).distinct
    val segsAll = scannedSegments(spark.table("graft.default.cat_prune"))
    assert(segsAll.length == 2, segsAll.mkString(", "))
    val segsPruned = scannedSegments(spark.sql(
      "SELECT * FROM graft.default.cat_prune WHERE k >= 1000"))
    assert(segsPruned.length == 1,
      s"min/max pruning must drop the lo segment: ${segsPruned.mkString(", ")}")
    // correctness unaffected: the filter still runs exactly
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.default.cat_prune WHERE k >= 1000")
      .head().getLong(0) == 100)
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.default.cat_prune WHERE k >= 50")
      .head().getLong(0) == 150)
    spark.sql("DROP TABLE graft.default.cat_prune")
  }

  test("V2 catalog: ALTER TABLE add/drop column, defaults-correct fallback read") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_alter")
    spark.sql("CREATE TABLE graft.default.cat_alter (k BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_alter " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    spark.sql("ALTER TABLE graft.default.cat_alter ADD COLUMN extra INT")
    // pre-evolution rows read the new column as null through the
    // catalog (no declared default via the V2 path)
    val rows = spark.sql(
      "SELECT extra FROM graft.default.cat_alter").collect()
    assert(rows.length == 5 && rows.forall(_.isNullAt(0)))
    spark.sql("ALTER TABLE graft.default.cat_alter DROP COLUMN extra")
    assert(spark.table("graft.default.cat_alter").columns.toSeq ==
      Seq("k", "v"))
    // a DECLARED default (graft-side evolution) must be served
    // through the catalog too — the V1Scan fallback path
    graft.sql.GraftCatalog.open(spark, "cat_alter")
      .addColumn("flag", org.apache.spark.sql.types.IntegerType, Some("7"))
    val flags = spark.sql("SELECT flag FROM graft.default.cat_alter")
      .collect().map(_.getInt(0)).toSeq
    assert(flags == Seq.fill(5)(7), s"default must serve catalog-side: $flags")
    spark.sql("DROP TABLE graft.default.cat_alter")
  }

  test("V2 catalog: DEFAULT-carrying ADD COLUMN evolves old segments") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_def")
    spark.sql("CREATE TABLE graft.default.cat_def (k BIGINT, v STRING) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_def " +
      s"SELECT r_regionkey, r_name FROM parquet.`$sf/region.parquet`")
    // the r15 gap: the catalog ADD COLUMN hardcoded no default even
    // though the engine supports them — the analyzed DEFAULT literal
    // must land in the default ledger and serve on old segments
    spark.sql("ALTER TABLE graft.default.cat_def " +
      "ADD COLUMN tag STRING DEFAULT 'dx'")
    val tags = spark.sql("SELECT tag FROM graft.default.cat_def")
      .collect().map(_.getString(0)).toSeq
    assert(tags == Seq.fill(5)("dx"),
      s"catalog DEFAULT must serve on pre-evolution rows: $tags")
    // and an integral default round-trips through the literal too
    spark.sql("ALTER TABLE graft.default.cat_def ADD COLUMN n INT DEFAULT 42")
    val ns = spark.sql("SELECT n FROM graft.default.cat_def")
      .collect().map(_.getInt(0)).toSeq
    assert(ns == Seq.fill(5)(42), s"got $ns")
    spark.sql("DROP TABLE graft.default.cat_def")
  }

  test("catalog browsing at 10^3 tables: warm listTables costs one listing, not a stat storm (measured)") {
    import org.apache.spark.sql.types.{LongType, StructType}
    import graft.table.SegmentedTable
    val store2 = java.nio.file.Files.createTempDirectory("graft_store_1k").toString
    val prev = spark.conf.getOption("spark.graft.store")
    spark.conf.set("spark.graft.store", store2)
    try {
      val schema = new StructType().add("k", LongType)
      (1 to 1000).foreach(i =>
        SegmentedTable.create(spark, s"$store2/t$i", schema, Map.empty))
      val cat = new GraftCatalogPlugin()
      // root-scoped to the 1k store: the session-wide catalog would
      // also list MVs other suites registered (r17 MV browsing) and
      // the exact counts below would depend on suite order
      cat.initialize("graft", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("root", store2)))
      val ns = Array("default")
      def timeMs(n: Int)(f: => Unit): Double = {
        val t0 = System.nanoTime(); (1 to n).foreach(_ => f)
        (System.nanoTime() - t0) / 1e6 / n
      }
      val coldMs = timeMs(1) { assert(cat.listTables(ns).length == 1000) }
      val warmMs = timeMs(5) { assert(cat.listTables(ns).length == 1000) }
      info(f"10^3-table store: cold listTables=${coldMs}%.1f ms, warm=${warmMs}%.1f ms")
      // warm = one directory listing + memo lookups; generous CI bound
      assert(warmMs < 100, f"warm listTables too slow: ${warmMs}%.1f ms")
      // the memo never goes stale against real catalog actions:
      SegmentedTable.create(spark, s"$store2/t_new", schema, Map.empty)
      assert(cat.listTables(ns).length == 1001, "a new table must appear at once")
      assert(cat.dropTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(ns, "t500")))
      assert(cat.listTables(ns).length == 1000, "a dropped table must vanish at once")
      // an OUT-OF-BAND rm (no drop surface involved) prunes on the
      // next listing instead of lingering as a stale positive
      graft.table.TableIO.delete(new org.apache.hadoop.fs.Path(s"$store2/t501"))
      assert(cat.listTables(ns).length == 999)
      intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
        cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(ns, "t501"))
      }
    } finally {
      prev.fold(spark.conf.unset("spark.graft.store"))(
        spark.conf.set("spark.graft.store", _))
    }
  }

  test("V2 catalog: RENAME TABLE — MV registrations and stream checkpoints survive") {
    // the r15 restriction ("paths are embedded in MV registrations
    // and stream checkpoints") is lifted by a name→dir indirection in
    // the store root: the LOGICAL name remaps, the physical directory
    // (the identity everything embeds) stays — so this test pins
    // exactly the two consumers the restriction named.
    import org.apache.spark.sql.functions.{col, sum}
    val sf = graft.TestSpark.sf
    def scanned(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_rn")
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_rn2")
    spark.sql("CREATE TABLE graft.default.cat_rn " +
      "(n_nationkey BIGINT, n_regionkey BIGINT) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_rn " +
      s"SELECT n_nationkey, n_regionkey FROM parquet.`$sf/nation.parquet` " +
      "WHERE n_nationkey < 15")
    val phys = graft.sql.GraftCatalog.open(spark, "cat_rn").root.toString
    graft.mv.AggTables.create(spark, "cat_rn_mv", phys,
      Seq("n_regionkey"), Seq("sum" -> "n_nationkey"))
    // stream half: drain the snapshot through a checkpoint
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rn_ckpt").toString
    val emitted = new java.util.concurrent.atomic.AtomicLong(0)
    def drain(name: String): Unit = {
      val q = spark.readStream.table(s"graft.default.$name")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted.addAndGet(b.count()); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    drain("cat_rn")
    assert(emitted.get == 15)

    spark.sql("ALTER TABLE graft.default.cat_rn RENAME TO default.cat_rn2")
    // new name answers, old name is gone, listing shows the new name
    assert(spark.table("graft.default.cat_rn2").count() == 15)
    intercept[Exception](spark.table("graft.default.cat_rn").collect())
    val names = spark.sql("SHOW TABLES IN graft.default")
      .collect().map(_.getString(1)).toSet
    assert(names.contains("cat_rn2") && !names.contains("cat_rn"), s"$names")
    // the physical dir did not move — the identity MVs/checkpoints embed
    assert(graft.sql.GraftCatalog.open(spark, "cat_rn2").root.toString == phys)
    // MV registration survives: the rewrite still serves the renamed
    // table from the MV
    def qt() = graft.sql.GraftCatalog.open(spark, "cat_rn2").read()
      .groupBy(col("n_regionkey")).agg(sum(col("n_nationkey")).as("s"))
    assert(scanned(qt()).exists(_.contains("cat_rn_mv")),
      s"MV must survive the rename: ${scanned(qt())}")
    // stream checkpoint survives: an increment lands via the NEW name
    // and the SAME checkpoint delivers exactly the increment
    spark.sql(s"INSERT INTO graft.default.cat_rn2 " +
      s"SELECT n_nationkey, n_regionkey FROM parquet.`$sf/nation.parquet` " +
      "WHERE n_nationkey >= 15 AND n_nationkey < 25")
    drain("cat_rn2")
    assert(emitted.get == 25,
      s"expected 15 + the 10-row increment, got ${emitted.get}")
    // renaming back to the directory's own name folds the map entry away
    spark.sql("ALTER TABLE graft.default.cat_rn2 RENAME TO default.cat_rn")
    assert(graft.sql.GraftCatalog.nameMap(spark).isEmpty)
    assert(spark.table("graft.default.cat_rn").count() == 25)
    graft.mv.AggTables.drop(spark, "cat_rn_mv")
    spark.sql("DROP TABLE graft.default.cat_rn")
  }

  test("V2 catalog: SET/UNSET TBLPROPERTIES drives real engine behavior") {
    val sf = graft.TestSpark.sf
    def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_props")
    spark.sql("CREATE TABLE graft.default.cat_props " +
      "(o_orderstatus STRING, o_totalprice DOUBLE) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_props " +
      s"SELECT o_orderstatus, o_totalprice FROM parquet.`$sf/orders.parquet` " +
      "WHERE o_orderkey % 2 = 0")
    val t0 = graft.sql.GraftCatalog.open(spark, "cat_props")
    // an MV over the table; WITHOUT refresh_on_commit a later insert
    // leaves it stale and the rewrite serves from base
    graft.mv.AggTables.create(spark, "cat_props_mv", t0.root.toString,
      Seq("o_orderstatus"), Seq("sum" -> "o_totalprice"))
    // the catalog SET must reach the engine property the load hook
    // reads — this is the behavior change, not just a stored string
    spark.sql("ALTER TABLE graft.default.cat_props " +
      "SET TBLPROPERTIES('refresh_on_commit'='true')")
    assert(graft.sql.GraftCatalog.open(spark, "cat_props")
      .properties.get("refresh_on_commit").contains("true"))
    spark.sql(s"INSERT INTO graft.default.cat_props " +
      s"SELECT o_orderstatus, o_totalprice FROM parquet.`$sf/orders.parquet` " +
      "WHERE o_orderkey % 2 = 1")
    import org.apache.spark.sql.functions.{col, sum}
    def qt() = graft.sql.GraftCatalog.open(spark, "cat_props").read()
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice")).as("s"))
    val paths = scannedPaths(qt())
    // refresh fired at commit => the MV is fresh and the rewrite
    // serves it (a stale MV would fail the fingerprint probe and the
    // query would scan segment_ dirs instead)
    assert(paths.exists(_.contains("cat_props_mv")),
      s"refresh_on_commit set via catalog DDL must fire: scanned $paths")
    assert(!paths.exists(_.contains("segment_")), s"scanned: $paths")
    // UNSET removes the property; the next insert leaves the MV alone
    spark.sql("ALTER TABLE graft.default.cat_props " +
      "UNSET TBLPROPERTIES('refresh_on_commit')")
    assert(!graft.sql.GraftCatalog.open(spark, "cat_props")
      .properties.contains("refresh_on_commit"))
    // the default ledger is protected from property-side edits
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.default.cat_props " +
        "SET TBLPROPERTIES('default.x'='1')")
    }
    assert(e.getMessage.contains("ADD/DROP COLUMN"), e.getMessage)
    graft.mv.AggTables.drop(spark, "cat_props_mv")
    spark.sql("DROP TABLE graft.default.cat_props")
  }

  test("catalog DELETE FROM and TRUNCATE: atomic rewrites, history preserved, loud on the untranslatable") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.cat_del")
    spark.sql("CREATE TABLE graft.default.cat_del " +
      "(k BIGINT, status STRING, price DOUBLE) USING graft")
    spark.sql(s"INSERT INTO graft.default.cat_del " +
      s"SELECT o_orderkey, o_orderstatus, o_totalprice " +
      s"FROM parquet.`$sf/orders.parquet` WHERE o_orderkey <= 2000")
    val t0 = graft.sql.GraftCatalog.open(spark, "cat_del")
    val total = spark.table("graft.default.cat_del").count()
    val toDie = spark.table("graft.default.cat_del")
      .filter("status = 'F' AND k % 3 = 0").count()
    assert(toDie > 0)
    val versBefore = t0.versions.max
    spark.sql("DELETE FROM graft.default.cat_del WHERE status = 'F' AND k % 3 = 0")
    assert(spark.table("graft.default.cat_del").count() == total - toDie)
    assert(spark.table("graft.default.cat_del")
      .filter("status = 'F' AND k % 3 = 0").count() == 0)
    // one atomic commit: exactly one version bump, and the
    // pre-delete snapshot is still readable (copy-on-write history)
    val t1 = graft.sql.GraftCatalog.open(spark, "cat_del")
    assert(t1.versions.max == versBefore + 1,
      s"one DELETE = one commit, got ${t1.versions}")
    assert(t1.readAsOf(versBefore).count() == total)
    // arithmetic predicates survive the V2 predicate bridge (the V1
    // Filter route would have dropped them): k + 1 = 10 deletes k = 9
    val hadNine = spark.table("graft.default.cat_del").filter("k = 9").count()
    spark.sql("DELETE FROM graft.default.cat_del WHERE k + 1 = 10")
    assert(spark.table("graft.default.cat_del").filter("k = 9").count() == 0)
    val total2 = total - toDie - hadNine
    // a subquery predicate cannot reach deleteWhere — the statement
    // must fail, not delete the wrong rows
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.default.cat_del WHERE k IN " +
        s"(SELECT o_orderkey FROM parquet.`$sf/orders.parquet` WHERE o_orderkey < 100)")
    }
    assert(e.getMessage.toLowerCase.contains("delete"), e.getMessage)
    assert(spark.table("graft.default.cat_del").count() == total2)
    // ANSI UPDATE over the catalog identifier: the dialect's
    // copy-on-write update, reached from standard SQL
    spark.sql("UPDATE graft.default.cat_del SET price = price * 2 WHERE k = 2")
    val doubled = spark.table("graft.default.cat_del")
      .filter("k = 2").select("price").head().getDouble(0)
    val origPrice = spark.sql(s"SELECT o_totalprice FROM " +
      s"parquet.`$sf/orders.parquet` WHERE o_orderkey = 2").head().getDouble(0)
    assert(math.abs(doubled - origPrice * 2) < 1e-6)
    assert(spark.table("graft.default.cat_del").count() == total2)
    // a foreign catalog's UPDATE is not claimed by the dialect parser
    val up = spark.sessionState.sqlParser.parsePlan(
      "UPDATE other.default.t SET a = 1 WHERE b = 2")
    assert(up.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.UpdateTable],
      s"foreign-catalog UPDATE must reach the delegate, got ${up.getClass}")
    // DELETE with no WHERE = delete-all (the AlwaysTrue predicate
    // must cross the V2 bridge too)
    spark.sql("DELETE FROM graft.default.cat_del")
    assert(spark.table("graft.default.cat_del").count() == 0)
    // TRUNCATE retires everything in one commit but keeps history
    spark.sql(s"INSERT INTO graft.default.cat_del " +
      s"SELECT o_orderkey, o_orderstatus, o_totalprice " +
      s"FROM parquet.`$sf/orders.parquet` WHERE o_orderkey <= 100")
    val preTrunc = spark.table("graft.default.cat_del").count()
    assert(preTrunc > 0)
    val versPreTrunc = graft.sql.GraftCatalog.open(spark, "cat_del").versions.max
    spark.sql("TRUNCATE TABLE graft.default.cat_del")
    assert(spark.table("graft.default.cat_del").count() == 0)
    val t2 = graft.sql.GraftCatalog.open(spark, "cat_del")
    assert(t2.readAsOf(versPreTrunc).count() == preTrunc,
      "TRUNCATE must be a delete-all commit, not a directory wipe")
    spark.sql("DROP TABLE graft.default.cat_del")
  }

  test("ANSI MERGE INTO upserts atomically; unsupported shapes and foreign catalogs stay honest") {
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.ansi_mrg")
    spark.sql("CREATE TABLE graft.default.ansi_mrg " +
      "(k BIGINT, status STRING, price DOUBLE) USING graft")
    spark.sql(s"INSERT INTO graft.default.ansi_mrg " +
      s"SELECT o_orderkey, o_orderstatus, o_totalprice " +
      s"FROM parquet.`$sf/orders.parquet` WHERE o_orderkey <= 1000")
    val before = spark.table("graft.default.ansi_mrg").count()
    // incoming: doubled prices for keys % 10 = 1 (updates) plus
    // shifted brand-new keys (inserts), via a SUBQUERY source
    val replaced = spark.sql(
      s"""MERGE INTO graft.default.ansi_mrg t
          USING (SELECT o_orderkey AS k, o_orderstatus AS status,
                   o_totalprice * 2 AS price
                 FROM parquet.`$sf/orders.parquet`
                 WHERE o_orderkey <= 1000 AND o_orderkey % 10 = 1
                 UNION ALL
                 SELECT o_orderkey + 5000000, o_orderstatus, o_totalprice
                 FROM parquet.`$sf/orders.parquet`
                 WHERE o_orderkey <= 1000 AND o_orderkey % 10 = 2) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
    val t = graft.sql.GraftCatalog.open(spark, "ansi_mrg")
    val after = t.read()
    val updatedKeys = after.filter(org.apache.spark.sql.functions.col("k") % 10 === 1 &&
      org.apache.spark.sql.functions.col("k") <= 1000).count()
    assert(replaced == updatedKeys, s"replaced=$replaced updated=$updatedKeys")
    val inserted = after.filter(org.apache.spark.sql.functions.col("k") > 5000000L).count()
    assert(inserted > 0 && after.count() == before + inserted)
    // updated rows actually carry the doubled price
    val probe = after.filter(org.apache.spark.sql.functions.col("k") === 1)
      .select("price").head().getDouble(0)
    val orig = spark.sql(s"SELECT o_totalprice FROM parquet.`$sf/orders.parquet` " +
      "WHERE o_orderkey = 1").head().getDouble(0)
    assert(math.abs(probe - orig * 2) < 1e-6)
    // richer WHEN shapes parse to the general full-merge path now
    // (the r16 loud-failure contract is retired; see the clause-shape
    // matrix test), and still fail loudly on nonsense like a missing
    // source relation
    intercept[Exception] {
      spark.sql("MERGE INTO graft.default.ansi_mrg t USING x s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE")
    }
    // a MERGE INTO against any OTHER catalog is NOT claimed — the
    // delegate's own MergeIntoTable plan comes back
    val foreign = spark.sessionState.sqlParser.parsePlan(
      "MERGE INTO other.default.t t USING s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(foreign.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable],
      s"foreign-catalog MERGE must reach the delegate, got ${foreign.getClass}")
    spark.sql("DROP TABLE graft.default.ansi_mrg")
  }

  test("MVs browse through the catalog: listed, SELECTable, read-only, refresh-current") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_mvcat")
    val base = dir.resolve("region.parquet").toString
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").write.parquet(base)
    spark.sql(s"CREATE GRAFT AGGREGATE TABLE region_catmv ON PATH '$base' " +
      "GROUP BY (r_regionkey) AGG (max(r_regionkey))")
    try {
      // listed next to real tables in the default namespace
      assert(spark.sql("SHOW TABLES IN graft.default").collect()
        .map(_.getString(1)).contains("region_catmv"),
        "the MV must browse through SHOW TABLES")
      // SELECTable via the catalog identifier, answering the rollup
      val rows = spark.table("graft.default.region_catmv").collect()
      assert(rows.length == 5, s"got ${rows.length}")
      // read-only: INSERT/DELETE rejected at analysis
      val e1 = intercept[Exception] {
        spark.sql("INSERT INTO graft.default.region_catmv " +
          "SELECT * FROM graft.default.region_catmv")
      }
      assert(e1.getMessage.toLowerCase.contains("support") ||
        e1.getMessage.toLowerCase.contains("writ"), e1.getMessage)
      intercept[Exception] {
        spark.sql("DELETE FROM graft.default.region_catmv WHERE r_regionkey = 0")
      }
      // after a refresh the catalog read serves the CURRENT version
      spark.read.parquet("/root/testdata/sf0.001/region.parquet").limit(2)
        .write.mode("append").parquet(base)
      spark.sql("REFRESH GRAFT AGGREGATE TABLE region_catmv")
      assert(spark.table("graft.default.region_catmv").count() == 5,
        "refresh keeps the same 5 groups (re-resolved mvPath)")
      // and dropping the MV removes it from the browse surface
      spark.sql("DROP GRAFT AGGREGATE TABLE region_catmv")
      assert(!spark.sql("SHOW TABLES IN graft.default").collect()
        .map(_.getString(1)).contains("region_catmv"))
      intercept[Exception] { spark.table("graft.default.region_catmv").collect() }
    } finally {
      if (graft.mv.AggTables.registered(spark).exists(_.name == "region_catmv"))
        spark.sql("DROP GRAFT AGGREGATE TABLE region_catmv")
    }
  }

  test("full ANSI MERGE: conditional update, delete, conditional insert — clause-shape matrix") {
    spark.sql("DROP TABLE IF EXISTS graft.default.mfull")
    spark.sql("CREATE TABLE graft.default.mfull " +
      "(k BIGINT, status STRING, price DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.default.mfull VALUES " +
      "(1, 'open', 10.0), (2, 'open', 20.0), (3, 'closed', 30.0), " +
      "(4, 'open', 40.0), (5, 'hold', 50.0)")
    spark.sql(
      """SELECT * FROM VALUES
           (1, 120.0), (3, 130.0), (5, 150.0), (7, 170.0), (8, 180.0)
         AS v(k, price)""").createOrReplaceTempView("mfull_src")
    // mixed statement: conditional UPDATE with expression assignments,
    // conditional DELETE, conditional INSERT with a column list
    val r = spark.sql(
      """MERGE INTO graft.default.mfull t USING mfull_src s ON t.k = s.k
         WHEN MATCHED AND t.status = 'open' THEN
           UPDATE SET price = s.price + 1, status = 'priced'
         WHEN MATCHED AND t.status = 'closed' THEN DELETE
         WHEN NOT MATCHED AND s.price < 175 THEN
           INSERT (k, status, price) VALUES (s.k, 'new', s.price * 2)""")
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 1L)),
      s"got $r") // k=1 updated, k=3 deleted, k=7 inserted (k=8 fails the insert cond, k=5 'hold' matches no clause)
    val after = spark.table("graft.default.mfull").collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getDouble(2)))).toMap
    assert(after == Map(
      1L -> (("priced", 121.0)),
      2L -> (("open", 20.0)),
      4L -> (("open", 40.0)),
      5L -> (("hold", 50.0)),
      7L -> (("new", 340.0))), s"got $after")
    // delete-only MERGE
    spark.sql("SELECT 2 AS k").createOrReplaceTempView("mfull_del")
    val r2 = spark.sql(
      """MERGE INTO graft.default.mfull t USING mfull_del s ON t.k = s.k
         WHEN MATCHED THEN DELETE""").head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((0L, 1L, 0L)))
    assert(spark.table("graft.default.mfull").count() == 4)
    // multiple matched clauses: FIRST match wins
    spark.sql("SELECT 4 AS k").createOrReplaceTempView("mfull_first")
    spark.sql(
      """MERGE INTO graft.default.mfull t USING mfull_first s ON t.k = s.k
         WHEN MATCHED AND t.price > 0 THEN UPDATE SET status = 'first'
         WHEN MATCHED THEN DELETE""")
    assert(spark.table("graft.default.mfull").filter("k = 4")
      .head().getString(1) == "first")
    // unconditional SET * via the GENERAL path (differing key names
    // forces it off the upsert fast path)
    spark.sql("SELECT 5 AS kk, 'star' AS status, 0.5 AS price")
      .createOrReplaceTempView("mfull_star")
    val r3 = spark.sql(
      """MERGE INTO graft.default.mfull t USING mfull_star s ON t.k = s.kk
         WHEN MATCHED THEN UPDATE SET status = s.status, price = s.price""")
      .head()
    assert(r3.getLong(0) == 1L)
    assert(spark.table("graft.default.mfull").filter("k = 5")
      .head().getString(1) == "star")
    // ANSI cardinality: two firing source rows for one target = error
    spark.sql("SELECT 7 AS k UNION ALL SELECT 7").createOrReplaceTempView("mfull_dup")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.default.mfull t USING mfull_dup s ON t.k = s.k
           WHEN MATCHED THEN DELETE""")
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(spark.table("graft.default.mfull").filter("k = 7").count() == 1,
      "a cardinality violation must abort before any write")
    // a multi-match where only ONE source row fires applies that one
    spark.sql("SELECT 7 AS k, 1 AS fire UNION ALL SELECT 7, 0")
      .createOrReplaceTempView("mfull_onefire")
    val r4 = spark.sql(
      """MERGE INTO graft.default.mfull t USING mfull_onefire s
         ON t.k = s.k
         WHEN MATCHED AND s.fire = 1 THEN UPDATE SET status = 'fired'""")
      .head()
    assert(r4.getLong(0) == 1L)
    assert(spark.table("graft.default.mfull").filter("k = 7")
      .head().getString(1) == "fired")
    assert(spark.table("graft.default.mfull").filter("k = 7").count() == 1,
      "multi-match must not duplicate the surviving row")
    // atomicity: the mixed MERGE above was ONE commit — version history
    // shows single steps, and pre-merge state is intact via time travel
    val t = graft.sql.GraftCatalog.open(spark, "mfull")
    assert(t.read().count() == spark.table("graft.default.mfull").count())
    spark.sql("DROP TABLE graft.default.mfull")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync clause matrix") {
    def reset(): Unit = {
      spark.sql("DROP TABLE IF EXISTS graft.default.mbs")
      spark.sql("CREATE TABLE graft.default.mbs " +
        "(k BIGINT, status STRING, price DOUBLE) USING graft")
      spark.sql("INSERT INTO graft.default.mbs VALUES " +
        "(1, 'open', 10.0), (2, 'stale', 20.0), (3, 'open', 30.0), " +
        "(4, 'stale', 40.0), (5, 'hold', 50.0)")
    }
    reset()
    spark.sql("SELECT * FROM VALUES (1, 110.0), (3, 130.0), (9, 190.0) " +
      "AS v(k, price)").createOrReplaceTempView("mbs_src")
    // all three families in one statement: matched update, source-only
    // insert, by-source conditional delete + catch-all update
    val r = spark.sql(
      """MERGE INTO graft.default.mbs t USING mbs_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET price = s.price
         WHEN NOT MATCHED THEN INSERT (k, status, price)
           VALUES (s.k, 'new', s.price)
         WHEN NOT MATCHED BY SOURCE AND t.status = 'stale' THEN DELETE
         WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'expired'""")
      .head()
    // updated = 2 matched + 1 by-source-updated; deleted = 2 by-source
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)),
      s"got $r")
    val after = spark.table("graft.default.mbs").collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getDouble(2)))).toMap
    assert(after == Map(
      1L -> (("open", 110.0)),
      3L -> (("open", 130.0)),
      5L -> (("expired", 50.0)),
      9L -> (("new", 190.0))), s"got $after")

    // by-source-ONLY statement (no matched / not-matched clauses): the
    // full-sync "expire what the source dropped" shape — also the
    // update/delete-only path that must NOT stage an insert segment
    reset()
    val r2 = spark.sql(
      """MERGE INTO graft.default.mbs t USING mbs_src s ON t.k = s.k
         WHEN NOT MATCHED BY SOURCE THEN DELETE""").head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((0L, 3L, 0L)))
    assert(spark.table("graft.default.mbs").collect().map(_.getLong(0))
      .toSet == Set(1L, 3L), "only source-carried keys survive")

    // by-source clauses fire ONLY on truly unmatched target rows: a
    // matched row on which no matched clause fires stays untouched
    reset()
    spark.sql(
      """MERGE INTO graft.default.mbs t USING mbs_src s ON t.k = s.k
         WHEN MATCHED AND s.price > 120 THEN UPDATE SET status = 'big'
         WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'gone'""")
    val m = spark.table("graft.default.mbs").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(m == Map(1L -> "open", 2L -> "gone", 3L -> "big",
      4L -> "gone", 5L -> "gone"), s"got $m")

    // UPDATE SET * is rejected for by-source (source columns are NULL)
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.default.mbs t USING mbs_src s ON t.k = s.k
           WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *""")
    }
    assert(e.getMessage.contains("BY SOURCE"), e.getMessage)

    // a top-level CASE WHEN ... THEN ... END inside a clause condition
    // must not split the clause list (the WHEN/THEN are the CASE's)
    reset()
    spark.sql(
      """MERGE INTO graft.default.mbs t USING mbs_src s ON t.k = s.k
         WHEN MATCHED AND CASE WHEN t.status = 'open' THEN true
                          ELSE false END THEN
           UPDATE SET status = CASE WHEN s.price > 120 THEN 'case_big'
                               ELSE 'case_small' END
         WHEN NOT MATCHED BY SOURCE AND CASE WHEN t.price < 25 THEN true
                                        ELSE false END THEN DELETE""")
    val c = spark.table("graft.default.mbs").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(c == Map(1L -> "case_small", 3L -> "case_big",
      4L -> "stale", 5L -> "hold"), s"got $c")

    // an UNALIASED parenthesized subquery source: Spark's resolution
    // finds the bare `k` in both the target and the source and fails
    // the statement loudly
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.default.mbs t
           USING (SELECT 1 AS k) ON t.k = k
           WHEN MATCHED THEN DELETE""")
    }
    assert(e2.getMessage.contains("AMBIGUOUS_REFERENCE"), e2.getMessage)
    spark.sql("DROP TABLE graft.default.mbs")
  }

  test("ANSI UPDATE and MERGE bind named and positional parameter markers") {
    spark.sql("DROP TABLE IF EXISTS graft.default.params_t")
    spark.sql("CREATE TABLE graft.default.params_t (k BIGINT, status STRING) USING graft")
    spark.sql("INSERT INTO graft.default.params_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("UPDATE graft.default.params_t SET status = :s WHERE k = :k",
      Map("s" -> "named", "k" -> 1L))
    spark.sql("UPDATE graft.default.params_t SET status = ? WHERE k = ?",
      Array[Any]("positional", 2L))
    spark.sql(
      """MERGE INTO graft.default.params_t t
         USING (SELECT CAST(:k AS BIGINT) AS k, 'merged' AS status) s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
      Map("k" -> 3L))
    val rows = spark.table("graft.default.params_t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "named", 2L -> "positional", 3L -> "merged"), s"got $rows")
    spark.sql("DROP TABLE graft.default.params_t")
  }

  test("both MERGE routes cast the same source to the target's column types") {
    spark.sql("SELECT CAST(k AS BIGINT) AS k, CAST(p AS DECIMAL(3,2)) AS price " +
      "FROM VALUES (1, 1.25), (3, 3.5) AS v(k, p)").createOrReplaceTempView("typed_src")
    def merged(name: String, clauses: String): (Int, Map[Long, Double]) = {
      spark.sql(s"DROP TABLE IF EXISTS graft.default.$name")
      spark.sql(s"CREATE TABLE graft.default.$name (k BIGINT, price DOUBLE) USING graft")
      spark.sql(s"INSERT INTO graft.default.$name VALUES (1, 1.0), (2, 2.0)")
      val width = spark.sql(s"MERGE INTO graft.default.$name t USING typed_src s " +
        s"ON t.k = s.k $clauses").head().size
      val rows = spark.table(s"graft.default.$name").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      spark.sql(s"DROP TABLE graft.default.$name")
      (width, rows)
    }
    val upsert = merged("typed_upsert",
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val general = merged("typed_general",
      "WHEN MATCHED THEN UPDATE SET price = s.price " +
        "WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)")
    // the upsert reports replaced rows, the general route three counts
    assert(upsert._1 == 1 && general._1 == 3)
    assert(upsert._2 == Map(1L -> 1.25, 2L -> 2.0, 3L -> 3.5), s"got ${upsert._2}")
    assert(general._2 == upsert._2)
  }

  test("a source repeating a matched key fails the MERGE on both routes") {
    spark.sql("DROP TABLE IF EXISTS graft.default.dup_src_t")
    spark.sql("CREATE TABLE graft.default.dup_src_t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.default.dup_src_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("SELECT * FROM VALUES (1, 'x'), (1, 'y') AS v(k, v)")
      .createOrReplaceTempView("dup_src")
    def rows() = spark.table("graft.default.dup_src_t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    val before = rows()
    Seq("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
      .foreach { clauses =>
        val e = intercept[Exception] {
          spark.sql(s"MERGE INTO graft.default.dup_src_t t USING dup_src s " +
            s"ON t.k = s.k $clauses")
        }
        assert(e.getMessage.contains("cardinality"), e.getMessage)
        assert(rows() == before, s"$clauses must abort before any write")
      }
    // a repeated key no target row holds inserts every copy
    spark.sql("SELECT * FROM VALUES (5, 'x'), (5, 'y') AS v(k, v)")
      .createOrReplaceTempView("dup_new_src")
    spark.sql("MERGE INTO graft.default.dup_src_t t USING dup_new_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(rows() == before ++ Set(5L -> "x", 5L -> "y"))
    spark.sql("DROP TABLE graft.default.dup_src_t")
  }

  test("CREATE TABLE ... PARTITIONED BY (k) maps identity transforms to the co-located layout") {
    // r16 verdict #4: the boilerplate PARTITIONED BY any tool emits
    // used to be rejected; identity transforms now route to the
    // partition_columns bucketed layout (the g03 machinery) — equal
    // keys land in one file, so equi-joins/group-bys read co-located
    // data and AQE skips re-shuffling small sides
    val sf = graft.TestSpark.sf
    spark.sql("DROP TABLE IF EXISTS graft.default.partby")
    spark.sql("CREATE TABLE graft.default.partby " +
      "(l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE) USING graft " +
      "PARTITIONED BY (l_suppkey)")
    val t = graft.sql.GraftCatalog.open(spark, "partby")
    assert(t.partitionColumns == Seq("l_suppkey"))
    spark.sql("INSERT INTO graft.default.partby " +
      s"SELECT l_orderkey, l_suppkey, l_quantity FROM parquet.`$sf/lineitem.parquet`")
    // co-location: each key appears in exactly one file
    val filesPerKey = spark.table("graft.default.partby")
      .select(org.apache.spark.sql.functions.col("l_suppkey"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .groupBy("l_suppkey")
      .agg(org.apache.spark.sql.functions.countDistinct("f").as("nf"))
      .agg(org.apache.spark.sql.functions.max("nf")).head().getLong(0)
    assert(filesPerKey == 1, s"keys must be co-located, got $filesPerKey files/key")
    // the layout is visible through the catalog surface
    val parts = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("default"), "partby")).partitioning()
    assert(parts.map(_.toString).toSeq == Seq("identity(l_suppkey)"),
      parts.mkString(", "))
    // non-identity transforms fail loudly, not approximately
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.default.partbad (k BIGINT, ts TIMESTAMP) " +
        "USING graft PARTITIONED BY (bucket(8, k))")
    }
    assert(e.getMessage.contains("identity") ||
      e.getMessage.contains("transform"), e.getMessage)
    spark.sql("DROP TABLE graft.default.partby")
  }

  test("multi-namespace lifecycle: same name resolves independently, renames confined, DML namespace-scoped") {
    // reference parity: CarbonMetastoreCatalog resolves
    // schemaName.cubeName over a storePath/<db>/<table> layout —
    // namespaces here are store-root subdirectories with a _ns.json
    // marker; `default` is the root itself (pre-namespace tables stay
    // put)
    spark.sql("DROP NAMESPACE IF EXISTS graft.staging CASCADE")
    spark.sql("DROP TABLE IF EXISTS graft.default.nst")
    spark.sql("CREATE NAMESPACE graft.staging COMMENT 'scratch'")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).toSet == Set("default", "staging"))
    // same table NAME in two namespaces, fully independent
    spark.sql("CREATE TABLE graft.default.nst (k INT, v STRING) USING graft")
    spark.sql("CREATE TABLE graft.staging.nst (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.default.nst VALUES (1, 'd'), (2, 'd')")
    spark.sql("INSERT INTO graft.staging.nst VALUES (9, 's')")
    assert(spark.table("graft.default.nst").count() == 2)
    assert(spark.table("graft.staging.nst").count() == 1)
    assert(spark.sql("SHOW TABLES IN graft.staging").collect()
      .map(_.getString(1)).toSet == Set("nst"))
    // the namespace dir does NOT show up as a default-namespace table
    assert(!spark.sql("SHOW TABLES IN graft.default").collect()
      .map(_.getString(1)).contains("staging"))
    // ANSI DML resolves inside the namespace
    spark.sql("UPDATE graft.staging.nst SET v = 'z' WHERE k = 9")
    assert(spark.table("graft.staging.nst").head().getString(1) == "z")
    assert(spark.table("graft.default.nst").filter("v = 'z'").count() == 0)
    spark.sql("SELECT 9 AS k, 'm' AS v UNION ALL SELECT 10, 'm'")
      .createOrReplaceTempView("ns_incoming")
    val replaced = spark.sql(
      "MERGE INTO graft.staging.nst t USING ns_incoming s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .head().getLong(0)
    assert(replaced == 1L)
    assert(spark.table("graft.staging.nst").count() == 2)
    assert(spark.table("graft.default.nst").count() == 2)
    // rename confined to its namespace; cross-namespace rename refused
    spark.sql("ALTER TABLE graft.staging.nst RENAME TO staging.nst2")
    assert(spark.table("graft.staging.nst2").count() == 2)
    assert(spark.table("graft.default.nst").count() == 2,
      "a staging rename must not touch the default namespace")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.staging.nst2 RENAME TO default.nst3")
    }
    // namespace metadata round-trips; ALTER NAMESPACE works
    spark.sql("ALTER NAMESPACE graft.staging SET PROPERTIES ('tier' = 'dev')")
    val meta = spark.sql("DESCRIBE NAMESPACE EXTENDED graft.staging").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta.exists(_.toString.contains("tier")) ||
      meta.values.exists(_.contains("dev")), s"got $meta")
    // collision guards: a namespace name can't be reused by a default
    // table and vice versa
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.default.staging (k INT) USING graft")
    }
    intercept[Exception] {
      spark.sql("CREATE NAMESPACE graft.nst") // default table of that name
    }
    // non-empty drop refuses without CASCADE, CASCADE cleans up
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.staging") }
    spark.sql("DROP NAMESPACE graft.staging CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).toSet == Set("default"))
    intercept[Exception] { spark.table("graft.staging.nst2").collect() }
    // unknown namespaces stay loud
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.nope.t (k INT) USING graft")
    }
    spark.sql("DROP TABLE graft.default.nst")
  }

  test("MOVE GRAFT TABLE: cross-namespace physical move — MV re-based, checkpoint guarded, collisions loud") {
    spark.sql("DROP NAMESPACE IF EXISTS graft.arch CASCADE")
    spark.sql("DROP TABLE IF EXISTS graft.default.mvt")
    spark.sql("DROP TABLE IF EXISTS graft.default.mvt9")
    spark.sql("CREATE NAMESPACE graft.arch")
    spark.sql("CREATE TABLE graft.default.mvt " +
      "(k BIGINT, grp STRING, v DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.default.mvt VALUES " +
      "(1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0)")
    val store = graft.sql.GraftCatalog.storeRoot(spark)
    // a live MV registered over the table's physical directory
    spark.sql(s"CREATE GRAFT AGGREGATE TABLE mvt_mv ON PATH '$store/mvt' " +
      "GROUP BY (grp) AGG (sum(v))")
    try {
      // same-namespace "move" is RENAME's job — refused with the hint
      val e0 = intercept[Exception] {
        spark.sql("MOVE GRAFT TABLE mvt TO default.mvt2")
      }
      assert(e0.getMessage.contains("RENAME"), e0.getMessage)
      // the move: physical dir relocates, old name gone, data intact
      val moved = spark.sql("MOVE GRAFT TABLE mvt TO arch.mvt")
        .head().getString(0)
      assert(moved == "arch.mvt")
      assert(spark.table("graft.arch.mvt").count() == 3)
      assert(spark.sql("SHOW TABLES IN graft.arch").collect()
        .map(_.getString(1)).contains("mvt"))
      intercept[Exception] { spark.table("graft.default.mvt").collect() }
      // MV registration survived the move: re-based to the new path,
      // watermark still valid (refresh is a NOOP, not a rebuild), and
      // the rollup still answers exactly
      val meta = graft.mv.AggTables.registered(spark)
        .find(_.name == "mvt_mv").get
      assert(meta.basePath.endsWith("/arch/mvt"), meta.basePath)
      val (_, mode) = graft.mv.AggTables.refreshDetailed(spark, "mvt_mv")
      assert(mode == "noop",
        s"a move must keep the MV watermark valid, got '$mode'")
      val mv = spark.read.parquet(meta.mvPath).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(mv == Map("a" -> 3.0, "b" -> 3.0), s"got $mv")
      // a DURABLE streaming-sink lineage (checkpoint embeds the path)
      // blocks the move without FORCE
      val t = graft.table.SegmentedTable.open(spark, s"$store/arch/mvt")
      t.loadStreamBatch(
        spark.sql("SELECT CAST(9 AS BIGINT) k, 'c' grp, CAST(4.0 AS DOUBLE) v"),
        "/tmp/ckpt/move_guard_q", 0L)
      val e1 = intercept[Exception] {
        spark.sql("MOVE GRAFT TABLE arch.mvt TO default.mvt")
      }
      assert(e1.getMessage.contains("FORCE") &&
        e1.getMessage.contains("move_guard_q"), e1.getMessage)
      assert(spark.table("graft.arch.mvt").count() == 4,
        "a refused move leaves the table where it was")
      // FORCE moves anyway (lineages stay — they are keyed by the
      // checkpoint path, which does not move)
      spark.sql("MOVE GRAFT TABLE arch.mvt TO default.mvt FORCE")
      assert(spark.table("graft.default.mvt").count() == 4)
      assert(graft.mv.AggTables.registered(spark).find(_.name == "mvt_mv")
        .get.basePath.endsWith("/mvt"), "MV re-based again on the way back")
      // destination collision refused
      spark.sql("CREATE TABLE graft.arch.mvt (k INT) USING graft")
      val e2 = intercept[Exception] {
        spark.sql("MOVE GRAFT TABLE default.mvt TO arch.mvt FORCE")
      }
      assert(e2.getMessage.contains("taken"), e2.getMessage)
      // the cross-namespace RENAME error now names the MOVE command
      val e3 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.default.mvt RENAME TO arch.mvt9")
      }
      assert(e3.getMessage.contains("MOVE GRAFT TABLE"), e3.getMessage)
    } finally {
      if (graft.mv.AggTables.registered(spark).exists(_.name == "mvt_mv"))
        spark.sql("DROP GRAFT AGGREGATE TABLE mvt_mv")
      spark.sql("DROP NAMESPACE IF EXISTS graft.arch CASCADE")
      spark.sql("DROP TABLE IF EXISTS graft.default.mvt")
    }
  }

  test("GraftSessionCatalog mirrors graft tables into spark_catalog: bare names resolve in an unconfigured session") {
    // reference parity: CarbonMetastoreCatalog.loadMetadata mirrors
    // every cube into the Hive metastore so any Hive-aware session
    // sees it. Here: a NEW session whose ONLY graft-specific conf is
    // the spark_catalog binding resolves bare identifiers to graft
    // tables — no `graft.` qualifier, no dialect, no catalog conf use.
    spark.sql("DROP TABLE IF EXISTS graft.default.mirror_t")
    spark.sql("CREATE TABLE graft.default.mirror_t (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.default.mirror_t VALUES (1, 'a'), (2, 'b')")
    // negative control: a plain new session does NOT see the bare name
    val bare = spark.newSession()
    intercept[Exception] { bare.table("mirror_t").collect() }
    // the mirrored session: one conf line
    val ns = spark.newSession()
    ns.conf.set("spark.sql.catalog.spark_catalog",
      "graft.sql.GraftSessionCatalog")
    assert(ns.table("mirror_t").count() == 2)
    assert(ns.sql("SELECT v FROM mirror_t WHERE k = 2").head().getString(0) == "b")
    assert(ns.sql("SHOW TABLES").collect().map(_.getString(1))
      .contains("mirror_t"))
    // the mirror resolves FULL tables: unqualified INSERT works and is
    // visible back through the graft catalog
    ns.sql("INSERT INTO mirror_t VALUES (3, 'c')")
    assert(spark.table("graft.default.mirror_t").count() == 3)
    // precedence: a real session-catalog table of the same name WINS
    ns.sql("CREATE TABLE mirror_shadow (x INT) USING parquet")
    try {
      spark.sql("DROP TABLE IF EXISTS graft.default.mirror_shadow")
      spark.sql("CREATE TABLE graft.default.mirror_shadow (k INT) USING graft")
      assert(ns.table("mirror_shadow").schema.fieldNames.toSeq == Seq("x"),
        "the session catalog must shadow the mirror, never the reverse")
      spark.sql("DROP TABLE graft.default.mirror_shadow")
    } finally ns.sql("DROP TABLE IF EXISTS mirror_shadow")
    // graft NAMESPACES mirror too (not Hive databases): staging.t
    spark.sql("DROP NAMESPACE IF EXISTS graft.mirror_ns CASCADE")
    spark.sql("CREATE NAMESPACE graft.mirror_ns")
    spark.sql("CREATE TABLE graft.mirror_ns.mt (k INT) USING graft")
    spark.sql("INSERT INTO graft.mirror_ns.mt VALUES (7)")
    assert(ns.sql("SELECT * FROM mirror_ns.mt").head().getInt(0) == 7)
    spark.sql("DROP NAMESPACE graft.mirror_ns CASCADE")
    // DROP through the mirror falls through to the store (a silent
    // no-op on a name the analyzer just resolved would be worse)
    ns.sql("DROP TABLE mirror_t")
    intercept[Exception] { spark.table("graft.default.mirror_t").collect() }
  }

  test("a graft-NAMED catalog bound to another plugin is not hijacked by the dialect") {
    // ADVICE r16: the literal name `graft` used to be claimed
    // unconditionally — an ANSI UPDATE/MERGE on a `graft` catalog the
    // user bound to a DIFFERENT plugin was hijacked by the dialect
    // parser and failed at openIn instead of reaching the delegate.
    // Parsing never instantiates the catalog, so rebinding the conf
    // for the duration of the parse is safe.
    val key = "spark.sql.catalog.graft"
    val orig = spark.conf.get(key)
    try {
      spark.conf.set(key, "org.example.SomeOtherCatalogPlugin")
      val up = spark.sessionState.sqlParser.parsePlan(
        "UPDATE graft.default.t SET a = 1 WHERE b = 2")
      assert(up.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.UpdateTable],
        s"foreign-bound graft catalog UPDATE must reach the delegate, got ${up.getClass}")
      val mg = spark.sessionState.sqlParser.parsePlan(
        "MERGE INTO graft.default.t t USING s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(mg.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable],
        s"foreign-bound graft catalog MERGE must reach the delegate, got ${mg.getClass}")
    } finally spark.conf.set(key, orig)
    // bound back to this plugin (the normal state), the claim holds:
    // the analyzed statement is the graft UPDATE
    spark.sql("CREATE TABLE graft.default.claim_t (a INT, b INT) USING graft")
    val claimed = spark.sessionState.analyzer.executeAndCheck(
      spark.sessionState.sqlParser.parsePlan(
        "UPDATE graft.default.claim_t SET a = 1 WHERE b = 2"),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker)
    spark.sql("DROP TABLE graft.default.claim_t")
    assert(claimed.isInstanceOf[UpdateGraftCommand],
      s"got ${claimed.getClass}")
  }

  test("per-catalog root option: two graft catalogs over disjoint stores coexist") {
    // the `spark.sql.catalog.<name>.root` option pins a catalog
    // instance to its own store — the same table NAME resolves to
    // different physical tables per catalog, renames stay scoped to
    // their own _names.json, and the session-wide spark.graft.store
    // (the `graft` catalog + DDL dialect) is never touched
    val rootA = java.nio.file.Files.createTempDirectory("graft_cat_a").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft_cat_b").toString
    spark.conf.set("spark.sql.catalog.scopeda", "graft.sql.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.scopeda.root", rootA)
    spark.conf.set("spark.sql.catalog.scopedb", "graft.sql.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.scopedb.root", rootB)
    spark.sql("CREATE TABLE scopeda.default.t (k INT, v STRING) USING graft")
    spark.sql("CREATE TABLE scopedb.default.t (k INT, v STRING) USING graft")
    spark.sql("INSERT INTO scopeda.default.t VALUES (1, 'a'), (2, 'a')")
    spark.sql("INSERT INTO scopedb.default.t VALUES (9, 'b')")
    assert(spark.table("scopeda.default.t").count() == 2)
    assert(spark.table("scopedb.default.t").count() == 1)
    // a rename in A is invisible in B and in the session-wide store
    spark.sql("ALTER TABLE scopeda.default.t RENAME TO default.t2")
    assert(spark.table("scopeda.default.t2").count() == 2)
    assert(spark.table("scopedb.default.t").count() == 1)
    assert(!graft.sql.GraftCatalog.nameMap(spark).contains("t2"),
      "a scoped catalog's rename must not write the session store's name map")
    assert(spark.sql("SHOW TABLES IN scopedb.default").collect()
      .map(_.getString(1)).toSet == Set("t"))
    // ANSI DML resolves against the SCOPED catalog's store, not the
    // session-wide one: UPDATE and MERGE INTO on scopeda identifiers
    spark.sql("UPDATE scopeda.default.t2 SET v = 'z' WHERE k = 1")
    assert(spark.table("scopeda.default.t2")
      .filter("k = 1").head().getString(1) == "z")
    spark.sql("SELECT 2 AS k, 'm' AS v UNION ALL SELECT 3, 'm'")
      .createOrReplaceTempView("scoped_incoming")
    val replaced = spark.sql(
      "MERGE INTO scopeda.default.t2 t USING scoped_incoming s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .head().getLong(0)
    assert(replaced == 1L) // k=2 existed, k=3 is new
    assert(spark.table("scopeda.default.t2").count() == 3)
    assert(spark.table("scopeda.default.t2")
      .filter("k = 2").head().getString(1) == "m")
    // sibling catalog untouched by all of it
    assert(spark.table("scopedb.default.t").count() == 1)
    spark.sql("DROP TABLE scopeda.default.t2")
    spark.sql("DROP TABLE scopedb.default.t")
  }

  test("catalog aggregate pushdown folds COUNT/MIN/MAX from segment stats as a LocalScan") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("v2agg_src")
    spark.sql("CREATE TABLE graft.default.v2agg USING graft " +
      "AS SELECT * FROM v2agg_src")
    spark.sql("INSERT INTO graft.default.v2agg SELECT * FROM v2agg_src")
    try {
      val q = spark.sql(
        """SELECT COUNT(*) AS n, COUNT(o_comment_missing_ok) AS nc,
                  MIN(o_totalprice) AS mn, MAX(o_orderdate) AS mx,
                  MIN(o_orderstatus) AS ms, SUM(o_orderkey) AS sk
           FROM graft.default.v2agg"""
          .replace("o_comment_missing_ok", "o_orderpriority"))
      // the plan must be a local scan of the folded row — no file scan
      val exec = q.queryExecution.executedPlan.toString
      assert(exec.contains("LocalTableScan") || exec.contains("GraftStatsFold"),
        exec)
      assert(!exec.contains("BatchScan"), exec)
      val want = spark.sql(
        """SELECT COUNT(*), COUNT(o_orderpriority), MIN(o_totalprice),
                  MAX(o_orderdate), MIN(o_orderstatus), SUM(o_orderkey)
           FROM (SELECT * FROM v2agg_src UNION ALL SELECT * FROM v2agg_src)""").head()
      assert(q.head() == want)

      // a WHERE clause disables the fold (filters reached the builder)
      val qf = spark.sql(
        "SELECT COUNT(*) AS n FROM graft.default.v2agg WHERE o_orderkey > 100")
      assert(qf.queryExecution.executedPlan.toString.contains("BatchScan"),
        qf.queryExecution.executedPlan.toString)
      val wantF = spark.sql(
        """SELECT COUNT(*) FROM
             (SELECT * FROM v2agg_src UNION ALL SELECT * FROM v2agg_src)
           WHERE o_orderkey > 100""").head()
      assert(qf.head() == wantF)

      // GROUP BY never folds
      val qg = spark.sql(
        "SELECT o_orderstatus, COUNT(*) FROM graft.default.v2agg GROUP BY 1")
      assert(qg.queryExecution.executedPlan.toString.contains("BatchScan"))

      // DML refreshes the folded answer (new scan builder per query)
      spark.sql("DELETE FROM graft.default.v2agg WHERE o_orderkey % 2 = 0")
      val q2 = spark.sql("SELECT COUNT(*) AS n FROM graft.default.v2agg")
      val want2 = spark.sql(
        """SELECT COUNT(*) FROM
             (SELECT * FROM v2agg_src UNION ALL SELECT * FROM v2agg_src)
           WHERE o_orderkey % 2 <> 0""").head()
      assert(q2.head() == want2)
      assert(q2.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2agg")
  }

  test("catalog FILTERED aggregate folds as a LocalScan when the trichotomy proves it") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("v2fagg_src")
    // two SEGMENT-ALIGNED loads: key ranges are disjoint, so a range
    // predicate on the key proves one segment all-out, the other all-in
    spark.sql("CREATE TABLE graft.default.v2fagg USING graft " +
      "AS SELECT * FROM v2fagg_src WHERE o_orderkey <= 300")
    spark.sql("INSERT INTO graft.default.v2fagg " +
      "SELECT * FROM v2fagg_src WHERE o_orderkey > 300")
    try {
      // aligned predicate: the fold serves the filtered aggregate
      val q = spark.sql(
        """SELECT COUNT(*) AS n, COUNT(o_orderpriority) AS nc,
                  MIN(o_totalprice) AS mn, MAX(o_orderdate) AS mx
           FROM graft.default.v2fagg WHERE o_orderkey > 300""")
      val exec = q.queryExecution.executedPlan.toString
      assert(exec.contains("LocalTableScan") || exec.contains("GraftStatsFold"),
        exec)
      assert(!exec.contains("BatchScan"), exec)
      val want = spark.sql(
        """SELECT COUNT(*), COUNT(o_orderpriority), MIN(o_totalprice),
                  MAX(o_orderdate)
           FROM v2fagg_src WHERE o_orderkey > 300""").head()
      assert(q.head() == want)

      // STRADDLING predicate: the proven segment (keys > 300) folds
      // from metadata and the plan scans ONLY the straddler's dir
      // (segment_0, keys ≤ 300) — the catalog-path HYBRID: a
      // LocalTableScan of the folded partials unioned with a parquet
      // scan of the one unproven segment, and the answer stays exact
      val qs = spark.sql(
        "SELECT COUNT(*) AS n FROM graft.default.v2fagg WHERE o_orderkey > 200")
      val execS = qs.queryExecution.executedPlan.toString
      assert(execS.contains("LocalTableScan"), execS)
      assert(execS.contains("segment_0"), execS)
      assert(!execS.contains("segment_1"), execS)
      val wantS = spark.sql(
        "SELECT COUNT(*) FROM v2fagg_src WHERE o_orderkey > 200").head()
      assert(qs.head() == wantS)

      // exactness also elides the Filter on a PLAIN aligned SELECT —
      // the pruned scan IS the filtered scan, rows must match exactly
      val qp = spark.sql(
        """SELECT o_orderkey, o_totalprice FROM graft.default.v2fagg
           WHERE o_orderkey > 300 ORDER BY o_orderkey""")
      val wantP = spark.sql(
        """SELECT o_orderkey, o_totalprice FROM v2fagg_src
           WHERE o_orderkey > 300 ORDER BY o_orderkey""").collect()
      assert(qp.collect().toSeq == wantP.toSeq)

      // an aligned predicate proving EVERYTHING out serves zero rows /
      // zero counts without scanning a file
      val qz = spark.sql(
        "SELECT COUNT(*) AS n FROM graft.default.v2fagg WHERE o_orderkey < 0")
      assert(qz.head().getLong(0) == 0L)
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2fagg")
  }

  test("catalog GROUPED aggregate folds per segment-constant group as a LocalScan") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("v2gagg_src")
    // one load per status: the group key is constant per segment
    spark.sql("CREATE TABLE graft.default.v2gagg USING graft " +
      "AS SELECT * FROM v2gagg_src WHERE o_orderstatus = 'O'")
    Seq("F", "P").foreach(st =>
      spark.sql("INSERT INTO graft.default.v2gagg " +
        s"SELECT * FROM v2gagg_src WHERE o_orderstatus = '$st'"))
    try {
      val q = spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_totalprice) AS mn,
                  MAX(o_orderdate) AS mx
           FROM graft.default.v2gagg GROUP BY o_orderstatus""")
      val exec = q.queryExecution.executedPlan.toString
      assert(exec.contains("LocalTableScan") || exec.contains("GraftStatsFold"),
        exec)
      assert(!exec.contains("BatchScan"), exec)
      val want = spark.sql(
        """SELECT o_orderstatus, COUNT(*), MIN(o_totalprice), MAX(o_orderdate)
           FROM v2gagg_src GROUP BY o_orderstatus""").collect().toSet
      assert(q.collect().toSet == want)

      // an ALIGNED filter composes: fold over the surviving segments
      val qf = spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n FROM graft.default.v2gagg
           WHERE o_orderstatus >= 'O' GROUP BY o_orderstatus""")
      assert(!qf.queryExecution.executedPlan.toString.contains("BatchScan"),
        qf.queryExecution.executedPlan.toString)
      val wantF = spark.sql(
        """SELECT o_orderstatus, COUNT(*) FROM v2gagg_src
           WHERE o_orderstatus >= 'O' GROUP BY o_orderstatus""").collect().toSet
      assert(qf.collect().toSet == wantF)

      // grouping on a NON-constant column bails to the real scan
      val qb = spark.sql(
        """SELECT o_orderpriority, COUNT(*) AS n FROM graft.default.v2gagg
           GROUP BY o_orderpriority""")
      assert(qb.queryExecution.executedPlan.toString.contains("BatchScan"),
        qb.queryExecution.executedPlan.toString)
      val wantB = spark.sql(
        """SELECT o_orderpriority, COUNT(*) FROM v2gagg_src
           GROUP BY o_orderpriority""").collect().toSet
      assert(qb.collect().toSet == wantB)
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2gagg")
  }

  test("catalog HYBRID fold: straddling aggregate folds proven segments, scans only the straddler") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/lineitem.parquet")
      .createOrReplaceTempView("v2hyb_src")
    // three ship-year loads: ≤1994 (all-out under the predicate),
    // 1995 (all-in, folds), ≥1996 (straddled by the 1996-07-01 cut)
    spark.sql("CREATE TABLE graft.default.v2hyb USING graft " +
      "AS SELECT * FROM v2hyb_src WHERE year(l_shipdate) <= 1994")
    spark.sql("INSERT INTO graft.default.v2hyb " +
      "SELECT * FROM v2hyb_src WHERE year(l_shipdate) = 1995")
    spark.sql("INSERT INTO graft.default.v2hyb " +
      "SELECT * FROM v2hyb_src WHERE year(l_shipdate) > 1995")
    try {
      val q = spark.sql(
        """SELECT COUNT(*) AS cnt, COUNT(l_quantity) AS cnt_qty,
                  MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx,
                  SUM(l_orderkey) AS sk
           FROM graft.default.v2hyb
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1996-07-01'""")
      val exec = q.queryExecution.executedPlan.toString
      // the hybrid: folded partials as a LocalTableScan, a file scan
      // touching EXACTLY the straddler's dir (segment_2), no other
      assert(exec.contains("LocalTableScan"), exec)
      assert(exec.contains("segment_2"), exec)
      assert(!exec.contains("segment_0") && !exec.contains("segment_1"), exec)
      val want = spark.sql(
        """SELECT COUNT(*), COUNT(l_quantity), MIN(l_shipdate),
                  MAX(l_shipdate), SUM(l_orderkey)
           FROM v2hyb_src
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1996-07-01'""").head()
      assert(q.head() == want)

      // ALL-PROVEN predicate: still the builder's LocalScan fold —
      // no file scan at all (the rule defers full folds to it)
      val qp = spark.sql(
        """SELECT COUNT(*) AS cnt FROM graft.default.v2hyb
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1996-01-01'""")
      val execP = qp.queryExecution.executedPlan.toString
      assert(execP.contains("LocalTableScan") && !execP.contains("Scan parquet"),
        execP)
      assert(qp.head().getLong(0) == spark.sql(
        """SELECT COUNT(*) FROM v2hyb_src
           WHERE year(l_shipdate) = 1995""").head().getLong(0))

      // NOTHING-PROVEN predicate (straddles every live segment via a
      // non-boundary column): plain scan, exact answer
      val qn = spark.sql(
        "SELECT COUNT(*) AS cnt FROM graft.default.v2hyb WHERE l_quantity > 25")
      assert(!qn.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        qn.queryExecution.executedPlan.toString)
      assert(qn.head().getLong(0) == spark.sql(
        "SELECT COUNT(*) FROM v2hyb_src WHERE l_quantity > 25").head().getLong(0))
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2hyb")
  }

  test("catalog GROUPED-HYBRID fold: key-aligned segments fold, the mixed one scans") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("v2ghyb_src")
    // two status-constant loads (fold) plus one MIXED remainder (scans)
    spark.sql("CREATE TABLE graft.default.v2ghyb USING graft " +
      "AS SELECT * FROM v2ghyb_src WHERE o_orderstatus = 'O' AND o_orderkey % 3 <> 0")
    spark.sql("INSERT INTO graft.default.v2ghyb " +
      "SELECT * FROM v2ghyb_src WHERE o_orderstatus = 'F' AND o_orderkey % 3 <> 0")
    spark.sql("INSERT INTO graft.default.v2ghyb " +
      "SELECT * FROM v2ghyb_src WHERE o_orderstatus = 'P' OR o_orderkey % 3 = 0")
    try {
      val q = spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS cnt, MIN(o_orderdate) AS mn,
                  MAX(o_totalprice) AS mx, SUM(o_orderkey) AS sk
           FROM graft.default.v2ghyb GROUP BY o_orderstatus""")
      val exec = q.queryExecution.executedPlan.toString
      assert(exec.contains("LocalTableScan"), exec)
      assert(exec.contains("segment_2"), exec)
      assert(!exec.contains("segment_0") && !exec.contains("segment_1"), exec)
      val want = spark.sql(
        """SELECT o_orderstatus, COUNT(*), MIN(o_orderdate),
                  MAX(o_totalprice), SUM(o_orderkey)
           FROM v2ghyb_src GROUP BY o_orderstatus""").collect().toSet
      assert(q.collect().toSet == want)
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2ghyb")
  }

  test("catalog decimal SUM/AVG and cast-wrapped aggregates fold with no scan") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/lineitem.parquet")
      .createOrReplaceTempView("v2dec_src")
    spark.sql("CREATE TABLE graft.default.v2dec USING graft " +
      "AS SELECT l_orderkey, CAST(l_extendedprice AS DECIMAL(12,2)) AS p " +
      "FROM v2dec_src WHERE l_orderkey % 2 = 0")
    spark.sql("INSERT INTO graft.default.v2dec " +
      "SELECT l_orderkey, CAST(l_extendedprice AS DECIMAL(12,2)) " +
      "FROM v2dec_src WHERE l_orderkey % 2 <> 0")
    try {
      // the BI-idiomatic shape: CAST(SUM/AVG(money) AS DOUBLE) —
      // beyond the builder's pushed-aggregate contract, served by the
      // rule's pre-pushdown interception as a LocalRelation
      val q = spark.sql(
        """SELECT CAST(SUM(p) AS DOUBLE) AS sp, CAST(AVG(p) AS DOUBLE) AS ap,
                  SUM(p) AS sp_dec, AVG(p) AS ap_dec,
                  CAST(AVG(l_orderkey) AS DOUBLE) AS ak
           FROM graft.default.v2dec""")
      val exec = q.queryExecution.executedPlan.toString
      assert(exec.contains("LocalTableScan"), exec)
      assert(!exec.contains("BatchScan") && !exec.contains("Scan parquet"),
        exec)
      val want = spark.sql(
        """SELECT CAST(SUM(p) AS DOUBLE), CAST(AVG(p) AS DOUBLE),
                  SUM(p), AVG(p), CAST(AVG(l_orderkey) AS DOUBLE)
           FROM (SELECT l_orderkey,
                        CAST(l_extendedprice AS DECIMAL(12,2)) AS p
                 FROM v2dec_src)""").head()
      assert(q.head() == want)
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2dec")
  }

  test("runtime join-driven segment pruning: a broadcast star join scans only key-bearing segments") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("rtp_src")
    // key-clustered fact: three loads with disjoint o_orderkey ranges,
    // so segment min/max can rule segments out once the dim side's
    // surviving keys are known
    spark.sql("CREATE TABLE graft.default.rtp USING graft " +
      "AS SELECT * FROM rtp_src WHERE o_orderkey <= 500")
    spark.sql("INSERT INTO graft.default.rtp " +
      "SELECT * FROM rtp_src WHERE o_orderkey > 500 AND o_orderkey <= 1000")
    spark.sql("INSERT INTO graft.default.rtp " +
      "SELECT * FROM rtp_src WHERE o_orderkey > 1000")
    spark.range(1, 200)
      .selectExpr("id AS k", "id % 5 AS grp")
      .createOrReplaceTempView("rtp_dim")
    try {
      org.apache.spark.sql.graftbridge.GraftV2ScanSupport
        .lastRuntimePruned.remove("graft.rtp")
      val q = spark.sql(
        """SELECT COUNT(*) AS n, SUM(f.o_totalprice) AS tp
           FROM graft.default.rtp f JOIN rtp_dim d ON f.o_orderkey = d.k
           WHERE d.grp = 1""")
      val got = q.collect()(0)
      val want = spark.sql(
        """SELECT COUNT(*), SUM(o_totalprice) FROM rtp_src
           WHERE o_orderkey IN (SELECT k FROM rtp_dim WHERE grp = 1)""")
        .collect()(0)
      assert(got == want)
      // the file-count pin: all surviving dim keys are < 200, i.e.
      // inside segment_0's key range — dynamic pruning must hand them
      // to the scan and partition planning must drop the other two
      // segments' files before any task launches
      val pruned = org.apache.spark.sql.graftbridge.GraftV2ScanSupport
        .lastRuntimePruned.get("graft.rtp")
      assert(pruned != null, "runtime filter never reached the scan")
      assert(pruned._1 == 3 && pruned._2 == 1, pruned)
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.rtp")
  }

  test("time-travel catalog aggregates fold from the snapshot's segment stats") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("v2tt_src")
    spark.sql("CREATE TABLE graft.default.v2tt USING graft " +
      "AS SELECT * FROM v2tt_src WHERE o_orderkey <= 300")
    val store = spark.conf.get("spark.graft.store")
    val v1 = graft.table.SegmentedTable.open(spark, s"$store/v2tt").versions.max
    spark.sql("INSERT INTO graft.default.v2tt " +
      "SELECT * FROM v2tt_src WHERE o_orderkey > 300")
    try {
      val wantV1 = spark.sql(
        "SELECT COUNT(*) FROM v2tt_src WHERE o_orderkey <= 300").head().getLong(0)
      // snapshot aggregate folds: LocalTableScan, exact frozen answer
      val q = spark.sql(
        s"SELECT COUNT(*) AS n, MAX(o_totalprice) AS mx " +
          s"FROM graft.default.v2tt VERSION AS OF $v1")
      val exec = q.queryExecution.executedPlan.toString
      assert(exec.contains("LocalTableScan") && !exec.contains("BatchScan"), exec)
      assert(q.head().getLong(0) == wantV1)
      assert(q.head().getDouble(1) == spark.sql(
        "SELECT MAX(o_totalprice) FROM v2tt_src WHERE o_orderkey <= 300")
        .head().getDouble(0))
      // the CURRENT version folds to the full count, unaffected
      val qc = spark.sql("SELECT COUNT(*) AS n FROM graft.default.v2tt")
      assert(qc.head().getLong(0) ==
        spark.sql("SELECT COUNT(*) FROM v2tt_src").head().getLong(0))
      // aligned filter composes on the snapshot too
      val qf = spark.sql(
        s"""SELECT COUNT(*) AS n FROM graft.default.v2tt VERSION AS OF $v1
            WHERE o_orderkey <= 300""")
      assert(!qf.queryExecution.executedPlan.toString.contains("BatchScan"))
      assert(qf.head().getLong(0) == wantV1)
      // a COW DELETE later: the pre-delete snapshot still folds to the
      // old answer while its (retired but uncleaned) dirs exist
      spark.sql("DELETE FROM graft.default.v2tt WHERE o_orderkey <= 150")
      val v2 = graft.table.SegmentedTable.open(spark, s"$store/v2tt")
        .versions.sorted.takeRight(2).head
      val qd = spark.sql(
        s"SELECT COUNT(*) AS n FROM graft.default.v2tt VERSION AS OF $v1")
      assert(qd.head().getLong(0) == wantV1, s"v1=$v1 v2=$v2")
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2tt")
  }

  test("catalog relation reports EXACT rowCount/bytes from segment stats to the planner") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("v2stats_src")
    spark.sql("CREATE TABLE graft.default.v2stats USING graft " +
      "AS SELECT * FROM v2stats_src")
    spark.sql("INSERT INTO graft.default.v2stats SELECT * FROM v2stats_src")
    try {
      // the relation LEAF's stats come from the relation-level probe
      // (an un-pushed scan build) — it must carry the catalog's exact
      // row count and byte total, not the file-size-only heuristic
      // (wrapper nodes like SubqueryAlias keep only sizeInBytes under
      // the default size-only stats visitor, so assert on the leaf)
      def leafStats() = spark.table("graft.default.v2stats")
        .queryExecution.analyzed.collectLeaves().head.stats
      val stats = leafStats()
      assert(stats.rowCount.contains(BigInt(50)), stats.toString)
      assert(stats.sizeInBytes > 0, stats.toString)
      // exact numbers track DML: a delete refreshes the reported count
      spark.sql("DELETE FROM graft.default.v2stats WHERE n_nationkey < 5")
      val stats2 = leafStats()
      assert(stats2.rowCount.contains(BigInt(40)), stats2.toString)
      // and a small graft table on the build side of a catalog join
      // broadcasts (the planner sees its true size)
      val joined = spark.sql(
        """SELECT o.o_orderkey, n.n_name
           FROM parquet.`/root/testdata/sf0.001/orders.parquet` o
           JOIN graft.default.v2stats n ON o.o_custkey % 25 = n.n_nationkey""")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally spark.sql("DROP TABLE IF EXISTS graft.default.v2stats")
  }

  test("SHOW GRAFT STATS folds column min/max/null counts from the catalog") {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/nation.parquet")
      .createOrReplaceTempView("stats_src")
    spark.sql("CREATE GRAFT TABLE stats_t AS SELECT * FROM stats_src")
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/nation.parquet' INTO TABLE stats_t")
    try {
      val rows = spark.sql("SHOW GRAFT STATS FOR stats_t").collect()
        .map(r => r.getString(0) -> r).toMap
      val k = rows("n_nationkey")
      assert(k.getString(1) == "0" && k.getString(2) == "24")
      assert(k.getLong(3) == 0L && k.getLong(4) == 50L)
      val n = rows("n_name")
      val want = spark.sql(
        "SELECT MIN(n_name), MAX(n_name) FROM stats_src").head()
      assert(n.getString(1) == want.getString(0) &&
        n.getString(2) == want.getString(1))
      // the exact integral sum surfaces too (2 loads x Σ0..24 = 600)
      assert(k.getString(5) == "600", k.toString)
      assert(n.getString(5) == null) // strings carry no sum
    } finally spark.sql("DROP GRAFT TABLE stats_t")
  }
}
