package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row-level DELETE/UPDATE semantics: copy-on-write rewrites touch
  * only segments that can contain matches; SQL three-valued logic
  * (NULL predicate keeps the row on DELETE, skips it on UPDATE).
  */
class RowDmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(name: String): String =
    Files.createTempDirectory(s"graft_$name").resolve("t").toString

  private def fileSet(root: String, segId: Int): Set[String] = {
    val dir = Paths.get(root).resolve(s"segment_$segId")
    import scala.jdk.CollectionConverters._
    val listing = Files.list(dir)
    try listing.iterator().asScala.map(_.getFileName.toString).toSet
    finally listing.close()
  }

  test("delete rewrites only segments that may contain matches") {
    val root = freshRoot("dml_prune")
    val lo = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v")
    val hi = Seq((10L, "c"), (11L, "d")).toDF("k", "v")
    val t = SegmentedTable.create(spark, root, lo.schema,
      Map("sort_columns" -> "k"))
    t.load(lo); t.load(hi)
    val hiFiles = fileSet(root, 1)

    val n = t.delete(col("k") <= 2L && col("v") === "a")
    assert(n == 1)
    assert(t.read().count() == 4)
    assert(t.read().filter(col("k") === 1L).count() == 0)
    // the hi segment's stats (k in [10,11]) prove no match: its files
    // must be byte-identical — no rewrite happened
    val segs = t.showSegments()
    assert(segs.exists(s => s.id == 1 && s.status == "SUCCESS"))
    assert(fileSet(root, 1) == hiFiles)
    // the lo segment was retired and replaced
    assert(segs.exists(s => s.id == 0 && s.status == "DELETED"))
    assert(segs.exists(s => s.id == 2 && s.status == "SUCCESS" && s.rowCount == 2))
  }

  test("delete keeps rows where the predicate is NULL") {
    val root = freshRoot("dml_null")
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("k", "v")
    val t = SegmentedTable.create(spark, root, df.schema, Map.empty)
    t.load(df)
    assert(t.delete(col("v") === "x") == 1)
    // row 2's predicate is NULL — SQL DELETE must not remove it
    assert(t.read().orderBy("k").select("k").as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("delete that empties a segment retires it without a replacement") {
    val root = freshRoot("dml_empty")
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((2L, "y")).toDF("k", "v")
    val t = SegmentedTable.create(spark, root, a.schema, Map.empty)
    t.load(a); t.load(b)
    assert(t.delete(col("k") === 1L) == 1)
    val segs = t.showSegments()
    assert(segs.map(s => s.id -> s.status).toSet ==
      Set(0 -> "DELETED", 1 -> "SUCCESS"))
    assert(t.read().count() == 1)
    t.cleanFiles()
    assert(!Files.exists(Paths.get(root).resolve("segment_0")))
  }

  test("delete with no real matches leaves every segment untouched") {
    val root = freshRoot("dml_fp")
    // both rows share k=5, so min==max==5: a predicate on k=5 AND an
    // unsatisfied v survives pruning but finds no matching rows
    val df = Seq((5L, "a"), (5L, "b")).toDF("k", "v")
    val t = SegmentedTable.create(spark, root, df.schema, Map.empty)
    t.load(df)
    val before = fileSet(root, 0)
    assert(t.delete(col("k") === 5L && col("v") === "zzz") == 0)
    assert(fileSet(root, 0) == before)
    assert(t.showSegments().map(_.status) == Seq("SUCCESS"))
  }

  test("update applies assignments to matching rows only, with casts") {
    val root = freshRoot("dml_upd")
    val df = Seq((1L, 10.0, "keep"), (2L, 20.0, "bump"), (3L, 30.0, "bump"))
      .toDF("k", "price", "tag")
    val t = SegmentedTable.create(spark, root, df.schema,
      Map("sort_columns" -> "k"))
    t.load(df)
    // integer literal must be cast to the column's double type
    val n = t.update(col("tag") === "bump",
      Map("price" -> (col("price") + lit(5)), "tag" -> lit("bumped")))
    assert(n == 2)
    val rows = t.read().orderBy("k")
      .select("price", "tag").collect().map(r => (r.getDouble(0), r.getString(1)))
    assert(rows.toSeq == Seq((10.0, "keep"), (25.0, "bumped"), (35.0, "bumped")))
    // stats in the replacement segment reflect the new values
    val live = t.showSegments().filter(_.status == "SUCCESS")
    assert(live.size == 1 && live.head.stats("price").max == "35.0")
  }

  test("update rejects unknown columns") {
    val root = freshRoot("dml_badcol")
    val df = Seq((1L, "x")).toDF("k", "v")
    val t = SegmentedTable.create(spark, root, df.schema, Map.empty)
    t.load(df)
    val e = intercept[IllegalArgumentException] {
      t.update(col("k") === 1L, Map("nope" -> lit("y")))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("merge upserts matched keys, appends new ones, in one commit") {
    val root = freshRoot("merge")
    val lo = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "p")
    val hi = Seq((10L, "c", 30.0)).toDF("k", "v", "p")
    val t = SegmentedTable.create(spark, root, lo.schema,
      Map("sort_columns" -> "k"))
    t.load(lo); t.load(hi)
    val hiFiles = fileSet(root, 1)
    val vBefore = t.currentVersion

    val incoming = Seq((2L, "b2", 99.0), (5L, "new", 1.0)).toDF("k", "v", "p")
    val replaced = t.merge(incoming, Seq("k"))
    assert(replaced == 1)

    val rows = t.read().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(
      (1L, "a", 10.0), (2L, "b2", 99.0), (5L, "new", 1.0), (10L, "c", 30.0)))
    // the hi segment is outside the incoming key envelope: untouched
    assert(fileSet(root, 1) == hiFiles)
    // one commit: exactly one version bump for the whole merge
    assert(t.currentVersion == vBefore + 1)
    // pre-merge snapshot still shows the old row
    assert(t.readAsOf(vBefore).filter(col("k") === 2L)
      .select("v").head().getString(0) == "b")
  }

  test("merge never forces a broadcast: over-threshold batches shuffle-join") {
    val root = freshRoot("merge_big")
    val existing = (1L to 2000L).map(k => (k, s"old$k")).toDF("k", "v")
    val t = SegmentedTable.create(spark, root, existing.schema,
      Map("sort_columns" -> "k"))
    t.load(existing)
    val incoming = (1000L to 3000L).map(k => (k, s"new$k")).toDF("k", "v")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.listenerManager.register(listener)
    try {
      // stand-in for "batch larger than the threshold": disable
      // broadcasting outright. An explicit broadcast() hint IGNORES
      // this setting (hints are honored regardless of size) — only a
      // hint-free plan can degrade to the shuffle join asserted below.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(t.merge(incoming, Seq("k")) == 1001)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      org.apache.spark.sql.graftbridge.ColumnExpr.waitForListeners(spark)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val joinPlans = plans.asScala.filter(_.contains("Join")).toSeq
    assert(joinPlans.nonEmpty, "merge must run its keyed semi/anti joins")
    assert(!joinPlans.exists(p => p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin")),
      "merge forced a broadcast with broadcasting disabled")
    assert(t.read().count() == 3000)
    assert(t.read().filter(col("v").startsWith("new")).count() == 2001)
    assert(t.read().filter(col("k") === 500L).head().getString(1) == "old500")
  }

  test("SQL MERGE GRAFT TABLE FROM INPATH ... ON (key)") {
    val sf = graft.TestSpark.sf
    spark.read.parquet(s"$sf/region.parquet").createOrReplaceTempView("region_mrg_src")
    spark.sql("DROP GRAFT TABLE IF EXISTS region_mrg")
    spark.sql("CREATE GRAFT TABLE region_mrg AS SELECT * FROM region_mrg_src")
    val before = spark.sql("SELECT count(*) FROM region_mrg").head().getLong(0)
    // merging the table into itself replaces every row, inserts none
    val replaced = spark.sql(
      s"MERGE GRAFT TABLE region_mrg FROM INPATH '$sf/region.parquet' ON (r_regionkey)")
      .head().getLong(0)
    assert(replaced == before)
    assert(spark.sql("SELECT count(*) FROM region_mrg").head().getLong(0) == before)
    spark.sql("DROP GRAFT TABLE region_mrg")
  }

  test("time travel: every commit is a readable snapshot until cleanFiles") {
    val root = freshRoot("travel")
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((3L, "z")).toDF("k", "v")
    val t = SegmentedTable.create(spark, root, a.schema, Map.empty)
    val v0 = t.currentVersion // empty table after create
    t.load(a)
    val v1 = t.currentVersion
    t.load(b)
    val v2 = t.currentVersion
    t.delete(col("k") === 2L)
    val v3 = t.currentVersion
    assert(v0 < v1 && v1 < v2 && v2 < v3)

    assert(t.readAsOf(v0).count() == 0)
    assert(t.readAsOf(v1).count() == 2)
    assert(t.readAsOf(v2).count() == 3)
    assert(t.readAsOf(v3).count() == 2)
    assert(t.read().count() == 2)
    // the deleted row is visible in the old snapshot, gone in the new
    assert(t.readAsOf(v2).filter(col("k") === 2L).count() == 1)
    assert(t.readAsOf(v3).filter(col("k") === 2L).count() == 0)

    // physical retention bounds time travel: after cleanFiles the
    // pre-delete snapshot's segment is gone and the read fails loudly
    t.cleanFiles()
    assert(t.readAsOf(t.currentVersion).count() == 2)
    val e = intercept[IllegalArgumentException] { t.readAsOf(v2).count() }
    assert(e.getMessage.contains("removed by cleanFiles"))

    // history enumerates all logged versions
    assert(t.versions.containsSlice(Seq(v0, v1, v2, v3)))
  }

  test("SHOW GRAFT HISTORY lists commit versions via SQL") {
    val sf = graft.TestSpark.sf
    spark.read.parquet(s"$sf/region.parquet").createOrReplaceTempView("region_hist_src")
    spark.sql("DROP GRAFT TABLE IF EXISTS region_hist")
    spark.sql("CREATE GRAFT TABLE region_hist AS SELECT * FROM region_hist_src")
    spark.sql(s"LOAD GRAFT DATA INPATH '$sf/region.parquet' INTO TABLE region_hist")
    val hist = spark.sql("SHOW GRAFT HISTORY FOR region_hist").collect()
    assert(hist.length >= 3) // create (empty) + 2 loads
    val rows = hist.map(_.getLong(2))
    assert(rows.last == 2 * rows.filter(_ > 0).min)
    spark.sql("DROP GRAFT TABLE region_hist")
  }

  test("SQL DELETE FROM / UPDATE ... SET round-trip") {
    val sf = graft.TestSpark.sf
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_dml_src")
    spark.sql("DROP GRAFT TABLE IF EXISTS nations_dml")
    spark.sql("CREATE GRAFT TABLE nations_dml AS SELECT * FROM nation_dml_src")

    val del = spark.sql(
      "DELETE FROM GRAFT TABLE nations_dml WHERE n_regionkey = 0").head().getLong(0)
    assert(del > 0)
    assert(spark.sql(
      "SELECT count(*) FROM nations_dml WHERE n_regionkey = 0").head().getLong(0) == 0)

    val upd = spark.sql(
      "UPDATE GRAFT TABLE nations_dml SET n_name = concat('x-', n_name), " +
        "n_regionkey = n_regionkey + 10 WHERE n_regionkey = 1").head().getLong(0)
    assert(upd > 0)
    assert(spark.sql(
      "SELECT count(*) FROM nations_dml WHERE n_regionkey = 11 AND n_name LIKE 'x-%'")
      .head().getLong(0) == upd)
    assert(spark.sql(
      "SELECT count(*) FROM nations_dml WHERE n_regionkey = 1").head().getLong(0) == 0)

    // literals containing commas and the word 'where' must not confuse
    // the quote-aware SET/WHERE split
    val tricky = spark.sql(
      "UPDATE GRAFT TABLE nations_dml SET n_name = 'where, it began' " +
        "WHERE n_regionkey = 2").head().getLong(0)
    assert(tricky > 0)
    assert(spark.sql(
      "SELECT count(*) FROM nations_dml WHERE n_name = 'where, it began'")
      .head().getLong(0) == tricky)

    spark.sql("DROP GRAFT TABLE nations_dml")
  }

  test("broad DML over many segments stages concurrently and stays exact") {
    // 8 disjoint-range segments; every statement touches all of them,
    // so the bounded staging pool (spark.graft.dmlStagingParallelism)
    // runs >1 rewrite job at once — results must be identical to the
    // sequential semantics, and the commit must stay all-or-nothing
    val root = freshRoot("dml_par")
    val df0 = (0L until 800L).map(i => (i, i % 7, s"v$i")).toDF("k", "m", "v")
    val t = SegmentedTable.create(spark, root, df0.schema,
      Map("sort_columns" -> "k"))
    (0 until 8).foreach(s =>
      t.load(df0.filter(col("k") >= s * 100L && col("k") < (s + 1) * 100L)))
    assert(t.status.segments.count(_.status == SegmentedTable.SUCCESS) == 8)

    // DELETE hits every segment (m is uniform across ranges)
    val del = t.delete(col("m") === 3L)
    assert(del == (0L until 800L).count(_ % 7 == 3))
    assert(t.read().count() == 800L - del)
    assert(t.read().filter(col("m") === 3L).count() == 0)

    // UPDATE hits every segment
    val upd = t.update(col("m") === 1L, Map("v" -> lit("upd")))
    assert(upd == (0L until 800L).count(_ % 7 == 1))
    assert(t.read().filter(col("v") === "upd").count() == upd)

    // full MERGE with a BY SOURCE clause: every live segment is a
    // candidate and every one holds both matched and unmatched rows
    val src = (0L until 800L by 2L).map(i => (i, s"s$i")).toDF("sk", "sv")
    val (u2, d2, i2) = t.mergeFull(src, "s", "t", expr("t.k = s.sk"),
      matched = Seq(SegmentedTable.MergeUpdate(None, Seq("v" -> expr("s.sv")))),
      notMatched = Nil,
      equiKeys = Seq("k" -> "sk"),
      bySource = Seq(SegmentedTable.MergeDelete(None)))
    assert(i2 == 0L)
    val after = t.read().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // by-source deleted every odd survivor; matched evens re-valued
    assert(after.keySet.forall(_ % 2 == 0))
    assert(u2 == after.size)
    assert(after.forall { case (k, v) => v == s"s$k" })
    // everything alive before the merge either matched (updated) or
    // fell to the by-source delete
    assert(d2 == (800L - del) - u2)
  }
}
