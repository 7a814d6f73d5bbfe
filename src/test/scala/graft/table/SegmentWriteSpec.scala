package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}

/** The segment write path: a staged segment's catalog stats and bloom
  * filters are observed on the Parquet write itself instead of by
  * passes over the staged files.
  */
class SegmentWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshRoot(name: String): String =
    Files.createTempDirectory(s"graft_$name").resolve("t").toString

  /** sf0.01 lineitem widened with nulls, an all-null column, a wide
    * decimal, dates, timestamps and strings.
    */
  private lazy val rows: DataFrame =
    spark.read.parquet(
      s"${new java.io.File(TestSpark.sf).getParent}/sf0.01/lineitem.parquet").select(
      col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
      col("l_quantity"), col("l_returnflag"), col("l_shipdate"),
      to_date(col("l_shipdate")).as("ship_day"),
      timestamp_seconds(col("l_orderkey") * 3600).as("ts"),
      when(col("l_orderkey") % 5 === 0, lit(null)).otherwise(col("l_suppkey"))
        .as("maybe_null"),
      lit(null).cast("int").as("all_null"),
      (col("l_extendedprice") * 1e15).cast("decimal(28,2)").as("wide"),
      col("l_quantity").cast("decimal(12,2)").as("qty"))

  private val blooms = "l_orderkey,maybe_null,l_returnflag"

  /** The jobs that staged segments, by the SQL query they ran for: a
    * segment's write, and any pass over its staged files.
    */
  private def staging(jobs: Seq[SparkJobs.Job]): Map[String, Seq[SparkJobs.Job]] =
    jobs.filter(_.callSite.contains("stageSegment")).groupBy(_.query.getOrElse(""))

  /** The staging queries that are bloom passes over staged files. */
  private def bloomPasses(q: Map[String, Seq[SparkJobs.Job]]): Int =
    q.values.count(_.head.callSite.contains("computeBlooms"))

  private def show(q: Map[String, Seq[SparkJobs.Job]]): Iterable[String] =
    q.values.map(js => s"${js.size} job(s) at " +
      js.head.callSite.split("\n").take(3).mkString(" <- "))

  private def newIds(t: SegmentedTable, before: Int): Seq[Int] =
    t.status.segments.filter(s => s.id >= before && s.status == SegmentedTable.SUCCESS)
      .map(_.id)

  test("one job per staged segment: stats and blooms ride on the write") {
    val li = rows.cache()
    try {
      li.count()
      // a load into a table without bloom columns: the write is the only job
      val plain = SegmentedTable.create(spark, freshRoot("jobs_plain"), li.schema,
        Map("sort_columns" -> "ship_day"))
      val load = li.filter(col("l_orderkey") % 2 === 0)
      assert(SparkJobs.count(spark)(plain.load(load)) == 1)

      val t = SegmentedTable.create(spark, freshRoot("jobs_bloom"), li.schema,
        Map("sort_columns" -> "ship_day", "bloom_columns" -> blooms))
      t.load(li.filter(col("l_orderkey") % 2 === 0))
      // INSERT into a bloom-indexed table: the write collects the raw
      // hashes the filters are built from; no stats or bloom pass
      var next = t.status.nextId
      val ins = staging(SparkJobs.during(spark)(
        t.load(li.filter(col("l_orderkey") % 2 === 1))))
      assert(newIds(t, next).size == 1)
      assert(ins.size == 1 && ins.values.forall(_.size == 1), show(ins))

      // DELETE rewriting both segments: one job each
      next = t.status.nextId
      val del = staging(SparkJobs.during(spark)(t.delete(col("l_linenumber") === 1)))
      assert(newIds(t, next).size == 2)
      assert(del.size == 2 && del.values.forall(_.size == 1), show(del))

      // UPDATE rewriting one segment
      next = t.status.nextId
      val upd = staging(SparkJobs.during(spark)(
        t.update(col("l_orderkey") === 3 && col("l_linenumber") === 2,
          Map("l_quantity" -> lit(99.0)))))
      assert(newIds(t, next).size == 1)
      assert(upd.size == 1 && upd.values.forall(_.size == 1), show(upd))

      // MERGE: the rewrite and the inserted batch are one write each (the
      // rewrite's plan also builds the merge keys' broadcast)
      next = t.status.nextId
      val batch = t.read().filter(col("l_orderkey") === 3)
        .withColumn("l_quantity", lit(7.0))
      val mrg = staging(SparkJobs.during(spark)(
        t.merge(batch, Seq("l_orderkey", "l_linenumber"))))
      assert(newIds(t, next).size == 2)
      assert(mrg.size == 2 && bloomPasses(mrg) == 0, show(mrg))

      // COMPACT: the write is the only job
      val before = t.read().count()
      assert(SparkJobs.count(spark)(t.compact()) == 1)
      assert(t.read().count() == before)
    } finally li.unpersist()
  }

  test("a MERGE aggregates its source once, however many segments it rewrites") {
    import spark.implicits._
    val t = SegmentedTable.create(spark, freshRoot("merge_once"),
      new org.apache.spark.sql.types.StructType().add("k", "bigint").add("v", "string"),
      Map.empty[String, String])
    t.load((0L until 100L).map(k => (k, "old")).toDF("k", "v"))
    t.load((100L until 200L).map(k => (k, "old")).toDF("k", "v"))
    // a local source: each query that scans it builds its own
    // ParallelCollectionRDD, and no other input of the merge is one
    val src = Seq((5L, "new"), (150L, "new"), (500L, "new")).toDF("k", "v")
    val next = t.status.nextId
    val jobs = SparkJobs.during(spark)(assert(t.merge(src, Seq("k")) == 2L))
    assert(newIds(t, next).size == 3) // two rewrites and the inserted batch
    // the map sides of shuffles (stages another stage depends on) that
    // scan the source: one scan, the per-key counts every later query
    // reads back (a job lists an already-computed map stage again, as
    // skipped, so the scan's RDD id is what identifies a re-read)
    val stages = jobs.flatMap(_.start.stageInfos)
    val parents = stages.flatMap(_.parentIds).toSet
    val sourceScans = stages.filter(s => parents(s.stageId))
      .flatMap(_.rddInfos.filter(_.name == "ParallelCollectionRDD").map(_.id)).distinct
    assert(sourceScans.size == 1, stages.map(s =>
      s"stage ${s.stageId} <- ${s.parentIds}: " +
        s.rddInfos.map(r => s"${r.name.take(30)}#${r.id}").mkString(",")))
    assert(t.read().filter(col("v") === "new").count() == 3)
  }

  test("a write task beyond its share of the raw-hash budget leaves one bloom pass") {
    // two tasks, each entitled to half the budget: the first holds more
    // than half, though the write as a whole stays within the budget
    val big = SegmentBloom.RawHashBudget * 3L / 5
    val spans = spark.sparkContext.parallelize(Seq(0L -> big, big -> (big + 1)), 2)
    val ids = spark.createDataFrame(spans.flatMap { case (a, b) => a until b }
      .map(org.apache.spark.sql.Row(_)), new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType))
    assert(ids.rdd.getNumPartitions == 2)
    val t = SegmentedTable.create(spark, freshRoot("budget"), ids.schema,
      Map("bloom_columns" -> "id"))
    val q = staging(SparkJobs.during(spark)(t.load(ids)))
    assert(q.size == 2 && bloomPasses(q) == 1, show(q))
    assertAsTwoPass(t, newIds(t, 0))
  }

  /** The two-pass reference, recomputed from the staged files: the
    * catalog entry's stats and every bloom sidecar must equal what a
    * read-back pass builds, byte for byte.
    */
  private def assertAsTwoPass(t: SegmentedTable, ids: Seq[Int]): Unit = {
    val schema = t.schema
    ids.foreach { id =>
      val meta = t.status.segments.find(_.id == id).get
      val seg = spark.read.schema(schema).parquet(s"${t.root}/segment_$id")
      val eligible = schema.fields.filter(f => SegmentedTable.kindOf(f.dataType).isDefined)
      val summable = schema.fields
        .flatMap(f => SegmentedTable.sumStageType(f.dataType).map(f -> _))
      val aggs = eligible.flatMap(f =>
        Seq(min(col(f.name)).as(s"min_${f.name}"), max(col(f.name)).as(s"max_${f.name}"))) ++
        summable.map { case (f, dt) => sum(col(f.name).cast(dt)).as(s"sum_${f.name}") } ++
        schema.fields.map(f => count(col(f.name)).as(s"cnt_${f.name}")) :+
        count(lit(1)).as("__rows")
      val r = seg.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = r.getAs[Long]("__rows")
      val sums = summable.flatMap { case (f, _) =>
        Option(r.getAs[java.math.BigDecimal](s"sum_${f.name}")).map(v =>
          f.name -> (if (SegmentedTable.isIntegral(f.dataType)) v.toBigInteger.toString
                     else v.toPlainString))
      }.toMap
      val stats = eligible.flatMap { f =>
        val mn = r.getAs[Any](s"min_${f.name}")
        val mx = r.getAs[Any](s"max_${f.name}")
        if (mn == null || mx == null) None
        else Some(f.name -> ColStats(SegmentedTable.fmt(mn), SegmentedTable.fmt(mx),
          SegmentedTable.kindOf(f.dataType).get, sum = sums.get(f.name)))
      }.toMap
      val nulls = schema.fields.map(f => f.name -> (n - r.getAs[Long](s"cnt_${f.name}"))).toMap
      assert(meta.rowCount == n, s"segment $id")
      assert(meta.stats == stats, s"segment $id")
      assert(meta.nullCounts == nulls, s"segment $id")
      t.bloomColumns.foreach { c =>
        val side = Paths.get(s"${t.root}/_meta/bloom_${id}_$c.bin")
        if (n == 0) assert(!Files.exists(side), s"segment $id column $c")
        else {
          val ref = seg.select(xxhash64(col(c)).as("h"))
            .stat.bloomFilter("h", t.bloomExpectedItems(n), 0.03)
          val bos = new java.io.ByteArrayOutputStream()
          ref.writeTo(bos)
          assert(java.util.Arrays.equals(Files.readAllBytes(side), bos.toByteArray),
            s"segment $id column $c")
        }
      }
    }
  }

  test("catalog stats and bloom sidecars equal the two-pass path's, byte for byte") {
    val li = rows.cache()
    try {
      li.count()
      val t = SegmentedTable.create(spark, freshRoot("two_pass"), li.schema,
        Map("sort_columns" -> "ship_day", "bloom_columns" -> blooms))
      def step(f: => Unit): Seq[Int] = {
        val next = t.status.nextId
        f
        val ids = newIds(t, next)
        assertAsTwoPass(t, ids)
        ids
      }
      // loads: filters built from the raw hashes the write collected,
      // sized by the count it observed
      (0 until 3).foreach(k => step(t.load(li.filter(col("l_orderkey") % 3 === k))))
      // rewrites, merges and a compaction: the same, on every write path
      assert(step(t.delete(col("l_linenumber") === 1)).size == 3)
      assert(step(t.update(col("l_orderkey") < 3000 && col("l_linenumber") === 2,
        Map("wide" -> lit(null), "l_returnflag" -> lit("Z")))).nonEmpty)
      // the corpus repeats some keys; a batch repeating a key the table
      // holds is a cardinality violation, so the batch holds each once
      val batch = li.filter(col("l_orderkey") < 200 && col("l_linenumber") === 3)
        .dropDuplicates("l_orderkey", "l_linenumber")
        .withColumn("maybe_null", lit(null).cast("bigint"))
      assert(step(t.merge(batch, Seq("l_orderkey", "l_linenumber"))).nonEmpty)
      val src = li.filter(col("l_orderkey") >= 200 && col("l_orderkey") < 600)
        .dropDuplicates("l_orderkey", "l_linenumber")
      assert(step(t.mergeFull(src, "s", "t",
        expr("t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"),
        matched = Seq(SegmentedTable.MergeDelete(Some(expr("s.l_quantity > 25")))),
        notMatched = Seq(SegmentedTable.MergeInsert(None, Nil, Nil)),
        equiKeys = Seq("l_orderkey" -> "l_orderkey", "l_linenumber" -> "l_linenumber")))
        .nonEmpty)
      assert(step(t.compact()).size == 1)
      // an empty input: a zero-row segment, stats of nothing, no sidecar
      val empty = step(t.load(li.filter(lit(false))))
      assert(empty.size == 1)
      assert(t.status.segments.find(_.id == empty.head).get.rowCount == 0)
      // a non-deterministic DELETE: the count matched before the write is
      // not the one written, and the filters still fit the rows written
      step(t.load(li.filter(col("l_orderkey") % 2 === 0)))
      val live = t.status.segments.filter(s => s.status == SegmentedTable.SUCCESS && s.rowCount > 0)
      val deleted = t.delete(rand(42) < 0.5)
      val after = t.status.segments.filter(s => s.status == SegmentedTable.SUCCESS && s.rowCount > 0)
      val rewritten = after.filterNot(s => live.exists(_.id == s.id))
      assert(rewritten.size == 2)
      assert(after.map(_.rowCount).sum != live.map(_.rowCount).sum - deleted,
        "the matched and written counts agree; the predicate was not re-evaluated")
      assertAsTwoPass(t, rewritten.map(_.id))
    } finally li.unpersist()
  }

  test("metrics that never reach the driver leave a stats pass and a bloom pass") {
    // a session whose metrics listener is gone: no write's observation completes
    val s2 = spark.newSession()
    s2.range(1).observe(org.apache.spark.sql.Observation(), count(lit(1)).as("n")).collect()
    s2.listenerManager.clear()
    val ids = s2.range(0, 5000, 1, 2).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 3).as("v"))
    val t = SegmentedTable.create(s2, freshRoot("lost_metrics"), ids.schema,
      Map("bloom_columns" -> "v"))
    t.observedMetricsWait =
      scala.concurrent.duration.FiniteDuration(1, java.util.concurrent.TimeUnit.SECONDS)
    val q = staging(SparkJobs.during(spark)(t.load(ids)))
    assert(bloomPasses(q) == 1 && q.size == 3, show(q))
    assertAsTwoPass(t, newIds(t, 0))
    assert(t.status.segments.map(_.rowCount).sum == 5000)
  }
}
