package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.mv.AggTables
import graft.table.SegmentedTable

/** `churn`: incremental writes through the SQL catalog
  * (`graft.default.lineitem`) with reads after every commit and rollup
  * refresh. The twin keeps a plain Parquet directory: an append for
  * INSERT, a whole rewrite into a fresh directory for MERGE, DELETE and
  * compaction, and a plain re-aggregation for the rollup refresh.
  */
final class Churn(h: Harness, seed: Long) {
  import Churn._
  private val spark = h.spark
  private val twin = h.twin
  val root = s"${h.dir}/store/$Name"
  private val twinRollup = s"${h.dir}/twin/rollup"
  private var twinPath = ""
  private var twinVersion = 0
  private var batches = 0
  private var columns: Seq[String] = Nil
  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def table: SegmentedTable = SegmentedTable.open(spark, root)

  def setup(): Unit = {
    h.log("setup: generating the twin copy")
    twinPath = nextTwinPath()
    Fixture.lineitem(twin, seed, 0, BaseRows, 0, BaseDays).write.parquet(twinPath)
    val src = spark.read.parquet(twinPath)
    columns = src.columns.toSeq
    val t = SegmentedTable.create(spark, root, src.schema,
      Map("sort_columns" -> "l_shipdate", "bloom_columns" -> "l_orderkey"))
    h.log("setup: loading segments")
    Fixture.inParallel(0 until BaseSegments)(i =>
      t.load(src.filter(Fixture.dateBucket(i, BaseSegments, BaseDays))))
    h.log("setup: building the rollup")
    spark.sql(s"CREATE GRAFT AGGREGATE TABLE $Rollup ON PATH '$root' " +
      s"GROUP BY (${Serve.RollupDims.mkString(", ")}) AGG (sum(l_quantity))")
  }

  private def nextTwinPath(): String = {
    twinVersion += 1
    s"${h.dir}/twin/v$twinVersion"
  }

  /** Replace the twin's table by a rewritten copy. */
  private def twinRewrite(df: DataFrame): Unit = {
    val next = nextTwinPath()
    df.select(columns.map(col): _*).write.parquet(next)
    val old = twinPath
    twinPath = next
    fs.delete(new Path(old), true)
  }

  /** A batch of rows for the given id ranges, written as Parquet for
    * both sides.
    */
  private def batch(ids: Seq[(Long, Long)], days: (Int, Int), salt: Long): String = {
    batches += 1
    val p = s"${h.dir}/batches/b$batches"
    ids.map { case (from, until) =>
      Fixture.lineitem(twin, seed * 31 + salt, from, until, days._1, days._2, 1)
    }.reduce(_ unionByName _).write.parquet(p)
    p
  }

  private def view(path: String, name: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)

  private def files(): Set[String] = {
    val it = fs.listFiles(new Path(root), true)
    val b = Set.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) b += f.toString
    }
    b.result()
  }

  /** One write as a timed pair, then the catalog-count check. */
  private def write(cls: String, stmt: String)(plain: => Unit): Unit = {
    val before = if (h.trace && h.recording) files() else Set.empty[String]
    h.pair(cls) {
      val df = spark.sql(stmt)
      h.notePhases(df.queryExecution)
    }(plain).foreach { _ =>
      if (h.trace && h.recording && cls != "refresh")
        h.sample(s"table.files_written.$cls", files().diff(before).size)
      h.check(Checks.sameCount(s"$cls row count", table.countFromCatalog,
        twin.read.parquet(twinPath).count()))
    }
  }

  private def quantities(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The reads issued after every commit, through the SQL catalog: two
    * passes over the read classes. They read back what the round wrote:
    * point lookups of orders from the tail of the round's batch (never
    * merged or deleted), and 30-day windows ending in the batch's dates.
    */
  private def reads(rng: scala.util.Random, idBase: Long, days: (Int, Int)): Unit =
    (1 to ReadPasses).foreach(_ => readPass(rng, idBase, days))

  private def readPass(rng: scala.util.Random, idBase: Long, days: (Int, Int)): Unit = {
    val key = idBase / 4 + BatchRows * 3 / 16 + rng.nextInt((BatchRows / 16).toInt)
    val from = days._2 - 30 - rng.nextInt(7)
    def q(cls: String, sql: String => String)(check: (Seq[Row], Seq[Row]) => Option[String]): Unit =
      h.pair(cls) {
        val df = spark.sql(sql("graft.default." + Name))
        val rows = df.collect().toSeq
        h.notePhases(df.queryExecution)
        Layers.notePlan(h, cls, df.queryExecution, s"${h.dir}/mv")
        rows
      } {
        val df = twin.sql(sql(s"parquet.`$twinPath`"))
        val rows = df.collect().toSeq
        h.notePhases(df.queryExecution)
        rows
      }.foreach { case (g, t) => h.check(check(g, t)) }

    q("point", t => s"SELECT * FROM $t WHERE l_orderkey = $key")(
      Checks.pointComplete(key, _, _))
    q("range", t => s"SELECT l_returnflag, count(*), sum(l_quantity), sum(l_extendedprice) " +
      s"FROM $t WHERE l_shipdate >= DATE'${Fixture.day(from)}' " +
      s"AND l_shipdate < DATE'${Fixture.day(from + 30)}' GROUP BY l_returnflag")(
      Checks.sameRows(s"range from day $from", _, _))
    q("fold", t => s"SELECT count(*), min(l_shipdate), max(l_shipdate) FROM $t")(
      Checks.sameRows("fold", _, _))
    q("rollup", t => s"SELECT l_returnflag, l_linestatus, sum(l_quantity), count(*) " +
      s"FROM $t GROUP BY l_returnflag, l_linestatus")(Checks.sameRows("rollup", _, _))
    Layers.probeTable(h, table, col("l_orderkey") === key, Serve.rangePred(from))
  }

  /** One round of writes, each followed by the reads; round 0 is the
    * warm-up, which reads once at its end.
    */
  def round(r: Int): Unit = {
    val rng = new scala.util.Random(seed * 1000003L + r)
    val idBase = BaseRows + r.toLong * IdsPerRound
    val days = (BaseDays + (r % 60) * 7, BaseDays + (r % 60) * 7 + 7)
    def readsAfterWrite(): Unit = if (r > 0) reads(rng, idBase, days)

    val b = batch(Seq((idBase, idBase + BatchRows)), days, r * 4L)
    view(b, "churn_batch")
    write("insert", s"INSERT INTO graft.default.$Name SELECT * FROM churn_batch") {
      twin.read.parquet(b).write.mode("append").parquet(twinPath)
    }
    readsAfterWrite()

    // upsert of late corrections: the source rewrites the first half of
    // this round's batch with new values and adds as many new rows
    val src = batch(Seq((idBase, idBase + BatchRows / 2),
      (idBase + BatchRows, idBase + BatchRows * 3 / 2)), days, r * 4L + 1)
    view(src, "churn_merge")
    write("merge", s"MERGE INTO graft.default.$Name t USING churn_merge s " +
      "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") {
      val s = twin.read.parquet(src)
      twinRewrite(twin.read.parquet(twinPath)
        .join(s.select(Fixture.Key.map(col): _*), Fixture.Key, "left_anti").unionByName(s))
    }
    readsAfterWrite()

    // delete half of this round's batch, by order key, short of its tail
    val lo = (idBase / 4) + rng.nextInt((BatchRows / 16).toInt)
    val pred = s"l_orderkey >= $lo AND l_orderkey < ${lo + BatchRows / 8}"
    write("delete", s"DELETE FROM graft.default.$Name WHERE $pred") {
      twinRewrite(twin.read.parquet(twinPath).filter(not(expr(pred))))
    }
    readsAfterWrite()

    val before = quantities(table.read())
    write("compact", s"COMPACT GRAFT TABLE $Name MINOR") {
      twinRewrite(twin.read.parquet(twinPath))
    }
    h.check(Checks.conserved("minor compaction", before, quantities(table.read())))
    readsAfterWrite()

    val mvBefore = rollupMeta()
    write("refresh", s"REFRESH GRAFT AGGREGATE TABLE $Rollup") {
      twin.read.parquet(twinPath).groupBy(Serve.RollupDims.map(col): _*)
        .agg(sum("l_quantity"), count(lit(1))).write.mode("overwrite").parquet(twinRollup)
    }
    noteRefresh(mvBefore, rollupMeta())
    h.check(Checks.sameRows("refreshed rollup",
      spark.read.parquet(rollupMeta().mvPath)
        .select((Serve.RollupDims ++ Seq("sum_l_quantity", "cnt_rows")).map(col): _*)
        .collect().toSeq,
      twin.read.parquet(twinRollup).collect().toSeq))
    reads(rng, idBase, days)
  }

  private def rollupMeta() = AggTables.registered(spark).find(_.name == Rollup).get

  private def noteRefresh(before: graft.mv.AggTableMeta, after: graft.mv.AggTableMeta): Unit = {
    val mode =
      if (after.coveredFiles == before.coveredFiles) "noop"
      else if (before.coveredFiles.toSet.subsetOf(after.coveredFiles.toSet)) "incremental"
      else "full"
    h.sample(s"mv.refresh_$mode", 1)
  }

  /** Final major compaction and clean; returns table bytes per live row. */
  def finalCompaction(): Double = {
    val before = quantities(table.read())
    spark.sql(s"COMPACT GRAFT TABLE $Name")
    spark.sql(s"CLEAN GRAFT FILES FOR $Name")
    val after = quantities(table.read())
    h.check(Checks.conserved("final compaction", before, after))
    h.check(Checks.sameCount("final row count", table.countFromCatalog,
      twin.read.parquet(twinPath).count()))
    Report.bytesUnder(h, root).toDouble / table.countFromCatalog
  }
}

object Churn {
  val Name = "lineitem"
  val Rollup = "lineitem_flags"
  val BaseRows = 80000L
  val BaseSegments = 4
  val BaseDays = 2000
  val BatchRows = 5000L
  val IdsPerRound = 2 * BatchRows
  val ReadPasses = 2
}
