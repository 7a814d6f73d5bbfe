package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.mv.AggTables
import graft.table.SegmentedTable

/** `serve`: warm, read-only OLAP queries against a date-clustered
  * segmented `lineitem` with a bloom index and one rollup, each paired
  * with the same query over the twin's plain Parquet copy.
  */
final class Serve(h: Harness, seed: Long) {
  import Serve._
  private val spark = h.spark
  private val twinPath = s"${h.dir}/twin/lineitem"
  val root = s"${h.dir}/store/lineitem"
  private var table: SegmentedTable = _

  def setup(): Unit = {
    h.log("setup: generating the twin copy")
    Fixture.lineitem(h.twin, seed, 0, Rows).write.parquet(twinPath)
    val src = spark.read.parquet(twinPath)
    table = SegmentedTable.create(spark, root, src.schema,
      Map("sort_columns" -> "l_shipdate", "bloom_columns" -> "l_orderkey"))
    h.log("setup: loading segments")
    Fixture.inParallel(0 until Segments)(i => table.load(src.filter(Fixture.dateBucket(i, Segments))))
    h.log("setup: building the rollup")
    AggTables.create(spark, RollupName, root, RollupDims, Seq("sum" -> "l_quantity"))
    h.log("setup: done")
  }

  private def graftRead(): DataFrame = h.span("table.read")(table.read())
  private def twinRead(): DataFrame = h.twin.read.parquet(twinPath)

  private def run(q: DataFrame): Seq[Row] = {
    val rows = q.collect().toSeq
    h.notePhases(q.queryExecution)
    rows
  }

  /** One query class as a timed pair, then its check. */
  private def query(cls: String, q: DataFrame => DataFrame)(
      check: (Seq[Row], Seq[Row]) => Option[String]): Unit =
    h.pair(cls) {
      val df = q(graftRead())
      val rows = run(df)
      Layers.notePlan(h, cls, df.queryExecution, s"${h.dir}/mv")
      rows
    }(run(q(twinRead()))).foreach { case (g, t) => h.check(check(g, t)) }

  def round(r: Int): Unit = {
    val rng = new scala.util.Random(seed * 1000003L + r)
    val key = rng.nextInt((Rows / 4).toInt)
    val from = rng.nextInt(Fixture.ShipDays - 31)
    val k = 10 + rng.nextInt(91)

    query("point", _.filter(pointPred(key)))(Checks.pointComplete(key, _, _))
    query("range", rangeQuery(_, from))(Checks.sameRows(s"range from day $from", _, _))
    query("fold", foldQuery)(Checks.sameRows("fold", _, _))
    query("rollup", rollupQuery)(Checks.sameRows("rollup", _, _))
    query("agg_scan", _.groupBy("l_returnflag").agg(sum("l_extendedprice")))(
      Checks.sameRows("agg_scan", _, _))
    query("ordered", _.orderBy("l_shipdate").limit(k).select("l_shipdate"))(
      Checks.sameRows(s"ordered limit $k", _, _, ordered = true))

    Layers.probeTable(h, table, pointPred(key), rangePred(from))
  }
}

object Serve {
  val Rows = 360000L
  val Segments = 12
  /** Untimed rounds before timing: with one, the engine's range and
    * point ratios still fell by a quarter over the timed rounds.
    */
  val WarmRounds = 3
  val RollupName = "lineitem_flags"
  val RollupDims = Seq("l_returnflag", "l_linestatus")

  def pointPred(key: Long): Column = col("l_orderkey") === key

  def rangePred(fromDay: Int): Column =
    col("l_shipdate") >= lit(java.sql.Date.valueOf(Fixture.day(fromDay))) &&
      col("l_shipdate") < lit(java.sql.Date.valueOf(Fixture.day(fromDay + 30)))

  def rangeQuery(df: DataFrame, fromDay: Int): DataFrame =
    df.filter(rangePred(fromDay)).groupBy("l_returnflag")
      .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))

  def foldQuery(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), min("l_shipdate"), max("l_shipdate"))

  def rollupQuery(df: DataFrame): DataFrame =
    df.groupBy(RollupDims.map(col): _*).agg(sum("l_quantity"), count(lit(1)))
}
