package org.apache.spark.sql.graftbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.mv.AggTables
import graft.table.SegmentedTable
import graftbench.{Checks, Fixture, Serve}

/** The twin session is plain Spark: no graft optimizer rule, planner
  * strategy or parser. And the rollup check of the benchmark holds on
  * a rollup-served answer and fails on a perturbed one.
  */
class TwinSessionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    tmp.mkdirs()
    Files.createTempDirectory(tmp.toPath, "enginebench-spec").toString
  }
  private var spark: SparkSession = _
  private var twin: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .withExtensions(new graft.sql.GraftSqlExtensions)
      .getOrCreate()
    spark.conf.set("spark.graft.store", s"$dir/store")
    spark.conf.set("spark.graft.mv.store", s"$dir/mv")
    twin = Internals.plainSession(spark)
  }

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** Every rule of every optimizer batch (`batches` is protected). */
  private def optimizerRules(s: SparkSession): Seq[String] = {
    def call(o: AnyRef, m: String) = o.getClass.getMethod(m).invoke(o).asInstanceOf[Seq[AnyRef]]
    call(s.asInstanceOf[classic.SparkSession].sessionState.optimizer, "batches")
      .flatMap(call(_, "rules")).map(_.getClass.getName)
  }

  private def strategies(s: SparkSession): Seq[String] =
    s.asInstanceOf[classic.SparkSession].sessionState.planner.strategies.map(_.getClass.getName)

  private def parser(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionState.sqlParser.getClass.getName

  test("the engine's session carries graft's rules, strategy and parser") {
    assert(optimizerRules(spark).exists(_.startsWith("graft.mv.AggTableRewrite")))
    assert(strategies(spark).exists(_.startsWith("graft.plans.")))
    assert(parser(spark).startsWith("graft.sql."))
  }

  test("the twin session carries none of them") {
    assert(!optimizerRules(twin).exists(_.startsWith("graft.")))
    assert(!strategies(twin).exists(_.startsWith("graft.")))
    assert(!parser(twin).startsWith("graft."))
    assert(twin.asInstanceOf[classic.SparkSession].experimental.extraOptimizations.isEmpty)
    assert(twin.conf.getOption("spark.sql.catalog.graft").isEmpty)
  }

  test("a rollup-served answer passes the check; a perturbed one fails") {
    val src = Fixture.lineitem(twin, 5, 0, 4000)
    val plain = s"$dir/plain"
    src.write.parquet(plain)
    val root = s"$dir/store/li"
    val t = SegmentedTable.create(spark, root, twin.read.parquet(plain).schema)
    t.load(spark.read.parquet(plain).filter(Fixture.dateBucket(0, 2)))
    t.load(spark.read.parquet(plain).filter(Fixture.dateBucket(1, 2)))
    AggTables.create(spark, "li_flags", root, Serve.RollupDims, Seq("sum" -> "l_quantity"))

    val served: DataFrame = Serve.rollupQuery(t.read())
    assert(served.queryExecution.optimizedPlan.exists {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.rootPaths.exists(_.toString.contains(s"$dir/mv"))
      case _ => false
    }, "the engine should answer from the rollup")
    val g = served.collect().toSeq
    val scanned = Serve.rollupQuery(twin.read.parquet(plain)).collect().toSeq
    assert(Checks.sameRows("rollup", g, scanned).isEmpty)
    assert(Checks.sameRows("rollup", g.tail, scanned).isDefined)
    val changed = g.updated(0, org.apache.spark.sql.Row.fromSeq(
      g.head.toSeq.updated(2, g.head.getDouble(2) + 1.0)))
    assert(Checks.sameRows("rollup", changed, scanned).isDefined)

    // the catalog count and the compaction conservation checks, on the
    // same table through its two independent paths
    val twinCount = twin.read.parquet(plain).count()
    assert(Checks.sameCount("rows", t.countFromCatalog, twinCount).isEmpty)
    assert(Checks.sameCount("rows", t.countFromCatalog - 1, twinCount).isDefined)
    def qty(df: DataFrame) = {
      val r = df.agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val before = qty(t.read())
    t.compact()
    val after = qty(SegmentedTable.open(spark, root).read())
    assert(Checks.conserved("compaction", before, after).isEmpty)
    assert(Checks.conserved("compaction", before, qty(t.read().limit(3999))).isDefined)
  }
}
