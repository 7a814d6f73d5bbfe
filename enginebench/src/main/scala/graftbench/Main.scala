package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.Internals

/** Entry point (started by `run.py`):
  *
  *   graftbench.Main --workload serve|churn --seed N --seconds S
  *     --trace 0|1 --run-dir DIR [--t0-us EPOCH_MICROS] [--trace-out FILE]
  *
  * Prints one `RESULT {...}` line with the end-to-end metrics (or, with
  * `--trace 1`, the per-layer ones) and one `DETAIL {...}` line with the
  * absolute reference times. Everything the run writes lives under DIR.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = opts("run-dir")
    val t0Us = opts.get("t0-us").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime * 1000L)
    require(Set("serve", "churn")(workload), s"unknown workload $workload")

    val host = HostProbe(trace)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"enginebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.sql.GraftSqlExtensions)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      // engine-only confs go on the engine's session, never into the
      // SparkConf the twin session inherits
      spark.conf.set("spark.graft.store", s"$dir/store")
      spark.conf.set("spark.graft.mv.store", s"$dir/mv")
      spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalogPlugin")
      System.err.println(f"[enginebench] session ready ${(nowUs() - t0Us) / 1e6}%.2f s after t0")
      val twin = Internals.plainSession(spark)
      val h = new Harness(spark, twin, dir, trace, opts.get("trace-out"))
      val report = workload match {
        case "serve" => Report.serve(h, seed, seconds, t0Us, host)
        case "churn" => Report.churn(h, seed, seconds, t0Us, host)
      }
      println("DETAIL " + report.detail)
      println("RESULT " + report.result)
    } finally spark.stop()
  }

  /** Microseconds since the epoch, the clock `run.py` passes as t0. */
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}

/** Host diagnostics for traced runs: steal ticks and a fixed CPU loop. */
final case class HostProbe(enabled: Boolean) {
  private def stealTicks(): Long =
    if (!enabled) 0L
    else scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    }.getOrElse(0L)

  private val steal0 = stealTicks()

  /** Milliseconds of a fixed single-thread integer loop. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + i; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def stealSinceStart(): Long = stealTicks() - steal0
}
