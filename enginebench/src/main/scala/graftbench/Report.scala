package graftbench

import org.apache.hadoop.fs.Path

import graft.table.SegmentedTable

/** The two output lines of a run. */
final case class Outcome(result: String, detail: String)

/** Runs a workload's timed loop and turns its pairs into metrics. */
object Report {
  val ReadClasses = Seq("point", "range", "fold", "rollup", "agg_scan", "ordered")
  val WriteClasses = Seq("insert", "merge", "delete", "compact", "refresh")
  /** The read classes both workloads issue, each with its own metric. */
  val SharedClasses = Seq("point", "range", "fold", "rollup")

  /** The end-to-end metrics, with units; both workloads report all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "mix_rel" -> "x") ++
    SharedClasses.map(c => s"${c}_rel" -> "x") ++ Seq(
    "scan_bytes_per_query" -> "B", "table_bytes_per_row" -> "B/row")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Run whole rounds for about `seconds`: at least one, and no further
    * round once the previous round's length would carry the loop past
    * the deadline, so a run never measures much more than asked.
    */
  def timedLoop(h: Harness, seconds: Double)(round: Int => Unit): (Int, Double) = {
    h.recording = true
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    var last = 0.0
    while (r == 0 || elapsed + last <= seconds) {
      val start = elapsed
      System.gc()
      r += 1
      round(r)
      last = elapsed - start
    }
    h.recording = false
    (r, elapsed)
  }

  /** Bytes of every file under `root`. */
  def bytesUnder(h: Harness, root: String): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(h.spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  def serve(h: Harness, seed: Long, seconds: Double, t0Us: Long, host: HostProbe): Outcome = {
    val calib0 = if (h.trace) host.calibrate() else 0.0
    val s = new Serve(h, seed)
    s.setup()
    (1 to Serve.WarmRounds).foreach(i => s.round(-i))
    h.log("warm-up done")
    val setupS = (Main.nowUs() - t0Us) / 1e6
    val gc0 = Main.gcMs()
    Main.resetHeapPeak()
    val (rounds, wall) = timedLoop(h, seconds)(s.round)
    val jvm = (Main.gcMs() - gc0, Main.heapPeakMb())
    val table = SegmentedTable.open(h.spark, s.root)
    h.sample("table.live_segments", table.status.segments.count(_.status == SegmentedTable.SUCCESS))
    val bytesPerRow = bytesUnder(h, s.root).toDouble / table.countFromCatalog
    val calib = if (h.trace) (calib0 + host.calibrate()) / 2 else 0.0
    finish(h, setupS, bytesPerRow, rounds, wall, jvm, calib, host)
  }

  def churn(h: Harness, seed: Long, seconds: Double, t0Us: Long, host: HostProbe): Outcome = {
    val calib0 = if (h.trace) host.calibrate() else 0.0
    val c = new Churn(h, seed)
    c.setup()
    c.round(0)
    h.log("warm-up done")
    val setupS = (Main.nowUs() - t0Us) / 1e6
    val gc0 = Main.gcMs()
    Main.resetHeapPeak()
    val v0 = c.table.currentVersion
    val (rounds, wall) = timedLoop(h, seconds)(c.round)
    val jvm = (Main.gcMs() - gc0, Main.heapPeakMb())
    h.sample("table.commit_versions", (c.table.currentVersion - v0).toDouble)
    h.sample("table.live_segments", c.table.status.segments.count(_.status == SegmentedTable.SUCCESS))
    val bytesPerRow = c.finalCompaction()
    val calib = if (h.trace) (calib0 + host.calibrate()) / 2 else 0.0
    finish(h, setupS, bytesPerRow, rounds, wall, jvm, calib, host)
  }

  private def finish(h: Harness, setupS: Double, bytesPerRow: Double, rounds: Int,
                     wall: Double, jvm: (Double, Double), calib: Double,
                     host: HostProbe): Outcome = {
    org.apache.spark.sql.graftbench.Internals.drainListenerBus(h.spark.sparkContext)
    val pairs = h.pairs.toSeq
    val byClass = pairs.groupBy(_.cls)
    def rel(ps: Seq[PairRec]) = ps.map(_.graftMs).sum / ps.map(_.twinMs).sum
    val reads = pairs.filter(p => ReadClasses.contains(p.cls))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "mix_rel" -> rel(pairs),
      "scan_bytes_per_query" ->
        reads.map(p => h.listener.stats(p.graftOp).bytesRead.toDouble).sum / reads.size,
      "table_bytes_per_row" -> bytesPerRow) ++
      SharedClasses.map(c => s"${c}_rel" -> median(byClass.getOrElse(c, Nil).map(_.ratio)))

    val classDetail = byClass.toSeq.sortBy(_._1).map { case (c, ps) =>
      c -> Json.obj(Seq(
        "pairs" -> ps.size.toString,
        "graft_ms_median" -> Json.num(median(ps.map(_.graftMs))),
        "twin_ms_median" -> Json.num(median(ps.map(_.twinMs))),
        "rel_median" -> Json.num(median(ps.map(_.ratio))),
        "rel_sum" -> Json.num(rel(ps)),
        "ratios" -> Json.arr(ps.map(p => f"${p.ratio}%.3f"))))
    }
    val detail = Json.obj(Seq(
      "rounds" -> rounds.toString,
      "timed_wall_s" -> Json.num(wall),
      "classes" -> Json.obj(classDetail)))

    val metrics =
      if (!h.trace) EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      else PerLayer.compute(h, jvm, calib, host.stealSinceStart())
    val result = Json.obj(Seq(
      "correct" -> (h.problems.isEmpty).toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    if (h.trace) Trace.write(h)
    Outcome(result, detail)
  }
}
