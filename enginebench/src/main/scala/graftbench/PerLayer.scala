package graftbench

import Report.{ReadClasses, WriteClasses, mean, median}

/** The per-layer metrics of a traced run. Every name is reported by both
  * workloads; a layer a workload does not exercise reads 0 there (no
  * write statements in `serve`, no `SegmentedTable.read()` calls in
  * `churn`, whose reads go through the SQL catalog).
  */
object PerLayer {
  val Classes: Seq[String] = ReadClasses ++ WriteClasses
  val StmtKinds: Seq[String] = "select" +: WriteClasses

  /** (name, unit) of every per-layer metric, in output order. */
  val Names: Seq[(String, String)] =
    ReadClasses.map(c => s"table.read_build_ms.$c" -> "ms") ++ Seq(
      "table.segments_kept.point" -> "count", "table.segments_kept.range" -> "count",
      "table.segments_total" -> "count", "table.commit_versions" -> "count",
      "table.live_segments" -> "count") ++
    WriteClasses.take(4).flatMap(w => Seq(
      s"table.bytes_written_per_row.$w" -> "B/row", s"table.files_written.$w" -> "count")) ++ Seq(
      "mv.fingerprint_ms" -> "ms", "mv.rewrite_hits" -> "count",
      "mv.rewrite_attempts" -> "count", "mv.fold_hits" -> "count",
      "mv.fold_attempts" -> "count", "mv.refresh_ms" -> "ms",
      "mv.refresh_full" -> "count", "mv.refresh_incremental" -> "count",
      "mv.refresh_noop" -> "count") ++
    StmtKinds.map(s => s"sql.parse_ms.$s" -> "ms") ++
    WriteClasses.flatMap(w => Seq(s"sql.stmt_ms.$w" -> "ms",
      s"sql.stmt_job_ms.$w" -> "ms", s"sql.stmt_rel.$w" -> "x")) ++ Seq(
      "plans.sorted_scan_hits" -> "count", "plans.sorted_scan_attempts" -> "count",
      "catalyst.analyze_ms" -> "ms", "catalyst.physical_ms" -> "ms") ++
    ReadClasses.flatMap(c => Seq(s"catalyst.optimize_ms.$c" -> "ms",
      s"catalyst.twin_optimize_ms.$c" -> "ms")) ++ Seq(
      "exec.jobs" -> "count", "exec.tasks" -> "count",
      "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
      "exec.shuffle_bytes" -> "B", "exec.slot_busy" -> "x") ++
    Classes.flatMap(c => Seq(s"exec.job_ms.$c" -> "ms", s"exec.bytes_read.$c" -> "B",
      s"exec.driver_only_ms.$c" -> "ms")) ++ Seq(
      "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
      "host.steal_ticks" -> "count", "host.calib_ms" -> "ms")

  def compute(h: Harness, jvm: (Double, Double), calibMs: Double,
              steal: Long): Seq[(String, (Double, String))] = {
    val pairs = h.pairs.toSeq
    def of(c: String) = pairs.filter(_.cls == c)
    def st(op: Int) = h.listener.stats(op)
    def phase(op: Int, p: String) = h.phases.getOrElse(op, Map.empty).getOrElse(p, 0.0)
    def planning(op: Int) = Seq("analysis", "optimization", "planning").map(phase(op, _)).sum
    def samples(n: String) = h.samples.getOrElse(n, Nil).toSeq
    val readBuild = h.spans.filter(_.name == "table.read").groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(_.ms).sum }
    def perOp(ps: Seq[PairRec])(f: PairRec => Double) = mean(ps.map(f))
    val stmtOps = Map("select" -> pairs.filter(p => ReadClasses.contains(p.cls))) ++
      WriteClasses.map(w => w -> of(w))
    val totalJobMs = pairs.map(p => st(p.graftOp).jobMs).sum
    val v = scala.collection.mutable.Map.empty[String, Double]

    ReadClasses.foreach { c =>
      v(s"table.read_build_ms.$c") = perOp(of(c))(p => readBuild.getOrElse(p.graftOp, 0.0))
      v(s"catalyst.optimize_ms.$c") = perOp(of(c))(p => phase(p.graftOp, "optimization"))
      v(s"catalyst.twin_optimize_ms.$c") = perOp(of(c))(p => phase(p.twinOp, "optimization"))
    }
    Seq("table.segments_kept.point", "table.segments_kept.range", "table.segments_total",
        "table.live_segments", "mv.fingerprint_ms").foreach(n => v(n) = mean(samples(n)))
    v("table.commit_versions") = samples("table.commit_versions").sum
    WriteClasses.take(4).foreach { w =>
      val (bytes, recs) = of(w).foldLeft((0L, 0L)) { case ((b, r), p) =>
        (b + st(p.graftOp).bytesWritten, r + st(p.graftOp).recordsWritten)
      }
      v(s"table.bytes_written_per_row.$w") = if (recs == 0) 0.0 else bytes.toDouble / recs
      v(s"table.files_written.$w") = mean(samples(s"table.files_written.$w"))
    }
    v("mv.rewrite_hits") = samples("mv.rewrite_hits").sum
    v("mv.rewrite_attempts") = samples("mv.rewrite_hits").size
    v("mv.fold_hits") = of("fold").count(p => st(p.graftOp).jobs == 0)
    v("mv.fold_attempts") = of("fold").size
    v("mv.refresh_ms") = perOp(of("refresh"))(_.graftMs)
    Seq("full", "incremental", "noop").foreach(m =>
      v(s"mv.refresh_$m") = samples(s"mv.refresh_$m").sum)
    StmtKinds.foreach(s => v(s"sql.parse_ms.$s") = perOp(stmtOps(s))(p => phase(p.graftOp, "parsing")))
    WriteClasses.foreach { w =>
      v(s"sql.stmt_ms.$w") = perOp(of(w))(_.graftMs)
      v(s"sql.stmt_job_ms.$w") = perOp(of(w))(p => st(p.graftOp).jobMs)
      v(s"sql.stmt_rel.$w") = if (of(w).isEmpty) 0.0 else median(of(w).map(_.ratio))
    }
    v("plans.sorted_scan_hits") = samples("plans.sorted_scan_hits").sum
    v("plans.sorted_scan_attempts") = samples("plans.sorted_scan_hits").size
    v("catalyst.analyze_ms") = perOp(pairs)(p => phase(p.graftOp, "analysis"))
    v("catalyst.physical_ms") = perOp(pairs)(p => phase(p.graftOp, "planning"))
    v("exec.jobs") = perOp(pairs)(p => st(p.graftOp).jobs)
    v("exec.tasks") = perOp(pairs)(p => st(p.graftOp).tasks)
    v("exec.task_run_ms") = perOp(pairs)(p => st(p.graftOp).taskRunMs)
    v("exec.task_cpu_ms") = perOp(pairs)(p => st(p.graftOp).taskCpuMs)
    v("exec.shuffle_bytes") = perOp(pairs)(p => st(p.graftOp).shuffleBytes.toDouble)
    v("exec.slot_busy") =
      if (totalJobMs == 0) 0.0
      else pairs.map(p => st(p.graftOp).taskRunMs).sum / (totalJobMs * Main.Cores)
    Classes.foreach { c =>
      v(s"exec.job_ms.$c") = perOp(of(c))(p => st(p.graftOp).jobMs)
      v(s"exec.bytes_read.$c") = perOp(of(c))(p => st(p.graftOp).bytesRead.toDouble)
      v(s"exec.driver_only_ms.$c") =
        perOp(of(c))(p => p.graftMs - planning(p.graftOp) - st(p.graftOp).jobMs)
    }
    v("jvm.gc_ms") = jvm._1
    v("jvm.heap_peak_mb") = jvm._2
    v("host.steal_ticks") = steal.toDouble
    v("host.calib_ms") = calibMs
    require(v.keySet == Names.map(_._1).toSet,
      s"per-layer names out of step: ${v.keySet.diff(Names.map(_._1).toSet)}")
    Names.map { case (n, u) => n -> (v(n), u) }
  }
}
