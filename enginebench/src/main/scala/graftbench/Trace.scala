package graftbench

/** Writes a traced run's spans and per-operation counts as one JSON file. */
object Trace {
  def write(h: Harness): Unit = h.traceOut.foreach { path =>
    val spans = h.spans.map(s => Json.obj(Seq(
      "name" -> Json.str(s.name), "op" -> s.op.toString, "parent" -> s.parent.toString,
      "id" -> s.id.toString, "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    val ops = h.pairs.flatMap { p =>
      Seq(("graft", p.graftOp, p.graftMs), ("twin", p.twinOp, p.twinMs)).map { case (side, op, ms) =>
        val st = h.listener.stats(op)
        Json.obj(Seq(
          "op" -> op.toString, "class" -> Json.str(p.cls), "side" -> Json.str(side),
          "ms" -> Json.num(ms), "jobs" -> st.jobs.toString, "tasks" -> st.tasks.toString,
          "job_ms" -> Json.num(st.jobMs), "bytes_read" -> st.bytesRead.toString,
          "phases_ms" -> Json.obj(h.phases.getOrElse(op, Map.empty).toSeq.sorted
            .map { case (k, v) => k -> Json.num(v) })))
      }
    }
    val out = new java.io.File(path)
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(Json.obj(Seq("spans" -> Json.arr(spans.toSeq), "ops" -> Json.arr(ops.toSeq))))
    finally w.close()
  }
}
