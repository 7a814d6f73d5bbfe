package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Spark-side counts of one benchmark operation. */
final class OpStats {
  var jobs = 0
  var jobMs = 0.0
  var tasks = 0
  var taskRunMs = 0.0
  var taskCpuMs = 0.0
  var bytesRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var shuffleBytes = 0L
  var gcMs = 0.0
}

/** Attributes every job, and every task of its stages, to the operation
  * whose id was in the [[OpListener.OpKey]] local property when the job
  * was submitted. Read the stats only after the listener bus drained.
  */
final class OpListener extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, Integer]()
  private val jobOp = new ConcurrentHashMap[Int, (Int, Long)]()
  private val ops = new ConcurrentHashMap[Int, OpStats]()

  def stats(op: Int): OpStats = ops.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.OpKey))).foreach { id =>
      val op = id.toInt
      e.stageIds.foreach(s => stageOp.put(s, Integer.valueOf(op)))
      jobOp.put(e.jobId, (op, e.time))
      stats(op).synchronized(stats(op).jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { case (op, t0) =>
      val s = stats(op)
      s.synchronized(s.jobMs += (e.time - t0).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val s = stats(op.intValue)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskRunMs += m.executorRunTime.toDouble
          s.taskCpuMs += m.executorCpuTime / 1e6
          s.bytesRead += m.inputMetrics.bytesRead
          s.bytesWritten += m.outputMetrics.bytesWritten
          s.recordsWritten += m.outputMetrics.recordsWritten
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.gcMs += m.jvmGCTime.toDouble
        }
      }
    }
}

object OpListener {
  val OpKey = "graftbench.op"
}
