package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** One timed operation pair: the engine's side and the twin's. */
final case class PairRec(cls: String, graftMs: Double, twinMs: Double,
                         graftOp: Int, twinOp: Int) {
  def ratio: Double = graftMs / twinMs
}

/** A traced span: a call into one layer, inside one operation. */
final case class Span(name: String, op: Int, parent: Int, id: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The paired clock. Every operation runs once on the engine's session
  * and once on the twin's, back to back in one thread, and the side
  * that goes first alternates from pair to pair, so host drift and
  * warm-up order fall on both sides alike. Checks run outside the timed
  * calls.
  */
final class Harness(val spark: SparkSession, val twin: SparkSession,
                    val dir: String, val trace: Boolean,
                    val traceOut: Option[String] = None) {
  private val sc = spark.sparkContext
  val listener = new OpListener
  sc.addSparkListener(listener)

  val pairs = ArrayBuffer.empty[PairRec]
  val problems = ArrayBuffer.empty[String]
  val spans = ArrayBuffer.empty[Span]
  /** Planning phases (ms) per operation, traced runs only. */
  val phases = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  /** Per-layer samples the workloads record in traced runs. */
  val samples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  /** False during warm-up: pairs then run and are checked, not counted. */
  var recording = false
  /** Which side goes first next, per operation class. */
  private val graftFirst = scala.collection.mutable.Map.empty[String, Boolean]
  private var nextOp = 0
  private var nextSpan = 0
  private var openSpans = List.empty[Int]
  /** The operation running now, 0 outside any. */
  var currentOp = 0

  private def timed[A](session: SparkSession)(f: => A): (A, Double, Int) = {
    nextOp += 1
    val op = nextOp
    SparkSession.setActiveSession(session)
    sc.setLocalProperty(OpListener.OpKey, op.toString)
    currentOp = op
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e6, op)
    } finally {
      currentOp = 0
      sc.setLocalProperty(OpListener.OpKey, null)
      SparkSession.setActiveSession(spark)
    }
  }

  /** Run the engine's and the twin's form of one operation as a timed
    * pair; None when either side threw (the pair counts as failed).
    */
  def pair[G, T](cls: String)(graft: => G)(plain: => T): Option[(G, T)] = {
    if (recording) attempted += 1
    // an untimed job on every core first: whichever side ran first paid
    // for waking idle executor threads, some 20-40 ms on ops of 50-300 ms
    sc.parallelize(1 to Main.Cores, Main.Cores).count()
    val gFirst = graftFirst.getOrElse(cls, true)
    graftFirst(cls) = !gFirst
    try {
      val (g, t) =
        if (gFirst) { val g = timed(spark)(graft); (g, timed(twin)(plain)) }
        else { val t = timed(twin)(plain); (timed(spark)(graft), t) }
      if (recording) pairs += PairRec(cls, g._2, t._2, g._3, t._3)
      Some((g._1, t._1))
    } catch {
      case NonFatal(e) =>
        if (recording) failed += 1
        System.err.println(s"[enginebench] $cls failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[enginebench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")

  def check(result: Option[String]): Unit = result.foreach { m =>
    problems += m
    System.err.println(s"[enginebench] CHECK FAILED: $m")
  }

  /** Time a call into one layer as a span of the current operation. */
  def span[A](name: String)(f: => A): A =
    if (!trace) f
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = openSpans.headOption.getOrElse(0)
      openSpans = id :: openSpans
      val t0 = System.nanoTime()
      try f finally {
        spans += Span(name, currentOp, parent, id, t0, System.nanoTime())
        openSpans = openSpans.tail
      }
    }

  def sample(name: String, v: Double): Unit =
    if (trace && recording) samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Record the planning phases of the current operation, either side. */
  def notePhases(qe: QueryExecution): Unit =
    if (trace && currentOp != 0) {
      val p = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }.toMap
      phases(currentOp) = phases.getOrElse(currentOp, Map.empty) ++ p
    }
}
