package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** The two Spark-internal handles the benchmark needs; both constructors
  * are package-private to `org.apache.spark`.
  */
object Internals {

  /** A second session on `graft`'s SparkContext that is built without
    * the engine's extensions: Spark's own parser, optimizer and planner,
    * no graft rule, no graft catalog conf. The benchmark's plain-Spark
    * twin runs here, so a change to the engine moves only the engine's
    * side of every pair.
    */
  def plainSession(graft: SparkSession): SparkSession =
    new classic.SparkSession(graft.sparkContext)

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
