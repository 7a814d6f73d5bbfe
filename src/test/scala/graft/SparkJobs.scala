package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code starts — the one job counter of the
  * specs.
  */
object SparkJobs {

  /** A started job, the SQL query it runs for (the root execution id;
    * None outside SQL) and the user-code stack that caused it: the
    * stack that started that query (adaptive execution submits a
    * query's jobs from its own threads), else the job's own.
    */
  final case class Job(start: SparkListenerJobStart, query: Option[String],
                       callSite: String)

  /** Jobs started while `f` runs, in start order. Listener events
    * arrive in job order, so a marker job run afterwards bounds the
    * set.
    */
  def during(spark: SparkSession)(f: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val queries = new java.util.concurrent.ConcurrentHashMap[String, String]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId.toString, q.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("graft.spec.marker") != null)) markerSeen.countDown()
        else if (markerSeen.getCount > 0) {
          def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
          val site = prop("spark.sql.execution.id").flatMap(id => Option(queries.get(id)))
          started.add(Job(e,
            prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")),
            site.getOrElse(e.stageInfos.maxBy(_.stageId).details)))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      started.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  def count(spark: SparkSession)(f: => Unit): Int = during(spark)(f).size
}
