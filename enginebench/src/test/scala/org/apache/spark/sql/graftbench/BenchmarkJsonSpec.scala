package org.apache.spark.sql.graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graftbench.{PerLayer, Report}

/** BENCHMARK.json names exactly the metrics the benchmark prints. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats
  private val doc = JsonMethods.parse(
    scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8").mkString)

  private def metrics(key: String): Seq[(String, String)] =
    (doc \ key).extract[List[Map[String, Any]]].map(m =>
      m("name").toString -> m("unit").toString)

  test("end-to-end metrics match the untraced output") {
    assert(metrics("end_to_end") == Report.EndToEnd)
  }

  test("per-layer metrics match the traced output") {
    assert(metrics("per_layer") == PerLayer.Names)
  }

  test("the workloads are serve and churn") {
    assert((doc \ "workloads").extract[List[Map[String, String]]].map(_("name")) ==
      List("serve", "churn"))
  }
}
