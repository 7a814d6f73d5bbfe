package org.apache.spark.sql.graftbench

import java.math.{BigDecimal => JDecimal}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graftbench.Checks

/** Every correctness check of the benchmark holds on equal results and
  * fails on a perturbed one: one row dropped, or one sum changed.
  */
class ChecksSpec extends AnyFunSuite {
  private val rows = Seq(
    Row("A", "F", 1478493.0, 37734L, new JDecimal("37734.00")),
    Row("N", "O", 3004998.5, 74476L, new JDecimal("74476.00")),
    Row("R", "F", 1478870.25, 37731L, new JDecimal("37731.00")))

  private def bump(r: Row, i: Int, v: Any): Row = Row.fromSeq(r.toSeq.updated(i, v))

  test("sameRows holds regardless of row order and last-bit double drift") {
    val drift = rows.reverse.map(r => bump(r, 2, r.getDouble(2) * (1 + 1e-14)))
    assert(Checks.sameRows("x", rows, drift).isEmpty)
  }

  test("sameRows fails on a dropped row") {
    assert(Checks.sameRows("x", rows, rows.tail).isDefined)
    assert(Checks.sameRows("x", rows.tail, rows).isDefined)
  }

  test("sameRows fails on a changed double sum, integer count or decimal sum") {
    assert(Checks.sameRows("x", rows, rows.updated(1, bump(rows(1), 2, 3004998.75))).isDefined)
    assert(Checks.sameRows("x", rows, rows.updated(1, bump(rows(1), 3, 74477L))).isDefined)
    assert(Checks.sameRows("x", rows,
      rows.updated(1, bump(rows(1), 4, new JDecimal("74476.01")))).isDefined)
    assert(Checks.sameRows("x", rows, rows.updated(0, bump(rows(0), 0, "B"))).isDefined)
  }

  test("ordered sameRows fails on a reordering") {
    assert(Checks.sameRows("x", rows, rows, ordered = true).isEmpty)
    assert(Checks.sameRows("x", rows, rows.reverse, ordered = true).isDefined)
  }

  test("pointComplete needs every twin row for the key") {
    assert(Checks.pointComplete(7, rows, rows.reverse).isEmpty)
    assert(Checks.pointComplete(7, rows.init, rows).isDefined)
    assert(Checks.pointComplete(7, Nil, Nil).isDefined)
  }

  test("sameCount and conserved fail on a one-off difference") {
    assert(Checks.sameCount("x", 100L, 100L).isEmpty)
    assert(Checks.sameCount("x", 99L, 100L).isDefined)
    val before = (100L, new JDecimal("2550.00"))
    assert(Checks.conserved("x", before, (100L, new JDecimal("2550.0"))).isEmpty)
    assert(Checks.conserved("x", before, (99L, new JDecimal("2550.00"))).isDefined)
    assert(Checks.conserved("x", before, (100L, new JDecimal("2549.00"))).isDefined)
  }
}
