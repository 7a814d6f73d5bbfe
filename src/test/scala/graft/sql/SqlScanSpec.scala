package graft.sql

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for [[SqlScan]], the one shared top-level SQL-text
  * scanner: random nesting shapes (parens × single-quoted literals)
  * are built WITH their expected top-level positions
  * tracked during construction, so every scanner is checked against
  * ground truth by construction — not against a second implementation.
  */
class SqlScanSpec extends AnyFunSuite {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // identifier words that can never collide with a scanned keyword
  // (keyword matching is case-insensitive whole-word)
  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
      .suchThat(w => !Set("when", "then", "case", "end").contains(w))

  /** Decoy text allowed INSIDE literals and parens: may contain the
    * keyword, commas, quotes-free nesting — all invisible at top level.
    */
  private val decoy: Gen[String] = Gen.oneOf(
    Gen.const("WHEN"), Gen.const("THEN"), Gen.const("a, b"),
    Gen.const("CASE x END"), word)

  /** One rendered fragment + the top-level keyword offsets it
    * contributes (relative to its own start).
    */
  private def fragment(kw: String): Gen[(String, Seq[Int])] = Gen.frequency(
    4 -> word.map(w => (w, Nil)),
    2 -> decoy.map(d => (s"'$d'", Nil)), // literal: keyword inside is data
    2 -> Gen.listOfN(2, decoy).map(ds =>
      (s"(${ds.mkString(" ")})", Nil)), // parens: nested content
    1 -> Gen.listOfN(3, decoy).map(ds =>
      (s"((${ds.head}) ${ds(1)} '${ds(2)}')", Nil)), // deeper nesting
    2 -> Gen.const((kw, Seq(0)))) // THE keyword at top level

  /** A full statement text: fragments joined by single spaces, with
    * the absolute expected top-level keyword indices.
    */
  private def statement(kw: String): Gen[(String, Seq[Int])] =
    Gen.nonEmptyListOf(fragment(kw)).map { frags =>
      val sb = new StringBuilder
      val expected = scala.collection.mutable.ListBuffer.empty[Int]
      frags.foreach { case (text, offs) =>
        if (sb.nonEmpty) sb += ' '
        offs.foreach(o => expected += sb.length + o)
        sb ++= text
      }
      (sb.result(), expected.toSeq)
    }

  test("topLevelIndexOf finds the first constructed top-level keyword") {
    (1L to 200L).foreach { seed =>
      val (text, expected) = sample(statement("WHEN"), seed)
      val first = expected.headOption.getOrElse(-1)
      assert(SqlScan.topLevelIndexOf(text, "WHEN") == first,
        s"seed=$seed text=$text")
      // case-insensitive: the scan over the lowercased text agrees
      assert(SqlScan.topLevelIndexOf(text.toLowerCase, "WHEN") == first,
        s"seed=$seed lower text=$text")
    }
  }

  test("splitTopCommas: parts rejoin to the input and hide nested commas") {
    // parts are keyword-statements (no top-level commas by construction)
    val partGen = statement("WHEN").map(_._1)
    (1L to 200L).foreach { seed =>
      val parts = sample(Gen.nonEmptyListOf(partGen), seed)
      val joined = parts.mkString(",")
      val got = SqlScan.splitTopCommas(joined)
      assert(got == parts, s"seed=$seed joined=$joined")
      assert(got.mkString(",") == joined) // raw split is an identity
    }
  }
}
