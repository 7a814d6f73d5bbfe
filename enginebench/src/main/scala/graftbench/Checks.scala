package graftbench

import org.apache.spark.sql.Row

/** The benchmark's correctness oracle: every engine result is compared
  * with the plain-Spark twin's result over the same rows. Each check
  * returns None when it holds, else a one-line description of the first
  * difference. Integers, decimals, strings and dates compare exactly;
  * doubles compare within [[DoubleRelTol]], because the two sides sum
  * in different orders and differ in the last bits.
  */
object Checks {
  val DoubleRelTol = 1e-9

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= DoubleRelTol * math.max(math.abs(a), math.abs(b))

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Row, y: Row) => sameRow(x, y)
    case _ => a == b
  }

  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall(i => sameValue(a.get(i), b.get(i)))

  /** Sort key that is stable under last-bit double differences. */
  private def sortKey(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.6e"
    case null => "\u0000"
    case v => v.toString
  }.mkString("\u0001")

  /** Same rows, as a multiset (or in order when `ordered`). */
  def sameRows(what: String, graft: Seq[Row], twin: Seq[Row],
               ordered: Boolean = false): Option[String] =
    if (graft.size != twin.size)
      Some(s"$what: ${graft.size} rows, twin has ${twin.size}")
    else {
      val (g, t) =
        if (ordered) (graft, twin) else (graft.sortBy(sortKey), twin.sortBy(sortKey))
      g.zip(t).collectFirst {
        case (a, b) if !sameRow(a, b) => s"$what: row $a, twin has $b"
      }
    }

  /** A point lookup returns every twin row for its key and no other. */
  def pointComplete(key: Long, graft: Seq[Row], twin: Seq[Row]): Option[String] =
    if (twin.isEmpty) Some(s"point $key: the twin found no row, the lookup proves nothing")
    else sameRows(s"point $key", graft, twin)

  /** The engine's catalog row count equals the twin's scanned count. */
  def sameCount(what: String, catalog: Long, twin: Long): Option[String] =
    if (catalog == twin) None else Some(s"$what: catalog counts $catalog rows, twin $twin")

  /** Compaction keeps the row count and the exact quantity sum. */
  def conserved(what: String, before: (Long, java.math.BigDecimal),
                after: (Long, java.math.BigDecimal)): Option[String] =
    if (before._1 == after._1 && before._2.compareTo(after._2) == 0) None
    else Some(s"$what: (rows, sum) went from $before to $after")
}
