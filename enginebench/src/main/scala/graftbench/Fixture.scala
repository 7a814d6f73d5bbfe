package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, TPC-H-shaped `lineitem` rows. The column ranges follow the
  * sf0.1 test corpus (orderkeys 0..149999, shipdates 1995-01-02 plus
  * 0..2498 days); every value is a hash of (seed, row id, column), so
  * one seed always gives the same rows and no input is read from
  * outside the run. `(l_orderkey, l_linenumber)` is unique: row id `i`
  * is line `i % 4 + 1` of order `i / 4`.
  */
object Fixture {
  val FirstShipDate: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 2)
  val ShipDays = 2499
  val Key = Seq("l_orderkey", "l_linenumber")

  private def h(seed: Long, k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
  private def pick(seed: Long, k: Int, n: Long): Column = pmod(h(seed, k), lit(n))

  /** Rows with ids [from, until); shipdates drawn from day offsets
    * [dayLo, dayHi).
    */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
               dayLo: Int = 0, dayHi: Int = ShipDays, partitions: Int = 4): DataFrame =
    spark.range(from, until, 1, partitions).select(
      shiftright(col("id"), 2).as("l_orderkey"),
      pick(seed, 1, 20000).as("l_partkey"),
      pick(seed, 2, 1000).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pick(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + pick(seed, 4, 10410000L) / 100.0, 2).as("l_extendedprice"),
      (pick(seed, 5, 11) / 100.0).as("l_discount"),
      (pick(seed, 6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pick(seed, 7, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pick(seed, 8, 2) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf(FirstShipDate)),
        (lit(dayLo.toLong) + pick(seed, 9, (dayHi - dayLo).toLong)).cast("int"))
        .as("l_shipdate"))

  /** Run `f` over `items` on [[LoadThreads]] threads (set-up loads: the
    * engine overlaps concurrent loads and serializes only their commits).
    */
  def inParallel[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(LoadThreads)
    try {
      val active = org.apache.spark.sql.SparkSession.active
      items.map(i => pool.submit(new Runnable {
        def run(): Unit = { org.apache.spark.sql.SparkSession.setActiveSession(active); f(i) }
      })).foreach(_.get())
    } finally pool.shutdown()
  }

  val LoadThreads = 3

  def day(offset: Int): java.time.LocalDate = FirstShipDate.plusDays(offset.toLong)

  /** Predicate selecting bucket `i` of `n` equal ranges of the first
    * `days` shipdates.
    */
  def dateBucket(i: Int, n: Int, days: Int = ShipDays): Column = {
    val lo = day(i * days / n)
    val hi = day((i + 1) * days / n)
    col("l_shipdate") >= lit(java.sql.Date.valueOf(lo)) &&
      col("l_shipdate") < lit(java.sql.Date.valueOf(hi))
  }
}
