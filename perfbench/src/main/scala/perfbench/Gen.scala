package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the db-benchmark frame, the input of the reference's
  * ASV `basic_functions` and `query_builder` suites (reference
  * `python/benchmarks/common.py:60-79`):
  *
  *   ts      long ns, minutely ascending (the symbol's index)
  *   id1,id2 string, k = n/10 distinct       id3 string, 10 distinct
  *   id4,id5 int, k distinct                 id6 int, 10 distinct
  *   v1 int 1..5    v2 int 1..15    v3 double uniform [0,100), 6 dp
  *
  * Multiplicative hashing (the arithmetic of `graft.AsvProbe`) replaces the
  * reference's RNG so a frame is a pure function of (seed, row index,
  * salt). Row `i` of a timeseries is the minute `T0 + i` minutes; `salt` > 0
  * gives the same timestamps with different values, which is how updates
  * are made. Every operand stays below 2^63 for row indexes under 10^8 and
  * salts under 10^5, so the arithmetic never overflows under ANSI mode.
  */
final case class Gen(seed: Long, k: Long) {
  require(k >= 1)
  private val offset: Long = Math.floorMod(seed * 1000003L, 1000000000L)

  /** Rows `[start, start + n)` of the timeseries; `salt` is a column so one
    * frame can mix original and updated days.
    */
  def frame(spark: SparkSession, start: Long, n: Long, salt: Column = lit(0L)): DataFrame = {
    val i = col("id")
    val x = i + lit(offset) + salt * lit(7919L)
    spark.range(start, start + n).select(
      (lit(Gen.T0) + i * lit(Gen.MinuteNs)).as("ts"),
      format_string("id%09d", pmod(x * 2654435761L, lit(k))).as("id1"),
      format_string("id%09d", pmod(x * 40503L + 7, lit(k))).as("id2"),
      format_string("id%08d", pmod(x * 65537L, lit(10L))).as("id3"),
      pmod(x * 2246822519L, lit(k)).cast("int").as("id4"),
      pmod(x * 3266489917L + 13, lit(k)).cast("int").as("id5"),
      pmod(x, lit(10L)).cast("int").as("id6"),
      (pmod(x * 31L, lit(5L)) + 1).cast("int").as("v1"),
      (pmod(x * 37L, lit(15L)) + 1).cast("int").as("v2"),
      round(pmod(x * 2654435761L, lit(100000000L)).cast("double") / 1000000.0, 6).as("v3"))
  }

  /** Row `i` with `salt` computed on the JVM without Spark, in
    * [[Gen.Columns]] order: the closed form the checks compare the
    * program's output against. It repeats the arithmetic of [[frame]];
    * `ChecksSpec` pins the two to the same rows.
    */
  def row(i: Long, salt: Long = 0L): Seq[Any] = {
    val x = i + offset + salt * 7919L
    def h(mul: Long, add: Long, mod: Long): Long = Math.floorMod(x * mul + add, mod)
    val v3 = BigDecimal(h(2654435761L, 0, 100000000L).toDouble / 1000000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(Gen.ts(i), Gen.id(h(2654435761L, 0, k), 9), Gen.id(h(40503L, 7, k), 9),
      Gen.id(h(65537L, 0, 10), 8), h(2246822519L, 0, k).toInt, h(3266489917L, 13, k).toInt,
      h(1, 0, 10).toInt, (h(31, 0, 5) + 1).toInt, (h(37, 0, 15) + 1).toInt, v3)
  }

  /** The `id1` value of key number `j`, as the generator spells it. */
  def id1(j: Long): String = Gen.id(j, 9)
}

object Gen {
  val Columns: Seq[String] = Seq("ts", "id1", "id2", "id3", "id4", "id5", "id6", "v1", "v2", "v3")
  /** Positions in [[Gen.Columns]]. */
  val TS = 0; val ID1 = 1; val ID2 = 2; val ID3 = 3; val ID6 = 6; val V1 = 7; val V2 = 8; val V3 = 9

  /** 2020-01-01T00:00:00Z in ns. */
  val T0: Long = 1577836800L * 1000000000L
  val MinuteNs: Long = 60L * 1000000000L
  val DayRows: Int = 1440
  def ts(row: Long): Long = T0 + row * MinuteNs

  /** `"id"` and `n` zero-padded to `width` digits, as `format_string("id%0<width>d")`
    * spells it for n >= 0; built by hand because `String.format` would take
    * most of the time of generating expected rows.
    */
  def id(n: Long, width: Int): String = {
    val digits = n.toString
    val sb = new java.lang.StringBuilder(2 + math.max(width, digits.length)).append("id")
    var pad = width - digits.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(digits).toString
  }
}
