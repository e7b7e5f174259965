package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a DataFrame: its row count, a hash sum over
  * the columns compared exactly (everything but doubles, integers widened
  * to long so `int` and `long` spellings of a value agree) and, per double
  * column, a plain sum and a sum weighted by the row's exact-column hash.
  * Doubles are compared with a relative tolerance because two correct
  * engines may add them in different orders; the weighted sum still
  * catches a value attached to the wrong key.
  */
final case class Digest(rows: Long, hash: Long, sums: Vector[Double])

/** The benchmark's correctness checks. Each returns `None` when the
  * program's output matches the expectation and `Some(reason)` otherwise;
  * none of them runs inside a timed span.
  */
object Checks {
  private val HashMod = 1000000007L
  private val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val (doubles, exact) = fields.partition(f => f.dataType == DoubleType || f.dataType == FloatType)
    val exactCols: Seq[Column] = exact.toSeq.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => col(f.name).cast(LongType)
        case StringType => col(f.name)
        case _ => col(f.name).cast(StringType)
      }
    }
    val h: Column =
      if (exactCols.isEmpty) lit(0L) else pmod(xxhash64(exactCols: _*), lit(HashMod))
    val weight = h.cast(DoubleType) / lit(HashMod.toDouble) + lit(1.0)
    val aggs: Seq[Column] = Seq(count(lit(1)), sum(h)) ++ doubles.toSeq.flatMap { f =>
      val x = col(f.name).cast(DoubleType)
      Seq(sum(x), sum(x * weight))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    Digest(
      r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      (2 until r.length).map(j => if (r.isNullAt(j)) 0.0 else r.getDouble(j)).toVector)
  }

  /** The [[digest]] of rows held on the JVM, computed without Spark:
    * `columns` names each row's values in order and `doubles` says which
    * columns are doubles. Spark's own xxhash64 routines are reused so the
    * exact-column hash equals the one [[digest]] computes in a query.
    */
  def digestOf(columns: Seq[String], doubles: Set[String], rows: IterableOnce[Seq[Any]]): Digest = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val order = columns.zipWithIndex.sortBy(_._1)
    val exact = order.filterNot(c => doubles(c._1)).map(_._2).toArray
    val dbl = order.filter(c => doubles(c._1)).map(_._2).toArray
    var n = 0L
    var hashSum = 0L
    val sums = new Array[Double](2 * dbl.length)
    for (r <- rows.iterator) {
      var h = 42L
      exact.foreach { j =>
        h = r(j) match {
          case s: String => XXH64.hashUTF8String(UTF8String.fromString(s), h)
          case v: Int => XXH64.hashLong(v.toLong, h)
          case v: Long => XXH64.hashLong(v, h)
          case v => XXH64.hashUTF8String(UTF8String.fromString(v.toString), h)
        }
      }
      val hm = if (exact.isEmpty) 0L else Math.floorMod(h, HashMod)
      val w = hm.toDouble / HashMod.toDouble + 1.0
      n += 1
      hashSum += hm
      dbl.indices.foreach { j =>
        val x = r(dbl(j)).asInstanceOf[Double]
        sums(2 * j) += x
        sums(2 * j + 1) += x * w
      }
    }
    Digest(n, hashSum, sums.toVector)
  }

  def compare(what: String, actual: Digest, expected: Digest): Option[String] =
    if (actual.rows != expected.rows)
      Some(s"$what: ${actual.rows} rows, expected ${expected.rows}")
    else if (actual.hash != expected.hash)
      Some(s"$what: exact-column hash ${actual.hash}, expected ${expected.hash}")
    else if (actual.sums.length != expected.sums.length ||
        actual.sums.zip(expected.sums).exists { case (a, e) => !close(a, e) })
      Some(s"$what: double-column sums ${actual.sums}, expected ${expected.sums}")
    else None

  private def widen(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case x => x
  }

  /** Row-by-row comparison of a collected result against rows computed
    * apart from the program. The first column must be a key (unique per
    * row); rows are matched after sorting on it.
    */
  def sameRows(what: String, actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Option[String] = {
    def canon(rs: Seq[Seq[Any]]) = rs.map(_.map(widen)).sortBy(_.head.toString)
    if (actual.length != expected.length)
      return Some(s"$what: ${actual.length} rows, expected ${expected.length}")
    canon(actual).zip(canon(expected)).zipWithIndex.collectFirst {
      case ((a, e), i) if a.length != e.length || a.zip(e).exists {
            case (x: Double, y: Double) => !close(x, y)
            case (x, y) => x != y
          } =>
        s"$what: row $i is ${a.mkString("(", ",", ")")}, expected ${e.mkString("(", ",", ")")}"
    }
  }

  def rowCount(what: String, got: Long, expected: Long): Option[String] =
    if (got == expected) None else Some(s"$what: $got rows, expected $expected")

  /** A symbol's history must hold every version from 0 to `latest`. */
  def versions(what: String, got: Seq[Int], latest: Int): Option[String] =
    if (got == (0 to latest)) None
    else Some(s"$what: versions ${got.take(5).mkString(",")}... (${got.size}), expected 0..$latest")

  /** A commit must take exactly the version after the one it was based on. */
  def nextVersion(what: String, prev: Int, got: Int): Option[String] =
    if (got == prev + 1) None else Some(s"$what: committed version $got, expected ${prev + 1}")
}
