package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.core.{Graft, Library}
import graft.core.Library.AsOf
import graft.query.{Expr, QueryBuilder}

/** `asv_scan`: one compact symbol of [[AsvScan.Rows]] rows, queried in the
  * shapes of the reference's ASV `query_builder` and `basic_functions`
  * suites (groupby q1/q3/q4/adv2/count, numeric, string-equality, isin and
  * regex filters, a projection, a 1h resample; full and column-subset
  * reads; five 10% date-range reads, each also as of version 0 through a
  * fresh handle), then a
  * bulk write of a fresh [[AsvScan.BulkRows]]-row symbol, a 10% append to
  * it and a 10% interior update of it. Operations are large, so Spark
  * execution and the Parquet layout set their time. It runs the same
  * `read` and write paths as `daily_ingest` in the opposite regime.
  *
  * Checks: in the first warm-up round every query and read result, and
  * the bulk symbol after its update, is digested and compared with the
  * digest of the same computation done on the JVM over [[Gen.row]] (never
  * through Spark, `Library` or `QueryBuilder`); every round checks each
  * commit's version and the bulk symbol's row count.
  */
final class AsvScan(spark: SparkSession, graft: Graft, seed: Long) extends Workload {
  import AsvScan._
  import Gen.{ID1, ID2, ID3, ID6, TS, V1, V2, V3}

  private val gen = Gen(seed, Rows / 10)
  private var libName = ""
  private var lib: Library = _
  private var roundNo = 0
  private var lastBulk = ""

  /** The 10% date ranges read each round, as (first row, row count). */
  private val windows: Seq[(Long, Long)] = Seq(5, 25, 45, 65, 85).map(p => (Rows * p / 100, Rows / 10))

  import Expr.{col => e, lit => l}
  private val eqKey = gen.id1(Math.floorMod(seed, Rows / 10))
  private val isinKeys: Seq[String] = (0L until Rows / 1000).map(j => gen.id1(j * 97 % (Rows / 10)))
  private val Regex = "^id00\\d{6}7$"

  private type Rows = Seq[Seq[Any]]
  /** The expected output of a query: its column names and rows. */
  private type Expected = Rows => (Seq[String], Rows)

  private def agg(key: Int, name: String, outs: String*)(f: Rows => Seq[Any]): Expected =
    rows => (name +: outs, rows.groupBy(_(key)).toSeq.map { case (k, rs) => k +: f(rs) })
  private def where(p: Seq[Any] => Boolean): Expected = rows => (Gen.Columns, rows.filter(p))
  private def longs(rs: Rows, j: Int) = rs.map(_(j).asInstanceOf[Int].toLong)
  private def doubles(rs: Rows, j: Int) = rs.map(_(j).asInstanceOf[Double])
  private val HourNs = 3600L * 1000000000L

  /** (name, query through QueryBuilder, the same query on the JVM). */
  private val queries: Seq[(String, QueryBuilder, Expected)] = Seq(
    ("groupby_q1", QueryBuilder().groupByAgg(Seq("id1"), Seq(("v1", "v1", "sum"))),
      agg(ID1, "id1", "v1")(rs => Seq(longs(rs, V1).sum))),
    ("groupby_q3", QueryBuilder().groupByAgg(Seq("id3"), Seq(("v1", "v1", "sum"), ("v3", "v3", "sum"))),
      agg(ID3, "id3", "v1", "v3")(rs => Seq[Any](longs(rs, V1).sum, doubles(rs, V3).sum))),
    ("groupby_q4", QueryBuilder().groupByAgg(Seq("id6"), Seq(("v1", "v1", "sum"), ("v2", "v2", "sum"))),
      agg(ID6, "id6", "v1", "v2")(rs => Seq(longs(rs, V1).sum, longs(rs, V2).sum))),
    ("groupby_adv2", QueryBuilder().groupByAgg(Seq("id3"), Seq(("v1", "v1", "max"), ("v2", "v2", "min"))),
      agg(ID3, "id3", "v1", "v2")(rs => Seq(longs(rs, V1).max, longs(rs, V2).min))),
    ("groupby_count", QueryBuilder().groupByAgg(Seq("id1"), Seq(("n", "v1", "count"))),
      agg(ID1, "id1", "n")(rs => Seq(rs.size.toLong))),
    ("filter_numeric", QueryBuilder().filter(e("v3") < l(1.0)),
      where(_(V3).asInstanceOf[Double] < 1.0)),
    ("filter_string_eq", QueryBuilder().filter(e("id1") === l(eqKey)),
      where(_(ID1) == eqKey)),
    ("filter_isin", QueryBuilder().filter(e("id1").isin(isinKeys: _*)),
      { val keys = isinKeys.toSet; where(r => keys(r(ID1).asInstanceOf[String])) }),
    ("filter_regex", QueryBuilder().filter(e("id2").regexMatch(Regex)),
      { val p = java.util.regex.Pattern.compile(Regex); where(r => p.matcher(r(ID2).asInstanceOf[String]).find()) }),
    ("projection", QueryBuilder().project("new_col", e("v2") * e("v3")),
      rows => (Gen.Columns :+ "new_col",
        rows.map(r => r :+ r(V2).asInstanceOf[Int].toDouble * r(V3).asInstanceOf[Double]))),
    ("resample_1h", QueryBuilder().resample("ts", "1h",
      Seq(("v1", "v1", "sum"), ("v3", "v3", "mean"), ("n", "v1", "count"))),
      rows => (Seq("ts", "v1", "v3", "n"),
        rows.groupBy(r => r(TS).asInstanceOf[Long] / HourNs * HourNs).toSeq.map { case (h, rs) =>
          Seq[Any](h, longs(rs, V1).sum, doubles(rs, V3).sum / rs.size, rs.size.toLong)
        })))

  def setup(name: String): Unit = {
    libName = name
    lib = graft.createLibrary(name)
    val v = lib.write(Symbol, gen.frame(spark, 0, Rows), Some("ts"))
    require(v == 0, s"base write committed version $v")
  }

  /** The checking round digests its reads instead of running them as no-op
    * writes, so two more rounds warm the timed form.
    */
  override def warmupRounds: Int = 3

  def mainSymbol: (Library, String) = (lib, Symbol)
  def storedSymbol: (Library, String) = (lib, lastBulk)

  /** Compare a result with its expected rows. The result is digested
    * here, as the operation of the checking round; the expected digest is
    * computed on the check pool.
    */
  private def check(r: Run, what: String, actual: => DataFrame, expected: => (Seq[String], Rows)): Unit =
    scala.util.Try(Checks.digest(actual)) match {
      case scala.util.Success(got) =>
        r.verifyLater { () =>
          val (cols, rows) = expected
          Checks.compare(what, got, Checks.digestOf(cols, DoubleCols, rows))
        }
      case scala.util.Failure(e) => r.verify(Some(s"$what raised $e"))
    }

  /** A read or query, materialised with a no-op write. In the checking
    * round it is digested and compared with `expected` instead; a later
    * warm-up round runs the no-op form before anything is timed.
    */
  private def readOp(r: Run, kind: String, name: String, rowsOut: Long = 0L)(
      actual: => DataFrame, expected: => (Seq[String], Rows)): Unit =
    if (r.checking) check(r, name, actual, expected)
    else r.read(kind, name, lib, rowsOut)(Workload.noop(actual))

  def round(r: Run): Unit = {
    // the base symbol's rows, made on the JVM for the warm-up checks
    lazy val base: Rows = (0L until Rows).map(gen.row(_))

    for ((name, q, plain) <- queries)
      readOp(r, Kinds.Query, name)(r.span("query.build_s")(lib.readQuery(Symbol, q)), plain(base))

    if (r.checking) check(r, "full_read", lib.read(Symbol), (Gen.Columns, base))
    else for (_ <- 0 until FullReads) r.fullRead(lib, Rows) { Workload.noop(lib.read(Symbol)) }
    val cols = Seq("ts", "id1", "v1", "v3")
    readOp(r, Kinds.Scan, "columns_read")(lib.read(Symbol, columns = Some(cols)),
      (cols, base.map(row => Seq(row(TS), row(ID1), row(V1), row(V3)))))

    for ((first, n) <- windows) {
      val (lo, hi) = (Gen.ts(first), Gen.ts(first + n - 1))
      def inRange = (Gen.Columns, base.slice(first.toInt, (first + n).toInt))
      r.probe("core.meta.resolve_s")(lib.resolveVersion(Symbol))
      readOp(r, Kinds.Read, "range_read", n)(lib.read(Symbol, dateRange = Some((lo, hi))), inRange)
      r.probe("core.meta.resolve_cold_s")(graft.getLibrary(libName).resolveVersion(Symbol, AsOf.Version(0)))
      readOp(r, Kinds.AsOf, "asof_read", n)(
        graft.getLibrary(libName).read(Symbol, AsOf.Version(0), dateRange = Some((lo, hi))), inRange)
    }

    // bulk write, 10% append and 10% interior update of a fresh symbol
    roundNo += 1
    val bulk = s"bulk$roundNo"
    lastBulk = bulk
    val salt = roundNo.toLong
    val (upLo, upN) = (BulkRows / 2, BulkRows / 10)
    val steps: Seq[(String, Long, () => Int)] = Seq(
      (Kinds.Write, BulkRows, () => lib.write(bulk, gen.frame(spark, 0, BulkRows, lit(salt)), Some("ts"))),
      (Kinds.Append, BulkRows / 10,
        () => lib.append(bulk, gen.frame(spark, BulkRows, BulkRows / 10, lit(salt)))),
      (Kinds.Update, upN, () => lib.update(bulk, gen.frame(spark, upLo, upN, lit(salt + 1000)))))
    var expectedVersion = 0
    for ((kind, rows, f) <- steps) {
      r.commit(kind, s"bulk_$kind", rows)(f()).foreach { v =>
        r.verify(Checks.nextVersion(s"bulk $kind", expectedVersion - 1, v))
        expectedVersion += 1
      }
    }
    val bulkRows = BulkRows + BulkRows / 10
    r.verify(Checks.rowCount(s"$bulk after the update", lib.resolveVersion(bulk).rowCount, bulkRows))
    if (r.checking)
      check(r, "bulk write, append and update", lib.read(bulk), (Gen.Columns,
        (0L until bulkRows).map(i => gen.row(i, if (i >= upLo && i < upLo + upN) salt + 1000 else salt))))
  }

  def finish(r: Run): Unit = ()
}

object AsvScan {
  val Symbol = "asv"
  val Rows: Long = 250000L
  val BulkRows: Long = 100000L
  /** Full reads per round: one takes ~0.1 s, too little for one sample a
    * round to be steady.
    */
  val FullReads = 3
  /** The double-valued columns of every checked result. */
  val DoubleCols: Set[String] = Set("v3", "new_col")
}
