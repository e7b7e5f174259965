package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.core.{Graft, Library}
import graft.core.Library.AsOf
import graft.query.{Expr, QueryBuilder}

/** `daily_ingest`: a minutely timeseries that grows one day (1,440 rows)
  * at a time on top of a 360,000-row history. Each round simulates
  * [[DailyIngest.DaysPerRound]] days; each day appends the day, reads it
  * and the day before back by date range through the warm handle, runs
  * two per-day reports through `readQuery`, and reads a past day as of an
  * older version through a freshly opened handle. Each round then updates
  * two interior days of the history and reads the whole symbol once. Operations are
  * small, so the fixed cost of Spark jobs, the commit path and manifest
  * resolution set their time.
  *
  * Every result is checked against rows made on the JVM by [[Gen.row]],
  * never read back through `Library`: a day's expected rows are those of
  * the generator with the salt of the day's latest update at or before the
  * version read.
  */
final class DailyIngest(spark: SparkSession, graft: Graft, seed: Long) extends Workload {
  import DailyIngest._

  private val gen = Gen(seed, BaseDays * Gen.DayRows / 10L)
  private val rng = new scala.util.Random(seed)
  private var libName = ""
  private var lib: Library = _
  private var days = 0
  private var version = -1
  /** Version in which each day first appeared. */
  private val dayVersion = mutable.ArrayBuffer.empty[Int]
  /** Per updated day: (version, salt) of each update, oldest first. */
  private val updates = mutable.Map.empty[Int, Vector[(Int, Long)]]
  private var lastSalt = 0L
  private val expectedRows = mutable.Map.empty[(Int, Long), Seq[Seq[Any]]]

  private def dayFrame(day: Int, salt: Long) =
    gen.frame(spark, day.toLong * Gen.DayRows, Gen.DayRows, lit(salt))
  private def dayRange(day: Int): (Long, Long) =
    (Gen.ts(day.toLong * Gen.DayRows), Gen.ts(day.toLong * Gen.DayRows + Gen.DayRows - 1))
  private def saltAt(day: Int, v: Int): Long =
    updates.getOrElse(day, Vector.empty).filter(_._1 <= v).lastOption.map(_._2).getOrElse(0L)
  private def expected(day: Int, salt: Long): Seq[Seq[Any]] =
    expectedRows.getOrElseUpdate((day, salt),
      (0 until Gen.DayRows).map(j => gen.row(day.toLong * Gen.DayRows + j, salt)))

  def setup(name: String): Unit = {
    libName = name
    lib = graft.createLibrary(name)
    val v = lib.write(Symbol, gen.frame(spark, 0, BaseDays.toLong * Gen.DayRows), Some("ts"))
    require(v == 0, s"base write committed version $v")
    days = BaseDays
    version = 0
    dayVersion.clear(); dayVersion ++= Seq.fill(BaseDays)(0)
    updates.clear()
  }

  private def fullReadRows: Long = days.toLong * Gen.DayRows
  def mainSymbol: (Library, String) = (lib, Symbol)
  def storedSymbol: (Library, String) = (lib, Symbol)

  private def committed(r: Run, what: String, got: Option[Int]): Option[Int] = {
    got.foreach { v => r.verify(Checks.nextVersion(what, version, v)); version = v }
    got
  }

  def round(r: Run): Unit = {
    for (j <- 0 until DaysPerRound) {
      val d = days
      committed(r, s"append day $d",
        r.commit(Kinds.Append, "append", Gen.DayRows) { lib.append(Symbol, dayFrame(d, 0)) })
        .foreach { v => dayVersion += v; days += 1 }
      val (lo, hi) = dayRange(d)

      // the new day and the day before it, back by date range
      for (rd <- Seq(d, d - 1)) {
        val (rlo, rhi) = dayRange(rd)
        r.probe("core.meta.resolve_s")(lib.resolveVersion(Symbol))
        r.read(Kinds.Read, "read_day", lib, Gen.DayRows) {
          lib.read(Symbol, dateRange = Some((rlo, rhi))).collect()
        }.foreach(rows => r.verify(Checks.sameRows(s"read day $rd", rows.map(_.toSeq).toSeq,
          expected(rd, saltAt(rd, version)))))
      }

      val inDay = QueryBuilder().filter(Expr.col("ts") >= Expr.lit(lo) && Expr.col("ts") <= Expr.lit(hi))
      r.read(Kinds.Query, "day_resample_1h", lib) {
        lib.readQuery(Symbol, inDay.resample("ts", "1h",
          Seq(("v1", "v1", "sum"), ("v3", "v3", "mean"), ("n", "v1", "count")))).collect()
      }.foreach(rows => r.verify(Checks.sameRows(s"hourly report of day $d",
        rows.map(_.toSeq).toSeq, hourly(expected(d, 0)))))
      r.read(Kinds.Query, "day_groupby_id6", lib) {
        lib.readQuery(Symbol, inDay.groupByAgg(Seq("id6"),
          Seq(("v1", "v1", "sum"), ("v2", "v2", "sum")))).collect()
      }.foreach(rows => r.verify(Checks.sameRows(s"id6 report of day $d",
        rows.map(_.toSeq).toSeq, byId6(expected(d, 0)))))

      // a past day as of an older version: on odd days the most recently
      // updated day, as of the version before that update; otherwise a base
      // day as of three commits ago. Both sit a similar depth back in the
      // history whatever the seed, so their cost does not depend on it.
      val (pd, pv) =
        if (j % 2 == 1 && updates.nonEmpty) {
          val (ud, hist) = updates.maxBy(_._2.last._1)
          (ud, hist.last._1 - 1)
        } else (rng.nextInt(BaseDays), math.max(0, version - 3))
      val (plo, phi) = dayRange(pd)
      r.probe("core.meta.resolve_cold_s")(graft.getLibrary(libName).resolveVersion(Symbol, AsOf.Version(pv)))
      r.read(Kinds.AsOf, "asof_read_day", lib, Gen.DayRows) {
        graft.getLibrary(libName).read(Symbol, AsOf.Version(pv), dateRange = Some((plo, phi))).collect()
      }.foreach(rows => r.verify(Checks.sameRows(s"day $pd as of v$pv",
        rows.map(_.toSeq).toSeq, expected(pd, saltAt(pd, pv)))))
    }

    for (_ <- 0 until UpdatesPerRound) {
      // the same interior days for every seed, so which files the
      // updates rewrite, and so the bytes they leave behind, do not
      // depend on it
      lastSalt += 1
      val ud = 1 + (lastSalt * 97 % (BaseDays - 2)).toInt
      val salt = lastSalt
      committed(r, s"update day $ud",
        r.commit(Kinds.Update, "update_day", Gen.DayRows) { lib.update(Symbol, dayFrame(ud, salt)) })
        .foreach(v => updates(ud) = updates.getOrElse(ud, Vector.empty) :+ (v -> salt))
    }

    r.fullRead(lib, fullReadRows) { Workload.noop(lib.read(Symbol)) }
  }

  def finish(r: Run): Unit = {
    r.verify(Checks.versions(Symbol, lib.listVersions(Symbol), version))
    r.verify {
      // the whole history: rows of every day with the salt of its latest update
      val rows = (0L until fullReadRows).iterator.map { i =>
        gen.row(i, updates.get((i / Gen.DayRows).toInt).map(_.last._2).getOrElse(0L))
      }
      Checks.compare("full read of the history", Checks.digest(lib.read(Symbol)),
        Checks.digestOf(Gen.Columns, Set("v3"), rows))
    }
  }
}

object DailyIngest {
  val Symbol = "ticks"
  /** 250 days of minutes: 360,000 rows. */
  val BaseDays = 250
  val DaysPerRound = 3
  val UpdatesPerRound = 2

  private val HourNs = 3600L * 1000000000L
  import Gen.{ID6, TS, V1, V2, V3}

  /** The hourly report computed from the generator's rows. */
  def hourly(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.groupBy(r => r(TS).asInstanceOf[Long] / HourNs * HourNs).toSeq.map { case (h, rs) =>
      Seq[Any](h, rs.map(_(V1).asInstanceOf[Int].toLong).sum,
        rs.map(_(V3).asInstanceOf[Double]).sum / rs.size, rs.size.toLong)
    }

  /** The id6 report computed from the generator's rows. */
  def byId6(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.groupBy(_(ID6)).toSeq.map { case (k, rs) =>
      Seq[Any](k, rs.map(_(V1).asInstanceOf[Int].toLong).sum, rs.map(_(V2).asInstanceOf[Int].toLong).sum)
    }
}
