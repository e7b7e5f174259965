package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.core.Library

/** Operation kinds every workload runs; the per-layer metrics are
  * reported per kind. `read` is a date-range read through a warm handle,
  * `asof` a date-range read of an older version through a freshly opened
  * handle, `scan` a read of whole columns, `query` a `Library.readQuery`.
  */
object Kinds {
  val Write = "write"
  val Append = "append"
  val Update = "update"
  val Read = "read"
  val AsOf = "asof"
  val Query = "query"
  val Scan = "scan"
  val All: Seq[String] = Seq(Write, Append, Update, Read, AsOf, Query, Scan)
  val Commits: Seq[String] = Seq(Write, Append, Update)
  val Reads: Seq[String] = Seq(Read, AsOf, Query, Scan)
}

/** The state of one benchmark run: the wall time of every operation,
  * the checks' verdicts and, in traced rounds, the per-layer records.
  * A single client thread issues every call, one after another (a closed
  * loop with one client).
  */
final class Run(spark: org.apache.spark.sql.SparkSession) {
  import Run.CheckThreads
  /** Off during warm-up: operations run but are not counted. */
  var recording = false
  /** On in the first warm-up round, where workloads check every result. */
  var checking = false
  private var tracer: Option[Tracer] = None
  def traced: Boolean = tracer.isDefined

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Seconds spent in checks, kept out of every timing. */
  var checkS = 0.0

  /** Operation wall times, keyed both by kind and by operation name. */
  val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Operation names seen per kind, in first-seen order. */
  val names = mutable.Map.empty[String, mutable.LinkedHashSet[String]]
  /** Rows per second of each full read. */
  val scanRates = mutable.ArrayBuffer.empty[Double]
  /** Rows committed by write/append/update, and the seconds they took. */
  var rowsCommitted = 0L
  var commitS = 0.0
  private var roundWall = 0.0

  /** Traced-round records: per kind, (wall, Spark work) of each operation. */
  val work = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, SparkWork)]]
  /** Traced-round records of single values (spans, probes, pruning). */
  val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def add[T](m: mutable.Map[String, mutable.ArrayBuffer[T]], k: String, v: T): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty[T]) += v

  /** Run one round; returns the sum of its operations' wall times. */
  def round(traced: Boolean)(body: => Unit): Double = {
    if (traced) { val t = new Tracer(spark); t.register(); tracer = Some(t) }
    roundWall = 0.0
    try body
    finally if (traced) { tracer.foreach(_.unregister()); tracer = None }
    roundWall
  }

  /** Time one operation. A throw counts as a failed operation and is
    * reported on stderr; the run goes on.
    */
  def op[T](kind: String, name: String)(f: => T): Option[T] = {
    tracer.foreach(_.take()) // events of the checks before this operation
    if (recording) attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(f)
      catch {
        case NonFatal(e) =>
          if (recording) failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (recording && r.isDefined) {
      add(walls, kind, dt)
      add(walls, name, dt)
      names.getOrElseUpdate(kind, mutable.LinkedHashSet.empty[String]) += name
      roundWall += dt
      tracer.foreach(t => add(work, kind, (dt, t.take())))
    }
    r
  }

  /** A commit of `rows` rows: timed like [[op]] and counted for ingest
    * throughput.
    */
  def commit(kind: String, name: String, rows: Long)(f: => Int): Option[Int] = {
    val before = walls.get(kind).map(_.length).getOrElse(0)
    val r = op(kind, name)(f)
    if (recording && r.isDefined) {
      rowsCommitted += rows
      commitS += walls(kind)(before)
    }
    r
  }

  /** A read through `lib`; in traced rounds it also records the read's
    * pruning census (`Library.withQueryStats`): the files selected and,
    * for a date-range read returning `rowsOut` rows, the rows in them per
    * row returned.
    */
  def read[T](kind: String, name: String, lib: => Library, rowsOut: Long = 0L)(f: => T): Option[T] =
    if (!traced || !recording) op(kind, name)(f)
    else {
      var stats: Seq[Library.ReadStats] = Nil
      val r = op(kind, name) { val (v, s) = lib.withQueryStats(f); stats = s; v }
      if (r.isDefined && stats.nonEmpty) {
        add(layer, s"core.prune.$kind.files_selected", stats.map(_.filesRead).sum.toDouble)
        if (rowsOut > 0)
          add(layer, s"core.prune.$kind.rows_scanned_per_row", stats.map(_.rowsRead).sum.toDouble / rowsOut)
      }
      r
    }

  /** A read of every row of a symbol, `rows` of them. */
  def fullRead(lib: Library, rows: Long)(f: => Unit): Unit =
    read(Kinds.Scan, "full_read", lib)(f).foreach { _ =>
      if (recording) scanRates += rows / walls("full_read").last
    }

  /** A probe beside the operations: a call made and timed only in traced
    * rounds.
    */
  def probe(name: String)(f: => Any): Unit = if (traced && recording) span(name)(f)

  /** A span inside an operation; recorded only in traced rounds. */
  def span[T](name: String)(f: => T): T =
    if (!traced || !recording) f
    else {
      val t0 = System.nanoTime()
      val r = f
      add(layer, name, (System.nanoTime() - t0) / 1e9)
      r
    }

  /** Run a check outside every timed span. */
  def verify(what: => Option[String]): Unit = {
    val t0 = System.nanoTime()
    record(attempt(() => what))
    checkS += (System.nanoTime() - t0) / 1e9
  }

  private def attempt(c: () => Option[String]): Option[String] =
    try c()
    catch { case NonFatal(e) => Some(s"check raised $e") }

  private def record(failure: Option[String]): Unit =
    failure.foreach { e => errors += e; System.err.println(s"[perfbench] CHECK FAILED: $e") }

  private lazy val checkPool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
  private val inflight = mutable.ArrayBuffer.empty[java.util.concurrent.Future[Option[String]]]

  /** Start a check on a pool of its own, beside the warm-up round: each
    * check is a query, and running several at once overlaps their
    * scheduling and code-generation waits. [[awaitChecks]] collects them
    * before anything is timed.
    */
  def verifyLater(c: () => Option[String]): Unit =
    inflight += checkPool.submit(() => attempt(c))

  def awaitChecks(): Unit = {
    inflight.foreach(f => record(f.get()))
    inflight.clear()
  }

  def close(): Unit = {
    awaitChecks()
    checkPool.shutdown()
  }
}

object Run {
  val CheckThreads = 4
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
