package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.core.{Graft, GraftSession}

/** The benchmark's JVM entry point (`perfbench/run.py` builds and starts
  * it):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cpus <n>
  *
  * Set-up (the Spark session, then the workload's base data generated and
  * written three times into fresh libraries; `setup_s` is the session time
  * plus the median of the three) is followed by the workload's warm-up
  * rounds, the first of which checks every result, and then by whole
  * rounds until `--seconds` have passed. The
  * last stdout line is one JSON object: the end-to-end metrics with
  * `--trace 0`; with `--trace 1` the per-layer metrics, from rounds that
  * alternate untraced and traced.
  */
object Main {
  val SetupReps = 3

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s",
    "append_p50_s" -> "s", "update_p50_s" -> "s", "read_p50_s" -> "s", "asof_read_p50_s" -> "s",
    "query_total_s" -> "s", "scan_rows_per_s" -> "rows/s", "write_rows_per_s" -> "rows/s",
    "stored_bytes_per_row" -> "B")

  private val ExecFields: Seq[(String, String, SparkWork => Double)] = Seq(
    ("jobs", "count", _.jobs.toDouble),
    ("tasks", "count", _.tasks.toDouble),
    ("task_s", "s", _.taskS),
    ("input_bytes", "B", _.inputBytes.toDouble),
    ("shuffle_write_bytes", "B", _.shuffleWriteBytes.toDouble),
    ("spill_bytes", "B", _.spillBytes.toDouble))

  /** Per-layer metrics: name -> unit. */
  val PerLayer: Seq[(String, String)] =
    Kinds.All.flatMap(k => Seq(s"core.$k.spark_s" -> "s", s"core.$k.driver_s" -> "s")) ++
      Kinds.Commits.map(k => s"core.$k.output_bytes" -> "B") ++
      Seq("core.meta.resolve_s" -> "s", "core.meta.resolve_cold_s" -> "s",
        "core.meta.versions" -> "count", "core.meta.manifest_files" -> "count") ++
      Kinds.Reads.map(k => s"core.prune.$k.files_selected" -> "count") ++
      Seq(Kinds.Read, Kinds.AsOf).map(k => s"core.prune.$k.rows_scanned_per_row" -> "ratio") ++
      Seq("query.build_s" -> "s") ++
      Kinds.All.map(k => s"spark.plan_s.$k" -> "s") ++
      Kinds.All.flatMap(k => ExecFields.map { case (f, u, _) => s"spark.exec.$k.$f" -> u }) ++
      Seq("trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val cpus = opt("cpus").toInt

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val graft = new Graft(new java.io.File(work, "store").toURI.toString, spark)
    val w = Workload(workload, spark, graft, seed)
    val setupReps = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"lib$i")
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(setupReps)
    val r = new Run(spark)
    val warmRounds = (0 until w.warmupRounds).map { j =>
      r.checking = j == 0
      val t = System.nanoTime()
      r.round(traced = false)(w.round(r))
      (System.nanoTime() - t) / 1e9
    }
    r.checking = false
    val tw = System.nanoTime()
    r.awaitChecks()
    val checkWaitS = (System.nanoTime() - tw) / 1e9
    // the checks leave their expected rows behind as garbage; collect it
    // now rather than in the first timed round
    System.gc()

    r.recording = true
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && i % 2 == 1
      val wall = r.round(traced)(w.round(r))
      (if (traced) tracedWalls else untracedWalls) += wall
      i += 1
    }
    w.finish(r)
    r.close()

    def med(k: String): Double = r.walls.get(k).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val (slib, ssym) = w.storedSymbol
        val v = Map(
          "setup_s" -> setupS,
          "wall_s" -> Stats.median(untracedWalls.toSeq),
          "append_p50_s" -> med(Kinds.Append),
          "update_p50_s" -> med(Kinds.Update),
          "read_p50_s" -> med(Kinds.Read),
          "asof_read_p50_s" -> med(Kinds.AsOf),
          "query_total_s" -> r.names.getOrElse(Kinds.Query, Nil).iterator.map(med).sum,
          "scan_rows_per_s" -> Stats.median(r.scanRates.toSeq),
          "write_rows_per_s" -> r.rowsCommitted / r.commitS,
          "stored_bytes_per_row" -> Workload.storedBytesPerRow(spark, slib, ssym))
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val v = mutable.Map.empty[String, Double]
        def workMed(k: String, f: ((Double, SparkWork)) => Double): Double =
          r.work.get(k).map(xs => Stats.median(xs.map(f).toSeq)).getOrElse(0.0)
        for (k <- Kinds.All) {
          v(s"core.$k.spark_s") = workMed(k, _._2.sparkS)
          v(s"core.$k.driver_s") = workMed(k, x => x._1 - x._2.sparkS)
          v(s"spark.plan_s.$k") = workMed(k, _._2.planS)
          for ((f, _, get) <- ExecFields) v(s"spark.exec.$k.$f") = workMed(k, x => get(x._2))
        }
        for (k <- Kinds.Commits) v(s"core.$k.output_bytes") = workMed(k, _._2.outputBytes.toDouble)
        for ((n, xs) <- r.layer) v(n) = Stats.median(xs.toSeq)
        val (mlib, msym) = w.mainSymbol
        v("core.meta.versions") = mlib.listVersions(msym).size.toDouble
        v("core.meta.manifest_files") = mlib.resolveVersion(msym).files.size.toDouble
        v("trace.overhead_s") = Stats.median(tracedWalls.toSeq) - Stats.median(untracedWalls.toSeq)
        PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
      }
    spark.stop()

    System.err.println(f"[perfbench] $workload seed=$seed rounds=$i session=$sessionS%.2fs " +
      s"setup_reps=${setupReps.map(x => f"$x%.2f").mkString(",")} " +
      s"warmup_rounds=${warmRounds.map(x => f"$x%.2f").mkString(",")} " +
      f"check_wait=$checkWaitS%.2fs inline_checks=${r.checkS}%.2fs " +
      s"rounds_s=${(untracedWalls ++ tracedWalls).map(x => f"$x%.2f").mkString(",")}")
    val body = metrics.map { case (n, u, x) =>
      s""""$n": {"value": ${jsonNumber(x)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${r.errors.isEmpty}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$body}}""")
    sys.exit(0)
  }

  private def jsonNumber(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
}
