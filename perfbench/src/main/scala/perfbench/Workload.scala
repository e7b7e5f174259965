package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Graft, Library}

/** One workload: a set-up that builds its inputs, and a round, a fixed
  * sequence of operations that the run repeats until its time is up.
  */
trait Workload {
  /** Build the inputs in a new library named `libName`; the rounds use the
    * library of the last call.
    */
  def setup(libName: String): Unit
  def round(r: Run): Unit
  /** Untimed rounds before the timed ones, the first with `r.checking` on.
    * A round's operations needed two untimed runs before they ran at a
    * steady speed: after only one, the first timed round ran about 25%
    * slower than the next.
    */
  def warmupRounds: Int = 2
  /** End-of-run checks. */
  def finish(r: Run): Unit
  /** The symbol the rounds read, and its library. */
  def mainSymbol: (Library, String)
  /** The symbol whose storage cost is reported, and its library. */
  def storedSymbol: (Library, String)
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes on disk under a symbol (data, manifests, sidecars) per live row
    * of its latest version.
    */
  def storedBytesPerRow(spark: SparkSession, lib: Library, symbol: String): Double = {
    val dir = new Path(lib.root, symbol)
    val bytes = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(dir).getLength
    bytes.toDouble / lib.resolveVersion(symbol).rowCount
  }

  def apply(name: String, spark: SparkSession, graft: Graft, seed: Long): Workload = name match {
    case "daily_ingest" => new DailyIngest(spark, graft, seed)
    case "asv_scan" => new AsvScan(spark, graft, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
