package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one benchmark operation, from its own listener
  * events: jobs and the wall time they cover, tasks and their run time,
  * bytes in and out, and Catalyst's analysis + optimization + planning
  * time summed over the operation's query executions.
  */
final case class SparkWork(
    jobs: Int,
    sparkS: Double,
    tasks: Long,
    taskS: Double,
    inputBytes: Long,
    outputBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    planS: Double)

/** The benchmark's tracer: a `SparkListener` plus a
  * `QueryExecutionListener`, registered only for traced rounds. Events
  * accumulate until [[take]], which waits for the listener bus to deliver
  * everything posted so far and returns it as the work of the operation
  * that just ended. One client thread issues all operations, so nothing
  * else can have posted in between.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private var tasks = 0L
  private var taskMs = 0L
  private var inputBytes = 0L
  private var outputBytes = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnd(e.jobId) = e.time }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      taskMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    val phases = qe.tracker.phases
    planMs += Seq(ANALYSIS, OPTIMIZATION, PLANNING).flatMap(phases.get).map(_.durationMs).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    take()
  }

  def take(): SparkWork = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val spans = jobStart.toSeq.collect {
        case (id, s) if jobEnd.contains(id) => (s, jobEnd(id))
      }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      spans.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (spans.nonEmpty) covered += curE - curS
      val w = SparkWork(spans.size, covered / 1e3, tasks, taskMs / 1e3, inputBytes, outputBytes,
        shuffleWrite, spill, planMs / 1e3)
      jobStart.clear(); jobEnd.clear()
      tasks = 0; taskMs = 0; inputBytes = 0; outputBytes = 0; shuffleWrite = 0; spill = 0; planMs = 0
      w
    }
  }
}
