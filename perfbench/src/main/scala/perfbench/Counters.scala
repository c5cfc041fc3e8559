package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of one window of work, taken as the difference of two
  * [[Counters]] snapshots. */
final case class Totals(jobs: Long, stages: Long, tasks: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
    bytesRead: Long, filesScanned: Long) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, spill - o.spill,
    bytesRead - o.bytesRead, filesScanned - o.filesScanned)
}

/** Counters the traced run reads: a `SparkListener` for jobs, stages,
  * tasks and task metrics, and a `QueryExecutionListener` for the files
  * each executed query's file scans touched. Registered by the
  * benchmark only, on the traced run only; the program is unchanged.
  */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var t = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => spans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1)
      else t.copy(tasks = t.tasks + 1,
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = t.spill + m.diskBytesSpilled,
        bytesRead = t.bytesRead + m.inputMetrics.bytesRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val files = Counters.fileScans(qe.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    synchronized { t = t.copy(filesScanned = t.filesScanned + files) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Current totals, once every event posted so far is delivered. */
  def snapshot(): Totals = {
    org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
    synchronized(t)
  }

  /** Seconds of the wall window [fromMs, toMs] in which no job ran: the
    * driver-side floor between the jobs of one call. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = {
    org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
    val inWindow = synchronized(spans.toList)
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var reach = fromMs
    inWindow.foreach { case (s, e) =>
      if (e > reach) { busy += e - math.max(s, reach); reach = e }
    }
    (toMs - fromMs - busy) / 1e3
  }
}

object Counters {
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other =>
      other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }
}
