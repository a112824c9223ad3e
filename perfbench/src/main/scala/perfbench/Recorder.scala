package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task totals. */
final class StageAgg {
  var tasks = 0L; var failed = 0L; var retries = 0L; var empty = 0L
  var runMs = 0L; var cpuNs = 0L
  var shufRead = 0L; var shufWrite = 0L; var spill = 0L
  var inBytes = 0L; var inRows = 0L
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long,
                        stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, start: Long, end: Long)

/** Records what the program asks of Spark, from Spark's public listener
  * interfaces only: jobs (tagged with the job group the benchmark sets
  * per query), stages, task metrics, block storage, and the planning
  * phases of every SQL execution. Installed only in traced runs.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val stageAgg = mutable.HashMap[Int, StageAgg]()
  /** Planning phases (analysis, optimization, planning → ms) of the SQL
    * executions the program ran through Dataset actions, in arrival order.
    */
  val planPhases = mutable.ArrayBuffer[Map[String, Long]]()
  private val blocks = mutable.HashMap[String, Long]()
  private var stored = 0L
  private var peak = 0L

  /** Peak stored bytes since the last reset. Block additions are posted
    * to listeners but removals by unpersist are not, so the level is
    * re-based on the block manager's exact count at every reset and the
    * peak is an upper bound: the exact level at the reset plus every
    * block stored since.
    */
  def peakBytes: Long = synchronized(peak)
  def resetStored(exact: Long): Unit = synchronized {
    blocks.clear(); stored = exact; peak = exact
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, Clock.fromMs(e.time), -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromMs(e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.attemptNumber(),
      Clock.fromMs(i.submissionTime.getOrElse(0L)),
      Clock.fromMs(i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    if (e.taskInfo != null && (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative))
      a.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead == 0 &&
          m.shuffleReadMetrics.recordsRead == 0) a.empty += 1
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      stored += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      peak = math.max(peak, stored)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phasesOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phasesOf(qe)

  def phasesOf(qe: QueryExecution): Unit = synchronized {
    planPhases += qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
  }

  /** Hand over and forget everything recorded so far. */
  def drainJobs(): (Seq[JobRec], Seq[StageRec], Map[Int, StageAgg], Seq[Map[String, Long]]) =
    synchronized {
      val r = (jobs.values.toVector, stages.toVector, stageAgg.toMap, planPhases.toVector)
      jobs.clear(); stages.clear(); stageAgg.clear(); planPhases.clear()
      r
    }
}
