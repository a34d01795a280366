package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's listeners, registered only in traced runs. They
  * record raw events in memory, stamped in epoch microseconds; events
  * are assigned to workflow runs afterwards by time, so the asynchronous
  * listener bus needs no flush inside the timed loop. `enabled` lets a
  * traced run interleave untraced iterations to measure the overhead.
  */
final class Probe {
  import Probe._

  @volatile var enabled: Boolean = false

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  val streamStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty(StepLabel))).orNull
      jobStart.put(e.jobId, (e.time * 1000L, label))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) jobs.add(JobRec(e.jobId, s._1, e.time * 1000L, Option(s._2)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.completionTime.getOrElse(System.currentTimeMillis()) * 1000L))
    }
    // streaming progress rides the context-wide bus, so queries started
    // on cloned sessions are seen too
    override def onOtherEvent(e: SparkListenerEvent): Unit = onStreamEvent(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(e.taskInfo.finishTime * 1000L, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead))
    }
  }

  def recordQuery(qe: QueryExecution): Unit = if (enabled) {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    queries.add(QueryRec(nowUs(), ms("analysis"), ms("optimization"), ms("planning")))
  }

  private def onStreamEvent(e: SparkListenerEvent): Unit = e match {
    case _: StreamingQueryListener.QueryStartedEvent if enabled => streamStarts.add(nowUs()); ()
    case pe: StreamingQueryListener.QueryProgressEvent if enabled =>
      val p = pe.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(ProgressRec(nowUs(), p.id.toString, p.batchId, p.numInputRows,
        d("triggerExecution"), d("queryPlanning"), d("walCommit") + d("commitOffsets"),
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
      ()
    case _ => ()
  }

  def register(s: SparkSession): Unit = {
    Probe.current = this
    s.sparkContext.addSparkListener(spark)
  }
}

object Probe {
  /** The probe [[CatalystListener]] reports to. */
  @volatile var current: Probe = null

  /** Local property the traced step-context factory sets on the step's
    * own thread; jobs submitted from it carry the step run id. */
  val StepLabel = "perfbench.step"

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  final case class JobRec(id: Int, startUs: Long, endUs: Long, label: Option[String])
  final case class StageRec(id: Int, endUs: Long)
  final case class TaskRec(endUs: Long, runMs: Long, gcMs: Long, inBytes: Long,
      outBytes: Long, outRecords: Long, shWrite: Long, shRead: Long)
  final case class QueryRec(atUs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class ProgressRec(atUs: Long, query: String, batch: Long, rows: Long,
      triggerMs: Long, planMs: Long, commitMs: Long, stateRows: Long, stateBytes: Long)
}

/** Catalyst phase listener. Spark instantiates it in every session, cloned
  * stream sessions included, when a traced run starts the JVM with
  * `spark.sql.queryExecutionListeners=perfbench.CatalystListener`. */
final class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Probe.current).foreach(_.recordQuery(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Probe.current).foreach(_.recordQuery(qe))
}
