package graft.ledger

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.report.Reports
import graft.testkit.SparkSupport

/** The maintained current-state view behind [[RunLedger.latest]]: row
  * parity with the event-history reduction it replaces, and the
  * monitoring read it serves running no Spark job.
  */
class RunLedgerSpec extends AnyFunSuite with SparkSupport {

  /** The reference reduction: latest `seq` per run id over the full
    * event history, with the same `Json_Log` projection. */
  private def windowLatest(ledger: RunLedger): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("seq").desc)
    val base = ledger.eventsDf(spark)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    base.withColumn("json_log", to_json(struct(base.columns.map(col): _*)))
  }

  /** Two workflow runs with the full four-level hierarchy, several
    * updates per row, expected-row counts, and a crash-closed tail. */
  private def busyLedger(): RunLedger = {
    var t = LocalDateTime.of(2026, 4, 1, 8, 0)
    val ledger = new RunLedger(() => { t = t.plusSeconds(1); t })
    for (wfRef <- Seq(1L, 2L)) {
      val wf = ledger.start(RunLevel.Workflow, wfRef, zeitplanAusfuehrungenId = Some(wfRef * 10))
      ledger.markStarted(wf); ledger.markExecuting(wf)
      val pk = ledger.start(RunLevel.Paket, 100 + wfRef, workflowRunId = Some(wf))
      ledger.markStarted(pk); ledger.markExecuting(pk)
      val um = ledger.start(RunLevel.Umsetzung, 200 + wfRef,
        workflowRunId = Some(wf), paketRunId = Some(pk), parallelsperre = true)
      ledger.markStarted(um); ledger.markExecuting(um)
      for (s <- 1 to 3) {
        val st = ledger.start(RunLevel.Schritt, 300 + s, workflowRunId = Some(wf),
          paketRunId = Some(pk), umsetzungRunId = Some(um))
        ledger.markStarted(st); ledger.markExecuting(st)
        ledger.recordExpectedRows(st, 1000L * s)
        ledger.markExecuted(st)
        // the second workflow's last step is still in flight at the crash
        if (!(wfRef == 2L && s == 3)) ledger.markFinished(st, success = s != 2)
      }
      if (wfRef == 1L) {
        Seq(um, pk, wf).foreach { id => ledger.markExecuted(id); ledger.markFinished(id, success = false) }
      }
    }
    ledger.message("crash", workflowRunId = Some(1L))
    assert(ledger.closeAllOpen() == 4) // wf 2, its package, realization, last step
    ledger
  }

  test("latest is row-for-row the window reduction of the event history, json_log included") {
    val ledger = busyLedger()
    assert(ledger.events.size > 3 * ledger.current.size, "several updates per row")
    val got = ledger.latest(spark)
    val want = windowLatest(ledger)
    assert(got.schema == want.schema)
    val gotRows = got.collect().sortBy(_.getAs[Long]("id")).toSeq
    val wantRows = want.collect().sortBy(_.getAs[Long]("id")).toSeq
    assert(gotRows.size == ledger.current.size)
    assert(gotRows == wantRows)
    // the rows carry the updates: expected rows, crash-closed flags
    val steps = gotRows.filter(_.getAs[String]("level") == RunLevel.Schritt)
    assert(steps.map(_.getAs[Long]("erwarteteDaten")).sum == 2 * (1000L + 2000L + 3000L))
    assert(gotRows.forall(_.getAs[Boolean]("istAbgeschlossen")))
    assert(gotRows.forall(r => r.getAs[String]("json_log").contains(s""""seq":${r.getAs[Int]("seq")}""")))
  }

  test("a monitoring read of the timeline runs no Spark job") {
    val ledger = busyLedger()
    val sc = spark.sparkContext
    val group = s"run-ledger-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    // counts only this thread's jobs: other suites' background queries
    // share the session
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet(); ()
        }
    }
    def jobsOf(body: => Any): Int = {
      jobs.set(0)
      sc.setJobGroup(group, "monitoring read")
      try body finally sc.clearJobGroup()
      Thread.sleep(300) // the listener bus is asynchronous
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      // the listener does see the window reduction's jobs
      assert(jobsOf(Reports.timeline(windowLatest(ledger)).collect()) > 0)
      var rows = 0
      assert(jobsOf { rows = Reports.timeline(ledger.latest(spark)).collect().length } == 0)
      assert(rows == ledger.current.size)
    } finally sc.removeSparkListener(listener)
  }
}
