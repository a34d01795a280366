package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.model.{RunLevel, RunRow}
import graft.report.Reports
import graft.steps.{CommandType, StepSpec, TaskType}

/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * Generates the workload's inputs, sets the program up several times
  * (the median is `setup_s`), then drives one closed-loop client: the
  * next workflow run starts only after the previous one and its
  * monitoring read return. Untraced runs print the end-to-end metrics;
  * traced runs register the listeners, alternate traced and untraced
  * iterations, and print the per-layer metrics and self-time table.
  * The last stdout line is the result JSON.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      inputs: String, work: String, out: String)

  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  /** Timed runs at least, even past `--seconds`: the tail percentile follows
    * the sample count, and too few runs would let it slide from one step
    * kind to another between otherwise equal runs. */
  val MinRuns = 4

  /** `reads`: (ledger.latest, Reports.timeline collect) seconds per monitoring read. */
  final case class Iter(o: RunOutcome, traced: Boolean, reads: Seq[(Double, Double)],
      liveBefore: (Long, Long), liveAfter: (Long, Long), filesNew: Long)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, m.get("seconds").fold(0.0)(_.toDouble),
      m.get("trace").contains("1"), need("inputs"), m.getOrElse("work", ""), m.getOrElse("out", ""))
  }

  private def readFile(path: String): String =
    try scala.io.Source.fromFile(path).mkString.trim catch { case _: Throwable => "" }

  /** The machine the numbers come from; a contended run reads as contended. */
  def machineContext(a: Args, loadStart: Double): String = {
    val load = readFile("/proc/loadavg").split(" ").headOption.getOrElse("0")
    s"""{"load_avg_start":$loadStart,"load_avg_end":$load,""" +
      s""""cpus":${Runtime.getRuntime.availableProcessors},"boot_id":"${readFile("/proc/sys/kernel/random/boot_id")}",""" +
      s""""seed":${a.seed},"workload":"${a.workload}","seconds":${a.seconds},"trace":${if (a.trace) 1 else 0}}"""
  }

  def rssPeakMb(): Double =
    readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (files, bytes, paths) of the data files under `dirs`; names starting
    * with `_` or `.` (commit markers, checkpoints, checksums) are skipped. */
  def tree(dirs: Seq[String]): (Long, Long, Set[String]) = {
    import scala.jdk.CollectionConverters._
    val files = dirs.map(new File(_)).filter(_.exists()).flatMap { d =>
      val s = java.nio.file.Files.walk(d.toPath)
      try s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) &&
        !d.toPath.relativize(f).iterator().asScala.exists(n => n.toString.startsWith("_") ||
          n.toString.startsWith("."))).map(_.toFile).toSeq
      finally s.close()
    }
    (files.size.toLong, files.map(_.length()).sum, files.map(_.getPath).toSet)
  }

  /** Step kind for per-type accounting. */
  def kind(s: StepSpec): String = (s.befehlstyp, s.aufgabentyp) match {
    case (CommandType.SqlTarget | CommandType.SqlSource, _) => "sql"
    case (CommandType.Copy, TaskType.Pipeline) => "pipeline"
    case (CommandType.Copy, TaskType.Stream) => "stream"
    case (CommandType.Copy, TaskType.Maintenance) => "maintenance"
    case (CommandType.Copy, _) if s.zeitscheibe => "copy_sliced"
    case (CommandType.Copy, _) => "copy"
    case (CommandType.Transfer, TaskType.Csv) => "transfer_out"
    case (CommandType.Transfer, _) => "transfer_in"
    case _ => "other"
  }

  /** Per-layer times that read zero by construction on a workload without
    * that step kind, operator or stream. They are printed as detail but kept
    * out of the result JSON, whose per-layer set is measured on every
    * listed workload. */
  def detailOnly(name: String): Boolean =
    name.startsWith("operators.") ||
      (name.startsWith("steps.") && name.endsWith("_s") && name != "steps.sql_s" && name != "steps.exec_s") ||
      Set("streaming.batch_s", "streaming.plan_s", "streaming.commit_s", "streaming.first_batch_s")(name)

  val Kinds = Seq("sql", "copy", "copy_sliced", "transfer_in", "transfer_out", "pipeline", "stream", "maintenance")
  val Transforms = Seq("decontaminate", "repetition", "span_removal", "neardup_components", "neardup_prune",
    "dsir_select", "kmeans_train", "ivf_assign", "ann_search", "pruned_read",
    "bloom_ingest_stream", "neardup_admit_stream", "file_ingest_stream")

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Phase marks on stderr: seconds since the JVM started. */
  private def mark(what: String): Unit =
    System.err.println(f"perfbench phase: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")

  def main(argv: Array[String]): Unit = {
    mark("main")
    val a = parse(argv)
    val loadStart = readFile("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    val cpus = Runtime.getRuntime.availableProcessors
    val p = Gen.params(a.workload, a.seed)
    val wl = Workload(a.workload, p, a.inputs, a.work, cpus)
    println(s"perfbench ${a.workload}: ${p.describe} cpus=$cpus entry=${wl.entry}")

    // set-up, repeated: session build, catalog registration, engine or
    // runner start. The last session is the measured one; its first
    // workflow run is the warm-up, which set-up time includes.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupFailures = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    (1 to Setups).foreach { _ =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = Sessions.local()
      wl.setup(spark)
      setupS += (System.nanoTime() - s0) / 1e9
    }
    // warm-up: the first workflow run counts toward set-up time, so work
    // moved from runs into lazy first-run initialization still shows
    val warm = iteration(wl, spark, -1, traced = false, None)
    val warmS = (warm.o.endUs - warm.o.startUs) / 1e6
    if (!warm.o.ok) setupFailures += s"warm-up run failed: ${warm.o.error.getOrElse("")}"
    println(s"set-up runs: ${setupS.map(x => f"$x%.3f").mkString(" ")} s; warm-up run ${"%.3f".format(warmS)} s")
    mark("setup")

    val probe = if (a.trace) { val pr = new Probe; pr.register(spark); Some(pr) } else None
    wl.probe = probe

    val iters = mutable.ArrayBuffer.empty[Iter]
    val loopStart = System.nanoTime()
    var i = 0
    while (i < MinRuns || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      val it = iteration(wl, spark, i, a.trace && i % 2 == 0, probe)
      iters += it
      if (!it.o.ok) println(s"run $i failed: ${it.o.error.getOrElse("")}")
      i += 1
    }
    Thread.sleep(300) // let the listener bus deliver the last run's events

    val c0 = System.nanoTime()
    val checkFailures = scala.util.Try(wl.check()).fold(
      e => { e.printStackTrace(); Seq(s"check threw: $e") }, identity)
    println(f"checks in ${(System.nanoTime() - c0) / 1e9}%.2f s")
    mark("checks")
    (setupFailures ++ checkFailures).foreach(f => println(s"CHECK FAILED: $f"))
    wl match {
      case c: CurationAnn => println(f"ann recall@${c.TopK} = ${c.lastRecall}%.4f (floor ${c.RecallFloor})")
      case _ => ()
    }

    val attempted = iters.size
    val failedRuns = iters.count(!_.o.ok)
    val failed = math.min(attempted, failedRuns + setupFailures.size + checkFailures.size)
    val correct = failed == 0
    println(f"fail_ratio = $failed/$attempted = ${failed.toDouble / attempted}%.4f")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(wl, iters.toSeq, Stats.median(setupS.toSeq) + warmS)
      else perLayer(wl, iters.toSeq, probe.get, a)
    metrics.foreach { case (n, v, u) =>
      println(f"  $n%-32s $v%14.6f $u${if (detailOnly(n)) "  (detail)" else ""}") }
    val ctx = machineContext(a, loadStart)
    println(s"""{"context":$ctx}""")
    val json = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.filterNot(m => detailOnly(m._1)).map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",") + "}}"
    new File(a.out).mkdirs()
    val res = new PrintWriter(s"${a.out}/${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    try res.println(s"""{"context":$ctx,"result":$json}""") finally res.close()
    spark.stop()
    mark("stopped")
    println(json)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** One closed-loop iteration: untimed preparation, the timed workflow
    * call, then the monitoring read the operator's app waits for (taken
    * three times, as the app polls). Traced iterations also list the
    * warehouse tree before and after the call. */
  def iteration(wl: Workload, spark: SparkSession, i: Int, traced: Boolean, probe: Option[Probe]): Iter = {
    wl.beforeRun(i)
    val (lf, lb, before) = if (traced) tree(wl.warehouseDirs) else (0L, 0L, Set.empty[String])
    probe.foreach(_.enabled = traced)
    val o = wl.run(i)
    probe.foreach(_.enabled = false)
    val (af, ab, after) = if (traced) tree(wl.warehouseDirs) else (0L, 0L, Set.empty[String])
    val reads = (1 to 3).map { _ =>
      val m0 = System.nanoTime()
      val latest = wl.ledger.latest(spark)
      val m1 = System.nanoTime()
      Reports.timeline(latest).collect()
      ((m1 - m0) / 1e9, (System.nanoTime() - m1) / 1e9)
    }
    Iter(o, traced, reads, (lf, lb), (af, ab), (after -- before).size)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def us(t: java.time.LocalDateTime): Long = Workload.epochUs(t)

  /** Ledger rows of one workflow run (the workflow row included). */
  private def rowsOf(wl: Workload, wf: Long): Seq[RunRow] =
    wl.ledger.current.filter(r => r.id == wf || r.workflowRunId.contains(wf))

  def endToEnd(wl: Workload, iters: Seq[Iter], setupS: Double): Seq[(String, Double, String)] = {
    val ok = iters.filter(_.o.ok)
    val wf = ok.map(it => (it.o.endUs - it.o.startUs) / 1e6)
    val stepRows = ok.flatMap(it => rowsOf(wl, it.o.wfRunId.get)).filter(_.level == RunLevel.Schritt)
    val stepS = stepRows.flatMap(r => for (s <- r.startzeitpunkt; e <- r.endzeitpunkt) yield (us(e) - us(s)) / 1e6)
    val wall = wf.sum
    val wfTail = Stats.tail(wf)
    val stepTail = Stats.tail(stepS)
    println(s"wf samples: ${wf.map(x => f"$x%.3f").mkString(" ")}")
    val monitor = iters.flatMap(_.reads.map { case (l, t) => l + t })
    println(s"monitor samples: ${monitor.map(x => f"$x%.3f").mkString(" ")}")
    println(s"wf samples n=${wf.size}, tail at p${wfTail.percentile} (ten beyond: ${wfTail.ruleMet}); " +
      s"step samples n=${stepS.size}, tail at p${stepTail.percentile} (ten beyond: ${stepTail.ruleMet})")
    val rows = stepRows.flatMap(_.erwarteteDaten).sum
    println(s"timed wall ${"%.3f".format(wall)} s over ${ok.size} runs, ${stepRows.size} steps, $rows rows written")
    def or0(xs: Seq[Double])(f: Seq[Double] => Double) = if (xs.isEmpty) 0.0 else f(xs)
    Seq(
      ("setup_s", setupS, "s"),
      ("wf_p50_s", or0(wf)(Stats.median), "s"),
      ("wf_tail_s", if (wf.isEmpty) 0.0 else wfTail.value, "s"),
      ("step_p50_s", or0(stepS)(Stats.median), "s"),
      ("step_tail_s", if (stepS.isEmpty) 0.0 else stepTail.value, "s"),
      ("steps_per_s", if (wall > 0) stepRows.count(_.erfolgreich) / wall else 0.0, "1/s"),
      ("rows_per_s", if (wall > 0) rows / wall else 0.0, "1/s"),
      ("monitor_p50_s", or0(monitor)(Stats.median), "s"),
      ("rss_peak_mb", rssPeakMb(), "MB"))
  }

  /** A span of the trace tree, times in real epoch microseconds. */
  final case class Span(run: Int, layer: String, id: String, parent: Option[String], name: String,
      start: Long, end: Long) {
    def iv: Stats.Iv = Stats.Iv(start, end)
  }

  def perLayer(wl: Workload, iters: Seq[Iter], probe: Probe, a: Args): Seq[(String, Double, String)] = {
    import Probe._
    val traced = iters.zipWithIndex.filter { case (it, _) => it.traced && it.o.ok }
    val untraced = iters.filter(it => !it.traced && it.o.ok)
    val nT = math.max(1, traced.size)
    val stepSpec = wl.steps.map(s => s.id -> s).toMap
    val jobs = probe.jobs.toArray(Array.empty[JobRec]).toSeq
    val stages = probe.stages.toArray(Array.empty[StageRec]).toSeq
    val tasks = probe.tasks.toArray(Array.empty[TaskRec]).toSeq
    val queries = probe.queries.toArray(Array.empty[QueryRec]).toSeq
    val starts = probe.streamStarts.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    val progress = probe.progress.toArray(Array.empty[ProgressRec]).toSeq

    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val spans = mutable.ArrayBuffer.empty[Span]
    var labelled, contained, loose = 0
    val accountErr = mutable.ArrayBuffer.empty[Double]
    var writtenBytes = 0.0; var growth = 0.0

    traced.foreach { case (it, runIdx) =>
      val o = it.o
      val wfId = o.wfRunId.get
      val rows = rowsOf(wl, wfId)
      def real(t: java.time.LocalDateTime): Long = us(t) - o.offsetUs
      def span(r: RunRow, execOnly: Boolean = false): Stats.Iv =
        if (execOnly) Stats.Iv(real(r.ausfuehrungsstartzeitpunkt.get), real(r.ausfuehrungsendzeitpunkt.get))
        else Stats.Iv(real(r.anforderungszeitpunkt), real(r.endzeitpunkt.get))
      val wfRow = rows.find(_.id == wfId).get
      val wfIv = span(wfRow)
      val window = Stats.Iv(o.startUs, o.endUs)
      val wall = window.length
      val steps = rows.filter(_.level == RunLevel.Schritt)
      val pkgs = rows.filter(_.level == RunLevel.Paket)
      val reals = rows.filter(_.level == RunLevel.Umsetzung)
      val stepExec = steps.map(r => r.id -> span(r, execOnly = true)).toMap

      add("service.tick_overhead_s", (wall - wfIv.length) / 1e6)
      val orchOverhead = Stats.gap(wfIv, stepExec.values.toSeq)
      add("orchestrate.overhead_s", orchOverhead / 1e6)
      accountErr += (Stats.covered(wfIv, stepExec.values.toSeq) + orchOverhead + (wall - wfIv.length) - wall) / 1e6
      add("orchestrate.gate_wait_s", steps.map(r => real(r.ausfuehrungsstartzeitpunkt.get) - real(r.startzeitpunkt.get)).sum / 1e6)
      add("orchestrate.steps_run", steps.size)
      add("orchestrate.packages_run", pkgs.size)
      add("ledger.events", wl.ledger.events.count(r => r.id == wfId || r.workflowRunId.contains(wfId)))
      add("ledger.latest_s", Stats.median(it.reads.map(_._1)))
      add("report.timeline_s", Stats.median(it.reads.map(_._2)))
      steps.foreach { r =>
        val spec = stepSpec(r.refId)
        val k = kind(spec)
        val ex = stepExec(r.id).length / 1e6
        add(s"steps.${k}_s", ex); add(s"steps.${k}_n", 1); add("steps.exec_s", ex)
        if (k == "pipeline" || k == "stream") add(s"operators.${spec.befehl.trim.split("\\s+").head}_s", ex)
      }
      add("steps.rows_out", steps.flatMap(_.erwarteteDaten).sum.toDouble)

      def inWin(t: Long) = t >= window.start && t <= window.end
      val runJobs = jobs.filter(j => inWin(j.startUs))
      val runTasks = tasks.filter(t => inWin(t.endUs))
      add("spark.jobs", runJobs.size)
      add("spark.stages", stages.count(s => inWin(s.endUs)))
      add("spark.tasks", runTasks.size)
      add("spark.task_s", runTasks.map(_.runMs).sum / 1e3)
      add("spark.gc_s", runTasks.map(_.gcMs).sum / 1e3)
      add("spark.input_mb", runTasks.map(_.inBytes).sum / 1048576.0)
      add("spark.output_mb", runTasks.map(_.outBytes).sum / 1048576.0)
      add("spark.shuffle_write_mb", runTasks.map(_.shWrite).sum / 1048576.0)
      add("spark.shuffle_read_mb", runTasks.map(_.shRead).sum / 1048576.0)
      val covered = Stats.covered(window, runJobs.map(j => Stats.Iv(j.startUs, j.endUs)))
      add("spark.job_covered_s", covered / 1e6)
      add("driver.gap_s", (wall - covered) / 1e6)
      add("driver.gap_ratio", if (wall > 0) (wall - covered).toDouble / wall else 0.0)
      val runQ = queries.filter(q => inWin(q.atUs))
      add("catalyst.queries", runQ.size)
      add("catalyst.analysis_ms", runQ.map(_.analysisMs).sum.toDouble)
      add("catalyst.optimization_ms", runQ.map(_.optimizationMs).sum.toDouble)
      add("catalyst.planning_ms", runQ.map(_.planningMs).sum.toDouble)
      val runP = progress.filter(pr => inWin(pr.atUs))
      add("streaming.queries", starts.count(inWin))
      add("streaming.batches", runP.size)
      add("streaming.rows_in", runP.map(_.rows).sum.toDouble)
      add("streaming.batch_s", runP.map(_.triggerMs).sum / 1e3)
      add("streaming.plan_s", runP.map(_.planMs).sum / 1e3)
      add("streaming.commit_s", runP.map(_.commitMs).sum / 1e3)
      add("streaming.first_batch_s", runP.groupBy(_.query).values.map(_.minBy(_.atUs).triggerMs).sum / 1e3)
      val lastPerQuery = runP.groupBy(_.query).values.map(_.maxBy(_.atUs))
      add("streaming.state_rows", lastPerQuery.map(_.stateRows).sum.toDouble)
      add("streaming.state_mb", lastPerQuery.map(_.stateBytes).sum / 1048576.0)
      val written = runTasks.map(_.outBytes).sum.toDouble
      add("catalog.files_written", it.filesNew.toDouble)
      add("catalog.bytes_written_mb", written / 1048576.0)
      add("catalog.live_files", it.liveAfter._1.toDouble)
      add("catalog.live_mb", it.liveAfter._2 / 1048576.0)
      writtenBytes += written
      growth += math.max(1L, it.liveAfter._2 - it.liveBefore._2)

      // span tree: entry call > workflow > package > realization > step > job
      val rid = s"r$runIdx"
      spans += Span(runIdx, "service", s"$rid-call", None, wl.entry, window.start, window.end)
      spans += Span(runIdx, "workflow", s"$rid-w$wfId", Some(s"$rid-call"), s"workflow ${wfRow.refId}", wfIv.start, wfIv.end)
      pkgs.foreach(r => spans += Span(runIdx, "package", s"$rid-p${r.id}", Some(s"$rid-w$wfId"),
        s"package ${r.refId}", span(r).start, span(r).end))
      reals.foreach(r => spans += Span(runIdx, "realization", s"$rid-u${r.id}", r.paketRunId.map(x => s"$rid-p$x"),
        s"realization ${r.refId}", span(r).start, span(r).end))
      steps.foreach(r => spans += Span(runIdx, "step", s"$rid-s${r.id}", r.umsetzungRunId.map(x => s"$rid-u$x"),
        s"step ${r.refId} ${kind(stepSpec(r.refId))}", span(r).start, span(r).end))
      runJobs.foreach { j =>
        val slack = 2000L
        def holds(id: Long) = stepExec.get(id).exists(iv => j.startUs >= iv.start - slack && j.startUs <= iv.end + slack)
        val byLabel = j.label.flatMap(_.toLongOption).filter(holds)
        val owner = byLabel.orElse {
          stepExec.collect { case (id, iv) if j.startUs >= iv.start && j.startUs <= iv.end => id }.toSeq.sorted.headOption
        }
        if (byLabel.isDefined) labelled += 1 else if (owner.isDefined) contained += 1 else loose += 1
        spans += Span(runIdx, "spark_job", s"$rid-j${j.id}",
          Some(owner.fold(s"$rid-w$wfId")(x => s"$rid-s$x")), s"job ${j.id}", j.startUs, j.endUs)
      }
    }

    // self time per layer
    val byParent = spans.groupBy(_.parent)
    val layers = Seq("service", "workflow", "package", "realization", "step", "spark_job")
    val self = spans.map(s => s -> Stats.selfTime(s.iv, byParent.getOrElse(Some(s.id), Nil).map(_.iv).toSeq)).toMap
    val wallTotal = traced.map { case (it, _) => it.o.endUs - it.o.startUs }.sum.toDouble
    println(f"self time per layer over ${traced.size} traced runs (per run, share of entry-call wall):")
    println(f"  ${"layer"}%-12s ${"spans"}%8s ${"span_s"}%10s ${"self_s"}%10s ${"self_%"}%8s")
    layers.foreach { l =>
      val ss = spans.filter(_.layer == l)
      val tot = ss.map(_.iv.length).sum
      val sf = ss.map(self).sum
      println(f"  $l%-12s ${ss.size.toDouble / nT}%8.1f ${tot / 1e6 / nT}%10.4f ${sf / 1e6 / nT}%10.4f ${100 * sf / math.max(1.0, wallTotal)}%7.1f%%")
      acc(s"self.${l}_s") = sf / 1e6 / nT
    }
    println(s"job attribution: $labelled by step label, $contained by time containment, $loose outside any step")
    if (accountErr.nonEmpty)
      println(f"accounting: step cover + orchestrate overhead + entry overhead - wall = max |${accountErr.map(math.abs).max}%.6f| s")
    val tracedP50 = if (traced.isEmpty) 0.0 else Stats.median(traced.map { case (it, _) => (it.o.endUs - it.o.startUs) / 1e6 })
    val untracedP50 = if (untraced.isEmpty) tracedP50 else Stats.median(untraced.map(it => (it.o.endUs - it.o.startUs) / 1e6))
    println(f"tracing overhead: traced wf_p50 $tracedP50%.4f s - untraced wf_p50 $untracedP50%.4f s = ${tracedP50 - untracedP50}%.4f s")

    // span dump
    new File(a.out).mkdirs()
    val dump = new PrintWriter(s"${a.out}/${a.workload}-seed${a.seed}-spans.jsonl")
    try spans.foreach(s => dump.println(
      s"""{"run":${s.run},"layer":"${s.layer}","id":"${s.id}","parent":${s.parent.fold("null")(x => "\"" + x + "\"")},""" +
        s""""name":"${s.name}","start_us":${s.start},"end_us":${s.end},"self_us":${self(s)}}"""))
    finally dump.close()

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def m(n: String, unit: String, mean: Boolean = true): Unit =
      out += ((n, if (mean) acc(n) / nT else acc(n), unit))
    m("service.tick_overhead_s", "s"); m("orchestrate.overhead_s", "s"); m("orchestrate.gate_wait_s", "s")
    m("orchestrate.steps_run", "count"); m("orchestrate.packages_run", "count")
    m("ledger.events", "count"); m("ledger.latest_s", "s"); m("report.timeline_s", "s")
    m("steps.exec_s", "s")
    Kinds.foreach { k => m(s"steps.${k}_s", "s"); m(s"steps.${k}_n", "count") }
    m("steps.rows_out", "count")
    Transforms.foreach(t => m(s"operators.${t}_s", "s"))
    Seq("queries" -> "count", "batches" -> "count", "rows_in" -> "count", "batch_s" -> "s", "plan_s" -> "s",
      "commit_s" -> "s", "first_batch_s" -> "s", "state_rows" -> "count", "state_mb" -> "MB")
      .foreach { case (n, u) => m(s"streaming.$n", u) }
    m("catalog.files_written", "count"); m("catalog.bytes_written_mb", "MB")
    m("catalog.live_files", "count"); m("catalog.live_mb", "MB")
    out += (("catalog.write_amp", if (growth > 0) writtenBytes / growth else 0.0, "ratio"))
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_s" -> "s", "gc_s" -> "s",
      "input_mb" -> "MB", "output_mb" -> "MB", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
      "job_covered_s" -> "s").foreach { case (n, u) => m(s"spark.$n", u) }
    m("driver.gap_s", "s"); m("driver.gap_ratio", "ratio")
    m("catalyst.queries", "count"); m("catalyst.analysis_ms", "ms"); m("catalyst.optimization_ms", "ms")
    m("catalyst.planning_ms", "ms")
    layers.foreach(l => m(s"self.${l}_s", "s", mean = false))
    out += (("trace.overhead_s", tracedP50 - untracedP50, "s"))
    out.toSeq
  }
}

/** Input generation in a JVM of its own, so the measured JVM starts
  * equally cold whether or not the inputs of a seed were generated
  * before: `perfbench.GenMain --workload <name> --seed <n> --inputs <dir>
  * --work <dir>` (the generated config names warehouse paths in `work`). */
object GenMain {
  def main(argv: Array[String]): Unit = {
    val a = Main.parse(argv)
    val t0 = System.nanoTime()
    val spark = Sessions.local()
    Workload(a.workload, Gen.params(a.workload, a.seed), a.inputs, a.work, Runtime.getRuntime.availableProcessors)
      .prepare(spark)
    spark.stop()
    println(f"inputs generated in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
