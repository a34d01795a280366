package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Service
import graft.catalog.{Tables, Warehouse}
import graft.ledger.RunLedger
import graft.macros.Macros
import graft.model._
import graft.orchestrate._
import graft.steps.{CommandType, StepContext, StepSpec, TaskType}

/** The bench clock: real time plus an offset the workload may jump
  * (the incremental schedule moves it one month per tick). Ledger rows
  * are stamped with it; subtracting the run's `offsetUs` maps them back
  * to real time. */
final class BenchClock {
  @volatile var offsetUs: Long = 0L
  def now(): LocalDateTime = {
    val us = Probe.nowUs() + offsetUs
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
      ZoneOffset.UTC)
  }
  def jumpTo(t: LocalDateTime): Unit = offsetUs = Workload.epochUs(t) - Probe.nowUs()
}

/** One timed workflow run as the client saw it. */
final case class RunOutcome(wfRunId: Option[Long], ok: Boolean, startUs: Long, endUs: Long,
    offsetUs: Long, error: Option[String])

/** A benchmark workload: generated inputs, a set-up that reaches the
  * program only through its public entry points, one closed-loop
  * workflow call per [[run]], and output checks that read results with
  * plain Spark instead of the program's own write path.
  */
abstract class Workload(val name: String, val p: Gen.Params, val inputs: String, val work: String,
    val cpus: Int) {
  implicit val ec: ExecutionContext = ExecutionContext.global

  /** Generated, read-only inputs; [[work]] holds everything the runs write. */
  val dataDir = s"$inputs/data"
  val clock = new BenchClock
  var spark: SparkSession = _
  var ledger: RunLedger = _
  /** The traced run's probe; when set, runner-driven workloads label each
    * step thread's jobs with the step run id. */
  var probe: Option[Probe] = None

  /** "engine" when runs go through `Service.Engine.tick`, else "runner". */
  def entry: String = "runner"

  /** Inputs beyond the catalog tables (drop files, arrival pools). */
  def prepareExtra(spark: SparkSession): Unit = ()

  final def prepare(spark: SparkSession): Unit = {
    Gen.catalog(spark, dataDir, p)
    prepareExtra(spark)
  }

  /** Fresh program state on an already built session: catalog
    * registration and engine/runner start. Part of the timed set-up. */
  def setup(spark: SparkSession): Unit

  /** Untimed per-run preparation (drop files, a fresh warehouse). */
  def beforeRun(i: Int): Unit = ()

  /** One workflow run through the public entry point; the caller times it. */
  def call(i: Int): Option[Long]

  /** Checks on everything the runs since the last [[setup]] produced;
    * returns the failures. */
  def check(): Seq[String]

  /** Warehouse directories whose files count toward the catalog metrics. */
  def warehouseDirs: Seq[String]

  /** The steps this workload's workflow runs, for per-type accounting. */
  def steps: Seq[StepSpec]

  /** One timed call; [[beforeRun]] must have been called first. */
  final def run(i: Int): RunOutcome = {
    val t0 = Probe.nowUs()
    val res = scala.util.Try(call(i))
    val t1 = Probe.nowUs()
    res match {
      case scala.util.Success(id) =>
        val row = id.flatMap(ledger.currentOf)
        val ok = row.exists(r => r.istAbgeschlossen && r.erfolgreich)
        val err = if (ok) None else Some(id.fold("workflow was not started")(w =>
          ledger.allErrors.filter(_.workflowRunId.contains(w)).map(_.meldungstext).mkString("; ")))
        RunOutcome(id, ok, t0, t1, clock.offsetUs, err)
      case scala.util.Failure(e) => RunOutcome(None, ok = false, t0, t1, clock.offsetUs, Some(e.toString))
    }
  }

  protected def newRunner(): WorkflowRunner =
    new WorkflowRunner(new WorkflowManager, ledger, new Gates.ThreadCap(cpus),
      new Gates.TableLocks, new Gates.ParallelLocks, () => clock.now())

  /** The `stepContext` factory handed to `WorkflowRunner.run`. It runs on
    * the step's own thread just before `Steps.execute`, so a traced run
    * labels that thread's Spark jobs with the step run id there. */
  protected def stepContext(wh: Warehouse): (Macros.Context, Option[Long], RealizationSpec) => StepContext =
    (m, stepRunId, real) => {
      if (probe.isDefined) stepRunId.foreach(id =>
        spark.sparkContext.setLocalProperty(Probe.StepLabel, id.toString))
      StepContext(spark, wh, ledger, m, schrittRunId = stepRunId, konfigurationenId = real.konfigurationenId)
    }

  protected def lastWorkflowRunId(): Option[Long] =
    ledger.current.filter(_.level == RunLevel.Workflow).map(_.id).maxOption

  protected def read(path: String): DataFrame = spark.read.parquet(path)

  /** Evaluate two expressions concurrently. */
  protected def both[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val fa = Future(a); val fb = Future(b)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** Run independent checks concurrently; each returns its failures. */
  protected def checks(cs: (() => Seq[String])*): Seq[String] = {
    val out = new Array[Seq[String]](cs.size)
    Gen.parallel(cs.indices.map(i => () => out(i) = cs(i)()))
    out.toSeq.flatten
  }

  protected def expectEq(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  /** Every ledger row of every level is closed and successful. */
  protected def ledgerClosed(): Seq[String] = {
    val bad = ledger.current.filterNot(r => r.istAbgeschlossen && r.erfolgreich)
    if (bad.isEmpty) Nil
    else Seq(s"${bad.size} ledger rows not closed successfully, e.g. ${bad.take(3).map(r => s"${r.level}#${r.refId}").mkString(", ")}")
  }

  /** Step rows of the ledger, current state. */
  protected def stepRows(refId: Long): Seq[RunRow] =
    ledger.current.filter(r => r.level == RunLevel.Schritt && r.refId == refId).sortBy(_.id)
}

object Workload {
  def epochUs(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def apply(name: String, p: Gen.Params, inputs: String, work: String, cpus: Int): Workload = name match {
    case "etl_incremental" => new EtlIncremental(p, inputs, work, cpus)
    case "bulk_backfill" => new BulkBackfill(p, inputs, work, cpus)
    case "curation_ann" => new CurationAnn(p, inputs, work, cpus)
    case "stream_admission" => new StreamAdmission(p, inputs, work, cpus)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def rmrf(f: File): Unit = if (f.exists())
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))

  /** Move the single part file under `dir` to `dst`, stamping `mtime`. */
  def movePart(dir: File, dst: File, mtime: Long): Unit = {
    val part = dir.listFiles().find(_.getName.startsWith("part-")).getOrElse(
      throw new IllegalStateException(s"no part file under $dir"))
    dst.getParentFile.mkdirs()
    Files.copy(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    require(dst.setLastModified(mtime), s"could not stamp $dst")
  }
}

/** Scheduled incremental ETL through `Service.Engine.tick`: a config
  * snapshot written as parquet, a monthly schedule, and a bench clock
  * that jumps one month per tick so the takeover window advances. */
final class EtlIncremental(p: Gen.Params, inputs: String, work: String, cpus: Int)
    extends Workload("etl_incremental", p, inputs, work, cpus) {
  override def entry = "engine"

  private val configDir = s"$inputs/config"
  private val dropPool = s"$inputs/drop_pool"
  private val dropCsv = s"$work/drop_csv"
  private val dropJsonl = s"$work/drop_jsonl"
  private val exportDir = s"$work/export"
  private val whDir = s"$work/wh"
  private var engine: Service.Engine = _
  /** Ticks of the current set-up: (tick date, drop file index). */
  private val ticks = scala.collection.mutable.ArrayBuffer.empty[(LocalDateTime, Int)]
  private val PoolSize = 16

  def warehouseDirs: Seq[String] = Seq(whDir)

  def steps: Seq[StepSpec] = config(whDir).schritte.map(r =>
    StepSpec(r.etlPaketschritteId, r.befehlstyp, r.aufgabentyp, r.befehl, r.zieltabelle, r.quelltabelle,
      r.zeitscheibe))

  private def windowSql(c: String): String =
    s"$c >= to_timestamp('##Uebernahme_von##', 'yyyyMMdd') AND " +
      s"$c < to_timestamp('##Uebernahme_bis##', 'yyyyMMdd') + INTERVAL 1 DAY"

  private def config(wh: String): ConfigSet = {
    val li = "inc_li"; val ord = "inc_ord"
    def step(id: Long, name: String, task: String, cmd: String, befehl: String,
        ziel: Option[String] = None, quelle: Option[String] = None, slice: Boolean = false) =
      SchrittRow(id, name, task, cmd, befehl, ziel, quelle, parallelsperre = false,
        zeitscheibe = slice, istAktiv = true)
    val steps = Seq(
      step(1101, "view lineitem", TaskType.Sql, CommandType.SqlTarget,
        s"CREATE OR REPLACE TEMP VIEW $li AS SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, " +
          "l_extendedprice, l_discount, l_returnflag, l_shipdate FROM lineitem"),
      step(1102, "view orders", TaskType.Sql, CommandType.SqlTarget,
        s"CREATE OR REPLACE TEMP VIEW $ord AS SELECT o_orderkey, o_custkey, o_totalprice, " +
          "o_orderdate, o_orderpriority FROM orders"),
      step(1103, "probe region", TaskType.Sql, CommandType.SqlSource,
        "SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE -1 END FROM region"),
      step(1201, "stage lineitem", TaskType.Sql, CommandType.Copy,
        s"SELECT * FROM $li WHERE l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
        ziel = Some("inc_stg_lineitem"), slice = true),
      step(1202, "stage returns", TaskType.Sql, CommandType.Copy,
        s"SELECT l_orderkey, l_quantity, l_extendedprice, l_shipdate FROM $li " +
          "WHERE l_returnflag = 'R' AND l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
        ziel = Some("inc_stg_returns"), slice = true),
      step(1301, "stage orders", TaskType.Sql, CommandType.Copy,
        s"SELECT * FROM $ord WHERE ${windowSql("o_orderdate")}", ziel = Some("inc_stg_orders")),
      step(1302, "stage urgent orders", TaskType.Sql, CommandType.Copy,
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM $ord WHERE o_orderpriority = '1-URGENT' " +
          s"AND ${windowSql("o_orderdate")}", ziel = Some("inc_stg_urgent")),
      step(1401, "ingest csv drop", TaskType.Sql, CommandType.Transfer, dropCsv, ziel = Some("inc_raw_csv")),
      step(1402, "ingest jsonl drop", TaskType.Jsonl, CommandType.Transfer, dropJsonl,
        ziel = Some("inc_raw_jsonl")),
      step(1501, "mart revenue", TaskType.Sql, CommandType.Copy,
        s"SELECT l.l_orderkey, o.o_custkey, l.l_extendedprice * (1 - l.l_discount) AS revenue, l.l_shipdate " +
          s"FROM $li l JOIN $ord o ON l.l_orderkey = o.o_orderkey WHERE ${windowSql("l.l_shipdate")}",
        ziel = Some("inc_mart_revenue")),
      step(1502, "mart daily", TaskType.Sql, CommandType.Copy,
        s"SELECT CAST(l_shipdate AS DATE) AS ship_day, COUNT(*) AS n_lines, SUM(l_quantity) AS qty " +
          s"FROM $li WHERE ${windowSql("l_shipdate")} GROUP BY 1",
        ziel = Some("inc_mart_daily")),
      step(1503, "probe staged lineitem", TaskType.Sql, CommandType.SqlSource,
        s"SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE -1 END FROM parquet.`$wh/inc_stg_lineitem`",
        quelle = Some("inc_stg_lineitem")),
      step(1601, "export lines", TaskType.Csv, CommandType.Transfer,
        s"SELECT l_orderkey, l_partkey, l_quantity, l_shipdate FROM $li WHERE ${windowSql("l_shipdate")}",
        ziel = Some(s"$exportDir/lines")),
      step(1602, "export urgent", TaskType.Csv, CommandType.Transfer,
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM $ord WHERE o_orderpriority = '1-URGENT' " +
          s"AND ${windowSql("o_orderdate")}", ziel = Some(s"$exportDir/urgent")))
    val cap = math.min(2, cpus)
    val pkgs = Seq(11L -> Seq(1101L, 1102L, 1103L), 12L -> Seq(1201L, 1202L), 13L -> Seq(1301L, 1302L),
      14L -> Seq(1401L, 1402L), 15L -> Seq(1501L, 1502L, 1503L), 16L -> Seq(1601L, 1602L))
    val deps = Seq(12L -> 11L, 13L -> 11L, 14L -> 11L, 15L -> 12L, 15L -> 13L, 15L -> 14L, 16L -> 15L)
    ConfigSet(
      workflows = Seq(WorkflowRow(1, 100, 16L, None, "incremental", None, None,
        uebernahmeTageRueckwirkend = Some(30), parallelsperre = false, istAktiv = true)),
      pakete = pkgs.map { case (id, _) => PaketRow(id, s"pkg$id", parallelsperre = false, istAktiv = true) },
      abhaengigkeiten = deps.map { case (a, b) => AbhaengigkeitRow(1, a, b, istAktiv = true) },
      umsetzungen = pkgs.map { case (id, _) =>
        UmsetzungRow(id * 10, if (id == 11L) math.min(3, cpus) else cap, None, parallelsperre = false,
          istAktiv = true, umsetzungsname = s"real${id * 10}") },
      paketUmsetzungen = pkgs.map { case (id, _) => PaketUmsetzungRow(1, id, id * 10, 1, None) },
      schritte = steps,
      umsetzungSchritte = pkgs.flatMap { case (id, ss) =>
        ss.zipWithIndex.map { case (s, i) => UmsetzungSchrittRow(id * 10, s, i + 1, Some(1)) } },
      zeitplaene = Seq(ZeitplanRow(100, LocalDateTime.of(1995, 1, 1, 2, 0), None, "Monat", "02:00:00",
        0, 0, anJedemTag = true, inJedemMonat = true, wochentage = Seq.empty, monate = Seq.empty,
        wocheDesMonats = 0, monatsletzter = false, sofortAusfuehrung = false)),
      konfigurationsparameter = Seq(KonfigurationsparameterRow("Anzahl_ETL_Threads", cpus.toString)))
  }

  override def prepareExtra(s: SparkSession): Unit = {
    writeConfig(s, config(whDir))
    // one seeded drop file per tick, in CSV and JSONL; sizes vary per file
    val rows = Gen.dropRows(s, p, PoolSize)
    Gen.parallel(Seq(
      () => rows.repartition(col("file")).write.partitionBy("file").option("header", "true").csv(s"$dropPool/csv"),
      () => rows.repartition(col("file")).write.partitionBy("file").json(s"$dropPool/jsonl")))
  }

  private def writeConfig(s: SparkSession, cfg: ConfigSet): Unit = {
    import s.implicits._
    def w[T](rows: Seq[T], n: String)(implicit e: org.apache.spark.sql.Encoder[T]): Unit =
      rows.toDS().coalesce(1).write.parquet(s"$configDir/$n")
    w(cfg.workflows, "workflows"); w(cfg.pakete, "pakete"); w(cfg.abhaengigkeiten, "abhaengigkeiten")
    w(cfg.umsetzungen, "umsetzungen"); w(cfg.paketUmsetzungen, "paket_umsetzungen")
    w(cfg.schritte, "schritte"); w(cfg.umsetzungSchritte, "umsetzung_schritte")
    w(cfg.zeitplaene, "zeitplaene"); w(cfg.konfigurationsparameter, "konfigurationsparameter")
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    Seq(whDir, dropCsv, dropJsonl, exportDir).foreach(d => Workload.rmrf(new File(d)))
    ticks.clear()
    // the config snapshot is the program's input, loaded through
    // Service.loadConfig like a deployed service
    val cfg = Service.loadConfig(s, configDir)
    engine = new Service.Engine(s, dataDir, whDir, cfg,
      cfg.workflows.map(w => w.etlWorkflowId -> w.etlZeitplaeneId).toMap, clock = () => clock.now())
    engine.start()
    ledger = engine.ledger
  }

  override def beforeRun(i: Int): Unit = {
    val k = ticks.size
    val fileIdx = k % PoolSize
    Workload.movePart(new File(s"$dropPool/csv/file=$fileIdx"), new File(s"$dropCsv/Insert/drop_$k.csv"),
      1700000000000L + k * 1000L)
    Workload.movePart(new File(s"$dropPool/jsonl/file=$fileIdx"),
      new File(s"$dropJsonl/Insert/drop_$k.jsonl"), 1700000000000L + k * 1000L)
    val month = LocalDateTime.of(1995, 1, 1, 1, 59, 58).plusMonths((p.startMonth + k).toLong)
    ticks += ((month, fileIdx))
    clock.jumpTo(month)
  }

  def call(i: Int): Option[Long] = {
    val before = lastWorkflowRunId()
    val ran = engine.tick(clock.now())
    val after = lastWorkflowRunId()
    if (ran.isEmpty || after == before) None else after
  }

  def check(): Seq[String] = {
    val ss = spark; import ss.implicits._
    val li = read(s"$dataDir/lineitem.parquet")
    val ord = read(s"$dataDir/orders.parquet")
    // tick k's takeover window: (tick date - 30 days) 00:00 .. tick date 23:59:59
    val windows = ticks.zipWithIndex.map { case ((t, f), k) =>
      (k, Workload.epochUs(t.toLocalDate.minusDays(30).atStartOfDay()) / 1000000L,
        Workload.epochUs(t.toLocalDate.atTime(23, 59, 59)) / 1000000L, f)
    }.toSeq
    val w = windows.map(x => (x._1, x._2, x._3)).toDF("k", "from_s", "to_s")
    def inWin(c: String) = unix_seconds(col(c)) >= col("from_s") && unix_seconds(col(c)) <= col("to_s")
    val (liExp, ordExp) = both(
      li.crossJoin(w).filter(inWin("l_shipdate")).groupBy("k").agg(
        count(lit(1)).as("n"), sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"),
        countDistinct(to_date(col("l_shipdate"))).as("days"), sum("l_quantity").as("qty"))
        .as[(Int, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap,
      ord.crossJoin(w).filter(inWin("o_orderdate")).groupBy("k").agg(
        count(lit(1)).as("n"), sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("u"))
        .as[(Int, Long, Long)].collect().map(r => r._1 -> r).toMap)
    val n = ticks.size
    def expected(step: Long, k: Int): Long = step match {
      case 1201 | 1501 | 1601 => liExp.get(k).fold(0L)(_._2)
      case 1202 => liExp.get(k).fold(0L)(_._3)
      case 1502 => liExp.get(k).fold(0L)(_._4)
      case 1301 => ordExp.get(k).fold(0L)(_._2)
      case 1302 | 1602 => ordExp.get(k).fold(0L)(_._3)
      case 1401 | 1402 => Gen.dropSize(p, ticks(k)._2).toLong
    }
    val rowSteps = Seq(1201L, 1202L, 1301L, 1302L, 1401L, 1402L, 1501L, 1502L, 1601L, 1602L)
    val perTick = rowSteps.flatMap { s =>
      val rows = stepRows(s)
      if (rows.size != n) Seq(s"step $s ran ${rows.size} times over $n ticks")
      else rows.zipWithIndex.flatMap { case (r, k) =>
        expectEq(s"tick $k step $s rows", r.erwarteteDaten.getOrElse(-1L), expected(s, k)) }
    }
    def total(step: Long): Long = (0 until n).map(expected(step, _)).sum
    val tables = Seq("inc_stg_lineitem" -> 1201L, "inc_stg_returns" -> 1202L, "inc_stg_orders" -> 1301L,
      "inc_stg_urgent" -> 1302L, "inc_raw_csv" -> 1401L, "inc_raw_jsonl" -> 1402L,
      "inc_mart_revenue" -> 1501L, "inc_mart_daily" -> 1502L).map { case (t, s) =>
      () => expectEq(s"table $t rows", read(s"$whDir/$t").count(), total(s)) }
    val qtyCheck = () => {
      val qty = read(s"$whDir/inc_stg_lineitem").agg(sum("l_quantity")).as[Double].head()
      val qtyExp = (0 until n).map(k => liExp.get(k).fold(0.0)(_._5)).sum
      if (math.abs(qty - qtyExp) <= 1e-6 * math.max(1.0, qtyExp)) Nil
      else Seq(s"staged l_quantity sum $qty, expected $qtyExp")
    }
    def exported(dir: String, step: Long) = () => expectEq(s"last tick's export $dir rows",
      spark.read.option("header", "true").option("sep", ";").csv(s"$exportDir/$dir").count(),
      expected(step, n - 1))
    ledgerClosed() ++ perTick ++
      checks(tables ++ Seq(qtyCheck, exported("lines", 1601), exported("urgent", 1602)): _*)
  }
}

/** A one-shot backfill through `WorkflowRunner.run`: the whole 83-month
  * window, a join copy, large drops, maintenance, a pruned read and an
  * export, into a fresh warehouse per run. */
final class BulkBackfill(p: Gen.Params, inputs: String, work: String, cpus: Int)
    extends Workload("bulk_backfill", p, inputs, work, cpus) {
  private val wh = s"$work/wh"
  private val dropCsv = s"$work/drop_csv"
  private val dropJsonl = s"$work/drop_jsonl"
  private val exportDir = s"$work/export"
  private var runner: WorkflowRunner = _
  private val rng = new scala.util.Random(p.seed)
  val partRange: (Int, Int) = { val lo = 1 + rng.nextInt(1200); (lo, lo + 300 + rng.nextInt(200)) }
  val suppRange: (Int, Int) = { val lo = 1 + rng.nextInt(50); (lo, lo + 20 + rng.nextInt(20)) }
  private var runs = 0

  def warehouseDirs: Seq[String] = Seq(wh)

  def steps: Seq[StepSpec] = spec.packages.values.toSeq.flatMap(_.realizations.flatMap(_.steps))

  def spec: WorkflowSpec = {
    def s(id: Long, cmd: String, task: String, befehl: String, ziel: Option[String] = None,
        quelle: Option[String] = None, slice: Boolean = false, order: Int = 0) =
      StepSpec(id, cmd, task, befehl, zieltabelle = ziel, quelltabelle = quelle, zeitscheibe = slice,
        schrittReihenfolge = order)
    def pkg(id: Long, deps: Seq[Long], cap: Int, steps: StepSpec*) =
      id -> PackageSpec(id, dependencies = deps, realizations = Seq(RealizationSpec(id * 10,
        anzahlParalleleSchritte = math.min(cap, cpus), steps = steps)))
    WorkflowSpec(id = 2, masterPackageId = 24,
      takeover = graft.schedule.Takeover.Config(
        uebernahmeVon = Some(LocalDateTime.of(1995, 1, 1, 0, 0)),
        uebernahmeBis = Some(LocalDateTime.of(2001, 11, 30, 23, 59, 59))),
      packages = Map(
        pkg(21, Nil, 1, s(2101, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW bf_li AS SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, " +
            "l_extendedprice, l_discount, l_shipdate FROM lineitem")),
        pkg(22, Seq(21), 4,
          s(2201, CommandType.Copy, TaskType.Sql,
            "SELECT * FROM bf_li WHERE l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
            ziel = Some("bf_lineitem"), slice = true, order = 1),
          s(2202, CommandType.Copy, TaskType.Sql,
            "SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_custkey, c.c_mktsegment, c.c_nationkey " +
              "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey",
            ziel = Some("bf_orders"), order = 2),
          s(2203, CommandType.Transfer, TaskType.Jsonl, dropJsonl, ziel = Some("bf_raw_jsonl"), order = 3),
          s(2204, CommandType.Transfer, TaskType.Sql, dropCsv, ziel = Some("bf_raw_csv"), order = 4)),
        pkg(23, Seq(22), 1,
          s(2301, CommandType.Copy, TaskType.Maintenance, "compact rows_per_file=200000",
            ziel = Some("bf_lineitem"), order = 1),
          s(2302, CommandType.Copy, TaskType.Maintenance,
            "optimize_zorder cols=l_partkey,l_suppkey bits=6 rows_per_file=20000 quantile=true",
            ziel = Some("bf_lineitem"), order = 2),
          s(2303, CommandType.Copy, TaskType.Maintenance, "refresh_stats cols=l_partkey,l_suppkey",
            ziel = Some("bf_lineitem"), order = 3)),
        pkg(24, Seq(23), 2,
          s(2401, CommandType.Copy, TaskType.Pipeline,
            s"pruned_read in=bf_lineitem ranges=\"l_partkey=${partRange._1}..${partRange._2}," +
              s"l_suppkey=${suppRange._1}..${suppRange._2}\"",
            ziel = Some("bf_slice"), quelle = Some("bf_lineitem"), order = 1),
          s(2402, CommandType.Transfer, TaskType.Csv,
            s"SELECT l_partkey, COUNT(*) AS n_lines, SUM(l_quantity) AS qty FROM parquet.`$wh/bf_lineitem` " +
              "GROUP BY l_partkey", ziel = Some(s"$exportDir/by_part"), quelle = Some("bf_lineitem"),
            order = 2))))
  }

  override def prepareExtra(s: SparkSession): Unit = {
    val rows = Gen.dropRows(s, p, 2)
    Gen.parallel(Seq(
      () => Gen.writeSingle(rows.filter(col("file") === 0).drop("file"), inputs, "drop_0.csv", "csv"),
      () => Gen.writeSingle(rows.filter(col("file") === 1).drop("file"), inputs, "drop_1.jsonl", "json")))
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    Tables.registerAll(s, dataDir)
    ledger = new RunLedger(() => clock.now())
    runner = newRunner()
    runs = 0
  }

  override def beforeRun(i: Int): Unit = {
    Seq(wh, dropCsv, dropJsonl, exportDir).foreach(d => Workload.rmrf(new File(d)))
    for ((src, dst) <- Seq(s"$inputs/drop_0.csv" -> s"$dropCsv/Insert/drop_0.csv",
        s"$inputs/drop_1.jsonl" -> s"$dropJsonl/Insert/drop_1.jsonl")) {
      new File(dst).getParentFile.mkdirs()
      Files.copy(new File(src).toPath, new File(dst).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    runs += 1
  }

  def call(i: Int): Option[Long] =
    Some(runner.run(spec, 200L + i, stepContext(new Warehouse(wh))).workflowRunId)

  def check(): Seq[String] = {
    val ss = spark; import ss.implicits._
    val li = read(s"$dataDir/lineitem.parquet")
    val liAgg = li.agg(count(lit(1)), sum("l_quantity"), sum("l_orderkey")).as[(Long, Double, Long)].head()
    val got = read(s"$wh/bf_lineitem").agg(count(lit(1)), sum("l_quantity"), sum("l_orderkey"))
      .as[(Long, Double, Long)].head()
    val lineitem = expectEq("bf_lineitem rows", got._1, liAgg._1) ++ expectEq("bf_lineitem key sum", got._3, liAgg._3) ++
      (if (math.abs(got._2 - liAgg._2) <= 1e-6 * liAgg._2) Nil else Seq(s"bf_lineitem qty ${got._2} vs ${liAgg._2}"))
    val ordersExp = read(s"$dataDir/orders.parquet").join(read(s"$dataDir/customer.parquet"),
      col("o_custkey") === col("c_custkey")).count()
    val slice = li.filter(col("l_partkey").between(partRange._1, partRange._2) &&
      col("l_suppkey").between(suppRange._1, suppRange._2)).count()
    val exportExp = li.select("l_partkey").distinct().count()
    val exported = spark.read.option("header", "true").option("sep", ";").csv(s"$exportDir/by_part")
    val exportQty = exported.agg(sum(col("qty").cast("double"))).as[Double].head()
    val stepsOk = Seq(2201L -> liAgg._1, 2202L -> ordersExp, 2203L -> Gen.dropSize(p, 1).toLong,
      2204L -> Gen.dropSize(p, 0).toLong, 2401L -> slice, 2402L -> exportExp).flatMap { case (s, want) =>
      val rows = stepRows(s)
      val bad = rows.filterNot(_.erwarteteDaten.contains(want))
      if (rows.size != runs) Seq(s"step $s ran ${rows.size} times over $runs runs")
      else bad.headOption.map(r => s"step $s recorded ${r.erwarteteDaten} rows, expected $want").toSeq
    }
    ledgerClosed() ++ lineitem ++ stepsOk ++
      expectEq("bf_orders rows", read(s"$wh/bf_orders").count(), ordersExp) ++
      expectEq("bf_raw_csv rows", read(s"$wh/bf_raw_csv").count(), Gen.dropSize(p, 0).toLong) ++
      expectEq("bf_raw_jsonl rows", read(s"$wh/bf_raw_jsonl").count(), Gen.dropSize(p, 1).toLong) ++
      expectEq("bf_slice rows", read(s"$wh/bf_slice").count(), slice) ++
      expectEq("exported parts", exported.count(), exportExp) ++
      (if (math.abs(exportQty - liAgg._2) <= 1e-6 * liAgg._2) Nil else Seq(s"exported qty $exportQty vs ${liAgg._2}"))
  }
}

/** The curation chain beside the ANN index build, as PIPELINE steps. */
final class CurationAnn(p: Gen.Params, inputs: String, work: String, cpus: Int)
    extends Workload("curation_ann", p, inputs, work, cpus) {
  private val wh = s"$work/wh"
  private var runner: WorkflowRunner = _
  private var runs = 0
  val Queries = 100
  val TopK = 10
  /** `RecallSpec`'s floor for IVF search with nprobe=2 against brute force. */
  val RecallFloor = 0.3

  def warehouseDirs: Seq[String] = Seq(wh)

  def steps: Seq[StepSpec] = spec.packages.values.toSeq.flatMap(_.realizations.flatMap(_.steps))

  def spec: WorkflowSpec = {
    def s(id: Long, cmd: String, task: String, befehl: String, ziel: Option[String] = None,
        quelle: Option[String] = None, order: Int = 0) =
      StepSpec(id, cmd, task, befehl, zieltabelle = ziel, quelltabelle = quelle, schrittReihenfolge = order)
    def pkg(id: Long, deps: Seq[Long], cap: Int, steps: StepSpec*) =
      id -> PackageSpec(id, dependencies = deps, realizations = Seq(RealizationSpec(id * 10,
        anzahlParalleleSchritte = math.min(cap, cpus), steps = steps)))
    val pipe = (id: Long, cmd: String, ziel: String, quelle: Option[String], order: Int) =>
      s(id, CommandType.Copy, TaskType.Pipeline, cmd, Some(ziel), quelle, order)
    WorkflowSpec(id = 3, masterPackageId = 39, packages = Map(
      pkg(31, Nil, 2,
        s(3101, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW cu_docs AS SELECT doc_id, text, lang, source, n_chars FROM documents",
          order = 1),
        s(3102, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW cu_vecs AS SELECT vec_id, embedding FROM embeddings", order = 2)),
      pkg(32, Seq(31), 2,
        pipe(3201, "decontaminate in=cu_docs holdout=7", "cu_clean", None, 1),
        pipe(3202, "repetition in=cu_docs", "cu_keep", None, 2)),
      pkg(33, Seq(32), 1,
        pipe(3301, "span_removal docs=cu_docs clean=cu_clean keep=cu_keep n=8", "cu_cleaned",
          Some("cu_clean,cu_keep"), 1)),
      pkg(34, Seq(31), 1,
        pipe(3401, "neardup_components in=cu_docs k=12 bands=4", "cu_labels", None, 1),
        pipe(3402, "neardup_prune docs=cu_docs labels=cu_labels", "cu_pruned", Some("cu_labels"), 2)),
      pkg(35, Seq(33, 34), 1,
        s(3501, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW cu_select_in AS SELECT d.doc_id, c.cleaned_text AS text, d.lang " +
            s"FROM cu_docs d JOIN parquet.`$wh/cu_cleaned` c ON d.doc_id = c.doc_id " +
            s"JOIN parquet.`$wh/cu_pruned` r ON d.doc_id = r.doc_id", quelle = Some("cu_cleaned,cu_pruned"),
          order = 1),
        pipe(3502, "dsir_select in=cu_select_in target_lang=en k=300", "cu_selected", None, 2)),
      pkg(36, Seq(31), 1, pipe(3601, "kmeans_train in=cu_vecs k=8 iters=2", "cu_book", None, 1)),
      pkg(37, Seq(36), 1, pipe(3701, "ivf_assign in=cu_vecs book=cu_book", "cu_assign", Some("cu_book"), 1)),
      pkg(38, Seq(37), 1, pipe(3801,
        s"ann_search in=cu_vecs book=cu_book assign=cu_assign queries_below=$Queries nprobe=2 topk=$TopK",
        "cu_topk", Some("cu_book,cu_assign"), 1)),
      pkg(39, Seq(35, 38), 1, s(3901, CommandType.SqlSource, TaskType.Sql,
        s"SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE -1 END FROM parquet.`$wh/cu_topk`",
        quelle = Some("cu_topk"), order = 1))))
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    Tables.registerAll(s, dataDir)
    ledger = new RunLedger(() => clock.now())
    runner = newRunner()
    runs = 0
  }

  override def beforeRun(i: Int): Unit = { Workload.rmrf(new File(wh)); runs += 1 }

  def call(i: Int): Option[Long] =
    Some(runner.run(spec, 300L + i, stepContext(new Warehouse(wh))).workflowRunId)

  /** Recall@k of the ANN top-k against brute-force cosine over all vectors. */
  def recall(): Double = {
    val v = read(s"$dataDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val dot = aggregate(zip_with(col("qe"), col("embedding"), (a, b) => a * b), lit(0.0), (acc, x) => acc + x)
    def norm(c: String) = sqrt(aggregate(transform(col(c), x => x * x), lit(0.0), (acc, x) => acc + x))
    val q = v.filter(col("vec_id") < Queries).select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val exact = q.crossJoin(v).filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot / (norm("qe") * norm("embedding")))
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("r") <= TopK).select(col("query_id"), col("vec_id").as("neighbor_id"))
    val approx = read(s"$wh/cu_topk").select("query_id", "neighbor_id")
    val hit = exact.join(approx, Seq("query_id", "neighbor_id")).count()
    hit.toDouble / exact.count()
  }

  def check(): Seq[String] = {
    val ss = spark; import ss.implicits._
    val docs = read(s"$dataDir/documents.parquet")
    val nDocs = p.docs.toLong
    val labels = read(s"$wh/cu_labels").select("doc_id", "cluster_id")
    val pruned = read(s"$wh/cu_pruned")
    val selected = read(s"$wh/cu_selected").select("doc_id")
    val stepsRan = Seq(3201L, 3202L, 3301L, 3401L, 3402L, 3502L, 3601L, 3701L, 3801L)
      .flatMap(s => expectEq(s"step $s runs", stepRows(s).size, runs))
    def outside(t: String) = () =>
      expectEq(s"$t docs outside the corpus", read(s"$wh/$t").select("doc_id").except(docs.select("doc_id")).count(), 0)
    ledgerClosed() ++ stepsRan ++ checks(
      // the decontamination verdict covers every document outside the holdout residue 7
      () => expectEq("decontaminate verdict rows", read(s"$wh/cu_clean").count(),
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7).count()),
      () => expectEq("repetition verdict rows", read(s"$wh/cu_keep").count(), nDocs),
      () => expectEq("labelled docs", labels.count(), nDocs),
      // an exact copy must land in its source's cluster
      () => expectEq("exact copies split from their source",
        read(s"$dataDir/truth_dups.parquet").join(labels, "doc_id").withColumnRenamed("cluster_id", "c_dup")
          .join(labels.withColumnRenamed("doc_id", "dup_of").withColumnRenamed("cluster_id", "c_src"), "dup_of")
          .filter(col("c_dup") =!= col("c_src")).count(), 0),
      () => expectEq("pruned manifest member total", pruned.agg(sum("n_members")).as[Long].head(), nDocs),
      () => expectEq("selected rows", selected.count(),
        math.min(300L, read(s"$wh/cu_cleaned").join(pruned, "doc_id").count())),
      () => expectEq("selected duplicates", selected.count() - selected.distinct().count(), 0),
      outside("cu_selected"), outside("cu_cleaned"),
      () => expectEq("ann assignments", read(s"$wh/cu_assign").count(), p.vectors.toLong),
      () => {
        lastRecall = recall()
        if (lastRecall >= RecallFloor) Nil
        else Seq(f"ANN recall@$TopK $lastRecall%.3f below the floor $RecallFloor")
      })
  }

  var lastRecall: Double = Double.NaN
}

/** STREAM steps draining seeded, mtime-ordered arrival files against
  * seeded state tables, then a maintenance step; state carries across runs. */
final class StreamAdmission(p: Gen.Params, inputs: String, work: String, cpus: Int)
    extends Workload("stream_admission", p, inputs, work, cpus) {
  private val pool = s"$inputs/arrival_pool"
  private val arr = s"$work/arrivals"
  private val wh = s"$work/wh"
  private var runner: WorkflowRunner = _
  private val dropped = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var mtime = 1700000000000L

  def warehouseDirs: Seq[String] = Seq(wh)

  def steps: Seq[StepSpec] = spec.packages.values.toSeq.flatMap(_.realizations.flatMap(_.steps))

  def spec: WorkflowSpec = {
    def s(id: Long, cmd: String, task: String, befehl: String, ziel: Option[String] = None,
        quelle: Option[String] = None, order: Int = 0) =
      StepSpec(id, cmd, task, befehl, zieltabelle = ziel, quelltabelle = quelle, schrittReihenfolge = order)
    def pkg(id: Long, deps: Seq[Long], cap: Int, steps: StepSpec*) =
      id -> PackageSpec(id, dependencies = deps, realizations = Seq(RealizationSpec(id * 10,
        anzahlParalleleSchritte = math.min(cap, cpus), steps = steps)))
    val ck = s"$wh/_checkpoints"
    WorkflowSpec(id = 4, masterPackageId = 43, packages = Map(
      pkg(41, Nil, 2,
        s(4101, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW st_hist_docs AS SELECT doc_id, text FROM documents", order = 1),
        s(4102, CommandType.SqlTarget, TaskType.Sql,
          "CREATE OR REPLACE TEMP VIEW st_hist_fp AS SELECT doc_id, md5(text) AS fingerprint FROM documents",
          order = 2)),
      pkg(42, Seq(41), 3,
        s(4201, CommandType.Copy, TaskType.Stream,
          s"bloom_ingest_stream dir=$arr/fp ckpt=$ck/bloom schema=\"doc_id BIGINT, fingerprint STRING\" " +
            "key=fingerprint seed=st_hist_fp seen=st_seen bloom=st_bloom out=st_bl_admitted " +
            "mbits=65536 k=5 maxfiles=2",
          ziel = Some("st_bl_admitted"), quelle = Some("st_seen,st_bloom"), order = 1),
        s(4202, CommandType.Copy, TaskType.Stream,
          s"neardup_admit_stream dir=$arr/docs ckpt=$ck/neardup schema=\"doc_id BIGINT, text STRING\" " +
            "seed=st_hist_docs hist=st_nd_hist out=st_nd_admitted wm=st_nd_wm k=12 bands=4 " +
            "threshold=0.6 maxfiles=2",
          ziel = Some("st_nd_admitted"), quelle = Some("st_nd_hist,st_nd_wm"), order = 2),
        s(4203, CommandType.Copy, TaskType.Stream,
          s"file_ingest_stream dir=$arr/csv ckpt=$ck/files archive=$arr/archive " +
            "schema=\"rec_id STRING, item STRING, amount STRING, booked_at STRING\" " +
            s"out=$wh/_st_files producer=graft",
          order = 3)),
      pkg(43, Seq(42), 1,
        s(4301, CommandType.Copy, TaskType.Maintenance, "compact rows_per_file=100000",
          ziel = Some("st_bl_admitted"), order = 1),
        s(4302, CommandType.SqlSource, TaskType.Sql,
          s"SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE -1 END FROM parquet.`$wh/st_nd_admitted`",
          quelle = Some("st_nd_admitted"), order = 2))))
  }

  /** Arrival batch b, file j: fingerprints/docs where a seeded share
    * repeats history or earlier arrivals; CSV rows for the file stream. */
  override def prepareExtra(s: SparkSession): Unit = {
    val per = p.arrivalRowsPerFile.toLong
    val nFiles = p.arrivalBatches * p.arrivalFilesPerBatch
    val base = s.range(nFiles * per)
      .withColumn("file", (col("id") / per).cast("int"))
      .withColumn("doc_id", lit(1000000L) + col("id"))
      .withColumn("u", pmod(xxhash64(lit(p.seed), lit("arr"), col("id")), lit(1000L)).cast("double") / 1000)
      .withColumn("hist_src", pmod(xxhash64(lit(p.seed), lit("hs"), col("id")), lit(p.docs.toLong)))
      .withColumn("len", (pmod(xxhash64(lit(p.seed), lit("al"), col("id")), lit(40L)) + 12).cast("int"))
    val hist = s.read.parquet(s"$dataDir/documents.parquet").select(col("doc_id").as("hist_src"), col("text").as("ht"))
    val vocab = array(Seq("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "lambda", "theta",
      "zeta", "rho", "tau", "phi", "chi", "psi", "mu", "nu", "xi", "pi", "eta").map(lit): _*)
    val fresh = concat_ws(" ", transform(sequence(lit(1), col("len")), i =>
      element_at(vocab, (pmod(xxhash64(lit(p.seed), lit("aw"), col("id"), i), lit(20L)) + 1).cast("int"))))
    val docs = base.join(hist, "hist_src")
      .withColumn("text", when(col("u") < p.dupShare, col("ht")).otherwise(fresh))
    Gen.parallel(Seq(
      () => docs.select(col("file"), col("doc_id"), md5(col("text")).as("fingerprint"))
        .repartition(col("file")).write.partitionBy("file").parquet(s"$pool/fp"),
      () => docs.select(col("file"), col("doc_id"), col("text"))
        .repartition(col("file")).write.partitionBy("file").parquet(s"$pool/docs"),
      () => base.select(col("file"), col("doc_id").cast("string").as("rec_id"),
          concat(lit("item-"), pmod(col("id"), lit(97L))).as("item"),
          (col("u") * 100).cast("string").as("amount"), lit("2024-01-01 00:00:00").as("booked_at"))
        .repartition(col("file")).write.partitionBy("file").option("header", "true").csv(s"$pool/csv")))
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    Seq(wh, arr).foreach(d => Workload.rmrf(new File(d)))
    Seq("fp", "docs", "csv", "archive").foreach(d => new File(s"$arr/$d").mkdirs())
    dropped.clear()
    Tables.registerAll(s, dataDir)
    ledger = new RunLedger(() => clock.now())
    runner = newRunner()
  }

  override def beforeRun(i: Int): Unit = {
    val b = dropped.size % p.arrivalBatches
    (0 until p.arrivalFilesPerBatch).foreach { j =>
      val f = b * p.arrivalFilesPerBatch + j
      val tag = s"r${dropped.size}_$j"
      mtime += 1000
      Workload.movePart(new File(s"$pool/fp/file=$f"), new File(s"$arr/fp/$tag.parquet"), mtime)
      Workload.movePart(new File(s"$pool/docs/file=$f"), new File(s"$arr/docs/$tag.parquet"), mtime)
      Workload.movePart(new File(s"$pool/csv/file=$f"), new File(s"$arr/csv/$tag.csv"), mtime)
    }
    dropped += b
  }

  def call(i: Int): Option[Long] =
    Some(runner.run(spec, 400L + i, stepContext(new Warehouse(wh))).workflowRunId)

  def check(): Seq[String] = {
    val files = dropped.toSeq.flatMap(b => (0 until p.arrivalFilesPerBatch).map(j => b * p.arrivalFilesPerBatch + j))
    val fileSet = files.toSet
    val arrivedFp = read(s"$pool/fp").filter(col("file").isin(fileSet.toSeq: _*))
    val arrivedDocs = read(s"$pool/docs").filter(col("file").isin(fileSet.toSeq: _*))
    val arrivedCsv = spark.read.option("header", "true").csv(s"$pool/csv").filter(col("file").isin(fileSet.toSeq: _*))
    val histFp = read(s"$dataDir/documents.parquet").select(md5(col("text")).as("fingerprint"))
    val bl = read(s"$wh/st_bl_admitted").select("fingerprint")
    val nd = read(s"$wh/st_nd_admitted").select("doc_id")
    ledgerClosed() ++ checks(
      () => expectEq("bloom admissions outside the arrivals", bl.except(arrivedFp.select("fingerprint")).count(), 0),
      () => expectEq("bloom keys admitted twice", bl.count() - bl.distinct().count(), 0),
      () => expectEq("bloom admissions already in history", bl.join(histFp, "fingerprint").count(), 0),
      () => expectEq("bloom admissions (new distinct keys)", bl.count(),
        arrivedFp.select("fingerprint").distinct().except(histFp).count()),
      () => expectEq("near-dup admissions outside the arrivals", nd.except(arrivedDocs.select("doc_id")).count(), 0),
      () => expectEq("near-dup docs admitted twice", nd.count() - nd.distinct().count(), 0),
      () => expectEq("file-ingested rows", read(s"$wh/_st_files").count(), arrivedCsv.count()))
  }
}
