package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table the catalog registers is written
  * as one parquet file per table; the workload's own inputs are sized by
  * [[Params]], the rest are small stubs. Randomness is `xxhash64(seed,
  * tag, id)`, so the same seed gives byte-identical inputs.
  */
object Gen {

  /** Input properties per run, all derived from the seed. */
  final case class Params(
      seed: Long,
      /** First month index (0 = 1995-01) the incremental schedule ticks at. */
      startMonth: Int,
      /** lineitem rows per month; 83 months (1995-01 .. 2001-11). */
      lineitemPerMonth: Int,
      customers: Int,
      /** Rows per drop file (incremental: per tick; backfill: one large drop). */
      dropRowsMin: Int,
      dropRowsMax: Int,
      docs: Int,
      /** Share of documents that are exact copies of another document. */
      dupShare: Double,
      vectors: Int,
      /** Embedding jitter around the cluster centroids (std of each coordinate). */
      jitter: Double,
      arrivalBatches: Int,
      arrivalFilesPerBatch: Int,
      arrivalRowsPerFile: Int) {
    def describe: String =
      f"seed=$seed start_month=${Gen.monthLabel(startMonth)} lineitem=${lineitemPerMonth * Months}%d " +
        f"(${lineitemPerMonth}%d/month) customers=$customers drop_rows=$dropRowsMin..$dropRowsMax " +
        f"docs=$docs dup_share=$dupShare%.3f vectors=$vectors jitter=$jitter%.3f " +
        f"arrivals=${arrivalBatches}x${arrivalFilesPerBatch}x$arrivalRowsPerFile"
  }

  val Months = 83

  def monthLabel(m: Int): String = java.time.LocalDate.of(1995, 1, 1).plusMonths(m.toLong).toString.take(7)

  def params(workload: String, seed: Long): Params = {
    val r = new scala.util.Random(seed * 7919L + workload.hashCode)
    val base = Params(seed, startMonth = 0, lineitemPerMonth = 60, customers = 200,
      dropRowsMin = 20, dropRowsMax = 40, docs = 200, dupShare = 0.05, vectors = 200,
      jitter = 0.05, arrivalBatches = 1, arrivalFilesPerBatch = 1, arrivalRowsPerFile = 10)
    workload match {
      case "etl_incremental" => base.copy(
        startMonth = 12 + r.nextInt(24), lineitemPerMonth = 7000, customers = 15000,
        dropRowsMin = 250 + r.nextInt(10), dropRowsMax = 300 + r.nextInt(10))
      case "bulk_backfill" => base.copy(
        lineitemPerMonth = 1800 + r.nextInt(100), customers = 15000,
        dropRowsMin = 20000 + r.nextInt(2000), dropRowsMax = 22000 + r.nextInt(2000))
      case "curation_ann" => base.copy(
        docs = 2000, dupShare = 0.08 + 0.04 * r.nextDouble(),
        vectors = 1000, jitter = 0.04 + 0.02 * r.nextDouble())
      case "stream_admission" => base.copy(
        docs = 2000, dupShare = 0.12 + 0.01 * r.nextDouble(),
        arrivalBatches = 16, arrivalFilesPerBatch = 2,
        arrivalRowsPerFile = 100 + r.nextInt(5))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Uniform long in [0, m) from the seed, a tag and the row id. */
  private def rnd(p: Params, tag: String, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(p.seed), lit(tag), id), lit(m))

  private def unit(p: Params, tag: String, id: Column = col("id")): Column =
    rnd(p, tag, 1000000L, id).cast("double") / 1e6

  private val Vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "hash", "join", "batch", "stream", "spark", "dup", "group",
    "query", "row", "data", "slow", "filter", "customer", "line", "value", "agg", "column",
    "a", "big", "vector", "delta", "lake", "file", "shard", "token", "model", "train",
    "index", "probe", "cell", "commit", "ledger", "step", "package", "flow", "plan", "stage",
    "task", "cache", "spill", "skew", "range", "month", "slice", "drop", "mart", "view",
    "load", "sink", "state", "watermark", "bloom", "minhash")

  /** Text of `len` seeded words drawn for generator id `src`. */
  private def text(p: Params, src: Column, len: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    concat_ws(" ", transform(sequence(lit(1), len), i =>
      element_at(vocab, (pmod(xxhash64(lit(p.seed), lit("w"), src, i), lit(Vocab.size.toLong)) + 1).cast("int"))))
  }

  /** Write `df` as a single parquet file `<dir>/<name>.parquet`. */
  def writeSingle(df: DataFrame, dir: String, name: String, format: String = "parquet"): Unit = {
    val t0 = System.nanoTime()
    val tmp = s"$dir/_tmp_$name"
    val w = df.coalesce(1).write.mode("overwrite")
    format match {
      case "parquet" => w.parquet(tmp)
      case "csv" => w.option("header", "true").option("quote", "\"").csv(tmp)
      case "json" => w.json(tmp)
    }
    val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-")).get
    Files.move(part.toPath, new File(s"$dir/$name").toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(new File(tmp).toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    System.err.println(f"perfbench gen: $name in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def lineitem(spark: SparkSession, p: Params): DataFrame = {
    val per = p.lineitemPerMonth.toLong
    spark.range(per * Months)
      .withColumn("m", (col("id") / per).cast("int"))
      .withColumn("month_start", add_months(lit("1995-01-01").cast("date"), col("m")).cast("timestamp"))
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (rnd(p, "pk", 2000) + 1).as("l_partkey"),
        (rnd(p, "sk", 100) + 1).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (rnd(p, "qty", 50) + 1).cast("double").as("l_quantity"),
        round(unit(p, "price") * 90000 + 900, 2).as("l_extendedprice"),
        round(rnd(p, "disc", 11).cast("double") / 100, 2).as("l_discount"),
        round(rnd(p, "tax", 9).cast("double") / 100, 2).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (rnd(p, "rf", 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (rnd(p, "ls", 2) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("month_start")) + rnd(p, "ship", 28L * 86400)).as("l_shipdate"))
  }

  def orders(spark: SparkSession, p: Params): DataFrame = {
    val per = p.lineitemPerMonth.toLong
    spark.range(per * Months / 4)
      .withColumn("m", (col("id") * 4 / per).cast("int"))
      .withColumn("month_start", add_months(lit("1995-01-01").cast("date"), col("m")).cast("timestamp"))
      .select(
        col("id").as("o_orderkey"),
        (rnd(p, "ck", p.customers.toLong) + 1).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")), (rnd(p, "os", 3) + 1).cast("int")).as("o_orderstatus"),
        round(unit(p, "tp") * 300000 + 1000, 2).as("o_totalprice"),
        timestamp_seconds(unix_seconds(col("month_start")) + rnd(p, "od", 28L * 86400)).as("o_orderdate"),
        element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
          (rnd(p, "op", 5) + 1).cast("int")).as("o_orderpriority"))
  }

  def customer(spark: SparkSession, p: Params): DataFrame =
    spark.range(1, p.customers + 1L).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      rnd(p, "cn", 25).cast("int").as("c_nationkey"),
      round(unit(p, "cb") * 11000 - 1000, 2).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (rnd(p, "cs", 5) + 1).cast("int")).as("c_mktsegment"))

  /** Documents: the last `dupShare` fraction of ids are exact copies of
    * a seeded original from the first part (`dup_of` records which; null
    * for originals). */
  def documents(spark: SparkSession, p: Params): DataFrame = {
    val langs = array(Seq("en", "en", "de", "fr", "es", "zh").map(lit): _*)
    val originals = math.max(1L, (p.docs * (1 - p.dupShare)).toLong)
    spark.range(p.docs)
      .withColumn("is_dup", col("id") >= originals)
      .withColumn("src", when(col("is_dup"), rnd(p, "dupsrc", originals)).otherwise(col("id")))
      .withColumn("len", (rnd(p, "len", 60, col("src")) + 12).cast("int"))
      .select(
        col("id").as("doc_id"),
        text(p, col("src"), col("len")).as("text"),
        element_at(langs, (rnd(p, "lang", 6, col("src")) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
        when(col("is_dup"), col("src")).as("dup_of"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Embeddings: 64-d vectors around 8 seeded centroids plus jitter. */
  def embeddings(spark: SparkSession, p: Params): DataFrame = {
    val dim = 64
    spark.range(p.vectors)
      .withColumn("label", rnd(p, "cl", 8).cast("int"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (((pmod(xxhash64(lit(p.seed), lit("cent"), col("label"), d), lit(2000L)).cast("double") / 1000.0) - 1.0) * 0.2 +
            (pmod(xxhash64(lit(p.seed), lit("jit"), col("id"), d), lit(2000L)).cast("double") / 1000.0 - 1.0) *
              lit(p.jitter * math.sqrt(3.0))).cast("float")).as("embedding"),
        col("label"))
  }

  def events(spark: SparkSession, p: Params): DataFrame =
    spark.range(100).select(col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      rnd(p, "eu", 10).as("user_id"), lit("view").as("event_type"),
      unit(p, "ev").as("value"), lit("{}").as("props"))

  /** All ten catalog tables into `dir`; the workload decides the sizes.
    * The writes are independent and run concurrently. */
  def catalog(spark: SparkSession, dir: String, p: Params): Unit = {
    new File(dir).mkdirs()
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "lineitem.parquet" -> (() => lineitem(spark, p)),
      "orders.parquet" -> (() => orders(spark, p)),
      "documents.parquet" -> (() => documents(spark, p).drop("dup_of")),
      "embeddings.parquet" -> (() => embeddings(spark, p)),
      "customer.parquet" -> (() => customer(spark, p)),
      // generator ground truth beside the catalog (not registered as a table)
      "truth_dups.parquet" -> (() => documents(spark, p).filter(col("dup_of").isNotNull)
        .select("doc_id", "dup_of")),
      "region.parquet" -> (() => spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        concat(lit("REGION"), col("id")).as("r_name"))),
      "nation.parquet" -> (() => spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION"), col("id")).as("n_name"), pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))),
      "supplier.parquet" -> (() => spark.range(1, 101).select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id")).as("s_name"),
        rnd(p, "sn", 25).cast("int").as("s_nationkey"), round(unit(p, "sb") * 10000, 2).as("s_acctbal"))),
      "part.parquet" -> (() => spark.range(1, 2001).select(col("id").as("p_partkey"),
        concat(lit("part "), col("id")).as("p_name"),
        concat(lit("Brand#"), rnd(p, "pb", 50)).as("p_brand"), lit("STANDARD").as("p_type"),
        (rnd(p, "ps", 50) + 1).cast("int").as("p_size"), round(unit(p, "pr") * 1000 + 900, 2).as("p_retailprice"))),
      "events.parquet" -> (() => events(spark, p)))
    parallel(tables.map { case (name, df) => () => writeSingle(df(), dir, name) })
  }

  /** Run independent generator writes concurrently, at most four at a time. */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Drop-file rows of files 0 until `files`, with a `file` column: file
    * i holds [[dropSize]](p, i) rows of (rec_id, item, amount, booked_at). */
  def dropRows(spark: SparkSession, p: Params, files: Int): DataFrame = {
    val sizes = (0 until files).map(dropSize(p, _))
    val maxRows = sizes.max.toLong
    spark.range(files * maxRows)
      .withColumn("file", (col("id") / maxRows).cast("int"))
      .withColumn("r", pmod(col("id"), lit(maxRows)))
      .filter(col("r") < element_at(array(sizes.map(n => lit(n.toLong)): _*), col("file") + 1))
      .select(
        col("file"),
        (col("file").cast("long") * 1000000L + col("r")).cast("string").as("rec_id"),
        concat(lit("item-"), rnd(p, "dn", 500)).as("item"),
        round(unit(p, "da") * 1000, 2).cast("string").as("amount"),
        date_format(timestamp_seconds(lit(788918400L) + rnd(p, "dt", 86400L * 2000)),
          "yyyy-MM-dd HH:mm:ss").as("booked_at"))
  }

  /** Rows of drop file `i`, seeded between the min and max. */
  def dropSize(p: Params, i: Int): Int = {
    val r = new scala.util.Random(p.seed * 31 + i)
    p.dropRowsMin + r.nextInt(math.max(1, p.dropRowsMax - p.dropRowsMin + 1))
  }
}
