package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSupport

/** The native DotProduct expression and its fusion rule: bit-equality
  * with the composed higher-order path (the DuckDB-oracle contract),
  * null/length semantics, codegen, and optimized-plan rewrites of the
  * library's dot/norm/cosine/hyperplaneBucket compositions.
  */
class VectorExpressionsSpec extends AnyFunSuite with SparkSupport {

  import graft.functions.{VectorFunctions => V}

  // a session with graft_dot + the fusion rule installed
  private lazy val ext = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    s
  }

  private def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  test("bit-identical to the composed aggregate(zip_with) fold, including fp order") {
    import ext.implicits._
    val df = Seq.tabulate(200) { i =>
      (Seq.tabulate(64)(d => math.sin(i * 64 + d) * (d + 1)),
        Seq.tabulate(64)(d => math.cos(i * 64 + d) / (d + 1)))
    }.toDF("a", "b")
    val rows = df.select(
      V.dot($"a", $"b").as("composed"),
      dotNative($"a", $"b").as("fused")).collect()
    // doubles compared bit-exactly on purpose: same IEEE fold order
    assert(rows.forall(r => java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("null semantics match zip_with/aggregate: null element, null array, length mismatch") {
    import ext.implicits._
    val df = Seq(
      (Some(Seq[Option[Double]](Some(1.0), None)), Some(Seq[Option[Double]](Some(2.0), Some(3.0)))),
      (Some(Seq[Option[Double]](Some(1.0), Some(2.0))), None),
      (Some(Seq[Option[Double]](Some(1.0))), Some(Seq[Option[Double]](Some(2.0), Some(3.0)))))
      .toDF("a", "b")
    val out = df.select(
      V.dot($"a", $"b").as("composed"),
      dotNative($"a", $"b").as("fused")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1),
        s"all three cases must be NULL on both paths: ${r.mkString(",")}")
    }
  }

  /** Range-backed frame: local Seqs collapse to a LocalRelation during
    * optimization (ConvertToLocalRelation), which would evaluate the
    * projection away before the plan can be inspected.
    */
  private def rangeVecs(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.range(1, 11).select(
      $"id",
      transform(sequence(lit(0), lit(7)), d => d.cast("double") * $"id").as("a"),
      transform(sequence(lit(0), lit(7)), d => (d.cast("double") + 1.0) / $"id").as("b"))
  }

  test("rewrite rule fuses dot, norm, cosine and hyperplaneBucket compositions") {
    import ext.implicits._
    val df = rangeVecs(ext)
    def optimized(c: Column): String =
      df.select(c.as("r")).queryExecution.optimizedPlan.toString

    assert(optimized(V.dot($"a", $"b")).contains("graft_dot"))
    // after projection collapse norm's child is a transform, not an
    // attribute — SumSquares fuses regardless (no double evaluation)
    assert(optimized(V.norm($"a")).contains("graft_sumsq"))
    val cosinePlan = optimized(V.cosine($"a", $"b", V.norm($"a"), V.norm($"b")))
    assert(cosinePlan.contains("graft_dot") && cosinePlan.contains("graft_sumsq"))
    assert(optimized(V.hyperplaneBucket($"a", 4, 8)).contains("graft_dot"))

    // a session without the rule keeps the portable composition —
    // extraOptimizations is SHARED across newSession(), so explicitly
    // remove the rule for this assertion instead of relying on suite order
    val vanillaDf = rangeVecs(spark)
    val saved = spark.experimental.extraOptimizations
    val vanilla =
      try {
        spark.experimental.extraOptimizations = saved.filterNot(_ == VectorFoldRewrite)
        vanillaDf.select(V.dot(vanillaDf("a"), vanillaDf("b")).as("r"))
          .queryExecution.optimizedPlan.toString
      } finally spark.experimental.extraOptimizations = saved
    assert(!vanilla.contains("graft_dot"))

    // and the fused plan computes bit-identical values to the composed one
    val fused = df.select(
      V.cosine($"a", $"b", V.norm($"a"), V.norm($"b")).as("c")).collect().map(_.getDouble(0))
    val plain = vanillaDf.select(
      V.cosine(vanillaDf("a"), vanillaDf("b"), V.norm(vanillaDf("a")), V.norm(vanillaDf("b"))).as("c"))
      .collect().map(_.getDouble(0))
    assert(fused.map(java.lang.Double.doubleToLongBits).toSeq ==
      plain.map(java.lang.Double.doubleToLongBits).toSeq)
  }

  test("SquaredL2 fuses IvfIndex.sqDist and is bit-identical to the composed fold") {
    import ext.implicits._
    import graft.operators.IvfIndex
    // rewrite fires on the (x-y)*(x-y) fold
    val plan = rangeVecs(ext).select(IvfIndex.sqDist($"a", $"b").as("d"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_sqdist"), s"sqDist fold must fuse:\n$plan")
    // bit-exact vs a driver-side strict left fold in the same IEEE order
    // (the order DuckDB's list_reduce performs)
    val rows = Seq.tabulate(200) { i =>
      (Seq.tabulate(64)(d => math.sin(i * 64 + d) * (d + 1)),
        Seq.tabulate(64)(d => math.cos(i * 64 + d) / (d + 1)))
    }.toDF("a", "b")
      .select(IvfIndex.sqDist($"a", $"b").as("d"), $"a", $"b").collect()
    assert(rows.forall { r =>
      val a = r.getSeq[Double](1); val b = r.getSeq[Double](2)
      var acc = 0.0
      a.indices.foreach { i => val d0 = a(i) - b(i); acc += d0 * d0 }
      java.lang.Double.doubleToLongBits(acc) ==
        java.lang.Double.doubleToLongBits(r.getDouble(0))
    })
  }

  test("AdcFold: value- and NULL-exact vs the composed adcScore fold (r15)") {
    import ext.implicits._
    import graft.operators.PqIndex
    // value parity on dense tables, bit-exact (same IEEE fold order)
    val df = Seq.tabulate(100) { i =>
      (Seq.tabulate(8)(s => Seq.tabulate(16)(c => math.sin(i + s * 16 + c))),
        Seq.tabulate(8)(s => ((i + s) % 16).toLong))
    }.toDF("table", "codes")
    val rows = df.select(
      PqIndex.composedAdcScore($"table", $"codes").as("composed"),
      PqIndex.adcScore($"table", $"codes").as("fused")).collect()
    assert(rows.forall(r => java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1))))

    // NULL parity: null code, length mismatch in either direction
    // (zip_with pads the shorter side with NULL)
    val edge = Seq(
      (Some(Seq(Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0)))), Some(Seq(Some(0L), None))),
      (Some(Seq(Some(Seq(1.0, 2.0)))), Some(Seq(Some(0L), Some(0L)))),
      (Some(Seq(Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0)))), Some(Seq(Some(0L)))))
      .toDF("table", "codes")
    val e = edge.select(
      PqIndex.composedAdcScore($"table", $"codes").as("composed"),
      PqIndex.adcScore($"table", $"codes").as("fused")).collect()
    e.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity: ${r.mkString(",")}")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.mkString(","))
    }

    // ANSI (Spark 4 default): an out-of-range code THROWS on both paths
    // — ElementAt's failOnError semantics, which AdcFold captures at
    // construction
    val oob = Seq(
      (Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)), Seq(0L, 9L))).toDF("table", "codes")
    intercept[Exception](
      oob.select(PqIndex.composedAdcScore($"table", $"codes")).collect())
    intercept[Exception](
      oob.select(PqIndex.adcScore($"table", $"codes")).collect())
  }

  test("AdcFold: an ANSI code overflow throws Spark's CAST_OVERFLOW like the composed cast") {
    import ext.implicits._
    import graft.operators.PqIndex
    def condition(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
      }.getOrElse(fail(s"no Spark error condition in $e"))
    }
    // a code of Int.MaxValue overflows (c+1)::int; interpreted over the
    // local relation, codegen over range data
    val local = Seq((Seq(Seq(1.0, 2.0)), Seq(Int.MaxValue.toLong))).toDF("table", "codes")
    val generated = ext.range(1).select(
      array(array(lit(1.0), lit(2.0))).as("table"),
      array($"id" + lit(Int.MaxValue.toLong)).as("codes"))
    for (df <- Seq(local, generated)) {
      assert(condition(df.select(PqIndex.composedAdcScore($"table", $"codes")).collect()) ==
        "CAST_OVERFLOW")
      assert(condition(df.select(PqIndex.adcScore($"table", $"codes")).collect()) ==
        "CAST_OVERFLOW")
    }
  }

  test("newSession() drops experimental.extraOptimizations (the rocksDbSession re-register rationale)") {
    // Sessions register the rewrites via experimental.extraOptimizations;
    // a plain newSession() builds a FRESH SessionState with no parent, so
    // the rules are gone unless the clone re-registers (r15 —
    // Streams.rocksDbSession does). Pin the Spark behavior this relies
    // on so an upgrade that changes it surfaces here, not as a silent
    // perf cliff (or a redundant register call).
    val parent = ext
    assert(parent.experimental.extraOptimizations.contains(VectorFoldRewrite))
    val clone = parent.newSession()
    assert(!clone.experimental.extraOptimizations.contains(VectorFoldRewrite),
      "newSession() now inherits extraOptimizations — rocksDbSession's " +
        "re-register is redundant (harmless), update the r15 comments")
  }

  test("codegen: the fused expressions stay in whole-stage codegen") {
    import ext.implicits._
    val q = rangeVecs(ext).select(V.norm($"a").as("n"), V.dot($"a", $"b").as("d"))
      .filter($"n" > 0 && $"d" > 0)
    // the `*(n)` prefix marks a WholeStageCodegen stage in the simple
    // plan string; the fused expressions must sit INSIDE one
    val planned = q.queryExecution.executedPlan.toString
    assert(planned.matches("(?s).*\\*\\(\\d+\\) Project \\[SQRT\\(graft_sumsq.*"),
      s"fused exprs not inside a codegen stage:\n$planned")
    assert(q.count() == 10)
  }
}
