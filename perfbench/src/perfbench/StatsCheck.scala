package perfbench

/** Self-test of [[Stats]]: `python3 perfbench/run.py --self-test`.
  * Exits non-zero on the first failed expectation.
  */
object StatsCheck {
  import Stats._

  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name $detail") }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // percentile rule: at least ten samples beyond the reported percentile
    expect("no tail percentile at n=10", tailPercentile(10).isEmpty)
    expect("n=11 -> p9", tailPercentile(11).contains(9))
    expect("n=20 -> p50", tailPercentile(20).contains(50))
    expect("n=100 -> p90", tailPercentile(100).contains(90))
    expect("n=1000 -> p99", tailPercentile(1000).contains(99))
    (11 to 500).foreach { n =>
      val p = tailPercentile(n).get
      val beyond = n * (1 - p / 100.0)
      val beyondNext = n * (1 - (p + 1) / 100.0)
      if (!(beyond >= 10 - 1e-9 && beyondNext < 10)) expect(s"rule holds at n=$n", ok = false,
        s"p=$p beyond=$beyond next=$beyondNext")
    }
    val hundred = (1 to 100).map(_.toDouble)
    expect("tail of 1..100 is p90", { val t = tail(hundred); t.percentile == 90 && t.ruleMet &&
      close(t.value, quantile(hundred, 0.9)) })
    expect("tail below 20 samples falls back to the median", {
      val t = tail(Seq(1.0, 2.0, 3.0)); !t.ruleMet && t.percentile == 50 && close(t.value, 2.0) })
    expect("quantile interpolates like statistics.quantiles(method='inclusive')",
      close(quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.25), 1.75) &&
        close(quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5), 2.5))
    expect("median of one sample", close(median(Seq(7.0)), 7.0))

    // union of job intervals and the driver gap (GateProbe's sweep)
    val jobs = Seq(Iv(10, 20), Iv(15, 30), Iv(40, 50), Iv(50, 55), Iv(70, 70))
    expect("union merges overlaps and touching ends",
      union(jobs) == Seq(Iv(10, 30), Iv(40, 55)), union(jobs).toString)
    expect("covered clips to the window", covered(Iv(0, 100), jobs) == 35)
    expect("gap is the uncovered rest", gap(Iv(0, 100), jobs) == 65)
    expect("jobs outside the window do not count", covered(Iv(25, 45), jobs) == 10)
    expect("no jobs: the whole window is gap", gap(Iv(5, 9), Seq.empty) == 4)

    // self time: span minus the union of its children inside it
    expect("self time with overlapping children",
      selfTime(Iv(0, 100), Seq(Iv(10, 40), Iv(30, 60), Iv(90, 120))) == 40)
    expect("self time of a leaf is its duration", selfTime(Iv(3, 8), Seq.empty) == 5)
    expect("self time never negative", selfTime(Iv(0, 10), Seq(Iv(-5, 50))) == 0)

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all stats checks passed")
  }
}
