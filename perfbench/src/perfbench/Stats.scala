package perfbench

/** The benchmark's own arithmetic: percentiles, interval unions and
  * self time. Pure functions, pinned by [[StatsCheck]].
  */
object Stats {

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method) of a non-empty sample, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile of `n` samples: the highest whole percentile
    * with at least ten samples beyond it, i.e. the largest p with
    * n * (1 - p/100) >= 10. None when n <= 10 (no percentile qualifies).
    */
  def tailPercentile(n: Int): Option[Int] =
    if (n <= 10) None
    else Some(math.floor(100.0 * (n - 10) / n + 1e-9).toInt)

  /** The tail value with the percentile it was taken at. With fewer than
    * twenty samples no percentile at or above the median has ten beyond
    * it; the median is reported instead and `ruleMet` is false.
    */
  final case class Tail(value: Double, percentile: Int, n: Int, ruleMet: Boolean)

  def tail(xs: Seq[Double]): Tail = tailPercentile(xs.size) match {
    case Some(p) if p >= 50 => Tail(quantile(xs, p / 100.0), p, xs.size, ruleMet = true)
    case _ => Tail(quantile(xs, 0.5), 50, xs.size, ruleMet = false)
  }

  /** Half-open interval [start, end) in any time unit. */
  final case class Iv(start: Long, end: Long) {
    def length: Long = math.max(0L, end - start)
  }

  /** Merge overlapping or touching intervals; the result is sorted and
    * disjoint. */
  def union(ivs: Seq[Iv]): Seq[Iv] = {
    val sorted = ivs.filter(_.length > 0).sortBy(_.start)
    val out = scala.collection.mutable.ArrayBuffer.empty[Iv]
    sorted.foreach { iv =>
      if (out.nonEmpty && iv.start <= out.last.end)
        out(out.size - 1) = Iv(out.last.start, math.max(out.last.end, iv.end))
      else out += iv
    }
    out.toSeq
  }

  /** Length of the union of `ivs` clipped to `window`. */
  def covered(window: Iv, ivs: Seq[Iv]): Long =
    union(ivs.map(i => Iv(math.max(i.start, window.start), math.min(i.end, window.end))))
      .map(_.length).sum

  /** Wall of `window` not covered by any of `ivs` — the driver gap when
    * `ivs` are Spark job intervals. */
  def gap(window: Iv, ivs: Seq[Iv]): Long = window.length - covered(window, ivs)

  /** Self time of a span: its duration minus the part its children
    * cover (children may overlap each other and spill past the parent). */
  def selfTime(span: Iv, children: Seq[Iv]): Long = gap(span, children)
}
