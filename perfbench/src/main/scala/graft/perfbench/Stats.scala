package graft.perfbench

/** Order statistics and interval arithmetic used by the benchmark report. */
object Stats {

  /** Linear-interpolation quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail metric may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail rule: the highest percentile on [[TailLadder]] that leaves at
    * least `minBeyond` of `n` samples above it. Below 2 × `minBeyond`
    * samples no tail exists and the rule falls back to the median. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Double =
    TailLadder.find(p => n * (1.0 - p / 100.0) >= minBeyond - 1e-9).getOrElse(50.0)

  /** Length of the union of the intervals `xs`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, xs: Iterable[(Long, Long)]): Long = {
    val clipped = xs.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = a
        curE = b
      } else curE = math.max(curE, b)
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that the
    * intervals of its child work (Spark jobs) cover. Overlapping children
    * are counted once. */
  def selfTime(lo: Long, hi: Long, children: Iterable[(Long, Long)]): Long =
    (hi - lo) - covered(lo, hi, children)
}
