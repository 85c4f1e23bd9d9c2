package perfbench

/** Pure arithmetic behind the reported numbers (no Spark): percentiles,
  * interval unions, span self time and monitor lag. SelfTest pins each. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentile a latency is reported at: the highest of
    * p99.9/p99/p95/p90/p75 that leaves at least 10 samples beyond it,
    * or None when even p75 does not (fewer than 40 samples). Counted in
    * per-mille integers, so the boundary cases are exact. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(999, 990, 950, 900, 750).find(pm => n.toLong * (1000 - pm) >= 10000L).map(_ / 10.0)

  /** Summary of a latency sample: median plus the tail percentile the
    * sample size supports, with the sample count. */
  final case class Latency(n: Int, p50: Double, tailP: Option[Double],
                           tail: Option[Double])

  def latency(xs: Seq[Double]): Latency = {
    val tp = tailPercentile(xs.size)
    Latency(xs.size, median(xs), tp, tp.map(percentile(xs, _)))
  }

  /** Total length of the union of half-open intervals [s, e). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi). */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** A span's self time: its duration minus the part of it that its
    * child spans cover (children may overlap each other). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(clip(children, start, end))

  /** Monitor lag. `commits` are (time, cumulative attempts logged after
    * that commit) in any order; `epochs` are (time, attempts the stat
    * store totals at that epoch). For every commit, the lag is the time
    * from the commit to the first epoch at or after it whose total
    * includes the commit's cumulative count. Commits no epoch covers are
    * left out (and reported by the caller's output check). */
  def monitorLags(commits: Seq[(Long, Long)], epochs: Seq[(Long, Long)]): Seq[Long] = {
    val es = epochs.sortBy(_._1)
    commits.sortBy(_._1).flatMap { case (t, cum) =>
      es.find { case (et, tot) => et >= t && tot >= cum }.map(_._1 - t)
    }
  }
}
