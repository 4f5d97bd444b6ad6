package graft.perfbench

/** Order statistics for op timings. Percentiles use the nearest-rank
  * definition: the p-th percentile of n sorted samples is the sample at
  * 1-based rank ceil(p/100 * n). */
object Stats {

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0)

  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile on [[TailLadder]] that has at least
    * `minBeyond` samples ranked above it, as (percentile, value); None
    * when even p90 lacks that many (below 100 samples at the default). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    TailLadder.find(p => n - rank(p, n) >= minBeyond)
      .map(p => (p, percentile(xs, p)))
  }
}

/** Interval arithmetic over half-open [start, end) nanosecond intervals. */
object Intervals {

  /** Total length covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of [lo, hi) that none of `xs` covers. A span's self time is
    * this over its children; its driver-only time is this over the Spark
    * jobs that ran inside it. */
  def uncovered(lo: Long, hi: Long, xs: Seq[(Long, Long)]): Long =
    (hi - lo) - covered(xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}
