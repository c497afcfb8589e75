package graftbench

/** The benchmark's own arithmetic, kept free of Spark so the self-tests
  * can pin it down exactly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A latency tail that is backed by data: the highest percentile that
    * still has at least `minBeyond` samples strictly above it.
    * `percentile` is the share of samples at or below `value`. */
  final case class Tail(value: Double, percentile: Double, n: Int, beyond: Int)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    var i = n - 1
    while (i >= 0) {
      // samples strictly greater than s(i); ties share one rank
      var j = i
      while (j + 1 < n && s(j + 1) == s(i)) j += 1
      val beyond = n - 1 - j
      if (beyond >= minBeyond) return Some(Tail(s(i), 100.0 * (j + 1) / n, n, beyond))
      i -= 1
    }
    None
  }

  /** Self time of a span: its duration minus the part of its interval
    * that the union of its children covers. Children may overlap each
    * other (parallel jobs) and may run past the parent's bounds
    * (asynchronous listener timestamps); only the clipped union counts. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (end - start) - covered)
  }
}
