package graft.perfbench

/** The benchmark's own arithmetic: percentiles, entry order and span
  * self time. Pure functions, so the tests pin them without Spark.
  */
object Stats {

  /** A percentile is only reported when at least this many samples lie
    * beyond it; below that, one outlier moves it.
    */
  val MinTail = 10

  /** The `p`-th percentile (0 < p < 1) of `xs`, nearest-rank, or None
    * when fewer than [[MinTail]] samples lie above it: p50 needs 20
    * samples, p90 needs 100.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(p * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < MinTail) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The order entries run in during pass `pass` of a run with `seed`:
    * a permutation that depends only on (seed, pass).
    */
  def passOrder[T](entries: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(entries)

  /** Length of the union of `children` after clipping each to
    * [start, end). Overlapping children (concurrent stages, parallel
    * jobs) count once.
    */
  def coveredLength(start: Long, end: Long,
      children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Self time of a span: its length minus the part its children cover.
    * Children are clipped to the parent, so the result is never
    * negative and never more than the span itself.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    math.max(0L, end - start) - coveredLength(start, end, children)
}
