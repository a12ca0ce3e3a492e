package graftbench

/** The benchmark's statistics: medians, the tail percentile, self time and metric
  * names. Pure functions, covered by SelfTest.
  */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The p-th percentile (0..100) by linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  /** The tail reading: `pct` is the percentile, `value` the sample at it, `beyond`
    * how many samples lie above it and `n` the sample count.
    */
  final case class Tail(pct: Double, value: Double, beyond: Int, n: Int)

  /** The highest percentile that has at least `minBeyond` samples beyond it: the
    * sample of rank n - minBeyond (1-based), read as percentile 100 * rank / n.
    * With too few samples no such percentile exists and the maximum is returned
    * with `beyond` = 0, so the reading says so.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= minBeyond) Tail(100.0, s.last, 0, n)
    else {
      val rank = n - minBeyond
      Tail(100.0 * rank / n, s(rank - 1), minBeyond, n)
    }
  }

  /** Length of the part of [lo, hi) covered by the union of `intervals`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}".r

  def validName(s: String): Boolean = NamePattern.matches(s)
  def validUnit(s: String): Boolean = UnitPattern.matches(s)
}
