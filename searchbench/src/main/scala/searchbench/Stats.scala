package searchbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail sample: its value, the percentile it sits at, and the sample count. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest percentile with at least `beyond` samples above it: in
    * ascending order, the sample at 1-based rank `n - beyond`, which is
    * percentile `100 * (n - beyond) / n`. With `n <= beyond` no rank
    * qualifies and the maximum (percentile 100) is reported instead; the
    * caller prints the percentile and `n` beside the value.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }
}
