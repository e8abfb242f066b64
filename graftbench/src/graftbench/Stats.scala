package graftbench

/** Summary statistics of the benchmark. Quartiles follow Python's
  * `statistics.quantiles(xs, n=4)` (the "exclusive" method), so a spread
  * printed here reads the same as one computed from the printed values. */
object Stats {

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Geometric mean: every sample's relative change counts the same, so a
    * few slow requests of a slow type do not decide the figure. */
  def gmean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q2, q3) as `statistics.quantiles(xs, n=4)`; needs two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val m = s.length + 1
    def cut(i: Int): Double = {
      val j = math.max(1, math.min(s.length - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Interquartile range as a share of the median. */
  def iqrShare(xs: Seq[Double]): Double = {
    val (q1, _, q3) = quartiles(xs)
    (q3 - q1) / median(xs)
  }

  /** The percentiles the benchmark may report, lowest first. */
  val Ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** Nearest-rank index (1-based) of percentile p among n samples. */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest ladder percentile that has at least `beyond` samples above
    * its rank, or None when even the median has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n - rank(p, n) >= beyond).lastOption

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.length) - 1)
  }

  /** (percentile, value) of the reportable tail, if any. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    tailPercentile(xs.length, beyond).map(p => p -> percentile(xs, p))
}
