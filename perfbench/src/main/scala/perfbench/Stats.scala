package perfbench

import org.apache.commons.math3.distribution.BetaDistribution

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell–Davis estimate of the p-quantile: a Beta-weighted average of
    * all order statistics instead of the one or two nearest the rank. On a
    * small sample of unlike ops (16 different queries per pass) the plain
    * median jumps between neighbouring queries; this estimate moves
    * smoothly with every sample.
    */
  def hdQuantile(xs: Seq[Double], p: Double = 0.5): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.length
    val beta = new BetaDistribution(null, (n + 1) * p, (n + 1) * (1 - p))
    s.indices.map(i => (beta.cumulativeProbability((i + 1).toDouble / n) -
      beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
  }

  /** The tail latency: the highest percentile that still has at least
    * `beyond` samples strictly above it. Returns (value, percentile,
    * samples above it), or None when there are too few samples for any
    * percentile to have that many above it.
    *
    * Over sorted samples s(0..n-1), the value at index i has at most
    * n-1-i samples above it; ties with s(i) are not "above", so the
    * index walks down until enough samples are strictly greater.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val n = s.length
    var i = n - 1 - beyond
    while (i >= 0 && s.count(_ > s(i)) < beyond) i -= 1
    if (i < 0) None
    else Some((s(i), 100.0 * (i + 1) / n, s.count(_ > s(i))))
  }
}
