package perfbench

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** The highest of p50/p75/p80/p90/p95/p99/p99.9 that leaves at least
    * ten samples above it, with that percentile; None when even p50 cannot. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
}

/** Bytes and entries under a directory. */
object Sizes {
  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
  def dirEntries(f: java.io.File): Long =
    Option(f.listFiles()).map(fs => fs.length + fs.filter(_.isDirectory).map(dirEntries).sum)
      .getOrElse(0L)
}
