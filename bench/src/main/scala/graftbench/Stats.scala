package graftbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), reported only when at least
    * `minTail` samples lie strictly beyond its rank: a p90 from 20 samples
    * is the second-slowest sample, not a percentile. */
  def percentile(xs: Seq[Double], p: Double, minTail: Int = 10): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p * n).toInt // 1-based
    if (n == 0 || rank < 1 || n - rank < minTail) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Smallest sample count for which [[percentile]] reports `p`. */
  def samplesNeeded(p: Double, minTail: Int = 10): Int =
    Iterator.from(1).find(n => n - math.ceil(p * n).toInt >= minTail).get
}
