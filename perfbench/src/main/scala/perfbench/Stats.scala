package perfbench

/** Order statistics for the benchmark's latency samples.
  *
  * A failed or wrong call is kept in its sample as +Infinity: it counts
  * as missing every latency percentile it would have fed, and it can
  * never be dropped by accident.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(samples: scala.collection.Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of an empty sample")
    require(p > 0.0 && p <= 100.0, s"percentile $p outside (0, 100]")
    val sorted = samples.sorted
    sorted(math.max(1, math.ceil(p / 100.0 * sorted.length - 1e-9).toInt) - 1)
  }

  /** Samples strictly beyond the nearest-rank position of p. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Smallest sample size that supports percentile p under the
    * ten-beyond rule: a tail percentile is reported only with at least
    * ten samples beyond it. */
  def sizeFor(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= 10).get

  def median(samples: scala.collection.Seq[Double]): Double = {
    require(samples.nonEmpty, "median of an empty sample")
    val s = samples.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }
}
