package e2ebench

import org.apache.commons.math3.distribution.BetaDistribution

/** Order statistics used by every workload: Harrell–Davis quantile
  * estimates, the tail rule and the window's drift.
  */
object Stats {

  /** The Harrell–Davis estimate of the q-quantile: a weighted mean of
    * all order statistics, the i-th weighted by the mass a
    * Beta(q(n+1), (1−q)(n+1)) puts on ((i−1)/n, i/n]. On the dozen-odd
    * mixed-cost samples a window holds it does not jump when two
    * neighbouring samples swap sides, as a single order statistic does.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    if (q <= 0) s.head
    else if (q >= 1) s.last
    else {
      val beta = new BetaDistribution(null, q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }
  }

  def median(xs: Seq[Double]): Double = hdQuantile(xs, 0.5)

  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  /** The highest percentile with at least [[TailBeyond]] samples beyond
    * it: with n samples, 100·(n−11)/(n−1), where the (TailBeyond+1)-th
    * largest sample sits; its value is the Harrell–Davis estimate there.
    * None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= TailBeyond) None
    else {
      val q = (n - 1 - TailBeyond).toDouble / (n - 1)
      Some((100.0 * q, hdQuantile(xs, q)))
    }
  }

  /** Drift across a timed window: the median of its second half over
    * the median of its first half, minus one, each half whole units of
    * the workload (on `ask`, blocks of one ask per intent), so both
    * halves ask the same intents and templates; on `ask` they swap which
    * intents repeat. A steady window reads near zero; a trend means the
    * warm-up was too short, or a cost that grows with use (on `ask`,
    * the chat store's files until it compacts). NaN below two units.
    */
  def drift(inOrder: Seq[Double], unit: Int = 1): Double = {
    val units = inOrder.size / unit
    if (units < 2) Double.NaN
    else {
      val (a, b) = inOrder.take(units * unit).splitAt(units / 2 * unit)
      median(b) / median(a) - 1.0
    }
  }
}
