package perfbench

/** Order statistics used by every workload. Percentiles are nearest-rank:
  * the q-th percentile of n sorted samples is sample ceil(q*n) (1-based),
  * so exactly n - ceil(q*n) samples lie beyond it.
  */
object Stats {

  /** Tail percentiles tried from the highest down. */
  val Ladder: Seq[Double] = Seq(0.99, 0.95, 0.90, 0.75, 0.50)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  private def rank(q: Double, n: Int): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)

  def beyond(q: Double, n: Int): Int = n - rank(q, n)

  /** Nearest-rank percentile of already sorted samples. */
  def percentile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN else sorted(rank(q, sorted.length) - 1)

  /** The highest ladder percentile up to `maxQ` with at least `minBeyond`
    * samples beyond it; None when not even the median qualifies.
    */
  def tailQuantile(n: Int, minBeyond: Int = 10,
      maxQ: Double = 0.99): Option[Double] =
    Ladder.find(q => q <= maxQ && beyond(q, n) >= minBeyond)

  /** Median plus the rule's tail percentile (at most `maxQ`) of one
    * sample set. When the set is too small for any percentile to have ten
    * samples beyond it, the tail falls back to the median and `tailQ`
    * reads 0.5.
    */
  final case class Summary(n: Int, p50: Double, tail: Double, tailQ: Double)

  def summarize(xs: Iterable[Double], maxQ: Double = 0.99): Summary = {
    val s = xs.toArray.sorted
    val q = tailQuantile(s.length, maxQ = maxQ).getOrElse(0.5)
    val m = median(s)
    Summary(s.length, m, if (q == 0.5) m else percentile(s, q), q)
  }
}
