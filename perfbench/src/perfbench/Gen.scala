package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Everything a workload feeds the program is a
  * pure function of the seed; wall-clock time only shifts live event times
  * by a constant.
  */
object Gen {

  /** The reference producer's default symbols (`synthetic_ticks.py`
    * `--symbols`, SURVEY.md section 6).
    */
  val Symbols: IndexedSeq[String] = Vector("AAPL", "MSFT", "GOOG")

  /** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** One tick before its event time is fixed: symbol rank, price, and the
    * offset of its event time from the stream's origin.
    */
  final case class Tick(sym: Int, price: Double, offsetUs: Long)

  /** JSON payload in the producer's wire format. */
  def payload(sym: Int, price: Double, eventTimeMs: Long): String =
    s"""{"symbol":"${Symbols(sym)}","price":$price,"event_time_ms":$eventTimeMs}"""

  /** A seeded tick stream: Zipf(1.1) symbols, a per-symbol geometric
    * random walk for prices (4 decimals), and event-time offsets spaced
    * evenly at `ratePerS`. Arrival order is shuffled inside consecutive
    * chunks of `chunk` ticks, so ticks arrive out of order by less than
    * `chunk / ratePerS` seconds.
    */
  def ticks(seed: Long, n: Int, ratePerS: Double, chunk: Int): Array[Tick] = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(Symbols.size, 1.1)
    val px = Array.fill(Symbols.size)(20.0 + 480.0 * r.nextDouble())
    val out = Array.tabulate(n) { i =>
      val s = zipf.sample(r)
      px(s) = px(s) * math.exp(0.0008 * gaussian(r))
      Tick(s, math.round(px(s) * 1e4) / 1e4, (i * 1e6 / ratePerS).toLong)
    }
    var c = 0
    while (c < n) {
      val end = math.min(n, c + chunk)
      var i = end - 1
      while (i > c) {
        val j = c + r.nextInt(i - c + 1)
        val t = out(i); out(i) = out(j); out(j) = t
        i -= 1
      }
      c = end
    }
    out
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(1e-12, r.nextDouble())
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Backfill lines: one JSON-lines envelope per tick, `{"value": payload}`,
    * the file-source wire format.
    */
  def envelope(p: String): String =
    "{\"value\":\"" + p.replace("\"", "\\\"") + "\"}"

  /** A seeded permutation of `xs`. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = {
    val r = new SplittableRandom(seed)
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
