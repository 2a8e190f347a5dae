package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The benchmark's own checks, run by `python3 perfbench/run.py
  * --selftest`. No Spark session is needed.
  */
object SelfTest {

  /** Digest of [[fixture]]; `perfbench/expectations.py` asserts the same
    * value, which keeps the two canonical renderings in step.
    */
  val FixtureHash = "191f056ea8d9f999"

  val fixtureSchema: StructType = StructType(Seq(
    StructField("n", LongType), StructField("x", DoubleType),
    StructField("s", StringType), StructField("z", IntegerType),
    StructField("m", DecimalType(18, 2)), StructField("t", TimestampType),
    StructField("d", DateType), StructField("a", ArrayType(LongType))))

  def fixture: Array[Row] = Array(
    Row(1L, 2.5, "abc", null, new java.math.BigDecimal("12.30"),
      java.sql.Timestamp.from(java.time.Instant.parse(
        "2024-01-02T03:04:05.123456Z")),
      java.sql.Date.valueOf("2024-01-02"), Seq(3L, 1L)),
    Row(-7L, -0.1, "", 4, new java.math.BigDecimal("0.00"), null, null,
      Seq.empty[Long]))

  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable =>
      println(s"  error: ${Harness.oneLine(e)}"); false }
    if (!r) failures += 1
    println(s"${if (r) "ok  " else "FAIL"} $name")
  }

  def run(): Int = {
    // Percentile rule: the highest ladder percentile with >= 10 samples
    // beyond it.
    check("percentile rule: p99 needs 1000 samples") {
      Stats.tailQuantile(1000).contains(0.99) &&
        Stats.tailQuantile(999).contains(0.95)
    }
    check("percentile rule: below 20 samples nothing qualifies") {
      Stats.tailQuantile(19).isEmpty && Stats.tailQuantile(20).contains(0.5)
    }
    check("percentile rule: exactly 10 samples beyond the reported p99") {
      val s = Stats.summarize((1 to 1000).map(_.toDouble))
      s.tail == 990.0 && s.tailQ == 0.99 && s.p50 == 500.5 &&
        (1 to 1000).count(_ > s.tail) == 10
    }
    check("percentile rule: a small set reports its median as the tail") {
      val s = Stats.summarize(Seq(5.0, 1.0, 3.0))
      s.p50 == 3.0 && s.tail == 3.0 && s.tailQ == 0.5
    }
    check("percentile rule: the tail is capped at maxQ") {
      val s = Stats.summarize((1 to 1000).map(_.toDouble), maxQ = 0.90)
      s.tailQ == 0.90 && s.tail == 900.0
    }
    check("percentile rule: a median tail equals the median") {
      val s = Stats.summarize((1 to 30).map(_.toDouble))
      s.tailQ == 0.5 && s.tail == s.p50 && s.p50 == 15.5
    }

    // Self time: duration minus the union of the children, clipped.
    check("self time: overlapping and overhanging children") {
      val sp = Seq(Span(1, 0, "p", "queries", 1, 0, 100),
        Span(2, 1, "a", "spark", 1, 10, 30),
        Span(3, 1, "b", "spark", 1, 20, 50),
        Span(4, 1, "c", "spark", 1, 90, 120),
        Span(5, 3, "g", "spark", 1, 25, 35))
      val st = SelfTime.compute(sp)
      st(1) == 50 && st(2) == 20 && st(3) == 20 && st(4) == 30 && st(5) == 10
    }
    check("self time: per-layer sums") {
      val sp = Seq(Span(1, 0, "p", "queries", 1, 0, 100),
        Span(2, 1, "j", "spark", 1, 0, 40))
      val m = SelfTime.byLayerMs(sp)
      m("queries") == 0.06 && m("spark") == 0.04
    }

    // Open loop: latency counts from the due time, not the push time.
    check("open loop: latency runs from the scheduled send time") {
      val ts = Gen.ticks(1L, 8, 1000.0, 4) // due at 0..7 ms
      val t0 = 1000000000L
      // group 0 (offset 5) was pushed 300 ms late and committed at 400 ms;
      // group 1 (offset 6) committed at 410 ms.
      val lat = Live.tickLatencies(Seq((t0 + 400000000L, 4L, 5L),
        (t0 + 410000000L, 5L, 6L)), t0, ts, 4, 2, 5L, 0)
      val due = ts.map(_.offsetUs / 1000.0)
      lat.length == 8 &&
        lat.take(4).zip(due.take(4)).forall { case (l, d) => l == 400.0 - d } &&
        lat.drop(4).zip(due.drop(4)).forall { case (l, d) => l == 410.0 - d }
    }
    check("open loop: uncommitted groups are not reported") {
      val ts = Gen.ticks(1L, 8, 1000.0, 4)
      Live.tickLatencies(Seq((5000000L, -1L, 0L)), 0L, ts, 4, 2, 0L, 0)
        .length == 4
    }
    check("open loop: warm-up groups are not reported") {
      val ts = Gen.ticks(1L, 8, 1000.0, 4)
      val lat = Live.tickLatencies(Seq((5000000L, -1L, 1L)), 0L, ts, 4, 2,
        0L, 1)
      lat.length == 4 && lat.zip(ts.drop(4)).forall { case (l, t) =>
        l == 5.0 - t.offsetUs / 1000.0 }
    }

    // Generator determinism.
    check("generator: same seed, same ticks") {
      Gen.ticks(42L, 5000, 25.0, 64).toSeq == Gen.ticks(42L, 5000, 25.0, 64).toSeq
    }
    check("generator: another seed, other ticks") {
      Gen.ticks(42L, 5000, 25.0, 64).toSeq != Gen.ticks(43L, 5000, 25.0, 64).toSeq
    }
    check("generator: out of order only within a chunk") {
      val ts = Gen.ticks(9L, 6400, 25.0, 64)
      ts.grouped(64).zipWithIndex.forall { case (c, k) =>
        c.map(_.offsetUs).sorted.toSeq ==
          (k * 64 until (k + 1) * 64).map(i => (i * 1e6 / 25.0).toLong)
      } && ts.toSeq.map(_.offsetUs) != ts.toSeq.map(_.offsetUs).sorted
    }
    check("generator: Zipf skew puts the first symbol on top") {
      val n = Gen.ticks(5L, 20000, 25.0, 64).groupBy(_.sym).map {
        case (s, v) => s -> v.length }
      n(0) > n(1) && n(1) > n(2) && n(0) > 3 * n(2)
    }
    check("generator: query order is a seeded permutation") {
      Gen.shuffled(QueryMix.All, 7L) == Gen.shuffled(QueryMix.All, 7L) &&
        Gen.shuffled(QueryMix.All, 7L).sorted == QueryMix.All.sorted &&
        Gen.shuffled(QueryMix.All, 7L) != Gen.shuffled(QueryMix.All, 8L)
    }

    // Correctness gate.
    val d = Check.digest(fixtureSchema, fixture)
    val exp = Check.Expected(d.rows, d.hash, d.columns)
    check("gate: fixture digest matches the shared constant") {
      d.hash == FixtureHash && d.rows == 2 &&
        d.columns == Seq("a", "d", "m", "n", "s", "t", "x", "z")
    }
    check("gate: row order does not matter") {
      Check.compare("f", Check.digest(fixtureSchema, fixture.reverse), exp)
        .isEmpty
    }
    check("gate: a perturbed expected hash fails") {
      val h = exp.hash
      val flipped = h.init + (if (h.last == '0') '1' else '0')
      Check.compare("f", d, exp.copy(hash = flipped)).nonEmpty
    }
    check("gate: a perturbed expected row count fails") {
      Check.compare("f", d, exp.copy(rows = exp.rows + 1)).nonEmpty
    }
    check("gate: a perturbed result value fails") {
      val bad = fixture.clone()
      bad(0) = Row.fromSeq(bad(0).toSeq.updated(1, 2.5000000001))
      Check.compare("f", Check.digest(fixtureSchema, bad), exp).nonEmpty
    }
    check("gate: a duplicated row fails") {
      Check.compare("f", Check.digest(fixtureSchema, fixture :+ fixture(0)),
        exp).nonEmpty
    }
    println(s"fixture digest ${d.hash}")
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
