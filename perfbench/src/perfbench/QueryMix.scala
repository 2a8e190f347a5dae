package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.Registry

/** `query_mix`: closed loop, one client. Rounds of registry queries over
  * the sf0.1 tables, each round in a seeded order; every call builds the
  * query and collects all of its output columns, and every result is
  * checked against the row count and content hash derived from the
  * query's DuckDB oracle SQL.
  */
final class QueryMix(a: Args) extends Workload {
  import QueryMix._

  private var expected: Map[String, Check.Expected] = Map.empty

  override def prepare(): Unit = {
    require(new java.io.File(a.sfDir).isDirectory,
      s"query_mix: table directory ${a.sfDir} not found")
    expected = Check.load(a.expectations)
    val missing = All.filterNot(expected.contains)
    require(missing.isEmpty, s"no expectation for ${missing.mkString(", ")}")
  }

  override def probe(spark: SparkSession): Unit =
    Registry.byName("kpi").run(spark, a.sfDir).collect(): Unit

  /** One call: build, collect, check. Returns the wall ms, or None when the
    * call failed or its result was wrong.
    */
  private def call(spark: SparkSession, name: String, tr: Tracer, op: Long,
      ph: Phase, stats: mutable.Buffer[Harness.QueryStat]): Option[Double] = {
    val q = Registry.byName(name)
    val id = tr.newId()
    ph.attempt(name) {
      tr.span(s"queries.call", "queries", 0L, op, id) {
        Harness.collectTimed(spark, tr, id, op, q.run(spark, a.sfDir))
      }
    }.flatMap { case (df, rows, st) =>
      stats += st
      Check.compare(name, Check.digest(df.schema, rows), expected(name)) match {
        case Some(err) => ph.fail(err); None
        case None => Some(st.wallMs)
      }
    }
  }

  override def warm(spark: SparkSession, ph: Phase): Unit =
    All.foreach(n => call(spark, n, new Tracer(false), 0L, ph,
      mutable.ArrayBuffer.empty))

  override def measure(spark: SparkSession, tr: Tracer,
      census: Option[Census], ph: Phase): Unit = {
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val stats = mutable.ArrayBuffer.empty[Harness.QueryStat]
    val perCall = mutable.ArrayBuffer.empty[(String, Seq[Census.JobStat], Double)]
    val codegen0 = Census.codegen()
    val jobs0 = census.map(_.snapshot.size).getOrElse(0)
    val spans0 = tr.spans.size
    val start = System.nanoTime()
    var round = 0
    var op = 0L
    while (round < MinRounds || System.nanoTime() - start < a.seconds * 1e9) {
      Gen.shuffled(All, a.seed * 1000003L + round).foreach { n =>
        op += 1
        val before = census.map(_.snapshot.size).getOrElse(0)
        call(spark, n, tr, op, ph, stats).foreach { ms =>
          times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
          census.foreach(c => perCall += ((n, c.snapshot.drop(before), ms)))
        }
      }
      round += 1
    }
    val elapsed = (System.nanoTime() - start) / 1e9
    val all = times.values.flatten
    // A class's latency is the mean of its queries' medians over the
    // rounds, so each query weighs the same whatever the seeded order.
    def p50(n: String) = Stats.median(times.getOrElse(n, Nil))
    def classMs(ns: Seq[String]) = ns.map(p50).sum / ns.size
    val s = Stats.summarize(all)
    ph.e2e("throughput_per_s") = all.size / elapsed
    ph.e2e("latency_p50_ms") = s.p50
    ph.e2e("latency_tail_ms") = classMs(Corpus)
    ph.e2e("read_p50_ms") = classMs(Market)
    ph.named += (("queries_per_s", all.size / elapsed, "1/s"))
    ph.named += (("query_p50_ms", s.p50, "ms"))
    if (s.tailQ > 0.5)
      ph.named += ((f"query_p${s.tailQ * 100}%.0f_ms", s.tail, "ms"))
    ph.named += (("query_samples", s.n.toDouble, "count"))
    ph.named += (("query_mean_p50_ms", classMs(All), "ms"))
    ph.named += (("dashboard_refresh_s", classMs(Market) * Market.size / 1000, "s"))
    ph.named += (("market_query_p50_ms", classMs(Market), "ms"))
    ph.named += (("curation_pass_s", classMs(Corpus) * Corpus.size / 1000, "s"))
    ph.named += (("corpus_query_p50_ms", classMs(Corpus), "ms"))
    All.foreach(n => ph.named += ((s"p50_ms.$n", p50(n), "ms")))
    ph.named += (("rounds", round.toDouble, "count"))

    if (tr.enabled) census.foreach { c =>
      val jobs = c.snapshot.drop(jobs0)
      c.jobSpans((_, _) => 0L, jobs0).foreach(tr.record)
      Harness.censusLayers(ph, jobs, codegen0, stats.toSeq,
        tr.spans.drop(spans0), stats.size)
      val cores = Harness.cores.toDouble
      def perQ(f: Census.Totals => Double) =
        Harness.mean(perCall.map(p => f(Census.totals(p._2))))
      ph.layer("queries.jobs_per_query") = perQ(_.jobs.toDouble)
      ph.layer("queries.stages_per_query") = perQ(_.stages.toDouble)
      ph.layer("queries.tasks_per_query") = perQ(_.tasks.toDouble)
      ph.layer("queries.driver_gap_ms") = Harness.mean(perCall.map {
        case (_, js, wall) => wall - Census.totals(js).runMs / cores })
    }
  }

  override def extras(spark: SparkSession, tr: Tracer,
      ph: Phase, untraced: Phase): Unit =
    Ops.time(spark, a.seed, tr, ph)
}

object QueryMix {
  /** Dashboard reads: reference-parity and time-series queries over the
    * events table. Driver-bound: a few single-task jobs each.
    */
  val Market: Seq[String] = Seq("features_sliding", "kpi", "recent_slice",
    "pivot_daily", "ohlc_daily", "vwap_daily", "sessions_native")

  /** Curation jobs over the documents corpus and its persisted indexes:
    * many jobs, shuffles and multi-task stages each.
    */
  val Corpus: Seq[String] = Seq("interleave_domains", "hybrid_topk")

  val All: Seq[String] = Market ++ Corpus
  val MinRounds = 3
}
