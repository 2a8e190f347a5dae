package perfbench

/** Benchmark harness entry point.
  *
  * {{{
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --report FILE --spans FILE --t0-ms EPOCH_MS
  *     --sf DIR --expectations FILE
  * perfbench.Main selftest
  * perfbench.Main oracle-sql
  * }}}
  *
  * `run` writes one JSON report; `perfbench/run.py` turns it into the
  * benchmark's output line.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val code = argv.headOption match {
      case Some("run") => run(parse(argv.tail))
      case Some("selftest") => SelfTest.run()
      case Some("oracle-sql") =>
        val sql = graft.queries.Registry.oracleSql
        println(QueryMix.All.map(n => Json.str(n) + ":" + Json.str(sql(n)))
          .mkString("{", ",", "}"))
        0
      case _ =>
        System.err.println("usage: perfbench.Main run|selftest|oracle-sql ...")
        2
    }
    System.exit(code)
  }

  private def parse(kv: Array[String]): Args = {
    val m = kv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(workload = m("workload"), seed = m("seed").toLong,
      seconds = m("seconds").toInt, trace = m("trace") == "1",
      work = m("work"), report = m("report"), t0EpochMs = m("t0-ms").toLong,
      sfDir = m("sf"), expectations = m("expectations"), spansOut = m("spans"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "ticks" => new Ticks(a)
    case "query_mix" => new QueryMix(a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def run(a: Args): Int = {
    val load0 = Harness.loadavg()
    val steal0 = Harness.cpuSteal()
    val wl = workload(a)
    val ph = new Phase
    val tp = System.nanoTime()
    wl.prepare()
    val prepMs = (System.nanoTime() - tp) / 1e6

    // Set-up: JVM start to the first timed operation, that is the session,
    // the probe and the warm-up; input generation is excluded.
    def sinceStart() = (System.currentTimeMillis() - a.t0EpochMs - prepMs) / 1000.0
    val spark = Harness.session(Harness.cores, a.work)
    wl.probe(spark)
    val sessionS = sinceStart()
    wl.warm(spark, ph)
    ph.e2e("setup_s") = sinceStart()
    ph.named += (("setup_session_s", sessionS, "s"))
    ph.named += (("setup_s", ph.e2e("setup_s"), "s"))
    if (!a.trace) {
      wl.measure(spark, new Tracer(false), None, ph)
      ph.named += (("peak_rss_mb", Harness.peakRssMb(), "MB"))
      ph.e2e("heap_live_mb") = Harness.liveHeapMb()
    }

    // A traced run measures the traced phase where an untraced run
    // measures, so its layer numbers describe the same JVM state, and then
    // an untraced phase to compare it with. That phase runs warmer, so the
    // overhead reads high rather than low.
    val traced = new Phase
    if (a.trace) {
      val tr = new Tracer(true)
      val census = new Census(tr)
      spark.sparkContext.addSparkListener(census)
      wl.measure(spark, tr, Some(census), traced)
      spark.sparkContext.removeSparkListener(census)
      val jobsSeen = census.snapshot.size
      val after = new Phase
      wl.measure(spark, new Tracer(false), None, after)
      for (k <- Seq("latency_p50_ms", "throughput_per_s");
           u <- after.e2e.get(k); t <- traced.e2e.get(k))
        traced.layer(s"trace.overhead_${k.takeWhile(_ != '_')}_pct") =
          (t / u - 1.0) * 100.0
      traced.attempted += after.attempted
      traced.failed += after.failed
      traced.errors ++= after.errors
      traced.failedLog ++= after.failedLog
      spark.sparkContext.addSparkListener(census)
      wl.extras(spark, tr, traced, after)
      census.jobSpans((_, _) => 0L, from = jobsSeen).foreach(tr.record)
      val self = SelfTime.compute(tr.spans)
      val ops = tr.spans.filter(_.layer == "ops")
      traced.layer("ops.self_ms_per_op") =
        ops.map(s => self(s.id)).sum / 1000.0 / math.max(1, ops.size)
      tr.writeJsonl(a.spansOut)
    }
    spark.stop()
    val steal1 = Harness.cpuSteal()
    ph.named += (("cpu_steal_pct", 100.0 * (steal1._1 - steal0._1) /
      math.max(1L, steal1._2 - steal0._2), "%"))

    val phases = Seq(ph, traced)
    val report = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> Harness.cores.toString,
      "correct" -> phases.forall(_.errors.isEmpty).toString,
      "errors" -> Json.arr(phases.flatMap(_.errors).map(Json.str)),
      "invalid" -> Json.arr(phases.flatMap(_.invalid).map(Json.str)),
      "attempted" -> phases.map(_.attempted).sum.toString,
      "failed" -> phases.map(_.failed).sum.toString,
      "failed_ops" -> Json.arr(phases.flatMap(_.failedLog).map(Json.str)),
      "loadavg_start" -> Json.str(load0),
      "loadavg_end" -> Json.str(Harness.loadavg()),
      "e2e" -> Json.obj(ph.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "named" -> Json.arr((ph.named ++ traced.named.map { case (n, v, u) =>
        (s"traced.$n", v, u) }).map { case (n, v, u) =>
        Json.arr(Seq(Json.str(n), Json.num(v), Json.str(u))) }),
      "layer" -> Json.obj(traced.layer.toSeq.map { case (k, v) =>
        k -> Json.num(v) })))
    java.nio.file.Files.writeString(java.nio.file.Path.of(a.report), report)
    0
  }
}

/** Minimal JSON rendering for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
