package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Command-line settings of one run. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, report: String, t0EpochMs: Long,
    sfDir: String, expectations: String, spansOut: String)

/** What one measurement phase produced. `e2e` holds the end-to-end metrics
  * under their BENCHMARK.json names, `named` the same numbers (and more)
  * under the workload's own names for the human-readable report, and
  * `layer` the per-layer numbers of a traced phase.
  */
final class Phase {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.ArrayBuffer.empty[(String, Double, String)]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  var invalid: Option[String] = None
  val failedLog = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = errors += msg

  /** Counts one operation; a thrown error is recorded, never dropped. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case e: Throwable =>
        failed += 1
        if (failedLog.size < 5) failedLog += s"$what: ${Harness.oneLine(e)}"
        None
    }
  }
}

trait Workload {
  /** Generates the inputs; not part of set-up time. */
  def prepare(): Unit = ()

  /** The fixed operation every set-up ends with. */
  def probe(spark: SparkSession): Unit

  /** Untimed warm-up after set-up: first batches, first query calls. */
  def warm(spark: SparkSession, ph: Phase): Unit

  /** One timed phase of `seconds`; with an enabled tracer it also fills
    * the per-layer numbers.
    */
  def measure(spark: SparkSession, tr: Tracer, census: Option[Census],
      ph: Phase): Unit

  /** Traced-run extras that need their own session or inputs; `untraced`
    * is the run's untraced phase. May stop `spark`.
    */
  def extras(spark: SparkSession, tr: Tracer, ph: Phase,
      untraced: Phase): Unit = ()
}

object Harness {

  def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.nextOption()
        .getOrElse("").take(240)

  /** Executor threads: one core is left to the driver (its JIT, GC and
    * the harness's generator and reader threads), as on a cluster where
    * the driver has a machine of its own.
    */
  def cores: Int = math.max(1, Runtime.getRuntime.availableProcessors - 1)

  /** One local session with the program's bench settings (the same
    * master, partitions and codegen cache as `graft.Bench`), with every
    * path it writes kept under the run's work directory.
    */
  def session(nCores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nCores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nCores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (steal, total) CPU jiffies from /proc/stat: time the machine's other
    * guests took from this one, which no benchmark setting can remove.
    */
  def cpuSteal(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  /** Heap still in use after a full collection: what the run retains. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val l = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c =>
      rmrf(c.getPath)))
    f.delete(): Unit
  }

  /** Per-call numbers of one traced DataFrame materialisation. */
  final case class QueryStat(buildMs: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, execMs: Double,
      wallMs: Double)

  /** Builds, plans and collects one DataFrame. With tracing on, each step
    * is a span under `parent` and the Spark jobs it starts are attributed
    * to that step through [[Census.SpanKey]]; with tracing off it is the
    * plain `build.collect()` a client would run.
    */
  def collectTimed(spark: SparkSession, tr: Tracer, parent: Long, op: Long,
      build: => DataFrame): (DataFrame, Array[Row], QueryStat) = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    if (!tr.enabled) {
      val df = build
      val rows = df.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      (df, rows, QueryStat(Double.NaN, Double.NaN, Double.NaN, Double.NaN,
        Double.NaN, ms))
    } else {
      def step[T](name: String)(f: => T): T = {
        val id = tr.newId()
        sc.setLocalProperty(Census.SpanKey, id.toString)
        try tr.span(name, "queries", parent, op, id)(f)
        finally sc.setLocalProperty(Census.SpanKey, null)
      }
      val df = step("queries.build")(build)
      val t1 = System.nanoTime()
      step("queries.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = step("queries.exec")(df.collect())
      val t3 = System.nanoTime()
      val ph = df.queryExecution.tracker.phases
      def phMs(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      (df, rows, QueryStat((t1 - t0) / 1e6, phMs("analysis"),
        phMs("optimization"), phMs("planning"), (t3 - t2) / 1e6,
        (t3 - t0) / 1e6))
    }
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer numbers every traced phase reports: the Spark census over
    * the phase's jobs, codegen deltas, per-query plan phases, and each
    * layer's summed self time.
    */
  def censusLayers(ph: Phase, jobs: Seq[Census.JobStat],
      codegen0: (Long, Double), qs: Seq[QueryStat], spans: Seq[Span],
      nOps: Int): Unit = {
    val t = Census.totals(jobs)
    val (c1, ms1) = Census.codegen()
    ph.layer("spark.task_s") = t.runMs / 1000.0
    ph.layer("spark.cpu_s") = t.cpuNs / 1e9
    ph.layer("spark.gc_s") = t.gcMs / 1000.0
    ph.layer("spark.shuffle_read_bytes") = t.shuffleRead.toDouble
    ph.layer("spark.shuffle_write_bytes") = t.shuffleWrite.toDouble
    ph.layer("spark.spill_bytes") = t.spill.toDouble
    ph.layer("spark.codegen.compile_count") = (c1 - codegen0._1).toDouble
    ph.layer("spark.codegen.compile_ms") = ms1 - codegen0._2
    ph.layer("queries.build_ms") = mean(qs.map(_.buildMs))
    ph.layer("queries.plan_analysis_ms") = mean(qs.map(_.analysisMs))
    ph.layer("queries.plan_optimization_ms") = mean(qs.map(_.optimizationMs))
    ph.layer("queries.plan_planning_ms") = mean(qs.map(_.planningMs))
    ph.layer("queries.exec_ms") = mean(qs.map(_.execMs))
    val self = SelfTime.byLayerMs(spans)
    val per = math.max(1, nOps).toDouble
    Seq("streaming", "queries", "spark").foreach { l =>
      ph.layer(s"$l.self_ms_per_op") = self.getOrElse(l, 0.0) / per
    }
    ph.layer("trace.spans") = spans.size.toDouble
  }
}
