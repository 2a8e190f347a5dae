package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One traced interval. Times are epoch microseconds; `parent` is 0 for a
  * root span; `op` groups the spans of one operation (a query call, a
  * micro-batch, a reader poll).
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    op: Long, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled tracers record nothing and hand out
  * id 0, so call sites need no branches. Spans are written out once, at
  * the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def newId(): Long = if (enabled) ids.incrementAndGet() else 0L

  def record(s: Span): Unit = if (enabled) synchronized { buf += s }

  /** Time `f` as span `name` under `parent`; `id` may be pre-allocated so
    * that jobs started inside `f` can name it as their parent.
    */
  def span[T](name: String, layer: String, parent: Long, op: Long,
      id: Long = -1L)(f: => T): T = {
    if (!enabled) f
    else {
      val sid = if (id > 0) id else newId()
      val t0 = nowUs
      try f finally record(Span(sid, parent, name, layer, op, t0, nowUs))
    }
  }

  def spans: Seq[Span] = synchronized(buf.toSeq)

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startUs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","""
      sb ++= s""""layer":"${s.layer}","op":${s.op},"start_us":${s.startUs},"""
      sb ++= s""""end_us":${s.endUs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(path), sb.toString)
  }
}

object SelfTime {

  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its direct children (clipped to the parent,
    * so overlapping or overhanging children are not double counted).
    */
  def compute(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Summed self time per layer, in milliseconds. */
  def byLayerMs(spans: Seq[Span]): Map[String, Double] = {
    val self = compute(spans)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1000.0
    }
  }
}

/** Spark-side census: jobs, stages, tasks, executor run/CPU/GC time,
  * shuffle and spill, per job. Each job is attributed to the operation
  * that caused it through the local property [[Census.SpanKey]] (set by
  * the benchmark on its own threads) or, for streaming jobs, through the
  * micro-batch id Spark stamps on the stream thread.
  */
final class Census(tracer: Tracer) extends SparkListener {
  import Census._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop(SpanKey).map(_.toLong).getOrElse(0L)
    val batch = prop("streaming.sql.batchId").map(_.toLong).orElse(
      prop("spark.job.description").flatMap(d =>
        BatchRe.findFirstMatchIn(d).map(_.group(1).toLong)))
    val st = new JobStat(e.jobId, e.time, span, batch.getOrElse(-1L),
      prop("sql.streaming.queryId").getOrElse(""))
    st.stages = e.stageInfos.size
    e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
    jobs(e.jobId) = st
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { st =>
      st.endMs = e.time
      st.failed = e.jobResult != JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); st <- jobs.get(j)) {
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Seq[JobStat] = synchronized(jobs.values.map(_.copy).toSeq)

  /** Spans of the jobs from the `from`-th on, parented to the benchmark
    * span that caused them. Streaming jobs are parented by `batchParent`
    * (query id and batch id to span id).
    */
  def jobSpans(batchParent: (String, Long) => Long,
      from: Int = 0): Seq[Span] =
    snapshot.drop(from).filter(_.endMs > 0).map { j =>
      val parent =
        if (j.span > 0) j.span
        else if (j.batch >= 0) batchParent(j.queryId, j.batch)
        else 0L
      Span(tracer.newId(), parent, "spark.job", "spark", j.batch,
        j.startMs * 1000L, j.endMs * 1000L)
    }
}

object Census {
  val SpanKey = "perfbench.span"
  private val BatchRe = """batch = (\d+)""".r

  final class JobStat(val jobId: Int, val startMs: Long, val span: Long,
      val batch: Long, val queryId: String) {
    var endMs = 0L
    var failed = false
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    def copy: JobStat = {
      val c = new JobStat(jobId, startMs, span, batch, queryId)
      c.endMs = endMs; c.failed = failed; c.stages = stages; c.tasks = tasks
      c.runMs = runMs; c.cpuNs = cpuNs; c.gcMs = gcMs
      c.shuffleRead = shuffleRead; c.shuffleWrite = shuffleWrite
      c.spill = spill
      c
    }
  }

  /** Sums over a set of jobs. */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)

  def totals(js: Seq[JobStat]): Totals = Totals(js.size, js.map(_.stages).sum,
    js.map(_.tasks).sum, js.map(_.runMs).sum, js.map(_.cpuNs).sum,
    js.map(_.gcMs).sum, js.map(_.shuffleRead).sum, js.map(_.shuffleWrite).sum,
    js.map(_.spill).sum)

  /** Whole-stage codegen compiles so far (count, summed ms estimate). */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
