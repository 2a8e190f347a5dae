package perfbench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.StreamingPipeline

/** Progress events as the listener saw them, with the monotonic time of
  * the sighting: that time is the commit time latency is measured to.
  */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._

  private val seen = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]
  private val done = mutable.Set.empty[UUID]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    synchronized { seen += ((System.nanoTime(), e.progress)) }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    synchronized { done += e.id }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  def of(id: UUID): Seq[(Long, StreamingQueryProgress)] =
    synchronized(seen.filter(_._2.id == id).toSeq)

  def terminated(id: UUID): Boolean = synchronized(done.contains(id))

  /** Waits until `ok` holds over this query's progress, up to `ms`. */
  def await(id: UUID, ms: Long)(
      ok: Seq[(Long, StreamingQueryProgress)] => Boolean): Boolean = {
    val end = System.nanoTime() + ms * 1000000L
    while (!ok(of(id)) && System.nanoTime() < end) Thread.sleep(5)
    ok(of(id))
  }
}

object Streams {

  /** MemoryStream / file-source end offset of a progress, as a number
    * (-1 when absent). The file source reports `{"logOffset":N}`.
    */
  def endOffset(p: StreamingQueryProgress): Long =
    offsetOf(p.sources.headOption.map(_.endOffset).orNull)
  def startOffset(p: StreamingQueryProgress): Long =
    offsetOf(p.sources.headOption.map(_.startOffset).orNull)

  private val Num = """-?\d+""".r
  private def offsetOf(json: String): Long =
    Option(json).flatMap(j => Num.findFirstIn(j)).map(_.toLong).getOrElse(-1L)

  val PhaseOrder: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** The dashboard's poll over a feature sink: finalize, then the KPI row
    * and the recent slice (last five minutes of windows), each collected.
    */
  def poll(spark: SparkSession, outDir: String, tr: Tracer, parent: Long,
      op: Long): Seq[Harness.QueryStat] = {
    val fin = () => StreamingPipeline.finalized(spark, outDir)
    val (_, k, s1) = Harness.collectTimed(spark, tr, parent, op,
      fin().agg(count(lit(1)).as("windows"),
        max(col("window_start")).as("latest"),
        round(avg(col("last_price")), 6).as("avg_last_price")))
    val latest = k(0).getTimestamp(1)
    val (_, _, s2) = Harness.collectTimed(spark, tr, parent, op,
      fin().filter(col("window_start") >=
          lit(new java.sql.Timestamp(latest.getTime - 300000L)))
        .select("symbol", "window_start", "last_price", "volatility",
          "num_ticks")
        .orderBy("symbol", "window_start"))
    Seq(s1, s2)
  }

  /** Parquet files and bytes under a sink directory. */
  def sinkFiles(dir: String): (Int, Long) = {
    val fs = Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length).sum)
  }

  /** Batch spans (one per progress, phases laid out in execution order)
    * plus the map from (query id, batch id) to the addBatch span that the
    * batch's Spark jobs belong under.
    */
  def batchSpans(tr: Tracer, ps: Seq[StreamingQueryProgress])
      : (Seq[Span], Map[(String, Long), Long]) = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val addBatch = mutable.HashMap.empty[(String, Long), Long]
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val s0 = start.getEpochSecond * 1000000L + start.getNano / 1000
      val bid = tr.newId()
      spans += Span(bid, 0L, "streaming.batch", "streaming", p.batchId, s0,
        s0 + (dur(p, "triggerExecution") * 1000).toLong)
      var t = s0
      PhaseOrder.foreach { k =>
        val d = (dur(p, k) * 1000).toLong
        val id = tr.newId()
        spans += Span(id, bid, s"streaming.$k", "streaming", p.batchId, t,
          t + d)
        if (k == "addBatch") addBatch((p.id.toString, p.batchId)) = id
        t += d
      }
    }
    (spans.toSeq, addBatch.toMap)
  }

  /** Per-batch phase, state-store and census numbers over `ps`. */
  def batchLayers(ph: Phase, ps: Seq[StreamingQueryProgress],
      jobs: Seq[Census.JobStat], cores: Int): Unit = {
    val n = math.max(1, ps.size).toDouble
    def avg(k: String) = ps.map(dur(_, k)).sum / n
    ph.layer("streaming.batches") = ps.size.toDouble
    ph.layer("streaming.latest_offset_ms") = avg("latestOffset")
    ph.layer("streaming.get_batch_ms") = avg("getBatch")
    ph.layer("streaming.query_planning_ms") = avg("queryPlanning")
    ph.layer("streaming.add_batch_ms") = avg("addBatch")
    ph.layer("streaming.wal_commit_ms") = avg("walCommit")
    ph.layer("streaming.commit_offsets_ms") = avg("commitOffsets")
    ph.layer("streaming.batch_ms") = avg("triggerExecution")
    val st = ps.flatMap(_.stateOperators.toSeq)
    ph.layer("ops.state_rows_total") =
      ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        .toDouble
    ph.layer("ops.state_memory_bytes") =
      ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .getOrElse(0L).toDouble
    ph.layer("ops.state_commit_ms") = st.map(_.commitTimeMs).sum / n
    ph.layer("ops.state_update_ms") = st.map(_.allUpdatesTimeMs).sum / n
    ph.layer("ops.rows_dropped_by_watermark") =
      st.map(_.numRowsDroppedByWatermark).sum.toDouble
    val ids = ps.map(p => (p.id.toString, p.batchId)).toSet
    val bj = jobs.filter(j => ids.contains((j.queryId, j.batch)))
    ph.layer("spark.jobs_per_batch") = bj.size / n
    val runByBatch = bj.groupBy(_.batch).map { case (b, js) =>
      b -> js.map(_.runMs).sum }
    ph.layer("spark.driver_gap_ms_per_batch") = ps.map { p =>
      dur(p, "triggerExecution") - runByBatch.getOrElse(p.batchId, 0L) /
        cores.toDouble
    }.sum / n
  }

  def rowsDropped(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum

  /** The sink's final rows, without the wall-clock columns. */
  def finalFeatures(spark: SparkSession, outDir: String): DataFrame =
    StreamingPipeline.finalized(spark, outDir)
      .drop("batch_id", "ingest_ts", "latency_ms")
}
