package perfbench

import org.apache.spark.sql.SparkSession

/** `ticks`: the flagship pipeline as an operator runs it. It first catches
  * up on history ([[Backfill]]: AvailableNow replays through the file
  * source, where per-row cost dominates), then goes live ([[Live]]: an
  * open-loop feed with a dashboard reader on the same sink, where the
  * per-batch fixed cost dominates). The catch-up replays also warm the
  * pipeline's code before the live phase is timed.
  *
  * End to end: `throughput_per_s` is the replay's ticks/s; the latencies
  * and `read_p50_ms` are the live phase's. Per layer: the live phase's
  * numbers under their plain names, the replay's under `backfill.`.
  */
final class Ticks(a: Args) extends Workload {
  private val backfill = new Backfill(a)
  private val live = new Live(a)

  override def prepare(): Unit = {
    backfill.prepare()
    live.prepare()
  }

  override def probe(spark: SparkSession): Unit = Live.probe(spark, a.seed)

  override def warm(spark: SparkSession, ph: Phase): Unit = {
    backfill.warm(spark, ph)
    live.warm(spark, ph)
  }

  override def measure(spark: SparkSession, tr: Tracer,
      census: Option[Census], ph: Phase): Unit = {
    val b = new Phase
    backfill.measure(spark, tr, census, b)
    val l = new Phase
    live.measure(spark, tr, census, l)
    ph.e2e("throughput_per_s") = b.e2e("throughput_per_s")
    Seq("latency_p50_ms", "latency_tail_ms", "read_p50_ms").foreach(k =>
      ph.e2e(k) = l.e2e(k))
    ph.named ++= b.named
    ph.named ++= l.named
    ph.layer ++= l.layer
    Ticks.BackfillLayers.foreach(k => b.layer.get(k).foreach(v =>
      ph.layer(s"backfill.$k") = v))
    Seq(b, l).foreach { p =>
      ph.attempted += p.attempted
      ph.failed += p.failed
      ph.errors ++= p.errors
      ph.failedLog ++= p.failedLog
      p.invalid.foreach(r => ph.invalid = Some(r))
    }
  }

  override def extras(spark: SparkSession, tr: Tracer, ph: Phase,
      untraced: Phase): Unit = backfill.extras(spark, tr, ph, untraced)
}

object Ticks {
  /** Replay-phase layer numbers kept next to the live phase's. */
  val BackfillLayers: Seq[String] = Seq("streaming.batches",
    "streaming.batch_ms", "streaming.add_batch_ms", "streaming.sink_files_per_batch",
    "streaming.sink_bytes_per_event", "ops.state_rows_total",
    "ops.state_memory_bytes", "ops.state_commit_ms", "ops.state_update_ms",
    "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.driver_gap_ms_per_batch", "streaming.self_ms_per_op",
    "spark.self_ms_per_op")
}
