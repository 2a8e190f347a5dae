package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.{Features, TickParse}
import graft.streaming.{FileTickSource, SourceOptions, StreamingPipeline}

/** The catch-up phase of `ticks`: the flagship pipeline replaying a seeded
  * historical tick set (hours of market time, JSON-lines files) through a
  * `FileTickSource` with `Trigger.AvailableNow`. Each replay starts from a
  * fresh checkpoint, so every replay does the same work, and a run makes a
  * fixed number of them, so that what a run retains does not depend on
  * how fast it replays. A tick's latency runs from the replay's start (when
  * all input was available) to the commit of its batch.
  */
final class Backfill(a: Args) {
  import Backfill._

  private val in = s"${a.work}/backfill/in"
  private val log = new ProgressLog
  private var checked = false

  def prepare(): Unit = {
    val ts = Gen.ticks(a.seed, NumFiles * PerFile, Rate, 64)
    Files.createDirectories(Path.of(in))
    ts.grouped(PerFile).zipWithIndex.foreach { case (part, i) =>
      val body = part.iterator.map(t => Gen.envelope(Gen.payload(t.sym,
        t.price, Origin + t.offsetUs / 1000))).mkString("", "\n", "\n")
      Files.writeString(Path.of(in, f"part-$i%05d.json"), body)
    }
  }

  private def cfg(dir: String) = StreamingPipeline.Config(
    checkpointDir = s"$dir/ckpt", outDir = s"$dir/out")

  /** One replay of `input`; returns (wall ns, progress with sighting times,
    * start ns), or None when the query failed.
    */
  private def replay(spark: SparkSession, input: String, dir: String,
      ph: Phase) = {
    spark.streams.addListener(log)
    try {
      val t0 = System.nanoTime()
      val src = new FileTickSource(input,
        SourceOptions(maxFilesPerTrigger = FilesPerBatch))
      val q = StreamingPipeline.start(spark, src, cfg(dir),
        Trigger.AvailableNow())
      q.awaitTermination()
      val wall = System.nanoTime() - t0
      log.await(q.id, 10000)(_ => log.terminated(q.id))
      val ps = log.of(q.id)
      ph.attempted += ps.size
      q.exception match {
        case Some(e) =>
          ph.failed += 1
          ph.fail(s"backfill: replay failed: ${Harness.oneLine(e)}")
          None
        case None => Some((wall, ps, t0))
      }
    } finally spark.streams.removeListener(log)
  }

  /** One untimed replay, so that the timed ones run warm. */
  def warm(spark: SparkSession, ph: Phase): Unit = {
    val d = s"${a.work}/backfill/warm-run"
    replay(spark, in, d, ph)
    Harness.rmrf(d)
  }

  def measure(spark: SparkSession, tr: Tracer,
      census: Option[Census], ph: Phase): Unit = {
    val events = NumFiles * PerFile
    val rates = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val codegen0 = Census.codegen()
    val jobs0 = census.map(_.snapshot.size).getOrElse(0)
    val spans0 = tr.spans.size
    var last: Option[String] = None
    (1 to Replays).foreach { _ =>
      val dir = s"${a.work}/backfill/run-${System.nanoTime()}"
      replay(spark, in, dir, ph).foreach { case (wall, ps, t0) =>
        rates += events / (wall / 1e9)
        ps.foreach { case (seen, p) =>
          val ms = (seen - t0) / 1e6
          var k = 0L
          while (k < p.numInputRows) { lat += ms; k += 1 }
        }
        val inRows = ps.map(_._2.numInputRows).sum
        if (inRows != events)
          ph.fail(s"backfill: $inRows input rows committed, $events written")
        val dropped = Streams.rowsDropped(ps.map(_._2))
        if (dropped != 0)
          ph.fail(s"backfill: $dropped rows dropped by the watermark")
        batches ++= ps.map(_._2)
      }
      last.foreach(Harness.rmrf)
      last = Some(dir)
    }

    // Correctness, once per run: the finalized sink equals the batch
    // features over the same ticks.
    if (!checked) last.foreach { dir =>
      checked = true
      ph.attempt("check") {
        val raw = spark.read.schema(StructType(Seq(
          StructField("value", StringType)))).json(in)
        val batch = Features.compute(TickParse.parseRaw(raw),
          StreamingPipeline.featureConfig(cfg(dir)))
        val cols = batch.columns.toSeq
        val fin = Streams.finalFeatures(spark, cfg(dir).outDir)
          .select(cols.map(org.apache.spark.sql.functions.col): _*)
        val n = batch.count()
        val extra = fin.exceptAll(batch).count()
        val missing = batch.exceptAll(fin).count()
        if (extra != 0 || missing != 0 || n == 0)
          ph.fail(s"backfill: finalized sink differs from batch features " +
            s"($extra extra, $missing missing of $n rows)")
      }.getOrElse(ph.fail("backfill: correctness check did not run"))
    }

    val ls = Stats.summarize(lat, maxQ = Live.TickTailQ)
    val eps = Stats.median(rates)
    ph.e2e("throughput_per_s") = eps
    ph.e2e("latency_p50_ms") = ls.p50
    ph.e2e("latency_tail_ms") = ls.tail
    ph.named += (("backfill_events_per_s", eps, "1/s"))
    ph.named += (("backfill_replays", rates.size.toDouble, "count"))
    rates.zipWithIndex.foreach { case (r, k) =>
      ph.named += ((s"backfill_replay${k + 1}_events_per_s", r, "1/s")) }
    ph.named += (("backfill_events_per_replay", events.toDouble, "count"))
    ph.named += (("backfill_latency_p50_ms", ls.p50, "ms"))
    ph.named += ((f"backfill_latency_p${ls.tailQ * 100}%.0f_ms", ls.tail, "ms"))

    if (tr.enabled) census.foreach { c =>
      val jobs = c.snapshot.drop(jobs0)
      Streams.batchLayers(ph, batches.toSeq, jobs, Harness.cores)
      last.foreach { dir =>
        val (files, bytes) = Streams.sinkFiles(cfg(dir).outDir)
        ph.layer("streaming.sink_files_per_batch") =
          files / math.max(1, batches.size / math.max(1, rates.size)).toDouble
        ph.layer("streaming.sink_bytes_per_event") = bytes / events.toDouble
      }
      val (bs, addBatch) = Streams.batchSpans(tr, batches.toSeq)
      bs.foreach(tr.record)
      c.jobSpans((qid, b) => addBatch.getOrElse((qid, b), 0L), jobs0)
        .foreach(tr.record)
      Harness.censusLayers(ph, jobs, codegen0, Nil, tr.spans.drop(spans0),
        batches.size)
    }
    last.foreach(Harness.rmrf)
  }

  /** Traced-run extras: the per-row operator costs, and the single-core
    * baseline replay for `spark.scaling_ratio`.
    */
  def extras(spark: SparkSession, tr: Tracer, ph: Phase,
      untraced: Phase): Unit = {
    Ops.time(spark, a.seed, tr, ph)
    val multi = untraced.e2e.getOrElse("throughput_per_s", Double.NaN)
    spark.stop()
    val one = Harness.session(1, a.work)
    try {
      // The JVM is warm and the codegen cache survives the session, so
      // this replay needs no warm-up of its own.
      val dir = s"${a.work}/backfill/single"
      replay(one, in, dir, ph).foreach { case (wall, _, _) =>
        val eps1 = NumFiles * PerFile / (wall / 1e9)
        ph.layer("spark.single_core_events_per_s") = eps1
        ph.layer("spark.scaling_ratio") = multi / eps1
      }
      Harness.rmrf(dir)
    } finally one.stop()
  }
}

object Backfill {
  val NumFiles = 6
  val PerFile = 10000
  val FilesPerBatch = 2
  /** Ticks per second of market time: an eighth of the producer's design
    * rate, so that the 60k ticks of a replay span 2.7 h of history and
    * the watermark closes about a thousand windows per symbol.
    */
  val Rate: Double = Live.Rate / 8
  val Origin = 1704205800000L // 2024-01-02T14:30:00Z
  val Replays = 3
}
