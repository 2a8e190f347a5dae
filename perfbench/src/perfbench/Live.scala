package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.{MemoryTickSource, StreamingPipeline}

/** The live phase of `ticks`, an open loop. A generator thread pushes
  * JSON ticks into a `MemoryTickSource` every `PeriodMs` at `Rate` ticks/s,
  * whatever the engine does (each push becomes one MemoryStream block and
  * so one input partition, hence pushes batched like a producer's linger);
  * one reader thread polls the dashboard reads over the same sink with a
  * fixed think time. Each tick's event time is its scheduled send time, and
  * its latency runs from that time to the moment the listener saw the
  * progress of the micro-batch whose MemoryStream offset range carried it.
  */
final class Live(a: Args) {
  import Live._

  private var ticks: Array[Gen.Tick] = Array.empty
  private var warmTicks: Array[Gen.Tick] = Array.empty
  private val log = new ProgressLog

  private def groupsFor(seconds: Int) = (WarmS + seconds) * 1000 / PeriodMs
  private def firstMeasured = WarmS * 1000 / PeriodMs
  private def perGroup = (Rate * PeriodMs / 1000).toInt

  def prepare(): Unit = {
    ticks = Gen.ticks(a.seed, groupsFor(a.seconds) * perGroup, Rate,
      perGroup)
    warmTicks = Gen.ticks(a.seed ^ 0x5eed, WarmPushes * perGroup * 10, Rate,
      perGroup)
  }

  /** An untimed open-loop session of `WarmUpS` seconds, reader included:
    * the first live query in a JVM runs its batches and polls markedly
    * slower than the ones after it. Its failures count; its numbers do not.
    */
  def warm(spark: SparkSession, ph: Phase): Unit = {
    val w = new Phase
    measure(spark, new Tracer(false), None, w, WarmUpS)
    ph.attempted += w.attempted
    ph.failed += w.failed
    ph.errors ++= w.errors
    ph.failedLog ++= w.failedLog
  }

  def measure(spark: SparkSession, tr: Tracer, census: Option[Census],
      ph: Phase, seconds: Int = a.seconds): Unit = {
    val groups = groupsFor(seconds)
    val dir = s"${a.work}/live-${System.nanoTime()}"
    val cfg = StreamingPipeline.Config(checkpointDir = s"$dir/ckpt",
      outDir = s"$dir/out")
    spark.streams.addListener(log)
    val src = new MemoryTickSource(spark)
    val sinkOn = new AtomicBoolean(true)
    val q = StreamingPipeline.start(spark, src, cfg, Trigger.ProcessingTime(0),
      () => sinkOn.get)
    val id = q.id
    def committed(ps: Seq[(Long, StreamingQueryProgress)]) =
      ps.map(p => Streams.endOffset(p._2)).foldLeft(-1L)(math.max)

    // Warm-up, untimed: WarmPushes pushes of ten groups each, in one go.
    val warmEpoch = System.currentTimeMillis() - 2000L
    warmTicks.grouped(perGroup * 10).foreach { g =>
      src.addData(g.toSeq.map(t => Gen.payload(t.sym, t.price,
        warmEpoch + t.offsetUs / 1000)))
    }
    if (!log.await(id, 120000)(ps => committed(ps) >= WarmPushes - 1))
      ph.fail("live: warm-up batches did not commit within 120 s")
    val warmBatches = log.of(id).size

    // Open loop: WarmS seconds of warm-up, then the measured seconds.
    val pushedEvents = new AtomicLong(warmTicks.length.toLong)
    val lateMaxNs = new AtomicLong(0L)
    val pushed = new AtomicLong(0L) // measured groups pushed
    val stop = new AtomicBoolean(false)
    val periodNs = PeriodMs * 1000000L
    val t0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    val gen = new Thread(() => {
      var g = 0
      while (g < groups && !stop.get) {
        val due = t0 + (g + 1) * periodNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lateMaxNs.accumulateAndGet(now - due, math.max)
        val batch = (g * perGroup until (g + 1) * perGroup).map { i =>
          val t = ticks(i)
          Gen.payload(t.sym, t.price, epoch0 + t.offsetUs / 1000)
        }
        src.addData(batch)
        pushedEvents.addAndGet(perGroup.toLong)
        g += 1
        pushed.set(g.toLong)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.setPriority(Thread.MAX_PRIORITY)

    val reads = mutable.ArrayBuffer.empty[Double]
    val qstats = mutable.ArrayBuffer.empty[Harness.QueryStat]
    val reader = new Thread(() => {
      var op = 0L
      while (!stop.get) {
        op += 1
        val pid = tr.newId()
        val t = System.nanoTime()
        val counted = t >= t0 + WarmS * 1000000000L // measured phase
        val r = ph.attempt("poll") {
          tr.span("streaming.poll", "streaming", 0L, -op, pid) {
            Streams.poll(spark, cfg.outDir, tr, pid, -op)
          }
        }
        if (counted) r.foreach { st =>
          reads += (System.nanoTime() - t) / 1e6
          qstats ++= st
        }
        val wake = System.nanoTime() + ThinkMs * 1000000L
        while (!stop.get && System.nanoTime() < wake) Thread.sleep(5)
      }
    }, "perfbench-reader")
    reader.setDaemon(true)

    val jobs0 = census.map(_.snapshot.size).getOrElse(0)
    val spans0 = tr.spans.size
    gen.start(); reader.start()
    val warmEndNs = t0 + WarmS * 1000000000L
    while (System.nanoTime() < warmEndNs) Thread.sleep(1)
    val codegen0 = Census.codegen()
    gen.join((seconds + 30) * 1000L)
    stop.set(true)
    val lastOffset = WarmPushes - 1 + pushed.get
    if (!log.await(id, 60000)(ps => committed(ps) >= lastOffset))
      ph.fail(s"live: offset $lastOffset not committed within 60 s")
    reader.join(60000)
    sinkOn.set(false)
    q.stop()
    spark.streams.removeListener(log)

    val all = log.of(id)
    val tm = warmEndNs
    val measured = all.drop(warmBatches).filter(_._1 >= tm)
    ph.attempted += all.size
    q.exception.foreach { e =>
      ph.failed += 1
      ph.fail(s"live: query failed: ${Harness.oneLine(e)}")
    }

    // Correctness: every pushed tick counted as committed input, none
    // dropped behind the watermark.
    val inRows = all.map(_._2.numInputRows).sum
    if (inRows != pushedEvents.get)
      ph.fail(s"live: $inRows input rows committed, ${pushedEvents.get} pushed")
    val dropped = Streams.rowsDropped(all.map(_._2))
    if (dropped != 0) ph.fail(s"live: $dropped rows dropped by the watermark")

    val commits = all.drop(warmBatches).map { case (seenNs, p) =>
      (seenNs, Streams.startOffset(p), Streams.endOffset(p)) }
    val lat = tickLatencies(commits, t0, ticks, perGroup, pushed.get.toInt,
      WarmPushes.toLong, firstMeasured)
    val genLate = lateMaxNs.get / 1e6
    if (genLate > MaxGenLateMs)
      ph.invalid = Some(f"generator fell $genLate%.1f ms behind schedule " +
        s"(limit $MaxGenLateMs ms)")
    // Ticks of one batch share its commit, so the ticks beyond p99 come
    // from a single batch; p90's span several.
    val lats = Stats.summarize(lat, maxQ = TickTailQ)
    val rd = Stats.summarize(reads)
    val eps = commitRate(measured.map { case (ns, p) => (ns, p.numInputRows) })
    ph.e2e("throughput_per_s") = eps
    ph.e2e("latency_p50_ms") = lats.p50
    ph.e2e("latency_tail_ms") = lats.tail
    ph.e2e("read_p50_ms") = rd.p50
    ph.named += (("live_events_per_s", eps, "1/s"))
    ph.named += (("live_offered_per_s", Rate, "1/s"))
    ph.named += (("live_latency_p50_ms", lats.p50, "ms"))
    ph.named += ((f"live_latency_p${lats.tailQ * 100}%.0f_ms", lats.tail, "ms"))
    ph.named += (("live_latency_samples", lats.n.toDouble, "count"))
    ph.named += (("live_read_p50_ms", rd.p50, "ms"))
    if (rd.tailQ > 0.5)
      ph.named += ((f"live_read_p${rd.tailQ * 100}%.0f_ms", rd.tail, "ms"))
    ph.named += (("live_read_samples", rd.n.toDouble, "count"))
    ph.named += (("live_batches", measured.size.toDouble, "count"))
    ph.named += (("live_batch_p50_ms", Stats.median(measured.map(p =>
      p._2.durationMs.get("triggerExecution").toDouble)), "ms"))
    ph.named += (("gen_late_ms_max", genLate, "ms"))

    if (tr.enabled) census.foreach { c =>
      val ps = measured.map(_._2)
      val jobs = c.snapshot.drop(jobs0)
        .filter(_.startMs >= epoch0 + WarmS * 1000L)
      Streams.batchLayers(ph, ps, jobs, Harness.cores)
      // Backlog at each commit: ticks pushed by then minus ticks committed.
      ph.layer("streaming.backlog_events") = measured.map { case (seenNs, p) =>
        val dueGroups = math.min(pushed.get,
          math.max(0L, (seenNs - t0) / periodNs))
        math.max(0L, dueGroups - (Streams.endOffset(p) - WarmPushes + 1)) *
          perGroup
      }.foldLeft(0L)(math.max).toDouble
      ph.layer("harness.gen_late_ms_max") = genLate
      val (files, bytes) = Streams.sinkFiles(cfg.outDir)
      val dataBatches = all.count(_._2.numInputRows > 0)
      ph.layer("streaming.sink_files_per_batch") =
        files / math.max(1, dataBatches).toDouble
      ph.layer("streaming.sink_bytes_per_event") =
        bytes / math.max(1L, pushedEvents.get).toDouble
      val (bs, addBatch) = Streams.batchSpans(tr, ps)
      bs.foreach(tr.record)
      c.jobSpans((qid, b) => addBatch.getOrElse((qid, b), 0L), jobs0)
        .foreach(tr.record)
      Harness.censusLayers(ph, jobs, codegen0, qstats.toSeq,
        tr.spans.drop(spans0), ps.size)
    }
    Harness.rmrf(dir)
  }
}

object Live {

  /** Latency in ms of each measured tick, from its scheduled send time
    * (`t0` plus its event-time offset) to the sighting of the progress
    * whose offset range (start, end] carried its group; group g sits at
    * offset `firstOffset + g`. When the tick was actually pushed plays no
    * part, so a generator stall is charged to the ticks it delayed. Only
    * groups from `fromGroup` on are reported, and only committed ones.
    */
  def tickLatencies(commits: Seq[(Long, Long, Long)], t0: Long,
      ticks: Array[Gen.Tick], perGroup: Int, groups: Int,
      firstOffset: Long, fromGroup: Int): Array[Double] = {
    val lat = Array.fill(groups * perGroup)(Double.NaN)
    commits.foreach { case (seenNs, start, end) =>
      var o = math.max(start + 1, firstOffset + fromGroup)
      while (o <= math.min(end, firstOffset + groups - 1)) {
        val g = (o - firstOffset).toInt
        (g * perGroup until (g + 1) * perGroup).foreach { i =>
          lat(i) = (seenNs - (t0 + ticks(i).offsetUs * 1000L)) / 1e6
        }
        o += 1
      }
    }
    lat.filterNot(_.isNaN)
  }

  /** Ticks committed per second over whole batch intervals: the rows of
    * every commit after the first, over the time from the first commit to
    * the last. Matches the offered rate while the engine keeps up.
    */
  def commitRate(commits: Seq[(Long, Long)]): Double = {
    val data = commits.filter(_._2 > 0).sortBy(_._1)
    if (data.size < 2) Double.NaN
    else data.tail.map(_._2).sum / ((data.last._1 - data.head._1) / 1e9)
  }

  /** The reference producer's design rate, `--tps 50` over its three
    * symbols (`synthetic_ticks.py`, BASELINE.md).
    */
  val Rate = 50.0

  /** Push cadence. The producer lingers 5 ms, so at 50 ticks/s it sends
    * nearly every tick on its own; but each `addData` becomes one
    * MemoryStream block and so one input partition of the next batch,
    * where a Kafka batch has one per topic partition (six). Pushing every
    * 100 ms keeps a batch of about a second near that count.
    */
  val PeriodMs = 100
  val ThinkMs = 500L
  val WarmS = 3
  val WarmUpS = 4
  val WarmPushes = 4
  val MaxGenLateMs = 250.0
  val TickTailQ = 0.90

  /** The set-up probe of the tick workloads: parse plus features over a
    * small seeded batch, collected.
    */
  def probe(spark: SparkSession, seed: Long): Unit = {
    import spark.implicits._
    val ts = Gen.ticks(seed, 2000, 25.0, 64)
    val raw = ts.toSeq.map(t => Gen.payload(t.sym, t.price,
      Backfill.Origin + t.offsetUs / 1000)).toDF("value")
    StreamingPipeline.transform(raw, StreamingPipeline.Config()).collect(): Unit
  }
}
