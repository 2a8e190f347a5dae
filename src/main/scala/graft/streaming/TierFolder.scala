package graft.streaming

import java.util.concurrent.{Callable, CancellationException,
  ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.extra.IndexManifests.{PreparedTier, TierFold}

/** Background size-tiered folding for a streaming index ingest (r17,
  * VERDICT r16 #6 — the max_batch spike was the batch that drew the
  * tier merge): the heavy half of a fold ([[TierFold.prepare]] — read
  * the tier, write the tier-up segment, invisible until committed)
  * runs on one daemon thread CONCURRENTLY with later micro-batches,
  * and the batch thread only pays the cheap manifest swap
  * ([[TierFold.commit]]) once the merge is ready. The manifest writer
  * stays single-threaded (the batch thread), so the put-if-absent
  * commit never races; a fold still pending at stream end leaves only
  * orphan `tier-` files for compact/vacuum to sweep.
  *
  * Lifetime: [[bind]] ties the folder to its query — when the query
  * terminates (stopped, failed or drained), the pending prepare's
  * Spark jobs are cancelled and the thread is shut down, so repeated
  * start/stop cycles leak neither threads nor running jobs.
  */
private[streaming] final class TierFolder(kind: String, fold: TierFold,
    dir: String, fanout: Int) {

  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, s"$kind-tier-fold"); t.setDaemon(true); t
  }
  private val pending = new AtomicReference[Future[Option[PreparedTier]]]()
  private val jobTag = s"graft-$kind-tier-fold-${java.util.UUID.randomUUID}"
  @volatile private var stopped = false

  /** Run one micro-batch's own work on the batch thread inside the
    * fold loop: first land a finished fold (one manifest write; a
    * failed prepare is dropped — orphan files only), then the batch,
    * then start the next fold if none is running.
    */
  def around(spark: SparkSession)(batch: => Unit): Unit = {
    val f = pending.get()
    if (f != null && f.isDone) {
      pending.set(null)
      try f.get().foreach(fold.commit(spark, dir, _): Unit)
      catch {
        case _: ExecutionException | _: CancellationException => ()
      }
    }
    batch
    if (fanout > 0 && !stopped && pending.get() == null)
      pending.set(pool.submit(new Callable[Option[PreparedTier]] {
        def call(): Option[PreparedTier] = {
          spark.sparkContext.addJobTag(jobTag)
          fold.prepare(spark, dir, fanout)
        }
      }))
  }

  /** Cancel the pending prepare (its Spark jobs too) and shut the
    * thread down. Idempotent.
    */
  def stop(spark: SparkSession): Unit = synchronized {
    if (!stopped) {
      stopped = true
      Option(pending.getAndSet(null)).foreach(_.cancel(true))
      spark.sparkContext.cancelJobsWithTag(jobTag)
      pool.shutdownNow(): Unit
    }
  }

  /** Stop this folder when `q` terminates; returns `q`. */
  def bind(q: StreamingQuery): StreamingQuery = {
    val spark = q.sparkSession
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) {
          spark.streams.removeListener(this)
          stop(spark)
        }
    }
    spark.streams.addListener(listener)
    // a query that ended before the listener was registered
    if (!q.isActive) {
      spark.streams.removeListener(listener)
      stop(spark)
    }
    q
  }
}
