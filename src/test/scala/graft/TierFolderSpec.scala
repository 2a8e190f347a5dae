package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.{AnnIndex, SubstrIndex}
import graft.streaming.{AnnIngest, SubstrIngest}

/** The background tier folder's lifetime ([[graft.streaming.TierFolder]]):
  * every ingest start makes one fold thread, and the query's end must
  * take it down — repeated start/stop cycles leave no `*-tier-fold`
  * thread behind.
  */
class TierFolderSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def foldThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.endsWith("-tier-fold"))
      .map(_.getName)

  /** Three start → one batch → stop rounds; the batch submits a
    * background fold, so its thread exists, and after the stop it must
    * be gone (the query-end event is delivered asynchronously, hence
    * the bounded wait).
    */
  private def cycles(start: (DataFrame, String) => StreamingQuery): Unit =
    for (round <- 1 to 3) {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = start(mem.toDF().toDF("doc_id", "text"), tmp("fold_ckpt"))
      try {
        mem.addData((0 until 4).map(i => (1000L * round + i,
          s"round $round doc $i brown fox w${round}x$i jumps the fence")))
        q.processAllAvailable()
        assert(foldThreads().nonEmpty,
          s"round $round: the batch started no background fold")
      } finally q.stop()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (foldThreads().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(foldThreads().isEmpty,
        s"round $round: fold thread alive after stop: ${foldThreads()}")
    }

  test("AnnIngest: start/stop three times leaves no tier-fold thread") {
    val dir = tmp("fold_ann")
    val init = spark.range(100).select(col("id").as("doc_id"),
      AnnIngest.embedStub(concat(lit("seed doc "), col("id")), 64)
        .as("embedding"))
    AnnIndex.buildAndWriteIvfPq(init, "doc_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    cycles((curated, ckpt) => AnnIngest.start(curated, dir, ckpt,
      trigger = Trigger.ProcessingTime(0)))
  }

  test("SubstrIngest: start/stop three times leaves no tier-fold thread") {
    val dir = tmp("fold_substr")
    SubstrIndex.build(Seq((0L, "seed corpus shared run alpha beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, k = 5)
    cycles((curated, ckpt) => SubstrIngest.start(curated, dir,
      tmp("fold_substr_out"), ckpt, trigger = Trigger.ProcessingTime(0)))
  }
}
