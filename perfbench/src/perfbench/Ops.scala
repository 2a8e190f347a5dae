package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ops.{Features, TickParse}
import graft.streaming.StreamingPipeline

/** Per-row operator cost, timed alone: `TickParse.parseRaw`, then
  * `Features.compute` on its output, over a cached seeded tick set of the
  * backfill's shape, each written to the `noop` sink (all columns
  * materialised, nothing stored). Traced runs only; each repetition is an
  * `ops` span and the Spark jobs it starts are its children.
  */
object Ops {
  val Events = 120000
  val Reps = 3

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time(spark: SparkSession, seed: Long, tr: Tracer,
      ph: Phase): Unit = {
    import spark.implicits._
    val ts = Gen.ticks(seed, Events, Backfill.Rate, 64)
    val raw = ts.toSeq.map(t => Gen.payload(t.sym, t.price,
      Backfill.Origin + t.offsetUs / 1000)).toDF("value")
      .persist(StorageLevel.MEMORY_ONLY)
    raw.count()
    val sc = spark.sparkContext
    // The first repetition warms up and is not counted.
    def med(name: String)(f: => Unit): Double = Stats.median((0 to Reps).map {
      i =>
        val id = tr.newId()
        sc.setLocalProperty(Census.SpanKey, id.toString)
        val t = System.nanoTime()
        try tr.span(name, "ops", 0L, i, id)(f)
        finally sc.setLocalProperty(Census.SpanKey, null)
        (System.nanoTime() - t).toDouble
    }.drop(1))
    val parseNs = med("ops.parse")(noop(TickParse.parseRaw(raw)))
    val bothNs = med("ops.parse_features")(noop(Features.compute(
      TickParse.parseRaw(raw),
      StreamingPipeline.featureConfig(StreamingPipeline.Config()))))
    raw.unpersist()
    ph.layer("ops.parse_ns_per_event") = parseNs / Events
    ph.layer("ops.features_ns_per_event") =
      math.max(0.0, bothNs - parseNs) / Events
  }
}
