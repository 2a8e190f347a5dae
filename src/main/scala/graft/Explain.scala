package graft

import org.apache.spark.sql.SparkSession

/** Prints the formatted physical plan of named registry queries
  * (builder tooling for shuffle/pushdown/codegen auditing).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // plan capture wants the FULL lineage, not the post-checkpoint tail
    // (the sysprop gate keeps "off" refusable everywhere else — Dedup)
    sys.props(graft.extra.Dedup.AllowOffProp) = "1"
    def explainIn(mode: String, n: String): Unit = {
      spark.conf.set(graft.extra.Dedup.CheckpointModeKey, mode)
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    names.foreach { n =>
      println(s"\n======== $n ========")
      // the loop operators that read an Observation metric of their
      // materialization job (pagerank, bfs, connected components)
      // cannot build under "off" and fail fast; their plans are
      // captured in the default local mode (the lazy loop structure
      // over LogicalRDD leaves, the shape that matters there)
      try explainIn("off", n)
      catch {
        case e: UnsupportedOperationException =>
          println(s"(checkpoint mode local: ${e.getMessage})")
          explainIn("local", n)
      }
    }
    spark.stop()
  }
}
