package graft

import org.apache.spark.sql.functions.lit

import graft.extra.Graph

/** Hand-checked PageRank behavior (the oracle gate replays the exact
  * 10-iteration recurrence at corpus scale; these pin the math on
  * graphs small enough to verify by eye).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("plan-capture mode (checkpoint off): pagerank, bfs and " +
      "connected components fail fast with a clear error instead of " +
      "blocking on their never-filled Observation metric") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import graft.extra.Dedup
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val runs: Seq[(String, () => Any)] = Seq(
      "pagerank" -> (() => Graph.pagerank(edges, "src", "dst", iters = 2)),
      "bfs" -> (() => Graph.bfs(edges, "src", "dst", lit(1L), 3)),
      "connectedComponents" ->
        (() => Graph.connectedComponents(edges, "src", "dst")))
    sys.props(Dedup.AllowOffProp) = "1"
    spark.conf.set(Dedup.CheckpointModeKey, "off")
    try runs.foreach { case (name, run) =>
      val outcome = Await.result(
        Future(scala.util.Try(run())), 60.seconds)
      val err = outcome.failed.toOption
      assert(err.exists(_.isInstanceOf[UnsupportedOperationException]),
        s"$name under checkpoint mode off: $outcome")
      assert(err.get.getMessage.contains(Dedup.CheckpointModeKey))
    } finally {
      spark.conf.unset(Dedup.CheckpointModeKey)
      sys.props.remove(Dedup.AllowOffProp): Unit
    }
  }

  test("two-node cycle: perfect symmetry keeps both ranks at 1/2") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val out = Graph.pagerank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    assert(out("a") == 0.5 && out("b") == 0.5)
  }

  test("ranks sum to ~1 on a graph with no dangling nodes") {
    // 4-node directed ring plus a chord — every node has out-degree
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("a", "c")).toDF("src", "dst")
    val ranks = Graph.pagerank(edges, "src", "dst", iters = 10)
      .collect().map(_.getAs[Double]("rank"))
    assert(math.abs(ranks.sum - 1.0) < 1e-9)
  }

  test("a node every other node points at outranks the others") {
    val edges = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"),
      ("hub", "a")).toDF("src", "dst")
    // the a↔hub 2-cycle oscillates with period 2, so run the fixed
    // recurrence long enough to be near the fixed point
    val out = Graph.pagerank(edges, "src", "dst", iters = 60)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    assert(out("hub") > out("a"))
    assert(out("a") > out("b")) // a also receives the hub's whole mass
    assert(out("b") == out("c")) // symmetric leaves tie exactly
  }

  test("result is invariant to input partitioning (integer fixed-point)") {
    val edges = (1 to 50).flatMap(i =>
      Seq((s"n$i", s"n${i % 7}"), (s"n${i % 7}", s"n$i")))
      .toDF("src", "dst")
    val once = Graph.pagerank(edges, "src", "dst").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    val again = Graph.pagerank(edges.repartition(13), "src", "dst")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    assert(once == again)
  }

  test("chained-broadcast gate is memory-derived (ADVICE r15): total " +
      "live broadcast bytes (iters * n * 64B — one broadcast per " +
      "round since r17) against 1/8 heap, boundary exact; the old " +
      "fixed 5M-node bound is rejected on a default-size driver") {
    val heap4g = 4L << 30
    // budget = heap/8 = 512 MB; live = iters*n*64
    // boundary at n*iters = 512MB/64 = 8,388,608
    assert(Graph.chainedBroadcastFits(8388608L / 10, 10, heap4g))
    assert(!Graph.chainedBroadcastFits(8388608L / 10 + 1, 10, heap4g))
    // the r15-ADVICE scenario: 5M nodes at 32 iters = ~20 GB of live
    // broadcasts — admitted by the old bound, rejected now on 4 GB
    assert(!Graph.chainedBroadcastFits(5000000L, 32, heap4g))
    // a cluster-size driver admits it again
    assert(Graph.chainedBroadcastFits(5000000L, 10, 64L << 30))
    // the plan-depth gate is independent of memory
    assert(!Graph.chainedBroadcastFits(10L, 33, 64L << 30))
    // both loop forms are bit-identical at EQUAL iters (integer
    // fixed-point): chainedHeapBytes = 0 forces the materialized-AQE
    // fallback on the same graph
    val edges = (1 to 30).flatMap(i =>
      Seq((s"n$i", s"n${i % 5}"), (s"n${i % 5}", s"n$i")))
      .toDF("src", "dst")
    def ranks(heap: Long) =
      Graph.pagerank(edges, "src", "dst", iters = 8,
          chainedHeapBytes = heap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks(Runtime.getRuntime.maxMemory) == ranks(0L))
  }

  test("empty edge frame fails fast with a clear message, not a " +
      "divide-by-zero") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.pagerank(empty, "src", "dst")
    }
    assert(e.getMessage.contains("non-empty"))
  }

  // ---- triangles ----------------------------------------------------

  private def triRow(edges: Seq[(String, String)]) = {
    val r = Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
      .collect().head
    (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"),
      r.getAs[Double]("global_cc"))
  }

  test("bfs: hand-checked hop distances on a small digraph, depth " +
      "bound respected, unreachable nodes absent") {
    // a -> b -> c -> d, a -> c (shortcut), e isolated
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
      ("e", "e2")).toDF("src", "dst")
    val out = Graph.bfs(edges, "src", "dst",
        org.apache.spark.sql.functions.lit("a"), maxDepth = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // c is dist 1 via the shortcut (NOT 2), d is dist 2 via c; e/e2
    // unreachable from a
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    val deep = Graph.bfs(edges, "src", "dst",
        org.apache.spark.sql.functions.lit("a"), maxDepth = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(deep == Map("a" -> 0, "b" -> 1, "c" -> 1))
  }

  test("bfs: early exit on an exhausted frontier — depth 10 on a " +
      "3-chain returns the 3 reachable nodes") {
    val edges = Seq(("x", "y"), ("y", "z")).toDF("src", "dst")
    val out = Graph.bfs(edges, "src", "dst",
        org.apache.spark.sql.functions.lit("x"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("x" -> 0, "y" -> 1, "z" -> 2))
  }

  test("bfs: Scala-driven loop equals the recursive-CTE formulation " +
      "(min-dist collapse) on a random-ish graph") {
    // deterministic pseudo-random sparse digraph: 60 nodes, edges from
    // a fixed LCG; exercises re-reached nodes at multiple depths
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(150)((rnd.nextInt(60), rnd.nextInt(60)))
      .filter { case (a, b) => a != b }
    val edges = pairs.toDF("src", "dst")
    edges.createOrReplaceTempView("bfs_eq_edges")
    val depth = 4
    val cte = spark.sql(
      s"""WITH RECURSIVE reach AS (
         |  SELECT 0 AS id, 0 AS dist
         |  UNION ALL
         |  SELECT DISTINCT e.dst AS id, r.dist + 1 AS dist
         |  FROM reach r JOIN bfs_eq_edges e ON e.src = r.id
         |  WHERE r.dist < $depth)
         |SELECT id, CAST(min(dist) AS INT) AS dist
         |FROM reach GROUP BY id""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val loop = Graph.bfs(edges, "src", "dst",
        org.apache.spark.sql.functions.lit(0), depth)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(loop == cte)
  }

  test("connectedComponents: two separate chains + an isolated pair " +
      "get their min ids; directions and duplicates don't matter") {
    // component {1,2,3} (chain, mixed directions, a duplicate edge),
    // component {10,11}, component {20,21,22} (star around 21)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L),
      (21L, 20L), (21L, 22L)).toDF("src", "dst")
    val out = Graph.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: pointer doubling labels a long chain in " +
      "O(log diameter) rounds; an unconverged cap THROWS instead of " +
      "returning k-hop labels") {
    // 0-1-2-...-40 chain: diameter 40 — plain propagation needs 40
    // rounds, pointer doubling converges within the default 10. One
    // edge per partition keeps the contraction pre-pass the identity,
    // so the loop faces the raw diameter regardless of the box's
    // default parallelism.
    val edges = spark.sparkContext
      .parallelize((0L until 40L).map(i => (i, i + 1)), numSlices = 40)
      .toDF("src", "dst")
    val full = Graph.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(1)).distinct.toSeq
    assert(full == Seq(0L))
    // 2 rounds reach ≤ ~7 hops — far short of 40: must throw, never
    // silently return partial labels
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(edges, "src", "dst", maxIters = 2)
        .collect()
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("localContract: self-loops and singletons survive, string ids " +
      "fall back, contraction equals union-find on random graphs " +
      "under any partitioning") {
    // self-loop-only node 7 keeps its row; raw duplicates/reversals
    // collapse inside the per-partition union-find
    val loops = Seq((7L, 7L), (1L, 2L), (2L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val out = Graph.connectedComponents(loops, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
    // string ids: the typed union-find tier declines, the generic loop
    // still labels correctly
    val s = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val so = Graph.connectedComponents(s, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(so == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
    // MIXED integral endpoint types widen to the larger (review fix:
    // casting back to src's narrower type wrapped long ids): int srcs,
    // long dsts beyond Int.MaxValue — labels must come back exact
    val big = 5000000000L
    val mixed = Seq((1, big), (1, 2L))
      .toDF("src", "dst")
      .selectExpr("CAST(src AS INT) AS src", "dst")
    val mo = Graph.connectedComponents(mixed, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mo == Map(1L -> 1L, 2L -> 1L, big -> 1L))
    // randomized differential vs a driver-side union-find, across
    // partitionings that split components over partition boundaries
    val rnd = new scala.util.Random(23)
    val pairs = Seq.fill(300)(
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> find(n)).sorted
    for (parts <- Seq(1, 7, 64)) {
      val got = Graph.connectedComponents(
          pairs.toDF("src", "dst").repartition(parts), "src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"parts=$parts")
    }
  }

  test("connectedComponents is invariant to input partitioning") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    def run(parts: Int) = Graph.connectedComponents(
        pairs.toDF("src", "dst").repartition(parts), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(run(1) == run(13))
  }

  test("triangles: K4 has 4 triangles, cc = 1; counted once each") {
    // complete graph on 4 nodes: C(4,3)=4 triangles, wedges Σ C(3,2)=12,
    // cc = 3·4/12 = 1.0
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b
    } yield (a, b)
    assert(triRow(k4) == (4L, 6L, 12L, 4L, 1.0))
  }

  test("triangles: a path has wedges but zero triangles, cc = 0") {
    assert(triRow(Seq(("a", "b"), ("b", "c"), ("c", "d"))) ==
      (4L, 3L, 2L, 0L, 0.0))
  }

  test("triangles canonicalizes: duplicates, reversed edges and " +
      "self-loops do not change the simple-graph census") {
    val messy = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"),
      ("c", "a"), ("a", "a"))
    // simple graph = triangle abc: 3 nodes, 3 edges, 3 wedges, 1 triangle
    assert(triRow(messy) == (3L, 3L, 3L, 1L, 1.0))
  }

  test("triangles: hub star plus one closing edge — orientation " +
      "enumerates each triangle exactly once at its lowest-rank vertex") {
    // star center h with leaves l1..l5, plus edge l1-l2: exactly 1
    // triangle (h,l1,l2); wedges = C(5,2) at h + 2·C(2,2) at l1,l2
    val edges = (1 to 5).map(i => ("h", s"l$i")) :+ ("l1", "l2")
    assert(triRow(edges) == (6L, 6L, 12L, 1L, 0.25))
  }

  test("triangles is invariant to input partitioning") {
    val edges = (1 to 60).flatMap(i =>
      Seq((s"n$i", s"n${(i * 7) % 23}"), (s"n${i % 5}", s"n${(i * 3) % 11}")))
    val once = triRow(edges)
    val df = edges.toDF("src", "dst").repartition(17)
    val r2 = Graph.triangles(df, "src", "dst").collect().head
    assert(once == (r2.getAs[Long]("n_nodes"), r2.getAs[Long]("n_edges"),
      r2.getAs[Long]("n_wedges"), r2.getAs[Long]("n_triangles"),
      r2.getAs[Double]("global_cc")))
  }
}
