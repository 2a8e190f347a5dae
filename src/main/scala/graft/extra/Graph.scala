package graft.extra

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the second graph
  * operator family next to [[Dedup.dupClusters]]' connected components.
  */
object Graph {

  /** Fixed-point scale: ranks live in units of 1e−12 as BIGINTs. */
  val Scale: Long = 1000000000000L

  /** Max destinations per adjacency chunk row — bounds per-row array
    * memory independent of a hub's degree.
    */
  val MaxChunk: Int = 1 << 16

  /** PageRank with a FIXED iteration count in pure INTEGER fixed-point
    * arithmetic: ranks are BIGINT multiples of 1e−12, and the update is
    *
    *   rᵢ₊₁(v) = base + (dampingPct · Σ_{u→v} (rᵢ(u) div outdeg(u))) div 100
    *   base    = (Scale · (100 − dampingPct) div 100) div N
    *
    * — floor divisions and exact integer sums only. No floats appear
    * anywhere in the recurrence, so the result is bit-identical on any
    * partitioning AND in any other engine replaying it (the SQL oracle
    * unrolls the same integer update; an earlier double/round(…,12)
    * formulation disagreed with DuckDB in the 12th decimal because the
    * engines round doubles through different decimal expansions —
    * integers have no such frontier). Floor losses drop ≤1e−12 of mass
    * per node per division — deterministic and irrelevant at rank scale.
    *
    * No dangling-mass redistribution: callers feeding symmetric edges
    * (as the registered query does) have no dangling nodes, and the
    * simplified update is then exactly the standard one. Fixed `iters`
    * (not a convergence probe) keeps the result a pure function of the
    * input.
    *
    * Scale shape: the edge list is folded ONCE into a CHUNKED ADJACENCY
    * layout — `(src, deg, dsts: array)` with at most [[MaxChunk]]
    * destinations per row (hash-split, so a power-law hub becomes many
    * bounded rows, never one unbounded array) — and materialized. Every
    * iteration then joins ranks against ~|V| adjacency rows instead of
    * probing |E| edge rows (measured at sf0.1, 1.18M edges / 21k nodes,
    * 4 cores: 8.4s → 4.6s for 10 iterations; the per-iteration scan
    * drops from 1.18M rows to 22k array rows carrying the same dst
    * payload), followed by one `explode` (narrow), one keyed BIGINT
    * aggregation on `dst` (map-side combined), and a keyed left join
    * back to the node list. Per-iteration state is one (id, rank) row
    * per node — never edge-proportional. At cluster scale the same plan
    * holds with the adjacency frame bucketed by src on storage — the
    * standard adjacency-list PageRank layout.
    *
    * Output: `id`, `rank_e12` (BIGINT fixed-point), `rank` (the exact
    * double rank_e12/1e12 — rank_e12 < 2⁵³ so the cast is lossless),
    * one row per node.
    */
  /** Estimated live bytes of ONE broadcast (id, rank) relation:
    * ~16 B of unsafe-row payload per node plus the broadcast
    * hash-relation's key/pointer overhead — 64 B/row is the
    * conservative planning figure (Spark's own
    * `autoBroadcastJoinThreshold` sizing errs the same direction).
    */
  private val RankBroadcastRowBytes = 64L

  /** Whether [[pagerank]]'s CHAINED-broadcast loop fits memory
    * (ADVICE r15): the chained form executes all `iters` rounds as
    * ONE lazy job, and every round hints ONE broadcast relation (the
    * per-round mass aggregate — r17; the rank frame is recomputed
    * inline from it, so it no longer broadcasts separately) — all of
    * them live SIMULTANEOUSLY on the driver and on every executor
    * until the job finishes, so the gate must bound TOTAL live
    * broadcast bytes (iters · n · rowBytes) against the actual heap,
    * not node count alone. Budget: 1/8 of the JVM max heap — leaves
    * the other 7/8 to execution/shuffle and is well under
    * `spark.memory.fraction`'s storage share on any sane config. The
    * old fixed `n ≤ 5M` bound admitted ~20 GB of live broadcasts at
    * 32 iters — a realistic OOM on a default 1-4 GB driver.
    * GraphSpec pins the boundary arithmetic; past the bound the loop
    * falls back to the materialized-AQE form, which never
    * force-broadcasts.
    */
  private[graft] def chainedBroadcastFits(n: Long, iters: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Boolean =
    iters <= 32 &&
      iters * n * RankBroadcastRowBytes <= heapBytes / 8

  /** `chainedHeapBytes` overrides the heap figure the chained-
    * broadcast gate sizes against (defaults to this JVM's max heap —
    * pass the EXECUTOR heap when driver and executors are sized
    * differently, or 0 to force the materialized-AQE loop).
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, dampingPct: Int = 85,
      chainedHeapBytes: Long = Runtime.getRuntime.maxMemory)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .transform(Dedup.materialize)
    // out-degree is LOOP-INVARIANT, and so is the whole adjacency
    // structure: fold the edge list into (src, deg, dsts[]) chunk rows
    // once, so each iteration joins ranks against a node-proportional
    // frame instead of re-scanning the edge-proportional one ten times.
    // Chunking keeps rows bounded: dsts are hash-split into
    // ceil(deg / MaxChunk) chunks, so a 10⁸-degree hub is 10⁸/2¹⁶
    // bounded rows, not one array that OOMs its executor. deg rides
    // every chunk row (constant per src), so `r div deg` needs no
    // second join.
    val adj = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .withColumn("chunk",
        pmod(xxhash64(col("dst")), expr(s"(deg - 1) div $MaxChunk + 1")))
      .groupBy("src", "deg", "chunk")
      .agg(collect_list(col("dst")).as("dsts"))
      .select(col("src"), col("deg"), col("dsts"))
      .transform(Dedup.materialize)
    // node count folded into the materialization job (r17): the
    // Observation fills while the localCheckpoint executes, so the
    // separate count job (one planning+job round trip) disappears —
    // the connectedLoop convergence-probe pattern.
    val nodesObs = new org.apache.spark.sql.Observation()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .observe(nodesObs, count(lit(1L)).as("n"))
      .transform(Dedup.materialize)
    val n = Dedup.observed(nodes, nodesObs, "n")
    require(n > 0, "pagerank: edges must be non-empty (no nodes found)")
    val base = (Scale * (100 - dampingPct) / 100) / n

    // The rank frame is EXACTLY n rows — a driver-known scalar. Below
    // the broadcast bound the whole loop chains LAZILY with ONE
    // broadcast per round: one Spark job for all `iters` rounds, no
    // per-round checkpoint writes and no per-round driver barriers
    // (measured at sf0.1, 1.18M edges / 21k nodes, local[32]: 5.0 s
    // materialized-AQE loop → the chained broadcast form below; the
    // old alternative — chaining WITHOUT the hint — lost AQE's stats
    // and fell back to sort-merge over the edge list, 9.4 s, which is
    // why the loop used to materialize). r17: only the per-round MASS
    // aggregate (id, m) broadcasts; the rank value is recomputed
    // inline from it on the adjacency side (rank(src) is a pure
    // expression of m(src): base + (damping·m) div 100, or the uniform
    // Scale/n literal in round 1 — the identical integer expression
    // tree the rank frame carried, so values are bit-equal while each
    // round builds ONE broadcast relation instead of two, halving
    // live broadcast bytes and the per-round broadcast-build jobs.
    // Past the bound (ranks too big to broadcast — the 100× cluster
    // graph) the loop falls back to the materialized form: each round
    // an eager localCheckpoint hands AQE exact row counts, keeps
    // lineage depth constant, and lets it pick keyed joins that scale.
    // iters also gates the chained form: each round deepens ONE lazy
    // plan, and Catalyst's optimizer time grows superlinearly with
    // depth — past a few dozen rounds the materialized loop's
    // constant-depth plans win regardless of broadcast fit
    val broadcastRanks = chainedBroadcastFits(n, iters, chainedHeapBytes)
    // rank(node) as an integer expression of the mass column `m`
    // (NULL m = received nothing): the exact update formula
    val rankOfM = lit(base) +
      expr(s"($dampingPct * coalesce(m, 0L)) div 100")
    if (broadcastRanks) {
      var agg: DataFrame = null // round i-1's (id, m) mass frame
      for (_ <- 1 to iters) {
        val withR =
          if (agg == null) adj.withColumn("r", lit(Scale / n))
          else adj
            .join(broadcast(agg.withColumnRenamed("id", "src")),
              Seq("src"), "left")
            .withColumn("r", rankOfM)
        val contribs = withR
          .select(col("dsts"), expr("r div deg").as("c"))
          .select(explode(col("dsts")).as("id"), col("c"))
        agg = contribs.groupBy("id").agg(sum(col("c")).as("m"))
      }
      nodes.join(broadcast(agg), Seq("id"), "left")
        .select(col("id"), rankOfM.as("rank_e12"),
          (rankOfM.cast("double") / lit(Scale.toDouble)).as("rank"))
    } else {
      var ranks = nodes.withColumn("r", lit(Scale / n))
      for (_ <- 1 to iters) {
        val contribs = adj
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .select(col("dsts"), expr("r div deg").as("c"))
          .select(explode(col("dsts")).as("id"), col("c"))
        val agg = contribs.groupBy("id").agg(sum(col("c")).as("m"))
        ranks = nodes.join(agg, Seq("id"), "left")
          .select(col("id"), rankOfM.as("r"))
          .transform(Dedup.materialize)
      }
      ranks.select(col("id"), col("r").as("rank_e12"),
        (col("r").cast("double") / lit(Scale.toDouble)).as("rank"))
    }
  }

  /** BFS hop distances from a seed node, depth-bounded: returns one
    * row per REACHED node — `id`, `dist` (INT, the true minimum hop
    * count ≤ `maxDepth`; the seed itself at dist 0).
    *
    * The loop is DRIVEN IN SCALA — one keyed frontier join per level —
    * not via `WITH RECURSIVE`: Spark's `UnionLoop` re-plans and
    * re-executes the recursive step's whole subtree each level at full
    * `shuffle.partitions` over a frontier that is tiny after level 1
    * (measured at sf0.1, 1.18M edges: 6.7 s recursive vs ~1 s here for
    * depth 3 — same asymptotics, 6× constant factor). Exactly the
    * shape [[pagerank]] already uses: loop-invariant edge list
    * materialized ONCE, per-level state materialized so the planner
    * sees exact row counts and converts the frontier and visited-set
    * joins to broadcasts while they are small — falling back to keyed
    * shuffle joins automatically on a frontier that outgrows the
    * threshold (the 100× graph), because nothing is force-broadcast.
    *
    * Per level: expand (frontier ⋈ edges on src — the only touch of
    * the edge-proportional frame), dedup the expansion, anti-join the
    * visited set (so each node enters the frontier exactly once —
    * frontier sizes are bounded by |V| TOTAL across all levels, never
    * path-enumerating), stamp the level as `dist`. First visit = BFS
    * distance, so no min(dist) collapse is needed afterwards. Early
    * exit when a frontier empties (the isEmpty probe reads one
    * partition of an already-materialized frame).
    */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
      seed: org.apache.spark.sql.Column, maxDepth: Int,
      materializeEdges: Boolean = false): DataFrame = {
    // The edge frame is re-evaluated once per LEVEL (maxDepth times).
    // For the common case — a narrow projection over a columnar scan —
    // re-scanning beats paying one edge-proportional checkpoint write
    // up front (measured at sf0.1, 1.2M edges, depth 3: ~0.7 s saved);
    // set materializeEdges for an edge frame with expensive lineage
    // (joins/aggregations above it), which is pagerank's default
    // because its loop runs 10+ levels.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = if (materializeEdges) Dedup.materialize(e0) else e0
    bfsLevels(_ => e, seed, maxDepth)
  }

  /** Level-parameterized BFS: like [[bfs]], but level `d`'s expansion
    * joins the frontier against `edgesAt(d)` (columns `src`, `dst`) —
    * the multi-hop traversal over a LEVEL-DEPENDENT relation. This is
    * how structure the caller knows and the operator can't shrinks the
    * scan: a bipartite graph (the supplier↔part co-purchase graph)
    * alternates its two one-directional halves, so each level scans
    * |E| rows instead of the 2|E| symmetric closure (measured at
    * sf0.1: ~0.4 s/level saved); temporal multi-hop feeds the
    * per-epoch edge slice. Distances remain true hop counts over the
    * implied union-by-level semantics.
    */
  def bfsLevels(edgesAt: Int => DataFrame,
      seed: org.apache.spark.sql.Column, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    // edgesAt(1) is evaluated once up front for its session handle —
    // building the (lazy) frame is side-effect free by DataFrame
    // contract, nothing is executed for it
    val spark = edgesAt(1).sparkSession
    var visited = Dedup.materialize(spark.range(1)
      .select(seed.as("id"), lit(0).cast("int").as("dist")))
    var frontier = visited.select("id")
    var d = 1
    var exhausted = false
    while (d <= maxDepth && !exhausted) {
      // the exhaustion probe rides the materialization job as an
      // Observation metric (r17 — the connectedLoop pattern): the old
      // isEmpty probe cost one extra job + planning round trip per
      // level even on an already-checkpointed frame
      val obs = new org.apache.spark.sql.Observation()
      val next = edgesAt(d)
        .join(frontier.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(d).cast("int").as("dist"))
        .observe(obs, count(lit(1L)).as("n"))
        .transform(Dedup.materialize)
      if (Dedup.observed(next, obs, "n") == 0L) exhausted = true
      else {
        // lazy union of per-level CHECKPOINTED frames — every leg is
        // already materialized, so the union needs no re-checkpoint
        // (its stats are the exact sum of the legs') and the visited
        // set stays ≤ maxDepth checkpointed legs deep, never a
        // recursive lineage
        visited = visited.unionAll(next)
        frontier = next.select("id")
      }
      d += 1
    }
    visited
  }

  /** CONNECTED COMPONENTS by min-label propagation WITH POINTER
    * DOUBLING — the cluster consolidation primitive (near-dup
    * clusters, entity resolution) as a keyed iteration, the same
    * execution shape as [[pagerank]]: every node starts labeled with
    * its own id; each round (a) every node takes the min of its own
    * and its neighbors' labels, then (b) shortcuts `lab := lab(lab)`
    * (labels are node ids, so the indirection is one keyed self-join
    * of the node-proportional label frame). The shortcut lets a
    * label's reach grow super-linearly — on an id-ordered path it
    * doubles per round; with RANDOM id placement the jump's gain
    * depends on where the minimum happens to sit, and measured
    * convergence sits between log and linear (the sf0.1 one-month
    * co-purchase graph converges in 15 rounds where plain propagation
    * would need its full diameter). `maxIters = 20` therefore buys
    * headroom, not just 2²⁰ path diameter. At the fixpoint all nodes
    * of a component share the component's minimum node id.
    *
    * Determinism & oracle-ability: the round-`k` state is a PURE
    * function of the input (both steps are min/join algebra — no
    * randomness, no partitioning dependence), so a fixed round count
    * unrolls into chained SQL CTEs (`AS MATERIALIZED`, two per round)
    * replaying the identical update, and EARLY EXIT on convergence
    * cannot diverge from the unrolled form: post-fixpoint rounds are
    * the identity for both steps — propagate because labels are
    * constant on every edge, the jump because `lab(lab) = lab` once
    * every label points at its component minimum, which labels itself.
    *
    * Scale shape: edges symmetrize + dedup ONCE (materialized — reused
    * every round); step (a) is one keyed equijoin plus a map-side-
    * combined min-aggregation over |E| rows (hub-safe: a hot dst key
    * partial-aggregates before the shuffle); step (b) is a keyed
    * self-join of the |V|-row label frame. ONE eager job per round
    * (r12, was two): round 1 seeds from the edge frame itself
    * (identity labels make a neighbor's label its id — no initial
    * label frame, no first join), and the doubling hop is LAZY on top
    * of each round's materialized propagate result, executing inside
    * the next round's job (and skipped entirely once converged — the
    * hop is the identity at the fixed point). Lineage stays bounded:
    * the lazy hop is one join over the round's checkpointed frame.
    * The convergence probe rides step (a)'s aggregation as an
    * `Observation` metric, costing no extra job. An unconverged exit
    * after `maxIters` rounds THROWS — silent k-hop labels masquerading
    * as components is the failure mode this operator exists to
    * prevent.
    *
    * Output: `id`, `component` (min node id of the component), one row
    * per distinct node appearing in an edge.
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val spark = edges.sparkSession
    // PARTITION-LOCAL CONTRACTION (the "two-phase" local-solve of
    // Kiveris et al. 2014, §local contraction; GraphX/GraphFrames ship
    // the same pre-pass): each partition union-finds its OWN edge
    // subset and replaces it with one star edge (local-min root →
    // node) per touched node — a connectivity-preserving rewrite, so
    // the downstream fixpoint labels are bit-identical by
    // construction. Two scale effects: (1) the only full-|E| pass is
    // now a SHUFFLE-FREE narrow map (raw duplicate edges and both
    // orientations collapse inside the union-find — the old
    // symmetrize→distinct shuffled 2|E| rows before the loop ever
    // ran); (2) every local component enters the loop with diameter 1
    // and its local-min label already placed, so the iterative phase
    // works on Σ_p|V_p| star rows and converges in the rounds the
    // CROSS-partition structure needs, not the raw diameter (measured
    // sf0.1 co-purchase: 9 → 3 rounds). Falls back untouched for
    // non-integral id types (the union-find tier keys on longs).
    val base = localContract(e0).getOrElse(e0)
    // distinct() leaves sym hash-partitioned on (src, dst); every
    // round's propagate join would then RE-SHUFFLE the full edge frame
    // by src — the dominant per-round cost, paid |rounds| times.
    // Re-partitioning on the join key ONCE before the checkpoint (the
    // partitioning survives localCheckpoint) makes the edge side of
    // every round's join shuffle-free; only the |V|-row label frame
    // moves per round. The same hoisted-partitioning trick pagerank
    // uses — at 1000 executors this is the difference between one |E|
    // shuffle and |rounds| of them.
    // edge count folded into the materialization job (r17): the
    // Observation fills while the localCheckpoint executes, replacing
    // the separate count job — the convergence-probe pattern below
    val symObs = new org.apache.spark.sql.Observation()
    val sym = base
      .unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .observe(symObs, count(lit(1L)).as("n"))
      .transform(Dedup.materialize)
    val symCount = Dedup.observed(sym, symObs, "n")
    if (symCount == 0L)
      return sym.select(col("src").as("id"), col("src").as("component"))
    // SMALL-GRAPH fast path: the loop's per-round cost on a graph this
    // size is almost entirely fixed scheduling overhead (9 rounds × a
    // few KB-sized shuffles spread over the session's full partition
    // count). Scope the loop's shuffles down via EXPLICIT
    // repartition(n, key) on the frames feeding each groupBy/join —
    // never by mutating the session-global shuffle.partitions conf: a
    // save/restore there is not reentrant (two concurrent calls can
    // capture each other's scoped-down value and leave the session
    // permanently at 8) and it would bleed into every unrelated query
    // sharing the session. Large graphs keep the session parallelism.
    val loopParts = if (symCount < 2000000L) Some(8) else None
    connectedLoop(spark, sym, maxIters, loopParts)
  }

  /** The union-find pre-pass behind [[connectedComponents]]: one star
    * edge (local root, node) per node a partition touches, roots =
    * local minimum ids (min-root union keeps the eventual global
    * min-label semantics pre-seeded). Sequential-bound by nature —
    * union-find has no relational form — so this is a documented typed
    * tier (the Packing/Multimodal discipline): per-partition state is
    * one long→long map bounded by the partition's touched-node count
    * (≤ 2·|E_p|; size partitions via files.maxPartitionBytes as
    * usual). Self-loops and duplicate/bidirectional raw edges collapse
    * here for free. `None` for non-integral id types — caller keeps
    * the uncontracted path.
    */
  private def localContract(e0: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    // BOTH endpoint types must be integral, and the stars must come
    // back at the WIDER of the two — the type the downstream
    // symmetrize's union would have widened to anyway. Gating on src
    // alone and casting back to src's type would silently WRAP a long
    // dst id into a narrower src type (wrong components, no error);
    // mixed integral/non-integral frames keep the uncontracted path,
    // whose union coerces as before.
    def rank(t: DataType): Option[Int] = t match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    val types = Seq(e0.schema("src").dataType, e0.schema("dst").dataType)
    val ranks = types.flatMap(rank(_))
    if (ranks.size != 2) return None
    val idType = types(ranks.indexOf(ranks.max))
    val spark = e0.sparkSession
    import spark.implicits._
    val stars = e0
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x: Long): Long = {
          var r = x
          var p = parent.getOrDefault(r, r): Long
          while (p != r) { r = p; p = parent.getOrDefault(r, r) }
          var c = x // path-compress the walked chain
          while (c != r) {
            val n = parent.getOrDefault(c, c): Long
            parent.put(c, r); c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          parent.putIfAbsent(a, a) // membership doubles as touched-set
          parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val out = new Array[(Long, Long)](parent.size)
        var i = 0
        val keys = parent.keySet().iterator()
        while (keys.hasNext) {
          val n: Long = keys.next()
          out(i) = (find(n), n); i += 1
        }
        out.iterator
      }
      .toDF("src", "dst")
    // Materialize the star frame (V-bounded, safe to checkpoint): the
    // caller's symmetrize reads it twice, and an unmaterialized pass
    // would re-execute the WHOLE upstream edge plan per leg — for a
    // derived edge frame (LSH-verified dup pairs, a joined co-purchase
    // projection) that upstream dominates. Net effect vs the
    // pre-contraction flow: the expensive edge plan now runs ONCE
    // (into the narrow union-find map) instead of twice.
    Some(Dedup.materialize(
      stars.select(col("src").cast(idType).as("src"),
        col("dst").cast(idType).as("dst"))))
  }

  private def connectedLoop(spark: SparkSession, sym: DataFrame,
      maxIters: Int, loopParts: Option[Int]): DataFrame = {

    // Pre-size a shuffle explicitly on the small-graph path: hash
    // partition on the upcoming groupBy/join key with a fixed tiny
    // partition count, so the downstream exchange is satisfied and the
    // round runs as a handful of tasks without touching session conf.
    def sized(df: DataFrame, key: String): DataFrame =
      loopParts.map(n => df.repartition(n, col(key))).getOrElse(df)

    // ADVICE r13: on the small-graph path the per-round nbr join's
    // LABELS side still shuffled at full session parallelism because
    // sym kept its big-path partition count, forcing EnsureRequirements
    // to widen the join. Re-partition the edge frame ONCE to the loop
    // size (materialized — a stable hash(src, loopParts) layout every
    // round reuses) and size the labels side to match below: each
    // round's join then runs as loopParts tasks with no session-wide
    // exchange anywhere in the loop.
    val symL = loopParts
      .map(n => Dedup.materialize(sym.repartition(n, col("src"))))
      .getOrElse(sym)

    // ROUND 1 seeded straight from the edge frame: with identity
    // initial labels, a neighbor's label IS its id, so min(own,
    // neighbors) needs no label frame and no join — one aggregation
    // over 2|E| rows replaces the old distinct-nodes job plus the
    // first propagate join. `old` = the node's own id rides the same
    // rows (the src-side union leg), so the convergence probe is
    // identical in form to the loop's.
    val obs1 = new org.apache.spark.sql.Observation()
    var labels = sized(
        symL.select(col("dst").as("id"), col("src").as("lab"))
          .unionAll(symL.select(col("src").as("id"), col("src").as("lab"))),
        "id")
      .groupBy("id").agg(min("lab").as("lab"))
      .observe(obs1, sum(when(col("lab") =!= col("id"), 1L)
        .otherwise(0L)).as("changed"))
      .transform(Dedup.materialize)
    var converged = Dedup.observed(labels, obs1, "changed") == 0L

    // Pointer doubling `lab := lab(lab)` is built LAZILY on top of the
    // materialized propagate result: the hop executes inside the NEXT
    // round's single materialization job (or not at all once
    // converged — it is the identity at the fixed point), so each
    // round costs ONE eager job, not two. Lineage stays bounded: the
    // lazy hop is one join over the round's checkpointed frame.
    def doubled(propagated: DataFrame): DataFrame =
      sized(propagated, "lab")
        .join(sized(
          propagated.select(col("id").as("lab"), col("lab").as("lab2")),
          "lab"), "lab")
        .select(col("id"), col("lab2").as("lab"))
    if (!converged) labels = doubled(labels)

    var i = 1
    while (!converged && i < maxIters) {
      val nbr = symL.join(
          sized(labels.withColumnRenamed("id", "src"), "src"), "src")
        .select(col("dst").as("id"), col("lab"))
      // carry the previous label through the aggregation: min(lab) is
      // the update, and the changed-count observed metric answers the
      // convergence probe from the materialization job itself
      val obs = new org.apache.spark.sql.Observation()
      val propagated = sized(
          labels.withColumn("old", col("lab")).unionByName(
            nbr.withColumn("old",
              lit(null).cast(nbr.schema("lab").dataType))),
          "id")
        .groupBy("id")
        .agg(min("lab").as("lab"), min("old").as("old"))
        .observe(obs, sum(when(col("lab") =!= col("old"), 1L)
          .otherwise(0L)).as("changed"))
        .select("id", "lab")
        .transform(Dedup.materialize)
      converged = Dedup.observed(propagated, obs, "changed") == 0L
      labels = if (converged) propagated else doubled(propagated)
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIters rounds — " +
          "component diameter exceeds 2^maxIters; labels would be " +
          "wrong. Raise maxIters.")
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] converged after $i rounds")
    labels.select(col("id"), col("lab").as("component"))
  }

  /** Exact global triangle count + clustering coefficient via
    * DEGREE-ORDERED edge orientation — the standard distributed
    * formulation (Suri & Vassilvitskii's MR triangle counting; also the
    * Cohen/GraphX shape): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges as
    * a self-equijoin of the ORIENTED edge list on the common tail, and
    * close each wedge with a semi-join back to the oriented edges.
    *
    * Why orientation is THE scale decision: wedge volume drops from
    * Σ C(deg, 2) — quadratic in hub degree, fatal on power-law graphs
    * where one 10⁶-degree hub alone yields 5·10¹¹ wedges — to
    * Σ C(outdeg, 2) with outdeg bounded by O(√|E|) (arboricity bound),
    * and each triangle is enumerated EXACTLY once (its lowest-ranked
    * vertex is the unique common tail whose two out-edges form the
    * wedge), so no divide-by-3 correction and no duplicate work. All
    * three steps are keyed equijoins (tail, then (ws, wt)) — no
    * cartesian anywhere, map-side combinable, partitionable on the join
    * keys at any scale.
    *
    * Input may contain duplicates, self-loops, or both (u,v)/(v,u)
    * directions: edges are canonicalized (least/greatest + distinct,
    * self-loops dropped) first, so the count is over the SIMPLE
    * undirected graph.
    *
    * Output: ONE row — `n_nodes`, `n_edges` (simple undirected),
    * `n_wedges` (Σ C(deg,2), the clustering-coefficient denominator —
    * exact BIGINT via `d*(d-1) div 2`), `n_triangles`, and
    * `global_cc` = 3·triangles / wedges (double; 0.0 on a wedge-free
    * graph). Deterministic by construction — counts are integers, the
    * one double division is a pure function of them.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
      .transform(Dedup.materialize)
    val deg = canon.select(col("u").as("node"))
      .unionAll(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // Orient: keep the HEAD's (deg, id) on each oriented edge so the
    // wedge join can order the two out-neighbors without re-joining
    // degrees (rank(b) < rank(c) decides which wedge instance closes).
    val o = canon
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"),
        greatest(col("du"), col("dv")).as("td"))
      .transform(Dedup.materialize)
    val e1 = o.select(col("s"), col("t").as("b"), col("td").as("bd"))
    val e2 = o.select(col("s").as("s2"), col("t").as("c"), col("td").as("cd"))
    val wedges = e1.join(e2,
        col("s") === col("s2") &&
          (col("bd") < col("cd") ||
            (col("bd") === col("cd") && col("b") < col("c"))))
      .select(col("b").as("ws"), col("c").as("wt"))
    val tri = wedges
      .join(o.select(col("s").as("ws"), col("t").as("wt")),
        Seq("ws", "wt"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val edgeStats = canon.agg(count(lit(1)).as("n_edges"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("global_cc"))
  }
}
