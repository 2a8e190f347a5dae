package graft.extra

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), keyed latest-wins, MinHash+LSH near-dup,
  * SimHash, exact n-gram Jaccard via an inverted shingle index, and
  * embedding-cosine near-dup.
  *
  * Scale design notes (100 TB posture):
  *   - Exact/keyed dedup: one shuffle on the dedup key; map-side partial
  *     aggregation collapses duplicates before the exchange.
  *   - MinHash+LSH: cost is O(rows × shingles × perms) map-side plus a
  *     shuffle keyed by (band, signature). Candidate verification only
  *     touches bucket collisions — never the O(n²) pair space. Hot
  *     buckets (boilerplate docs) are the skew risk: buckets wider than
  *     [[DefaultMaxBucket]] are dropped with a logged count before the
  *     pair join (see [[lshCandidates]]).
  *   - Inverted-index Jaccard: PPJoin prefix filtering (rarest-first
  *     global order + length + positional filters, all lossless) bounds
  *     the self-join fan-out; see [[ngramJaccard]].
  *   - Embedding near-dup: [[embeddingNearDupLsh]] (bucketed candidates
  *     + exact verify) is the registered scale path; the all-pairs
  *     [[embeddingNearDup]] is a spec-only recall baseline.
  *
  * Cache lifecycle: operators that persist internal frames consume them
  * and release them before returning — the returned pair frames are
  * eagerly materialized via [[materialize]] (block storage owned by the
  * RDD, freed by the ContextCleaner when the frame is garbage-collected),
  * so repeated invocations leave nothing resident in the session's cache
  * manager.
  */
object Dedup {

  /** Materialization mode for the small frames these operators pin
    * (pair lists, CC labels/edges), settable per session:
    * `spark.conf.set(CheckpointModeKey, "local" | "reliable")`.
    *
    *   - `local` (default): `localCheckpoint(eager)` — executor-local
    *     blocks, no DFS round trip. Trade-off (single-node / bench
    *     default): the blocks are NOT replicated, so an executor loss
    *     FAILS the job instead of recomputing — see SCALE.md.
    *   - `reliable`: `checkpoint(eager)` to the context checkpoint dir
    *     (`SparkContext.setCheckpointDir` required) — survives executor
    *     loss; the right mode for long cluster runs.
    *   - `off` (PLAN-CAPTURE ONLY — additionally gated on the
    *     [[AllowOffProp]] system property, which only [[graft.Explain]]
    *     sets): returns the frame unchanged so `explain` can print the
    *     FULL lineage past what a checkpoint would truncate. `off`
    *     BREAKS the eager contract below — callers' finally-unpersist
    *     fires before the lazy result is consumed (values stay correct,
    *     caches just stop helping) and nondeterministic plans (e.g.
    *     range-sampled pins) are no longer frozen — which is why a bare
    *     session conf cannot enable it in timed or verified runs.
    *
    * In `local`/`reliable` the call is EAGER by design: callers release
    * their persisted inputs immediately after, and the returned frame
    * must not reference them lazily.
    */
  val CheckpointModeKey = "spark.graft.checkpoint.mode"

  /** JVM gate for the `off` checkpoint mode (see [[CheckpointModeKey]]):
    * set only by the plan-capture entrypoint, so a stray session conf
    * can never silently disable eager materialization in a timed or
    * verified run.
    */
  val AllowOffProp = "graft.checkpoint.allowOff"

  private[graft] def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointModeKey).getOrElse("local") match {
      case "reliable" => df.checkpoint(eager = true)
      case "local" => df.localCheckpoint(eager = true)
      case "off" if sys.props.get(AllowOffProp).contains("1") => df
      case "off" => throw new IllegalStateException(
        s"$CheckpointModeKey=off is plan-capture-only (Explain); it " +
          s"disables the eager materialization timed/verified runs rely " +
          s"on. Set -D$AllowOffProp=1 only in a debug entrypoint.")
      case other => throw new IllegalArgumentException(
        s"$CheckpointModeKey must be local|reliable|off, got $other")
    }

  /** A count-like Observation metric that `df`'s [[materialize]] job
    * fills (the loop operators fold their convergence and size probes
    * into that job). Under `off` no job runs, so the metric never fills
    * and `Observation.get` would block forever: fail fast instead.
    */
  private[graft] def observed(df: DataFrame,
      obs: org.apache.spark.sql.Observation, key: String): Long = {
    if (df.sparkSession.conf.getOption(CheckpointModeKey).contains("off"))
      throw new UnsupportedOperationException(
        s"$CheckpointModeKey=off: this operator reads an Observation " +
          "metric of its materialization job, which does not run in " +
          "plan-capture mode; capture its plan in local mode")
    obs.get(key).asInstanceOf[Long]
  }

  /** Exact dedup by key: one output row per key, keeping the minimum of
    * `orderCol` as the canonical representative plus the duplicate count.
    * Deterministic (unlike `dropDuplicates`, which keeps an arbitrary
    * first row).
    */
  def exactByKey(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(orderCol)).as(s"first_$orderCol"),
        count(lit(1)).as("n_copies"))

  /** Keyed latest-wins dedup (SURVEY.md X2): keep the newest row per key
    * by `tsCol`, tie-breaking on `tieCol` descending — the finalization
    * operator for the reference's append+last-wins materialization
    * (streamlit_app.py:69-80 reads; spark_streaming.py update-mode
    * re-emissions).
    */
  def latestWins(df: DataFrame, keys: Seq[String], tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Affine permutation parameters for MinHash: perm i maps a 48-bit
    * base hash h to (h*A(i) + B(i)) mod P. Small multipliers keep
    * h*A < 2^63 (no overflow) and the identical arithmetic runs in any
    * SQL engine (the DuckDB oracle included).
    */
  val MinhashP = 1000000007L
  def minhashA(i: Int): Long = 2L * i + 3
  def minhashB(i: Int): Long = 97L * i + 11

  /** Base shingle hash: first 12 hex chars of md5 as a 48-bit integer —
    * computed ONCE per shingle; the numPerms permutations are cheap
    * affine maps of it (vs. numPerms md5 calls in the naive form).
    */
  def shingleHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 12), 16, 10).cast("long")

  /** MinHash signatures, wide form: one row per id with columns
    * mh0..mh{numPerms-1}. A single shuffle + single aggregation pass:
    * the shingle explode is map-side, the groupBy computes all perm
    * minima at once (partial aggregation collapses before the exchange).
    */
  def minhash(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int, shingleN: Int): DataFrame =
    minhashFromSets(Text.withShingles(docs, textCol, shingleN)
      .select(col(idCol), col("shingles")), idCol, numPerms)

  /** Signature computation from a prepared (id, shingles) frame. */
  def minhashFromSets(sets: DataFrame, idCol: String,
      numPerms: Int): DataFrame = {
    val hashed = sets
      .select(col(idCol), explode(col("shingles")).as("shingle"))
      .withColumn("h", shingleHash(col("shingle")))
    val mins = (0 until numPerms).map(i =>
      min((col("h") * minhashA(i) + minhashB(i)) % MinhashP).as(s"mh$i"))
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Per-ROW MinHash signature as a PURE PROJECTION — the stream-safe
    * form of [[minhashFromSets]] (which needs a groupBy): all `numPerms`
    * perm minima are computed in ONE fold over the shingle array, so the
    * expression runs inside a micro-batch projection with no shuffle and
    * no state.
    *
    * Expression shape matters here (HOF lambda CSE): the shingle hash
    * (md5) is the collection argument of the fold — evaluated once per
    * row — and the lambdas reference only their own variables plus the
    * constant-folded perm-parameter array, so nothing expensive
    * re-evaluates per element. Arithmetic is identical to the batch path
    * (same [[minhashA]]/[[minhashB]]/[[MinhashP]]), so streaming and
    * batch signatures agree on the same text.
    *
    * Empty shingle arrays (text shorter than the shingle width) return
    * all-[[MinhashP]] sentinels — a value unreachable by real minima
    * (which are mod P, hence < P); callers must give those rows
    * non-colliding keys instead of treating the sentinel as a
    * signature.
    */
  def minhashArray(shingles: Column, numPerms: Int): Column = {
    val permConsts = array((0 until numPerms).map(i =>
      struct(lit(minhashA(i)).as("a"), lit(minhashB(i)).as("b"))): _*)
    aggregate(
      transform(shingles, s => shingleHash(s)),
      array_repeat(lit(MinhashP), numPerms),
      (acc, h) => zip_with(acc, permConsts, (m, ab) =>
        least(m, (h * ab.getField("a") + ab.getField("b")) % MinhashP)))
  }

  /** LSH banding over the wide signature frame: (id, band, signature)
    * rows — band signature is the comma-joined run of its perm minima.
    */
  def lshBands(sigs: DataFrame, idCol: String, numPerms: Int,
      rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until numPerms / rowsPerBand).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand)
          .map(j => col(s"mh${b * rowsPerBand + j}").cast("string")): _*).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Buckets wider than this are dropped from candidate generation (with
    * a logged count): a single (band, sig) bucket of width w contributes
    * w²/2 candidate pairs, so one boilerplate-heavy signature shared by
    * millions of docs turns the bucket join quadratic. Exact duplicates
    * belong to [[exactByKey]] upstream; near-dup buckets on real corpora
    * stay far below this width.
    */
  val DefaultMaxBucket = 1000

  /** Name of the observed-metrics row [[lshCandidates]] attaches; the
    * hot-bucket drop count is logged from it after the caller's action
    * completes (no extra job — the count rides the measured plan).
    */
  val HotBucketMetric = "lsh_hot_buckets"

  // One QueryExecutionListener per session logs the observed hot-bucket
  // drops; weak keys so discarded test sessions don't pin.
  private val hotLoggerSessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())
  private def ensureHotBucketLogger(
      spark: org.apache.spark.sql.SparkSession): Unit =
    hotLoggerSessions.synchronized {
      if (hotLoggerSessions.add(spark))
        spark.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit =
              qe.observedMetrics.get(HotBucketMetric).foreach { row =>
                if (!row.isNullAt(0) && row.getLong(0) > 0)
                  log.warn(s"lshCandidates: dropped ${row.getLong(0)} " +
                    s"band-row(s) in over-cap buckets (widest bucket " +
                    s"${row.getLong(1)}) — near-identical boilerplate " +
                    "should be exact-deduped upstream")
              }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          })
    }

  /** Candidate pairs: ids sharing any (band, signature) bucket, with
    * ultra-hot buckets (width > `maxBucket`) excluded — see
    * [[DefaultMaxBucket]].
    *
    * Single-shuffle shape: bucket width is a `count() over (partition by
    * band, sig)` window, so the width check, the cap filter, and both
    * self-join sides all sit on ONE exchange of the bands frame — the
    * join reuses the window's partitioning AND sort, and no driver
    * action runs inside the operator (the previous form paid an eager
    * `hot.count()` job per call). The dropped-row count is attached as
    * an observed metric and logged by a listener after the caller's
    * action finishes.
    */
  def lshCandidates(bands: DataFrame, idCol: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    ensureHotBucketLogger(bands.sparkSession)
    val w = Window.partitionBy("band", "sig")
    val pruned = bands
      .withColumn("bwidth", count(lit(1)).over(w))
      .observe(HotBucketMetric,
        sum(when(col("bwidth") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("dropped_rows"),
        max(col("bwidth")).as("max_width"))
      .filter(col("bwidth") <= maxBucket)
    val a = pruned.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val b = pruned.select(col(idCol).as("id_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** [[lshCandidates]] restricted to pairs touching at least one row
    * whose boolean `newCol` is true — the BATCH-DRIVEN candidate form
    * (r17, guide §3 "reduce the big side before joining"): the incremental
    * dedup paths only ever verify new-involving pairs, and the global
    * self-join generated every corpus×corpus pair inside a matched
    * bucket just to drop it afterwards. Here one join side is only the
    * flagged-new rows, so per-bucket fan-out falls from width² to
    * newWidth·width. The emitted pair set is EXACTLY the global form's
    * filtered to new-involving pairs: each unordered new-involving
    * co-bucket pair appears (canonicalized id_a < id_b, deduped), the
    * hot-bucket cap still measures the FULL bucket width (the window
    * runs before the new-side split), and the same observed drop
    * metric is attached.
    */
  def lshCandidatesNewInvolving(bands: DataFrame, idCol: String,
      newCol: String, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    ensureHotBucketLogger(bands.sparkSession)
    val w = Window.partitionBy("band", "sig")
    val pruned = bands
      .withColumn("bwidth", count(lit(1)).over(w))
      .observe(HotBucketMetric,
        sum(when(col("bwidth") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("dropped_rows"),
        max(col("bwidth")).as("max_width"))
      .filter(col("bwidth") <= maxBucket)
    val n = pruned.filter(col(newCol))
      .select(col(idCol).as("__id_n"), col("band"), col("sig"))
    val all = pruned
      .select(col(idCol).as("__id_o"), col("band"), col("sig"))
    n.join(all, Seq("band", "sig"))
      .filter(col("__id_n") =!= col("__id_o"))
      .select(least(col("__id_n"), col("__id_o")).as("id_a"),
        greatest(col("__id_n"), col("__id_o")).as("id_b"))
      .distinct()
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from LSH buckets,
    * verified with exact Jaccard over distinct shingle sets, thresholded.
    */
  def nearDupMinhash(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // one materialized shingle-set frame feeds signatures AND both
    // verification sides (Spark recomputes shared DAG branches otherwise);
    // released before returning — the final pairs frame is eagerly
    // materialized (small: LSH collisions above threshold only)
    val sets = Text.withShingles(docs, textCol, shingleN)
      .select(col(idCol), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the bands frame (bandsPerDoc narrow rows/doc) feeds BOTH sides of
    // the candidate self-join; uncached, the whole minhash aggregation
    // executes twice — AQE broadcasts one side, which defeats exchange
    // reuse (verified: ReusedExchange=0 without this persist)
    val bands = lshBands(minhashFromSets(sets, idCol, numPerms),
        idCol, numPerms, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = lshCandidates(bands, idCol, maxBucket)
      val withJac = cand
        .join(sets.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), "id_a")
        .join(sets.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni",
          size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      withJac.filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .transform(materialize)
    } finally {
      bands.unpersist(blocking = false)
      sets.unpersist(blocking = false)
    }
  }

  /** INCREMENTAL near-dup — the daily-ingest shape: a verdict per NEW
    * doc against the existing corpus and earlier batch-mates, never
    * corpus×corpus. Returns one row per `batch` doc:
    * (idCol, is_dup, dup_of) where dup_of is the smallest matching doc
    * id (corpus docs and lower-id batch docs are canonical; NULL when
    * clean).
    *
    * Scale shape: candidates are BATCH-DRIVEN — both sides band on
    * (band, sig) and only pairs touching a batch doc are verified, so
    * the corpus participates purely through posting-list lookups (at
    * production the corpus bands are a PERSISTED index keyed by
    * (band, sig) — this recomputes them because the sandbox has no
    * index store; the join shape is identical). Work per ingest is
    * O(|batch| · bands + matching postings), independent of corpus
    * pair count. The hot-bucket cap applies to the combined bucket
    * width, exactly as in [[nearDupMinhash]] — a bucket the whole
    * corpus shares is exact-dedup's job upstream, not LSH's.
    *
    * Ids must be globally unique across corpus ∪ batch (the standard
    * monotone ingest-id contract).
    */
  def nearDupIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      numPerms: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val all = corpus.select(col(idCol), col(textCol))
      .withColumn("__new", lit(false))
      .unionByName(batch.select(col(idCol), col(textCol))
        .withColumn("__new", lit(true)))
    val sets = Text.withShingles(all, textCol, shingleN)
      .select(col(idCol), col("shingles"), col("__new"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = lshBands(
        minhashFromSets(sets.select(col(idCol), col("shingles")), idCol,
          numPerms), idCol, numPerms, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val flags = sets.select(col(idCol), col("__new"))
      // batch-driven candidate join (r17): flag the band rows and emit
      // only new-involving pairs — the global self-join generated every
      // corpus×corpus pair inside a matched bucket just to drop it at
      // the filter below; identical pair set, per-bucket fan-out
      // width² → newWidth·width
      val cand = lshCandidatesNewInvolving(bands.join(flags, idCol),
          idCol, "__new", maxBucket)
        .join(flags.select(col(idCol).as("id_a"), col("__new").as("new_a")),
          "id_a")
        .join(flags.select(col(idCol).as("id_b"), col("__new").as("new_b")),
          "id_b")
      val verified = cand
        .join(sets.select(col(idCol).as("id_a"), col("shingles").as("sh_a")),
          "id_a")
        .join(sets.select(col(idCol).as("id_b"), col("shingles").as("sh_b")),
          "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni",
          size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter").cast("double") / col("uni") >= threshold)
      // orient each pair at its NEW doc: both-new → higher id dups
      // lower (id_a < id_b from lshCandidates); mixed → the new side
      // dups the corpus side regardless of id order
      val rel = verified.select(
        when(col("new_b"), col("id_b")).otherwise(col("id_a")).as("nid"),
        when(col("new_b"), col("id_a")).otherwise(col("id_b")).as("other"))
      val dups = rel.groupBy("nid").agg(min(col("other")).as("dup_of"))
      batch.select(col(idCol))
        .join(dups, col(idCol) === col("nid"), "left")
        .select(col(idCol), col("nid").isNotNull.as("is_dup"),
          col("dup_of"))
        .transform(materialize)
    } finally {
      bands.unpersist(blocking = false)
      sets.unpersist(blocking = false)
    }
  }

  /** Exact n-gram Jaccard near-dup with PPJoin-style prefix filtering
    * (Xiao et al., WWW'08): shingles are globally ordered rarest-first
    * (by document frequency); two sets can only reach Jaccard ≥ t if
    * their first (n - ceil(t·n) + 1) shingles in that order intersect,
    * so ONLY those prefixes are inverted and self-joined. Candidates are
    * then verified exactly against the full sets — output is identical
    * to the naive all-sharing-pairs join (the oracle keeps the naive
    * form), but the join fan-out drops by orders of magnitude on corpora
    * with common shingles.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    // the shingle-set subtree feeds FOUR consumers (doc-freq, prefix,
    // and both verify sides); Spark recomputes shared DAG branches, so
    // materialize it once (tiny: one row per doc). Both caches are
    // released before returning — the final pairs frame is eagerly
    // materialized (small: verified near-dups only).
    val sets = Text.withShingles(docs, textCol, shingleN)
      .select(col(idCol), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = sets.select(col(idCol), size(col("shingles")).as("n"),
      explode(col("shingles")).as("shingle"))
    val docFreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("shingle"))
    // prefix also feeds both self-join sides; without materialization the
    // docFreq shuffle + per-doc ranking window runs twice
    val prefix = inv.join(docFreq, "shingle")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col(idCol), col("n"), col("pos"), col("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val a = prefix.select(col(idCol).as("id_a"), col("n").as("n_a"),
        col("pos").as("pos_a"), col("shingle"))
      val b = prefix.select(col(idCol).as("id_b"), col("n").as("n_b"),
        col("pos").as("pos_b"), col("shingle"))
      // PPJoin filters, both lossless for Jaccard >= t:
      //   length:     |B| >= t|A| (and symmetric)
      //   positional: remaining-overlap upper bound
      //               min(nA-posA, nB-posB)+1 must reach t/(1+t)(nA+nB)
      val tFrac = threshold / (1.0 + threshold)
      val cand = a.join(b, "shingle")
        .filter(col("id_a") < col("id_b"))
        .filter(col("n_b") >= col("n_a") * threshold &&
          col("n_a") >= col("n_b") * threshold)
        .filter(least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) + 1 >=
          (col("n_a") + col("n_b")) * tFrac)
        .select("id_a", "id_b").distinct()
      cand
        .join(sets.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), "id_a")
        .join(sets.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .transform(materialize)
    } finally {
      prefix.unpersist(blocking = false)
      sets.unpersist(blocking = false)
    }
  }

  /** SimHash: 20-bit signature from a positional polynomial char hash per
    * token (mod 2^20 — chosen so the identical arithmetic is expressible
    * in plain SQL for the oracle), majority-voted per bit with
    * multiplicity. Near-identical documents differ in few bits (compare
    * with xor + bit_count).
    */
  val SimhashBits = 20
  private val SimhashMod = 1 << SimhashBits

  /** Positional polynomial hash of a token: fold (acc*31 + ascii) mod 2^20. */
  def tokenHash(tok: Column): Column =
    aggregate(
      transform(split(tok, ""), c => ascii(c)),
      lit(0L),
      (acc, x) => pmod(acc * 31 + x, lit(SimhashMod.toLong)))

  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perTok = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j"))
    val agg = perTok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map(j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Near-dup pairs over ANY bit-fingerprint column (simhash, image
    * dHash, audio fingerprint) via BANDED LSH on the hash bits: split
    * each hash into `bands` contiguous `bandBits`-bit bands, self-join
    * on (band index, band value) — a KEYED equijoin, never all-pairs —
    * then verify candidates exactly with `bit_count(xor) <= maxHamming`.
    *
    * Recall contract (pigeonhole): a pair within Hamming distance
    * `bands − 1` has at least one band its differing bits miss, so it
    * is GUARANTEED to surface; pairs between `bands` and `maxHamming`
    * bits apart surface only when their differing bits happen to
    * cluster — the standard LSH trade. Deterministic either way: both
    * engines (and the oracle) replay the identical banding, so output
    * parity does not depend on recall.
    *
    * Scale shape: |hashes|·bands rows into the band join; hot bands
    * (constant regions hashing alike) fan out quadratically ONLY within
    * a band bucket — the same bounded-bucket behavior as
    * [[lshCandidates]]; candidates carry both hashes so verification is
    * a pure projection, no re-join. Hashes must be non-negative
    * (< 2⁶³), which every producer here guarantees (56-bit dHash,
    * 20-bit simhash).
    */
  def hashNearDup(hashes: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4, bandBits: Int = 14, maxHamming: Int = 8): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 63,
      s"bands·bandBits must fit a non-negative BIGINT, got $bands x $bandBits")
    val mask = (1L << bandBits) - 1
    val banded = hashes
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
      .select(col("id"), col("h"),
        posexplode(array((0 until bands).map(k =>
          shiftrightunsigned(col("h"), k * bandBits)
            .bitwiseAND(lit(mask))): _*)).as(Seq("k", "band")))
    val a = banded.select(col("k"), col("band"), col("id").as("id_a"),
      col("h").as("h_a"))
    val b = banded.select(col("k"), col("band"), col("id").as("id_b"),
      col("h").as("h_b"))
    a.join(b, Seq("k", "band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair list: every doc that
    * appears in a pair gets `cluster_id` = the smallest doc id reachable
    * through the pair graph — the operator that turns pairwise
    * near-dup output into dedup GROUPS (keep one representative per
    * cluster, not per pair; pairwise dropping under-deletes on chains
    * a~b, b~c).
    *
    * Delegates to [[Graph.connectedComponents]] — min-label
    * propagation with pointer doubling (O(log diameter) rounds,
    * observed-metric convergence probe, throws on an unconverged
    * exit); see that operator for the algorithm and scale shape. The
    * default `maxIters = 20` covers diameter ≈ 2²⁰ (ADVICE r3:
    * templated corpora DO produce long near-dup chains).
    */
  def dupClusters(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 20): DataFrame =
    Graph.connectedComponents(pairs, aCol, bCol, maxIters)
      .select(col("id"), col("component").as("cluster_id"))

  /** Embedding-cosine near-dup, LSH-bucketed — the scale path and the
    * registered headline query: candidate pairs must collide in at least
    * one of `tables` sign-random-projection hash tables
    * ([[Similarity.lshBucketFor]] planes — deterministic, so any SQL
    * engine reproduces the identical candidate set), then are verified
    * with the exact cosine ≥ threshold.
    *
    * Plan shape: posexplode to (id, table, bucket) rows, equijoin on
    * (table, bucket), distinct, then two hash joins back to the vectors —
    * every join keyed, no BroadcastNestedLoop/cartesian anywhere, cost
    * O(Σ bucket-width²) instead of O(n²). Recall is tunable via
    * tables/bits exactly as in [[Similarity.topKLshMulti]]; the exact
    * all-pairs baseline ([[embeddingNearDup]]) stays available for
    * recall measurement at small scale.
    */
  def embeddingNearDupLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 4, bits: Int = 4): DataFrame = {
    val dim = Similarity.probeDim(emb, vecCol)
    // The prepared subtree (scan + norm + tables×bits plane dots) feeds
    // both self-join sides and both verify sides. It is deliberately NOT
    // cached: at target scale the corpus doesn't fit executor storage,
    // recompute-from-parquet is a columnar scan + codegen'd dots, and
    // keeping the plan lazy lets Catalyst see the whole shape (and lets
    // specs assert there is no nested-loop join anywhere in it).
    val e = Similarity.prepare(emb, idCol, vecCol)
      .withColumn("buckets", array((0 until tables).map(l =>
        Similarity.lshBucketFor(col("v"), l, bits, dim)): _*))
    val banded = e.select(col("id"),
      posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val cand = banded.select(col("id").as("vec_a"), col("tbl"), col("bucket"))
      .join(banded.select(col("id").as("vec_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    cand
      .join(e.select(col("id").as("vec_a"), col("v").as("v_a"),
        col("nrm").as("n_a")), "vec_a")
      .join(e.select(col("id").as("vec_b"), col("v").as("v_b"),
        col("nrm").as("n_b")), "vec_b")
      .withColumn("cosine",
        Similarity.dot(col("v_a"), col("v_b")) /
          (sqrt(col("n_a")) * sqrt(col("n_b"))))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Embedding-cosine near-dup, all-pairs baseline: pairs with cosine
    * similarity ≥ threshold. Norms are precomputed per row; the pair
    * join is the quadratic correctness baseline for measuring
    * [[embeddingNearDupLsh]] recall in specs — do NOT register it as a
    * query; it cannot survive a large corpus.
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions.{dot_product, norm2}
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val a = e.select(col("id").as("vec_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = e.select(col("id").as("vec_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("dot", dot_product(col("v_a"), col("v_b")))
      .withColumn("cosine", col("dot") / (sqrt(col("n_a")) * sqrt(col("n_b"))))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus by a coarse quantizer
    * (nearest centroid of a [[Similarity.sampleCodebook]] — the same
    * deterministic, engine-reproducible codebook the IVF index uses),
    * then within each cluster drop every vector that has a LOWER-id
    * neighbor at cosine ≥ `threshold`. Keeps exactly the min-id
    * representative of each within-cluster similarity group; returns the
    * keepers as (id, cluster_id).
    *
    * Scale shape: assignment is a loop-codegen projection (no join, no
    * shuffle); the pair search is a self-equijoin ON `cluster_id`, so
    * cost is O(Σ cluster-width²) — never all-pairs — and `numClusters`
    * is the knob that bounds the widths (production: grow it ~√N, or
    * swap the sampled codebook for [[Similarity.kmeansCodebook]] and
    * persist the assignment as the partition key, making re-dedup of an
    * incremental batch cluster-local). Cross-cluster near-dups are the
    * documented recall trade of the method — the quantizer is the
    * candidate generator, exactly as LSH bands are for
    * [[embeddingNearDupLsh]].
    *
    * The dropped side is `select(id).distinct()` BEFORE the anti-join,
    * so the anti-join probe side carries one column and the build side
    * dedups map-side.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numClusters: Int = 32): DataFrame = {
    val cents = Similarity.sampleCodebook(emb, idCol, vecCol, numClusters)
    if (cents.isEmpty)
      return emb.sparkSession.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("cluster_id")).limit(0)
    val assigned = Similarity.assignClusters(emb, idCol, vecCol, cents)
    val a = assigned.select(col("cluster_id"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cluster_id"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    // Rounded-then-compared cosine: both engines round to 6 dp before
    // the threshold test, so boundary pairs cannot split the engines.
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.dot(col("v_a"), col("v_b")) /
        (sqrt(col("n_a")) * sqrt(col("n_b"))), 6) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster_id"))
  }

  /** The REMOVAL half of ExactSubstr dedup (Lee et al. 2022): cut
    * duplicated spans' NON-CANONICAL occurrences out of the text,
    * where the canonical occurrence of a k-gram is its minimal
    * (doc id, position) across the corpus. Span anchoring and merging
    * are [[exactSubstrSpans]]'s (gap ≤ k start merge); removal is a
    * per-row array rebuild (indexed `filter` over the token array
    * against the doc's merged span list — spans per doc are bounded
    * by doc length, so the rebuilt row never leaves its partition).
    *
    * Survivor guarantee: token positions covered by a CANONICAL
    * occurrence of any duplicated gram are EXCLUDED from the cut, even
    * when a neighbouring non-canonical gram merged them into a cut
    * span. Without that carve-out, a non-canonical flagged start
    * within k tokens of a canonical occurrence in the same doc would
    * drag canonical tokens into the span and destroy every copy of
    * that content (ADVICE r13); with it, at least one copy of each
    * duplicated run always survives. The flip side of a one-pass,
    * k-gram-resolution cut is mild UNDER-deletion at such overlaps —
    * up to k−1 non-canonical tokens adjacent to a protected canonical
    * range can survive; a second pass tightens them (the operator
    * converges, it never oscillates).
    *
    * `minSpanTokens` is the production knob from Lee et al. (they cut
    * only runs of ≥ ~50 tokens): merged spans shorter than it are left
    * in place — short common phrases ("as shown in figure") are
    * legitimate language, not crawl duplication. The default 0 cuts
    * every span (≥ k tokens by construction).
    *
    * Output, one row per input document: `text` (cleaned,
    * single-space re-joined — the tokenizer's canonical form),
    * `n_spans_removed` (spans surviving the minSpanTokens filter),
    * `n_tokens_removed`.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, hashed: Boolean = false,
      minSpanTokens: Int = 0): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val base = df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    val grams = positionedGrams(df, idCol, textCol, k, hashed)
    // canonical occurrence per duplicated gram = min (doc, pos);
    // min(struct) orders lexicographically — one keyed agg, no window
    val canon = grams.groupBy("__g")
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p")))
        .as("__c"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("__g", "__c")
    val flagged = grams.join(canon, "__g")
      .filter(!(col(idCol) === col("__c.d") && col("pos") === col("__c.p")))
      .select(col(idCol), col("pos"))
    val protectPos = canon
      .select(col("__c.d").as(idCol), col("__c.p").as("pos"))
    cutFlaggedSpans(base, flagged, protectPos, idCol, k, minSpanTokens)
  }

  /** LINE-level boilerplate dedup — the CCNet/RefinedWeb paragraph
    * discipline, the third granularity beside document-level
    * ([[exactByKey]]/[[nearDupMinhash]]) and span-level
    * ([[removeDupSpans]]): a LINE (text between `sep` occurrences —
    * paragraphs for `"\n"`) whose EXACT text occurs ≥ `minCount` times
    * across the corpus is boilerplate (navigation bars, cookie
    * banners, license headers) and is cut from every document, with
    * the text rebuilt in original line order. Span-level dedup cannot
    * express this: a 3-token cookie banner never reaches the k-gram
    * anchor length, while a unique 200-token article paragraph must
    * never be cut no matter how many grams it shares with near-misses
    * — the LINE boundary is the unit of meaning here.
    *
    * `keepCanonical = true` switches to the dedup (not boilerplate)
    * posture: the minimal (doc, line_no) occurrence survives, every
    * other copy is cut — the [[removeDupSpans]] canonical rule at line
    * granularity. The default `false` is the boilerplate posture: at
    * `minCount` corpus-wide copies the line is noise, not content, and
    * ALL copies go.
    *
    * Output, one row per input document: `text` (rebuilt, `sep`
    * re-joined), `n_lines_removed`, `n_tokens_removed`.
    *
    * Plan shape for 100 TB: one posexplode (narrow), ONE keyed count
    * on the line key — `hashed = true` swaps the shuffled key from
    * the line STRING to xxhash64(line), the [[positionedGrams]]
    * production form (collisions only over-cut at ~n²/2⁶⁵ odds) —
    * then a keyed join of the lines against the FILTERED boilerplate
    * set (small by construction; AQE broadcasts it) and one groupBy
    * on the doc id to rebuild. Per-doc state is bounded by doc
    * length; nothing is corpus-proportional on a single node.
    */
  def removeDupLines(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minCount: Long = 2,
      keepCanonical: Boolean = false, hashed: Boolean = false)
      : DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val quoted = java.util.regex.Pattern.quote(sep)
    // NULL text reads as empty text: split(null) is null and a plain
    // posexplode would emit zero rows, silently DROPPING the document
    // from the one-row-per-input output contract
    val lines = df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), quoted))
          .as(Seq("__ln", "__line")))
      .withColumn("__k",
        if (hashed) xxhash64(col("__line")) else col("__line"))
    val boiler = lines.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol).as("d"), col("__ln").as("p"))).as("__c"))
      .filter(col("__n") >= minCount)
      .select(col("__k"), col("__c"))
    val marked = lines.join(boiler, Seq("__k"), "left")
      .withColumn("__cut",
        col("__c").isNotNull && (lit(!keepCanonical) ||
          !(col(idCol) === col("__c.d") && col("__ln") === col("__c.p"))))
    marked.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("__cut"),
            struct(col("__ln"), col("__line"))))),
          s => s("__line")), sep).as("text"),
        sum(when(col("__cut"), 1L).otherwise(0L)).as("n_lines_removed"),
        sum(when(col("__cut"), size(Text.tokens(col("__line"))))
          .otherwise(0)).cast("long").as("n_tokens_removed"))
      .select(col(idCol), col("text"), col("n_lines_removed"),
        col("n_tokens_removed"))
  }

  /** Positioned k-grams of each document: (idCol, `pos` — 0-based
    * token start as long, `__g` — the gram key, xxhash64'd when
    * `hashed`). The zip_with chain evaluates its collection args once
    * per row (the lambda-CSE trap note on [[Text.shinglesFromTokens]]);
    * the k−1 null tail slots drop after the posexplode. Shared by
    * [[exactSubstrSpans]], [[removeDupSpans]], and [[SubstrIndex]].
    */
  private[extra] def positionedGrams(df: DataFrame, idCol: String,
      textCol: String, k: Int, hashed: Boolean): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = Text.tokens(col(textCol))
    val base = df.select(col(idCol), toks.as("__toks"))
    val joined = (2 to k).foldLeft(col("__toks"))((cur, j) =>
      zip_with(cur, slice(col("__toks"), lit(j), size(col("__toks"))),
        (p, c) => concat(p, lit(" "), c)))
    base.select(col(idCol), posexplode(joined).as(Seq("pos", "__sh")))
      .filter(col("__sh").isNotNull)
      .select(col(idCol), col("pos").cast("long").as("pos"),
        (if (hashed) xxhash64(col("__sh")) else col("__sh")).as("__g"))
  }

  /** The span-merge + cut stage shared by [[removeDupSpans]] and
    * [[SubstrIndex.dedupBatch]]: merge `flagged` (idCol, pos) starts
    * into maximal spans per doc (gap ≤ k), drop spans shorter than
    * `minSpanTokens`, cut covered tokens EXCEPT positions inside a
    * `protectPos` (idCol, pos) canonical range [p, p+k−1], rebuild the
    * text. `base` carries (idCol, `__toks`). Per-doc window only —
    * bounded by doc length, never global.
    */
  private[extra] def cutFlaggedSpans(base: DataFrame, flagged: DataFrame,
      protectPos: DataFrame, idCol: String, k: Int,
      minSpanTokens: Int): DataFrame = {
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val spans = flagged
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, 0L)
          .otherwise(1L))
      .withColumn("__span", sum("__brk").over(byDoc
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__span"))
      .agg(min("pos").as("s"), (max("pos") + k - 1).as("e"))
      .filter(col("e") - col("s") + 1 >= minSpanTokens.toLong)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__spans"))
    // the protected ranges: canonical occurrences of duplicated grams
    // in THIS doc — each covers [p, p+k-1]; positions per doc are
    // bounded by doc length, so the collected array stays row-local
    val protect = protectPos
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__cpos"))
    base.join(spans, Seq(idCol), "left")
      .join(protect, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__spans"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("__spans"),
        coalesce(col("__cpos"),
          array().cast("array<bigint>")).as("__cpos"))
      .select(col(idCol),
        filter(col("__toks"), (_, i) =>
          !exists(col("__spans"),
            sp => i.cast("long") >= sp("s") && i.cast("long") <= sp("e")) ||
          exists(col("__cpos"),
            p => i.cast("long") >= p && i.cast("long") <= p + (k - 1)))
          .as("__kept"),
        size(col("__toks")).cast("long").as("__nt"),
        size(col("__spans")).cast("long").as("n_spans_removed"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text"),
        col("n_spans_removed"),
        (col("__nt") - size(col("__kept")).cast("long"))
          .as("n_tokens_removed"))
  }

  /** Exact duplicated-SUBSTRING spans per document — the span-level
    * form of Lee et al. 2022's ExactSubstr dedup (arXiv:2107.06499),
    * k-gram-anchored instead of suffix-array'd: a token span is
    * reported iff every length-`k` window inside it occurs ≥ 2 times
    * in the whole corpus (within- or cross-document). Any duplicated
    * substring of ≥ k tokens flags all of its k-gram start positions
    * consecutively, so merging flagged starts with gap ≤ k
    * reconstructs exactly the maximal duplicated spans — the
    * suffix-array result at k-token resolution, as one keyed shuffle
    * plus a per-document window instead of a global suffix sort.
    *
    * Pipeline shape (100 TB posture):
    *   1. positioned k-grams via the zip_with chain (collection args
    *      evaluate once per row — the lambda-CSE trap note on
    *      [[Text.shinglesFromTokens]]); posexplode keeps the start
    *      index;
    *   2. duplicate k-grams by ONE groupBy on the gram key (map-side
    *      partial count), `hashed = true` swaps the shuffled key for
    *      xxhash64(gram) — 8 bytes instead of ~k words per row, the
    *      production form (collision odds ~n²/2⁶⁵ only ever ADD a
    *      false span anchor);
    *   3. flagged starts rejoin (broadcast-averse: both sides keyed on
    *      the gram), then a PER-DOCUMENT window merges starts into
    *      maximal spans — partitioned by doc id, bounded by doc
    *      length, never global.
    *
    * Output, one row per input document: `n_spans`, `dup_tokens`
    * (tokens covered by merged spans — overlaps never double-count),
    * `max_span` (longest span, tokens), `dup_span_frac` =
    * dup_tokens / n_tokens (0.0 for span-free or empty docs).
    */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, hashed: Boolean = false): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = Text.tokens(col(textCol))
    val base = df.select(col(idCol),
      size(toks).cast("long").as("__n_toks"))
    val grams = positionedGrams(df, idCol, textCol, k, hashed)
    val dup = grams.groupBy("__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__g")
    val flagged = grams.join(dup, Seq("__g")).select(col(idCol), col("pos"))
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val spans = flagged
      // new span iff the previous flagged start is more than k back:
      // spans [p, p+k-1] and [q, q+k-1] touch/overlap iff q - p <= k
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, 0L)
          .otherwise(1L))
      .withColumn("__span",
        sum("__brk").over(byDoc
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__span"))
      .agg((max("pos") - min("pos") + k).as("__len"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"), sum("__len").as("dup_tokens"),
        max("__len").as("max_span"))
    base.select(col(idCol), col("__n_toks"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        when(col("__n_toks") === 0L || col("n_spans").isNull, lit(0.0))
          .otherwise(round(
            col("dup_tokens").cast("double") / col("__n_toks"), 6))
          .as("dup_span_frac"))
  }
}
