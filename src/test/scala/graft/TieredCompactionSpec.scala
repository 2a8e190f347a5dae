package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.extra.{AnnIndex, Bm25Index, IndexManifests, MinhashIndex,
  SemanticIndex, SubstrIndex}
import graft.streaming.AnnIngest

/** The r15-verdict-#1 contract for the LSM indexes' auto-compaction:
  * size-TIERED minor merges ([[IndexManifests.pickTier]] behind every
  * index's `autoCompactFanout`) must bound per-append merge work by
  * the TIER — never the index — while holding the live segment count
  * O(log N) over a long ingest, with replay safety and verdict
  * equivalence intact. Two layers:
  *
  *   - the POLICY, pinned pure on [[IndexManifests.pickTier]] over a
  *     simulated 1000-append ladder (every pick exactly `fanout`
  *     segments, picked bytes bounded by fanout · factor · smallest,
  *     stable count logarithmic);
  *   - the INTEGRATION, pinned on a real 100-append ingest into each
  *     of the five persisted indexes (manifest history shows every
  *     merge folding ≤ fanout segments, final count ≪ append count,
  *     ledger replay no-ops, dedup verdicts / search results equal a
  *     fresh single-build twin);
  *   - the shared two-phase protocol ([[IndexManifests.TierFold]]),
  *     driven phase by phase on each index: a commit lands over a
  *     concurrent append and keeps it, a commit after a concurrent
  *     major compaction is refused and its orphan `tier-` files are
  *     vacuumable, and a committed fold leaves results unchanged.
  */
class TieredCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_tiered_")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("pickTier policy over 1000 simulated equal-size appends: every " +
      "merge folds exactly fanout segments of one size tier (input " +
      "bounded by the tier, never the index) and the stable segment " +
      "count is logarithmic") {
    val fanout = 4
    val factor = 4.0
    var segs = Map.empty[String, Long]
    var next = 0
    var maxCount = 0
    var maxPickedBytes = 0L
    for (i <- 0 until 1000) {
      segs += (s"seg-a$i" -> 100L) // one micro-batch segment, 100 units
      // the auto path: one pick per append, no cascade
      val picked = IndexManifests.pickTier(segs.toSeq, fanout, factor)
      if (picked.nonEmpty) {
        assert(picked.size == fanout,
          s"pick of ${picked.size} segments at append $i")
        val bytes = picked.map(segs).sum
        val smallest = picked.map(segs).min
        assert(bytes <= (fanout * factor * smallest).toLong,
          s"merge input $bytes exceeds the tier bound at append $i")
        // the index's total is ~100·i units here — a FULL merge would
        // be unbounded in i; the tier bound must stay flat for the
        // dominant (tier-0) merges, so track the overall max instead
        maxPickedBytes = math.max(maxPickedBytes, bytes)
        segs --= picked
        segs += (s"seg-m$next" -> bytes)
        next += 1
      }
      maxCount = math.max(maxCount, segs.size)
    }
    // O(log N): < fanout live segments per tier, ~log_factor(1000/1)
    // tiers of merged sizes (100, 400, 1600, ...) — far below the
    // 1000 an unmerged ingest would hold
    assert(segs.size <= fanout * 8,
      s"stable count ${segs.size} not logarithmic")
    assert(maxCount <= fanout * 8, s"transient count $maxCount unbounded")
    // the largest single merge is the top full tier (fanout segments
    // of the biggest merged size present), orders below the corpus
    assert(maxPickedBytes < 100L * 1000,
      s"a merge consumed $maxPickedBytes — the whole index")
  }

  test("pickTier returns empty when no size tier is full, and rejects " +
      "a fanout below 2") {
    assert(IndexManifests.pickTier(Nil, 3).isEmpty)
    assert(IndexManifests.pickTier(
      Seq("a" -> 10L, "b" -> 11L), 3).isEmpty)
    // three sizes in distinct tiers (ratio > factor): nothing to merge
    // even at fanout 2 — a full merge would have taken all three
    assert(IndexManifests.pickTier(
      Seq("a" -> 10L, "b" -> 100L, "c" -> 1000L), 2, 4.0).isEmpty)
    // but a full SMALL tier merges without touching the big segment
    assert(IndexManifests.pickTier(
      Seq("a" -> 10L, "b" -> 12L, "c" -> 1000L), 2, 4.0).toSet ==
      Set("a", "b"))
    assertThrows[IllegalArgumentException](
      IndexManifests.pickTier(Seq("a" -> 1L), 1))
  }

  /** One persisted index under test: its seed corpus, how it ingests
    * a (doc_id, text) batch, how it answers the probe docs, and how a
    * fresh twin over the same docs is built (vector indexes reuse the
    * frozen codebooks, as every append does).
    */
  private case class Ix(name: String, fold: IndexManifests.TierFold,
      primary: String, seed: DataFrame, build: (DataFrame, String) => Unit,
      append: (DataFrame, String, Option[(String, Long)], Int) => Unit,
      compact: String => Unit, probe: (String, DataFrame) => Seq[String],
      twin: (String, DataFrame, String) => Unit)

  private val textSeed = Seq((0L, "seed corpus shared run alpha beta " +
    "gamma delta epsilon zeta eta")).toDF("doc_id", "text")
  private val vectorSeed = textSeed.unionByName((1L to 7L)
    .map(i => (i, s"seed vector doc $i with words v${i}a v${i}b"))
    .toDF("doc_id", "text"))

  private def emb(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      AnnIngest.embedStub(col("text"), 16).as("embedding"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val indexes = Seq(
    Ix("SubstrIndex", SubstrIndex.Tier, "grams", textSeed,
      (d, dir) => SubstrIndex.build(d, "doc_id", "text", dir, k = 5,
        hashed = true),
      (b, dir, txn, f) => SubstrIndex.append(b, "doc_id", "text", dir,
        txn = txn, autoCompactFanout = f),
      SubstrIndex.compact(spark, _),
      (dir, p) => SubstrIndex.dedupBatch(spark, dir, p, "doc_id", "text")
        .select("doc_id", "text", "n_spans_removed", "n_tokens_removed")
        .orderBy("doc_id").collect().map(_.toString).toSeq,
      (_, all, twin) => SubstrIndex.build(all, "doc_id", "text", twin,
        k = 5, hashed = true)),
    Ix("MinhashIndex", MinhashIndex.Tier, "bands", textSeed,
      (d, dir) => MinhashIndex.build(d, "doc_id", "text", dir,
        numFiles = 2),
      (b, dir, txn, f) => MinhashIndex.append(b, "doc_id", "text", dir,
        txn = txn, autoCompactFanout = f),
      MinhashIndex.compact(spark, _),
      (dir, p) => rowsOf(MinhashIndex.dedupBatch(spark, dir, p, "doc_id",
        "text")),
      (_, all, twin) => MinhashIndex.build(all, "doc_id", "text", twin,
        numFiles = 2)),
    Ix("Bm25Index", Bm25Index.Tier, "tf", textSeed,
      (d, dir) => Bm25Index.build(d, "doc_id", "text", dir, numFiles = 2),
      (b, dir, txn, f) => Bm25Index.append(b, "doc_id", "text", dir,
        numFiles = 2, txn = txn, autoCompactFanout = f),
      Bm25Index.compact(spark, _),
      (dir, _) => rowsOf(Bm25Index.search(spark, dir,
        Seq("q42a", "alpha", "append", "distinct", "novel"))),
      (_, all, twin) => Bm25Index.build(all, "doc_id", "text", twin,
        numFiles = 2)),
    Ix("AnnIndex", AnnIndex.Tier, "codes", vectorSeed,
      (d, dir) => AnnIndex.buildAndWriteIvfPq(emb(d), "doc_id",
        "embedding", dir, numCentroids = 4, m = 8, pqCentroids = 4): Unit,
      (b, dir, txn, f) => AnnIndex.appendIvfPq(spark, dir, emb(b),
        "doc_id", "embedding", txn = txn, autoCompactFanout = f),
      AnnIndex.compact(spark, _),
      (dir, p) => rowsOf(AnnIndex.searchVectors(spark, dir,
        emb(p).collect().map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq,
        k = 5, nprobe = 4)),
      (dir, all, twin) => {
        val cb = AnnIndex.readCodebooks(spark, dir)
        AnnIndex.buildAndWriteIvfPq(emb(all), "doc_id", "embedding", twin,
          m = cb.m, coarseCodebook = Some(cb.coarse),
          pqCodebook = Some(cb.pq)): Unit
      }),
    Ix("SemanticIndex", SemanticIndex.Tier, "vectors", vectorSeed,
      (d, dir) => SemanticIndex.build(emb(d), "doc_id", "embedding", dir,
        numClusters = 4),
      (b, dir, txn, f) => SemanticIndex.append(emb(b), "doc_id",
        "embedding", dir, txn = txn, autoCompactFanout = f): Unit,
      SemanticIndex.compact(spark, _),
      (dir, p) => rowsOf(SemanticIndex.dedupBatch(spark, dir, emb(p),
        "doc_id", "embedding", threshold = 0.9)),
      (dir, all, twin) => SemanticIndex.build(emb(all), "doc_id",
        "embedding", twin,
        codebook = Some(SemanticIndex.readCodebook(spark, dir)))))

  private def batchDf(b: Int) = Seq((1000L + b,
    s"append $b distinct words q${b}a q${b}b q${b}c q${b}d q${b}e"))
    .toDF("doc_id", "text")

  private val probe = Seq(
    (5000L, "append 42 distinct words q42a q42b q42c q42d q42e"),
    (5001L, "seed corpus shared run alpha beta gamma delta " +
      "epsilon zeta eta"),
    (5002L, "completely novel probe content nothing indexed before"))
    .toDF("doc_id", "text")

  for (ix <- indexes)
    test(s"100-append ${ix.name} ingest with autoCompactFanout=4: every " +
        "manifest-recorded merge folds <= fanout segments, the final " +
        "count is logarithmic, the ledger replays to a no-op, and " +
        "verdicts equal a fresh single-build twin") {
      val dir = tmpDir()
      ix.build(ix.seed, dir)
      val fanout = 4
      for (b <- 0 until 100)
        ix.append(batchDf(b), dir, Some(("tier", b.toLong)), fanout)
      // walk the full committed history: every version that REMOVED
      // segments is a merge; its input count (removed + the one added)
      // must be <= fanout — never the whole index
      val vs = IndexManifests.versions(spark, dir)
      val hist = vs.map(v =>
        IndexManifests.at(spark, dir, v).getOrElse(ix.primary, Nil).toSet)
      val merges = hist.sliding(2).toSeq.collect {
        case Seq(prev, cur) if (prev -- cur).nonEmpty => (prev -- cur).size
      }
      assert(merges.nonEmpty, "a 100-append ingest never merged")
      assert(merges.max <= fanout,
        s"a merge folded ${merges.max} segments (> fanout $fanout)")
      val finalCount = hist.last.size
      assert(finalCount <= fanout * 5,
        s"final segment count $finalCount not logarithmic in 100 appends")
      // replay safety through the minor merges: the last committed
      // batch re-offered is a no-op
      val v = IndexManifests.latest(spark, dir).get._1
      ix.append(batchDf(99), dir, Some(("tier", 99L)), fanout)
      assert(IndexManifests.latest(spark, dir).get._1 == v)
      // verdict equivalence: a probe repeating append-42's content (and
      // the seed run) is answered identically by the tiered index and a
      // twin built fresh over the identical corpus
      val twin = tmpDir()
      ix.twin(dir, (ix.seed +: (0 until 100).map(batchDf))
        .reduce(_ unionByName _), twin)
      val tiered = ix.probe(dir, probe)
      assert(tiered == ix.probe(twin, probe))
      if (ix.name == "SubstrIndex")
        assert(tiered.exists(_.contains("5002,completely novel probe " +
          "content nothing indexed before,0,0")))
    }

  /** An index with the seed build plus `n` un-folded appends. */
  private def seeded(ix: Ix, n: Int): String = {
    val dir = tmpDir()
    ix.build(ix.seed, dir)
    for (b <- 0 until n) ix.append(batchDf(b), dir, None, 0)
    dir
  }

  private def tierFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(dir)).map(_.getName).filter(_.startsWith("tier-"))
  }

  for (ix <- indexes)
    test(s"two-phase tier fold (${ix.name}): prepare, append, commit — " +
        "the commit lands over the concurrent append and keeps its " +
        "segment, and probe results are the same before and after") {
      val dir = seeded(ix, 4)
      val p = ix.fold.prepare(spark, dir, 4)
      assert(p.nonEmpty, "four equal appends hold no full tier")
      val picked = p.get.picked(ix.primary)
      assert(picked.size == 4)
      def primarySegs() =
        IndexManifests.latest(spark, dir).get._2(ix.primary).toSet
      val prepared = primarySegs()
      ix.append(batchDf(4), dir, None, 0)
      val appended = (primarySegs() -- prepared).toSeq
      assert(appended.size == 1, appended)
      val before = ix.probe(dir, probe)
      assert(ix.fold.commit(spark, dir, p.get))
      val (_, after) = IndexManifests.latest(spark, dir).get
      assert(after(ix.primary).contains(appended.head),
        "the fold dropped the append that landed after its prepare")
      assert(after(ix.primary).contains(p.get.merged(ix.primary)))
      assert(picked.forall(s => !after(ix.primary).contains(s)))
      // every companion frame swapped in lockstep
      p.get.merged.foreach { case (f, seg) => assert(after(f).contains(seg)) }
      assert(ix.probe(dir, probe) == before)
    }

  for (ix <- indexes)
    test(s"two-phase tier fold (${ix.name}): prepare, major compact, " +
        "commit — the commit is refused and leaves the manifest " +
        "unchanged, and vacuum removes the orphan tier- files") {
      val dir = seeded(ix, 4)
      val p = ix.fold.prepare(spark, dir, 4)
      assert(p.nonEmpty, "four equal appends hold no full tier")
      ix.compact(dir)
      val head = IndexManifests.latest(spark, dir).get
      assert(!ix.fold.commit(spark, dir, p.get))
      assert(IndexManifests.latest(spark, dir).get == head)
      val frames = head._2.keySet.filterNot(_.startsWith("_")).toSeq ++
        p.get.merged.keys
      IndexManifests.vacuum(spark, dir, frames.distinct)
      assert(tierFiles(dir).isEmpty, tierFiles(dir))
    }
}
