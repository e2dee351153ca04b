package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.functions.{VectorExpressions => V}

/** Deduplication operators for training-data pipelines — exact,
  * MinHash-LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  * The reference engine has none of these (SURVEY.md §2.2); they are the
  * north-star extensions, each designed as a shuffle-bounded dataflow:
  *
  *   - exact dedup: one hash-partitioned window (shuffle on the content
  *     hash — the only correct key, and uniformly distributed);
  *   - MinHash LSH: signatures are a scan-side projection; candidate
  *     generation shuffles on (band, band_hash) only — the classic
  *     banding trick keeps the self-join linear in bucket sizes instead
  *     of quadratic in corpus size;
  *   - SimHash: pure projection, no shuffle at all;
  *   - pairwise Jaccard / cosine: always within an explicit blocking key
  *     (lang / label) — an unblocked all-pairs join would be quadratic
  *     and is deliberately not offered.
  *
  * All hashes are the deterministic integer arithmetic of
  * [[graft.functions.TextFunctions]], so the DuckDB oracles reproduce
  * them exactly.
  */
object Dedup {

  val P: Long = HashMod
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4 // NumHashes / Bands

  // ----------------------------------------------------------------
  // exact dedup
  // ----------------------------------------------------------------

  /** Exact dedup by sha256(text): every row keeps its cluster id (the
    * content hash), cluster size, and whether it is the keeper (min
    * doc_id). Filter on `keep` to materialize the deduplicated set. */
  def exact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    documents
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy("doc_id")
  }

  /** Canonical-key for [[canonical]]: case-folded, whitespace-collapsed
    * text prefix — the C4/Dolma normalization that catches re-crawls
    * differing only in case, spacing or trailing content. The engine-
    * portable subset (ASCII `\s`, char-based substr) so the oracle
    * derives the identical key. */
  def canonicalKey: Column =
    substring(trim(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 128)

  /** Canonical-dedup KEEPER ids — the one formulation of "which doc_id
    * survives canonical dedup" shared by every consumer
    * ([[Pipeline.curationFunnelOn]], [[Pipeline.corpusPipelineOn]],
    * [[Ann.curatedSearch]]): min doc_id per [[canonicalKey]], as a
    * groupBy — partial aggregation bounds the canon shuffle to one
    * (canon, min-doc_id) partial per map task, where the window
    * spelling shuffles and sorts every surviving row. Callers join the
    * returned (doc_id) set back on doc_id — a uniform key — to recover
    * their payload columns. Input needs (doc_id, text). */
  def canonicalKeepers(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), canonicalKey.as("canon"))
      .groupBy("canon").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Canonical dedup with the KEEP-LONGEST policy (C4's duplicate
    * resolution: among normalization-equal variants keep the one with
    * the most words — the fullest rendition — not the smallest id):
    * keeper = argmax(n_words, tie → min doc_id) per canonical group.
    * Same single uniform-key window shuffle as [[canonical]]; the
    * policy is just the window's ORDER BY, which is the point — the
    * keeper rule is pluggable without touching the plan shape. */
  def keepBest(documents: DataFrame): DataFrame = {
    // n_words is NULL for NULL text: placement is EXPLICIT in both
    // engines (desc_nulls_last / DESC NULLS LAST) — relying on Spark's
    // DESC default coinciding with DuckDB's is the rel_null_ordering
    // trap
    val w = Window.partitionBy(col("canon"))
      .orderBy(col("n_words").desc_nulls_last, col("doc_id"))
    documents
      .select(col("doc_id"), canonicalKey.as("canon"),
        graft.functions.TextHashExpressions
          .wordStats(words(col("text")))
          .getField("n_words").as("n_words"))
      .select(col("doc_id"), col("n_words"),
        count(lit(1)).over(Window.partitionBy(col("canon")))
          .as("n_variants"),
        (row_number().over(w) === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** Canonical-key dedup — exact dedup's normalization-tolerant twin:
    * group by the canonical key, keep the minimum doc_id. Same scale
    * shape as [[exact]] (one uniform hash shuffle on the key, partial
    * aggregation map-side — a groupBy, not a window, because nothing
    * here needs per-row group context). */
  def canonical(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), canonicalKey.as("canon"))
      .groupBy("canon")
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"),
        length(col("canon")).cast("long").as("canon_len"))
      .orderBy("doc_id")

  // ----------------------------------------------------------------
  // MinHash signatures + LSH banding
  // ----------------------------------------------------------------

  /** Distinct 3-word-shingle polynomial hashes per doc (fused codegen
    * kernel — see TextHashExpressions). */
  private def shingleHashes: Column =
    array_distinct(graft.functions.TextHashExpressions
      .shingleHashes(words(col("text")), 3))

  /** MinHash_j = min over shingles of ((2j+1)*x + (12345j+7)) mod P;
    * -1 when the doc has no shingles. */
  private def minhashSigs: Column =
    graft.functions.TextHashExpressions
      .minhashSig(col("shingle_hashes"), NumHashes)

  /** Band hash b = left fold (acc*31 + sig) mod P over the band's sigs
    * (fused codegen kernel — the HOF chain was CodegenFallback and
    * re-evaluated per referencing column, see BandHashesExpr). */
  private def bandHashes: Column =
    graft.functions.TextHashExpressions
      .bandHashes(col("sigs"), Bands, RowsPerBand)

  /** Per-doc MinHash signature compacted to one bigint per band. */
  def minhashSignatures(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), shingleHashes.as("shingle_hashes"))
      .withColumn("sigs", minhashSigs)
      .withColumn("bands", bandHashes)
      .select(col("doc_id") +: (0 until Bands).map(b =>
        element_at(col("bands"), b + 1).as(s"band$b")): _*)
      .orderBy("doc_id")

  /** LSH candidate pairs (share >= 1 band) with their true shingle
    * Jaccard. Shuffles on (band_idx, band_hash) for candidates, then on
    * doc_id to fetch shingle sets — never all-pairs. Docs with no
    * shingles are excluded (their sentinel signatures would otherwise
    * all collide into one quadratic bucket). */
  /** Shingled+signed relation shared by the pair/cluster operators.
    * persist: it feeds both sides of the band self-join plus two
    * set-fetch joins (and the cluster node set) — without it the
    * (expensive) shingle/signature projection is re-evaluated once per
    * branch.
    *
    * The cached frame is memoized per (session, canonicalized input
    * plan), so repeated minhashPairs/minhashClusters calls over the same
    * input (Bench, then `Dev profile`, ...) share ONE cache entry
    * instead of leaking a fresh persisted copy per call. Entries live until
    * [[releaseCaches]] (or session end); distinct inputs get distinct
    * entries.
    *
    * SNAPSHOT semantics, by design: like any built index, the cached
    * relation reflects the input AS OF first use — rewriting the
    * underlying files does NOT invalidate it (the canonicalized plan
    * compares equal). Writers must call [[releaseCaches]] after
    * mutating the corpus; the engine's own mains do so on shutdown. */
  private val shingleCache = new PlanMemo

  /** The shingle/signature/bands projection, un-persisted — for inputs
    * that should NOT enter the session cache (e.g. the per-batch side of
    * [[incrementalNearDups]], where each batch has a fresh plan and
    * memoizing would leak one persisted frame per batch; or a STREAM,
    * which cannot be persisted at all — every column here is a pure
    * row projection, so the plan is stream-safe). `keep` carries extra
    * input columns (e.g. the stream's event_time) through. */
  private[graft] def shingledPlan(documents: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    documents
      // barrier alias: the size gate otherwise SUBSTITUTES the kernel
      // into its own filter and every consumer pays the shingle pass
      // twice per row (graft.functions.TextHashExpressions
      // .OptimizerBarrierExpr — zero runtime cost)
      .select(col("doc_id") +: keep.map(col) :+
        graft.functions.TextHashExpressions.optBarrier(shingleHashes)
          .as("shingle_hashes"): _*)
      .where(size(col("shingle_hashes")) > 0)
      // sigs/bands behind the same barrier: downstream band joins
      // infer isnotnull + size guards on the band column, and without
      // the barrier the whole minhash+banding chain is substituted
      // into that filter and computed twice per row
      .withColumn("sigs",
        graft.functions.TextHashExpressions.optBarrier(minhashSigs))
      .withColumn("bands",
        graft.functions.TextHashExpressions.optBarrier(bandHashes))

  private[graft] def shingled(documents: DataFrame): DataFrame =
    shingleCache(Seq(documents))(shingledPlan(documents).persist())

  /** SLIM shingle tier: (doc_id, shingle_hashes) only — for consumers
    * like [[decontaminate]] that never read MinHash signatures or band
    * hashes. [[shingled]]'s full tier computes and caches 16-perm
    * sigs + bands per document; paying that to populate a cache the
    * consumer won't read is the dominant per-doc cost at corpus scale.
    * Separate cache map, same lifecycle ([[releaseCaches]]). */
  private val slimShingleCache = new PlanMemo

  private def shingledSlim(documents: DataFrame): DataFrame =
    slimShingleCache(Seq(documents))(
      documents
        .select(col("doc_id"),
          graft.functions.TextHashExpressions.optBarrier(shingleHashes)
            .as("shingle_hashes"))
        .where(size(col("shingle_hashes")) > 0)
        .persist())

  /** Persisted frames that must outlive their operator call (the
    * cluster labels feed the caller's lazy result), released together
    * with the shingle cache. */
  private val retainedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist and forget every memoized shingle/signature relation and
    * retained cluster-label frame — the explicit release half of the
    * implicit index the dedup operators build. */
  def releaseCaches(): Unit = {
    shingleCache.release()
    slimShingleCache.release()
    var df = retainedCaches.poll()
    while (df != null) { df.unpersist(); df = retainedCaches.poll() }
    refreshBaseCache.release()
    docsManifestTables.release()
  }

  /** Candidate pairs + true jaccard over a prepared [[shingled]] frame. */
  private def pairsFrom(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
      .distinct()
    val sets = sigs.select(col("doc_id"), col("shingle_hashes"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("long")
    cands
      .join(sets.select(col("doc_id").as("doc_id_1"),
        col("shingle_hashes").as("sh1")), "doc_id_1")
      .join(sets.select(col("doc_id").as("doc_id_2"),
        col("shingle_hashes").as("sh2")), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        inter.as("n_common"),
        (inter.cast("double") /
          (size(col("sh1")) + size(col("sh2")) - inter).cast("double"))
          .as("jaccard"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  def minhashPairs(documents: DataFrame): DataFrame =
    pairsFrom(shingled(documents))

  /** LSH band-bucket OBSERVABILITY — the one-row audit that tells an
    * operator whether the banding is healthy BEFORE running the pair
    * join (the [[MlIndex]] `ml_brp_buckets` discipline applied to the
    * dedup bands): bucket count, hottest occupancy, and the exact
    * candidate pair mass Σ occ·(occ−1)/2 the band self-join would
    * generate. Candidate mass is quadratic in occupancy and bounded by
    * NEAR-DUP DENSITY, not corpus size — so a boilerplate-heavy corpus
    * announces itself here as a hot bucket (run exact/canonical dedup
    * first; byte-identical mass is their job, not LSH's). One shuffle
    * (the bucket aggregate, partial map-side); the 1-row doc count
    * rides the stats-broadcast cross join. */
  def minhashBandStats(documents: DataFrame): DataFrame = {
    val sh = shingled(documents)
    val occ = sh
      .select(posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
      .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("c"))
    sh.agg(count(lit(1)).as("n_docs"))
      .crossJoin(occ.agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("hottest"),
        sum(expr("(c * (c - 1)) div 2")).as("pair_mass")))
      .select(col("n_docs"), col("n_buckets"), col("hottest"),
        col("pair_mass"))
  }

  /** Jaccard thresholds for the [[minhashRecall]] curve: spans the
    * banding scheme's S-curve (b=4 bands of r=4 rows → P(candidate) =
    * 1-(1-s^4)^4, ~0.23 at s=0.5 and ~0.99 at s=0.9), so the report
    * shows both where banding is blind and where it is reliable. */
  val MinhashRecallTaus: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.9)

  /** Recall CURVE of the banded-LSH candidate generator against the
    * exact shingle-Jaccard pair set — the index-quality measurement for
    * [[minhashPairs]]/[[minhashClusters]], completing the discipline
    * that every approximate path ships its measured miss rate
    * ([[embeddingNearDupRecall]], `mm_phash_recall`, `ann_*_recall`).
    * One row per τ in [[MinhashRecallTaus]]: n_exact = pairs with true
    * Jaccard ≥ τ, n_lsh = those the banding would surface (share ≥ 1
    * band), recall = n_lsh / n_exact — directly comparable to the
    * theoretical 1-(1-τ^r)^b so a broken hash family announces itself
    * as a gap from theory, not just a low number.
    *
    * GROUND-TRUTH query, like [[embeddingNearDupRecall]]: the exact
    * side is the full shingle inverted index (no df cap — capping
    * would bias the truth being measured), so the operator RUNS ON AN
    * AUDIT SLICE by construction (doc_id % `sampleMod` == 0, the
    * [[ngramJaccardPairs]] discipline): recall is a corpus-level rate
    * and a deterministic slice estimates it without paying Σ df(s)²
    * over the whole corpus — pass sampleMod = 1 for the exhaustive
    * measurement at verify scale. The per-τ counts ride an exploded
    * 4-row τ literal; candidates and truth share one shingle
    * projection of the slice. */
  def minhashRecall(documents: DataFrame, sampleMod: Int = 2): DataFrame = {
    val sh = shingled(documents.where(col("doc_id") % sampleMod === 0))
    val ex = sh.select(col("doc_id"),
      size(col("shingle_hashes")).as("n"),
      explode(col("shingle_hashes")).as("h"))
    val exact = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id_1"), col("doc_id_2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))
    val bands = sh.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
      .distinct()
      .withColumn("in_lsh", lit(true))
    exact.join(cand, Seq("doc_id_1", "doc_id_2"), "left")
      .select(col("jaccard"),
        coalesce(col("in_lsh"), lit(false)).as("in_lsh"))
      .where(col("jaccard") >= MinhashRecallTaus.min)
      .select(col("jaccard"), col("in_lsh"),
        explode(array(MinhashRecallTaus.map(lit(_)): _*)).as("tau"))
      .where(col("jaccard") >= col("tau"))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("in_lsh"), lit(1))).as("n_lsh"))
      .select(col("tau"), col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          col("n_lsh").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("tau")
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * LSH pair graph (jaccard >= 0.5), labeling every document with the
    * minimum doc_id of its component — the step that turns pairwise
    * near-dup hits into "keep one canonical doc per cluster".
    *
    * Min-label propagation: each round joins current labels across the
    * (symmetric) edge set and takes the min — one shuffle per round,
    * O(component diameter) rounds (near-dup components are small dense
    * clusters, so 2-3 rounds in practice; cap + convergence check bound
    * it; for long-chain components use [[minhashClustersStar]] — the
    * implemented O(log n) large-star/small-star variant, hash-matched
    * against the same oracle). The driver loop carries only a
    * converged? count per round, never data. */
  def minhashClusters(documents: DataFrame, threshold: Double = 0.5,
      maxIters: Int = 32,
      smallGraphCap: Long = SmallGraphEdgeCap): DataFrame = {
    val spark = documents.sparkSession
    // one shared shingle/signature relation feeds pairs AND the node set
    val sigs = shingled(documents)
    val verified = pairsFrom(sigs)
      .where(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"))
    val edges = verified.union(verified.select(
        col("doc_id_2").as("doc_id_1"), col("doc_id_1").as("doc_id_2")))
      .persist()
    val nodes = sigs.select(col("doc_id"))
    // SCHEDULING-TAX CONTROL: the iterative loop runs tiny jobs per
    // round over an edge relation that is typically a microscopic
    // fraction of the corpus (LSH-verified near-dup pairs). At the
    // session's full shuffle width those rounds are pure task-scheduling
    // overhead (32 partitions of KBs, measured as the suite's noisiest
    // query in rounds 6-7), so the loop's shuffle width is derived from
    // the measured edge count (~1M edge rows ≈ 16 MB per partition),
    // clamped to the session width so a genuinely large graph keeps
    // full parallelism. The width is applied PER-PLAN — an explicit
    // repartition on the one relation each round shuffles — never by
    // mutating the session's shuffle-partitions conf, which would
    // silently narrow any concurrent query planned while the loop runs.
    // ONE fused stats job: materializes the persisted edge set (the
    // count side) and reads the convergence baseline Σ doc_id (the sum
    // side — initial labels are cluster_id = doc_id, so the node sum IS
    // labelSum(labels0) without a second aggregate job over it).
    val st = edges.agg(count(lit(1)).as("n")).crossJoin(
      nodes.agg(coalesce(sum("doc_id"), lit(0L)).as("s"))).head
    val nEdges = st.getLong(0)
    // SMALL-GRAPH FAST PATH (see [[SmallGraphEdgeCap]]): the stats job
    // above materialized the persisted edge set, so the collect is a
    // cache read; union-find reproduces the min-label fixpoint exactly
    if (nEdges > 0L && nEdges <= smallGraphCap) {
      val collected = edges.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      val lbl = nodes.join(
          VectorSearch.broadcastIfSmall(unionFindLabels(spark, collected))
            .withColumnRenamed("doc_id", "src"),
          nodes("doc_id") === col("src"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val w0 = Window.partitionBy(col("cluster_id"))
      return lbl
        .withColumn("cluster_size", count(lit(1)).over(w0))
        .withColumn("keep", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
    }
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.min(sessionParts.toLong, nEdges / 1000000L + 1L).toInt
    var labels = nodes.withColumn("cluster_id", col("doc_id")).persist()
    // convergence metric: Σ cluster_id. Min-label propagation only ever
    // DECREASES labels, so an unchanged sum ⟺ no label changed — one
    // cheap aggregate per round instead of a change-detection join.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("cluster_id"), lit(0L))).head.getLong(0)
    var prevSum = st.getLong(1)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val propagated = labels
        .join(edges, labels("doc_id") === edges("doc_id_1"))
        .select(col("doc_id_2").as("doc_id"), col("cluster_id"))
      // localCheckpoint, not persist: each round's plan embeds the
      // previous round's ~2×, and a persisted frame still hands the
      // optimizer the full 2^round tree (the star solver hit this wall
      // hard at 3^round). Checkpointing keeps per-round analysis O(1);
      // the round count stays bounded by the convergence check.
      // LAZY checkpoint: the convergence aggregate right below is the
      // materializing action, so each round runs ONE job instead of
      // two — on KB-scale edge data the loop cost is job latency, not
      // compute. The explicit repartition pins the round's only
      // exchange at loopParts AND satisfies the groupBy's distribution
      // (no second ENSURE_REQUIREMENTS exchange behind it).
      val next = labels.select("doc_id", "cluster_id").union(propagated)
        .repartition(loopParts, col("doc_id"))
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint(eager = false)
      val sumNow = labelSum(next)
      converged = sumNow == prevSum
      prevSum = sumNow
      labels.unpersist()
      labels = next
      iter += 1
    }
    // a silent non-converged return would emit WRONG clusters (multiple
    // keepers per component) — fail loudly instead; near-dup components
    // are dense, so hitting this means the input violates the model
    require(converged,
      s"connected components did not converge within $maxIters rounds " +
        "(component diameter too large — use large-star/small-star)")
    val w = Window.partitionBy(col("cluster_id"))
    val out = labels
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
    edges.unpersist()
    // labels feeds the caller's lazy `out` — release via releaseCaches()
    retainedCaches.add(labels)
    out
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the O(log n)-round solver [[minhashClusters]]' scaladoc
    * names as the escape hatch for components whose DIAMETER exceeds
    * what min-label propagation can walk (join-min needs one round per
    * diameter step; a 10^6-node chain is 10^6 rounds).
    *
    *   - large-star: every node points its LARGER neighbours at the
    *     minimum of its closed neighbourhood;
    *   - small-star: every node and its SMALLER neighbours collapse
    *     onto their minimum.
    *
    * Each round is two grouped mins + two joins keyed on node id —
    * the same shuffle profile as one join-min round — and the edge set
    * only ever shrinks toward a star forest, so the 100 TB cost is
    * O(log n) bounded-size shuffles. Convergence = stable
    * (count, xxhash64-XOR) edge-set signature. The dangerous direction
    * is a COLLISION between different edge sets: it reads as FALSE
    * convergence — `require(converged)` passes and wrong clusters are
    * returned silently — so the signature must be genuinely full-width
    * (XOR keeps all 64 bits, order-independent, no ANSI overflow;
    * collision odds ~2^-64 per round, vs ~2^-31 for the earlier
    * sum-of-pmod-2^31 formulation).
    *
    * Returns (doc_id, cluster_id = min doc_id of the component). */
  /** Edge-count gate for the driver-side union-find fast path shared
    * by both component solvers: at or below this many measured edge
    * rows the component structure is index-metadata-sized (≤ a few MB
    * — the bounded-shortlist class the codebooks and the MMR pool live
    * in) and the distributed loops' cost is pure per-round job
    * latency, so the labels are computed in one collect + one
    * broadcast join instead of O(rounds) tiny shuffles. Above the gate
    * the distributed solvers run unchanged — at corpus scale the gate
    * never fires. Both solvers' fixpoint is cluster_id = min doc_id of
    * the component, which union-by-min-root reproduces exactly, so the
    * fast path is bit-identical to the loops (same oracles). */
  private val SmallGraphEdgeCap = 1L << 17

  /** Union-find (path compression + union-by-min-root) over a
    * collected edge list → (doc_id, cluster_id) rows for every TOUCHED
    * node; untouched nodes label themselves via the caller's
    * left-outer join. Union always points the larger root at the
    * smaller, so every final root is its component's minimum id. */
  private def unionFindLabels(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val touched = new java.util.TreeSet[java.lang.Long]()
    edges.foreach { case (a, b) => touched.add(a); touched.add(b) }
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    touched.asScala.iterator.map(id => (id.toLong, find(id)))
      .toSeq.toDF("doc_id", "cluster_id")
  }

  private[graft] def connectedComponentsStar(nodes: DataFrame,
      undirected: DataFrame, maxIters: Int = 64,
      smallGraphCap: Long = SmallGraphEdgeCap): DataFrame = {
    def signature(df: DataFrame): (Long, Long) = {
      // full-64-bit XOR, not a truncated sum: the edge sets are
      // distinct()ed, so XOR of per-edge hashes identifies the SET
      // (order-independent, overflow-free under ANSI); count guards
      // the empty set and same-parity degeneracies
      val r = df.agg(count(lit(1)),
        coalesce(call_function("bit_xor",
          xxhash64(col("src"), col("dst"))), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    // The carried state is the CANONICAL edge set (src > dst, distinct)
    // — half the rows of the symmetric form the first formulation
    // checkpointed, and the symmetric view is re-derived per round by a
    // NARROW union (both directions are disjoint when src ≠ dst, so no
    // distinct is needed to symmetrize). Each star step computes its
    // neighbourhood minimum as a GROUPED MIN joined back on the key —
    // deliberately NOT an entire-partition window: the grouped min
    // partial-aggregates map-side, so a hub node (a boilerplate doc
    // with 10^7 near-dup edges — the expected shape of a dedup graph)
    // ships one partial row per input partition and streams through
    // the sort-merge join, where a window would buffer (and spill) the
    // hub's whole edge list in a single task, twice per round. Net
    // shuffle profile: ~3-4 exchanges per round (several reused across
    // the agg/join pair), down from ~7 in the symmetrize-twice
    // formulation; the intermediates tolerate duplicate edges (min is
    // multiplicity-blind, and the round's closing distinct restores
    // set semantics before the signature reads it).
    def canon(df: DataFrame): DataFrame =
      df.where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
    def symView(canonical: DataFrame): DataFrame =
      canonical.union(
        canonical.select(col("dst").as("src"), col("src").as("dst")))
    // LINEAGE DISCIPLINE: each round's edge set embeds the previous
    // round's plan several-fold (windows + symmetrize + distinct), so
    // carrying plain persisted frames across rounds hands Catalyst an
    // exponentially growing logical tree — at ~8 rounds the OPTIMIZER,
    // not the data, burns hours. localCheckpoint (eager) materializes
    // each round AND truncates the plan to the checkpointed RDD,
    // keeping every round's analysis O(1). On a cluster, reliable
    // checkpoint() swaps in where executor loss must be survivable.
    var e = canon(undirected.select(col("doc_id_1").as("src"),
      col("doc_id_2").as("dst"))).distinct().localCheckpoint()
    var sig = signature(e)
    // SMALL-GRAPH FAST PATH (see [[SmallGraphEdgeCap]]): the edge set
    // is already materialized by the signature job — one collect
    // replaces the whole star loop, bit-identically
    if (sig._1 > 0L && sig._1 <= smallGraphCap) {
      val collected = e.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val labels = unionFindLabels(nodes.sparkSession, collected)
      e.unpersist()
      return nodes.join(VectorSearch.broadcastIfSmall(labels)
          .withColumnRenamed("doc_id", "src"),
          nodes("doc_id") === col("src"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
    var iter = 0
    var converged = sig._1 == 0L
    // Same scheduling-tax control as [[minhashClusters]]: the loop's
    // shuffle width follows the measured edge count (already carried in
    // the signature — no extra job), clamped to the session width. The
    // edge set only ever SHRINKS toward the star forest, so the width
    // chosen from the initial count is an upper bound for every round.
    // Width is applied per-plan (explicit repartitions that double as
    // the groupBys'/joins' required distribution, one exchange reused
    // by each agg+join pair) — never by mutating session conf, which
    // would narrow concurrent queries planned during the loop.
    val spark = nodes.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.min(sessionParts.toLong, sig._1 / 1000000L + 1L).toInt
    while (iter < maxIters && !converged) {
      // LARGE-STAR: m = min(neighbourhood ∪ self); larger nbrs -> m.
      // Every emitted edge (v, m) has v > src ≥ m, so the output is
      // already canonically oriented.
      val sym = symView(e).repartition(loopParts, col("src"))
      val mins = sym.groupBy("src")
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = sym.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // SMALL-STAR: m = min(smaller nbrs ∪ self); they collapse onto
      // m. `ls` rows have dst < src by construction (= the "lower"
      // half the first formulation re-filtered out of a symmetrized
      // set), so m = min over the group directly; each member ≠ m
      // points at m, and the group's node itself joins it.
      val lsK = ls.repartition(loopParts, col("src"))
      val minsS = lsK.groupBy("src").agg(min(col("dst")).as("m"))
      val ss = lsK.join(minsS, "src")
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(minsS.select(col("src"), col("m").as("dst")))
      // lazy: signature() below is the materializing action — one job
      // per round instead of checkpoint + signature (see minhashClusters)
      val next = ss.where(col("src") =!= col("dst"))
        .repartition(loopParts, col("src"), col("dst")).distinct()
        .localCheckpoint(eager = false)
      val sigNow = signature(next)
      converged = sigNow == sig
      sig = sigNow
      e.unpersist() // next is materialized; the old round's data can go
      e = next
      iter += 1
    }
    require(converged,
      s"large-star/small-star did not converge within $maxIters rounds")
    // at the fixpoint the canonical edges form a star forest: one root
    // per component; isolated nodes label themselves. min() guards the
    // (impossible at fixpoint) multi-edge case instead of dropping
    // rows silently.
    val roots = e.groupBy("src").agg(min(col("dst")).as("root"))
    val out = nodes.join(roots, nodes("doc_id") === roots("src"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    retainedCaches.add(e) // feeds the caller's lazy result
    out
  }

  /** [[minhashClusters]] with the component solver swapped for
    * [[connectedComponentsStar]] — identical clusters (same oracle as
    * `dedup_clusters`, hash-matched), diameter-independent round count.
    * This is the formulation to run when components can be long chains
    * (adversarially chained near-dups, transitive paraphrase drift). */
  def minhashClustersStar(documents: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val sigs = shingled(documents)
    val verified = pairsFrom(sigs)
      .where(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"))
    val labels = connectedComponentsStar(sigs.select(col("doc_id")), verified)
    val w = Window.partitionBy(col("cluster_id"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Composed DEDUP FUNNEL — the one-row yield report for the
    * deduplication stack itself (the [[graft.operators.Pipeline]]
    * curation-funnel discipline applied to dedup): raw corpus →
    * canonical-key keepers → MinHash near-dup CLUSTER keepers, with
    * each stage's yield against raw. Stage memberships are the dedup
    * operators' OWN relations ([[canonicalKeepers]], the star CC
    * solver), so the report can never drift from the dedup it
    * describes. Near-stage survivors = cluster keepers plus the
    * canonical survivors with no shingles (no near-dup evidence ⇒
    * trivially kept). The three stage counts meet in 1-row
    * cross-joined aggregates (the stats-broadcast shape). */
  def dedupFunnel(documents: DataFrame): DataFrame = {
    val keepers = canonicalKeepers(documents)
    val survivors = documents.join(keepers, Seq("doc_id"))
    val labels = minhashClustersStar(survivors)
    val nRaw = documents.agg(count(lit(1)).as("n_raw"))
    val nCanon = keepers.agg(count(lit(1)).as("n_canonical"))
    val near = labels.agg(count(lit(1)).as("n_shingled"),
      count(when(col("keep"), lit(1))).as("n_cluster_keep"))
    val nNear = col("n_canonical") - col("n_shingled") + col("n_cluster_keep")
    nRaw.crossJoin(nCanon).crossJoin(near)
      .select(col("n_raw"), col("n_canonical"), nNear.as("n_near"),
        when(col("n_raw") > 0, col("n_canonical").cast("double") /
          col("n_raw").cast("double")).as("yield_canonical"),
        when(col("n_raw") > 0,
          nNear.cast("double") / col("n_raw").cast("double"))
          .as("yield_near"))
  }

  /** INCREMENTAL near-dup lookup: match a NEW batch of documents
    * against the existing corpus without recomputing the corpus side —
    * the shape every continuously-ingesting pipeline needs (at 100 TB
    * the corpus signatures are a prebuilt, bucket-partitioned index;
    * recomputing them per batch would dwarf the batch itself). Candidate
    * generation joins the batch's band hashes against the corpus's; only
    * candidates fetch shingle sets for exact-Jaccard verification.
    * Batch-vs-corpus only — no corpus-corpus pairs (those are
    * [[minhashPairs]]' job, run once at index build). */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // corpus side: the memoized persisted index (reused across batches).
    // batch side: a plain plan — every batch is distinct, so caching it
    // would leak one persisted frame per ingest cycle; its projection is
    // evaluated twice (band join + set fetch), which for a batch is
    // cheaper than owning a cache entry.
    val c = shingled(corpus)
    val b = shingledPlan(batch)
    def bands(df: DataFrame) = df.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cands = bands(b).as("n").join(bands(c).as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_hash") === col("o.band_hash"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("corpus_id"))
      .distinct()
    val inter = size(array_intersect(col("sh_n"), col("sh_c"))).cast("long")
    cands
      .join(b.select(col("doc_id").as("new_id"),
        col("shingle_hashes").as("sh_n")), "new_id")
      .join(c.select(col("doc_id").as("corpus_id"),
        col("shingle_hashes").as("sh_c")), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (inter.cast("double") /
          (size(col("sh_n")) + size(col("sh_c")) - inter).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("new_id", "corpus_id")
  }

  // ----------------------------------------------------------------
  // incremental corpus refresh: change feed → index lookup → merge
  // ----------------------------------------------------------------

  /** The document store's uuid-like string key, spelled ONCE for every
    * face that must agree on it (the store write, the driver probe,
    * the DuckDB oracle): `doc-` + a [[DocKeyWidth]]-digit zero-pad.
    * 19 digits because Spark/DuckDB `lpad` TRUNCATE past the width
    * while printf pads without truncating — 19 covers every positive
    * long identically in both renderings, and the fixed width keeps
    * key order == numeric order. */
  val DocKeyWidth = 19
  def docKeyCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("doc-"), lpad(id.cast("string"), DocKeyWidth, "0"))
  def docKeyLocal(id: Long): String =
    "doc-" + ("%0" + DocKeyWidth + "d").format(id)
  def docKeySql(e: String): String =
    s"'doc-' || lpad(CAST($e AS VARCHAR), $DocKeyWidth, '0')"

  private val docsManifestTables =
    new FixtureTables[(String, Long)]("graft-docs-manifest-")(_._1)

  /** Memoized manifest-layout documents table backing the refresh
    * path: the corpus slice (doc_id % 10 != 1, [[incrementalNearDups]]'
    * oracle split) committed as the base segment, then the batch slice
    * as the delta segment — `readAsOfInferred(anchor)` is the old
    * corpus, `readSinceInferred(anchor)` exactly the new batch (the
    * [[Events.incrementalAgg]] table discipline applied to documents).
    * Returns (tablePath, anchorPtrSeq). */
  private[operators] def manifestDocsTable(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, Long) =
    docsManifestTables(s, dir) { path =>
      // doc_key is the reference's uuid-string identity axis
      // (main.go:330): a deterministic uuid-like string key whose
      // point lookups are served by STRING bloom sidecars — the %10
      // segment split below interleaves the key ranges, so zone maps
      // alone cannot discriminate a point probe
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), docKeyCol(col("doc_id")).as("doc_key"),
          col("text"), col("lang"))
      graft.sources.ManifestStore.setZoneMapColumns(s, path, Seq("doc_id"))
      graft.sources.ManifestStore.setBloomColumns(s, path, Seq("doc_key"))
      graft.sources.ManifestStore.store(
        docs.where(col("doc_id") % 10 =!= 1), path, "docs")
      val anchor =
        graft.sources.ManifestStore.currentPtrSeq(s, path, "docs")
      graft.sources.ManifestStore.store(
        docs.where(col("doc_id") % 10 === 1), path, "docs")
      (path, anchor)
    }

  /** Mergeable per-language corpus partials: doc count + exact integer
    * word total (count/sum recombine associatively — the
    * [[Events.incrementalAgg]] mergeability contract; no floats, so
    * base+delta ≡ full recompute bit-for-bit). */
  private def refreshPartial(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextHashExpressions
          .wordStats(words(col("text"))).getField("n_words"))
          .as("n_words"))

  /** Memoized BASE partials of the anchored corpus snapshot — the
    * stored nightly state: at production scale these partials are what
    * persists between refreshes, so the refresh never re-aggregates
    * the old corpus (built once here, per session, from the anchored
    * snapshot). */
  private val refreshBaseCache =
    Memo.ofFrames[(org.apache.spark.sql.SparkSession, String)]

  private def refreshBase(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    refreshBaseCache((s, dir)) {
      val (path, anchor) = manifestDocsTable(s, dir)
      refreshPartial(graft.sources.ManifestStore
        .readAsOfInferred(s, path, "docs", anchor)
        .select("doc_id", "text", "lang")).persist()
    }

  /** INCREMENTAL CORPUS REFRESH — the production nightly composed
    * end-to-end from the change-feed pieces: the manifest change feed
    * (`readSinceInferred`, exactly the segments appended since the
    * anchor) supplies the new batch; [[incrementalNearDups]] gates it
    * against the OLD corpus through the memoized banded shingle index
    * (batch-vs-corpus only — no corpus rescan); the accepted rows'
    * per-language partials then merge with the stored base partials
    * ([[refreshBase]]) into the refreshed corpus stats. The old corpus
    * enters ONLY via two memoized relations — the shingle index and
    * the base partials — so refresh cost scales with the batch, never
    * the corpus (CI-asserted: the plan's file scans touch only the
    * delta segment). The oracle recomputes the refreshed state FROM
    * SCRATCH over the raw table and must match bit-for-bit — the
    * mergeability proof. */
  def corpusRefresh(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (path, anchor) = manifestDocsTable(s, dir)
    val corpus = graft.sources.ManifestStore
      .readAsOfInferred(s, path, "docs", anchor)
      .select("doc_id", "text", "lang")
    val batch = graft.sources.ManifestStore
      .readSinceInferred(s, path, "docs", anchor)
      .select("doc_id", "text", "lang")
    val dupIds = incrementalNearDups(corpus, batch)
      .select(col("new_id").as("doc_id")).distinct()
    val accepted = batch.join(dupIds, Seq("doc_id"), "left_anti")
    refreshBase(s, dir).unionByName(refreshPartial(accepted))
      .groupBy("lang")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_words")).as("n_words"))
      .orderBy("lang")
  }

  /** Benchmark DECONTAMINATION: flag every training document sharing
    * at least `minShared` word-shingles with a held-out evaluation set
    * (here doc_id % `benchMod` == 0 — in production, the benchmark
    * suite) — the standard pre-training hygiene step: a train doc
    * containing an eval n-gram leaks the benchmark into the model.
    *
    * Inverted-index shape, same discipline as [[minhashPairs]]: the
    * benchmark's DISTINCT shingle set joins the exploded train
    * shingles on hash — candidates exist only where an actual shingle
    * is shared, never train×bench all-pairs. The bench side grows
    * with the eval corpus, so its broadcast is size-gated; at 100 TB
    * train × fixed benchmark suite this is one shuffle of the train
    * shingles against a broadcast eval set. Reuses the memoized SLIM
    * shingle tier (three consumers: bench set, train set, explode) —
    * not [[shingled]]'s full tier, whose 16-perm signatures this
    * operator never reads. */
  def decontaminate(documents: DataFrame, benchMod: Int = 17,
      minShared: Long = 1L): DataFrame = {
    val h = shingledSlim(documents)
    val bench = h.where(col("doc_id") % benchMod === 0)
      .select(explode(col("shingle_hashes")).as("hash")).distinct()
    val train = h.where(col("doc_id") % benchMod =!= 0)
    val shared = train
      .select(col("doc_id"), explode(col("shingle_hashes")).as("hash"))
      .join(VectorSearch.broadcastIfSmall(bench), Seq("hash"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    train
      .select(col("doc_id"),
        size(col("shingle_hashes")).cast("long").as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared)
          .as("contaminated"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------
  // SimHash
  // ----------------------------------------------------------------

  /** 32-bit frequency-weighted SimHash over word hashes: bit b is set
    * when sum over words of +-1 (by bit b of the word's hash) is > 0;
    * folded MSB-first into one bigint. Pure projection — no shuffle. */
  def simhash(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), graft.functions.TextHashExpressions
        .simhash32(graft.functions.TextHashExpressions
          .wordHashes(words(col("text")))).as("simhash"))
      .orderBy("doc_id")

  /** [[simhashPairs]] banding: 4 bands of 16 bits over the packed
    * 62-bit signature (the full 64-bit lane), and the Hamming radius
    * the pigeonhole makes EXACT — a pair differing in ≤
    * `SimhashMaxHamming` bits can touch at most 3 of the 4 bands, so
    * at least one band key is identical and the equi-join surfaces
    * the pair. */
  val SimhashBands = 4
  val SimhashBandBits = 16
  val SimhashMaxHamming = 3

  /** Remix constants for the second 31-bit hash family behind
    * [[simhashPairs]]' wide signature: multiply-shift hashing
    * (Knuth's multiplicative constant; take 31 well-mixed middle bits
    * of the 61-bit product). Chosen over the minhash family's
    * (a·x + b) mod P because every op here (×, >>, &) is
    * non-nullable-preserving AND a strong bit mixer — ANSI `%` marks
    * the lambda nullable, which would re-introduce the recomputed
    * isnotnull scan filter [[simhashWide]] exists to avoid; and the
    * signature needs per-BIT diversity, which an affine-mod map (bit j
    * of 3x depends only on bits ≤ j) does not deliver. */
  private val SimhashRemixMult = 2654435761L
  private val SimhashRemixShift = 19
  private val SimhashRemixMask = 0x7FFFFFFFL

  /** Packed WIDE SimHash: two 31-bit signatures from independent
    * word-hash families (the base poly-hash and its affine remix),
    * concatenated as s1·2³¹ + s2 — 62 signature bits in one long.
    * Width is the precision knob: on a homogeneous corpus Hamming ≤ 3
    * of 32 bits admits a double-digit percentage of ALL pairs
    * (measured: 13% on the fixture — word-frequency vectors from one
    * domain agree on most coarse bits), while ≤ 3 of 62 is near-dup
    * evidence (64-bit is what Manku et al. ran web-scale; 25× fewer
    * pairs on the same fixture). */
  private[graft] def simhashWide(documents: DataFrame): DataFrame =
    documents
      // coalesce keeps the whole signature chain NON-nullable: the
      // band join would otherwise infer isnotnull(<signature expr>)
      // into the scan filter and recompute both simhash folds per row
      // just to null-check them (observed in the physical plan).
      // optBarrier: the emptiness gate otherwise gets substituted below
      // the projection and re-tokenizes every document in the Filter —
      // filtering size(ws) > 0 on the SAME array keeps the rows
      // identical (null text ⇒ empty array ⇒ dropped, exactly as
      // size(words(text)) > 0 dropped null-tokenized rows before)
      .select(col("doc_id"), graft.functions.TextHashExpressions
        .optBarrier(words(coalesce(col("text"), lit("")))).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), graft.functions.TextHashExpressions
        .wordHashes(col("ws")).as("ha"))
      .select(col("doc_id"),
        graft.functions.TextHashExpressions.simhash32(col("ha")).as("s1"),
        graft.functions.TextHashExpressions.simhash32(
          transform(col("ha"),
            x => shiftright(x * SimhashRemixMult, SimhashRemixShift)
              .bitwiseAND(lit(SimhashRemixMask)))).as("s2"))
      .select(col("doc_id"),
        (col("s1") * lit(1L << 31) + col("s2")).as("simhash"))

  /** SimHash near-dup pairs via Hamming-distance banding (Manku,
    * Jain & Sarma, WWW'07 — the web-dedup formulation Google ran at
    * crawl scale): split each [[simhashWide]] signature into 4
    * 16-bit bands; candidate pairs share ≥ 1 (band_idx, band_key);
    * verify with the exact Hamming distance bit_count(x XOR y) ≤ 3.
    *
    * Unlike MinHash banding this is NOT approximate: Hamming ≤ 3 can
    * flip bits in at most 3 bands, so one band is untouched and the
    * pair is GUARANTEED to surface (pigeonhole) — recall 1.0 by
    * construction, spec-asserted against the unblocked all-pairs set.
    * Scale shape: the signature is a scan-side projection, the only
    * shuffle is the (band_idx, band_key) equi-join; 16-bit bands give
    * 65k buckets each, and widening the signature/bands further is
    * the knob if a corpus runs hot — knob-beats-skew, the same
    * discipline as [[embeddingNearDupLsh]]. Wordless docs (signature
    * 0 by convention, no content evidence) are excluded — the same
    * sentinel-bucket guard as the MinHash tier. */
  /** Band key = bits {i : i mod 4 = b} of the signature, packed — an
    * INTERLEAVED assignment instead of contiguous 16-bit slices.
    * Signature bits carry corpus-level bias (bit b's sign follows the
    * majority over common words, so a homogeneous corpus agrees on
    * many bits); contiguous slices let the most-biased bits pile into
    * one band whose buckets then hold the whole corpus (measured at
    * sf0.1: hottest contiguous band key 2211 docs, 6.1M candidate
    * mass), while interleaving spreads them evenly (915 hottest,
    * 2.3M mass — 2.7× less join work, same pigeonhole exactness:
    * bands stay disjoint and covering). */
  private def simhashBandKey(b: Int): Column =
    (0 until SimhashBandBits).map(j =>
      shiftright(col("simhash"), SimhashBands * j + b)
        .bitwiseAND(lit(1L)) * lit(1L << j)).reduce(_ + _)

  def simhashPairs(documents: DataFrame,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val sig = simhashWide(documents)
    val bands = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashBands).map(simhashBandKey): _*))
        .as(Seq("band_idx", "band_key")))
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
      .cast("long")
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"), hamming.as("hamming"))
      // verify BEFORE the distinct: hamming is functionally dependent
      // on the pair, so filtering first is identical and the distinct's
      // shuffle carries only matches, not every multi-band collision
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_id_1", "doc_id_2")
  }

  // ----------------------------------------------------------------
  // blocked pairwise similarity
  // ----------------------------------------------------------------

  /** Default document-frequency cap for the shingle inverted index
    * ([[cappedPostings]]). 256 is an order of magnitude above the
    * fixture corpus' hottest-shingle df (25 at sf0.1) — the cap is a
    * no-op on fixture data, so the exact DuckDB oracles stay valid —
    * while at corpus scale it bounds any shingle's self-join
    * contribution to cap² = 64K pairs regardless of how many million
    * documents carry a boilerplate header. */
  val ShingleDfCap = 256

  /** Shingle postings (doc_id, lang, n, h) with the high-document-
    * frequency head DROPPED: a per-(shingle, lang) count window
    * computes df on the exploded postings and rows with df > cap never
    * reach the self-join. This is the scale guard for the inverted-
    * index pair generators — their join mass is Σ_shingle df(s)², so
    * one license-header shingle with df = 10⁶ is 10¹² join rows in a
    * single hot key without the cap, and ≤ cap² with it. Dropping a
    * shingle can only LOSE overlap evidence (never invent a pair), and
    * a df-10⁶ shingle carries no dedup signal — the same head-drop
    * discipline web-scale suffix/shingle indexes apply. The window's
    * hash partitioning on (h, lang) is exactly the downstream
    * self-join key, so the exchange is reused: capping costs a sort,
    * not a shuffle. */
  private[graft] def cappedPostings(d: DataFrame,
      cap: Int = ShingleDfCap): DataFrame = {
    val ex = d.select(col("doc_id"), col("lang"), size(col("sh")).as("n"),
      explode(col("sh")).as("h"))
    ex.withColumn("df", count(lit(1))
        .over(Window.partitionBy(col("h"), col("lang"))))
      .where(col("df") <= cap)
      .drop("df")
  }

  /** n-gram Jaccard near-dup pairs inside (lang) blocks over a doc_id%3
    * sample, threshold 0.01.
    *
    * Inverted-index formulation: explode shingles, self-join on
    * (shingle, lang), count matches per pair — so candidate pairs are
    * generated ONLY where an actual shingle is shared, and the common
    * count comes from the join itself (a hash aggregate) instead of an
    * `array_intersect` per pair. The naive blocked all-pairs join is
    * |block|² pairs × O(|shingles|) intersections; this is
    * Σ_shingle df(s)² join rows and scales to corpora where blocks
    * don't fit a quadratic pass. Pairs sharing zero shingles (jaccard
    * 0 < threshold) are identical under both formulations. The shuffle
    * key is the shingle hash — uniform by construction up to the
    * boilerplate head, which [[cappedPostings]] drops at `cap` so no
    * single shingle can contribute more than cap² join rows. */
  def ngramJaccardPairs(documents: DataFrame,
      cap: Int = ShingleDfCap): DataFrame = {
    val d = documents.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextHashExpressions.optBarrier(shingleHashes)
          .as("sh"))
      .where(size(col("sh")) > 0)
    val ex = cappedPostings(d, cap)
    ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id_1"), col("doc_id_2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= 0.01)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Shingle-CONTAINMENT pairs: C(A→B) = |A∩B| / |A| — the asymmetric
    * overlap measure that catches doc-inside-doc relations (quoted
    * articles, boilerplate wrappers, page + comments re-crawls) which
    * Jaccard structurally dilutes: a 50-shingle doc fully embedded in a
    * 1000-shingle doc scores J ≈ 0.05 but C = 1.0, so a Jaccard-only
    * dedup ships the duplicate. Both directions ride the canonical
    * (id1 < id2) pair; a pair survives when EITHER direction clears the
    * threshold.
    *
    * Candidates come from the shingle inverted index (the
    * [[ngramJaccardPairs]] formulation) — EXACT for this measure: any
    * pair with nonzero overlap meets under a shared shingle, and the
    * join's group count IS |A∩B| (no set refetch). Lang-blocked, NOT
    * doc_id-sampled (unlike the Jaccard demo — containment pairs are
    * rare and sampling would miss them): the join cost is the postings
    * pair mass Σ_shingle occ², measured ~1.3M groups at sf0.1 with a
    * hottest-shingle occupancy of 25 — shingle specificity is the
    * natural blocker. At corpus scale the boilerplate-shingle head
    * (the only way occ² grows superlinearly) is dropped by
    * [[cappedPostings]] at df > `cap` before the self-join — a capped
    * shingle contributes 0 instead of df² join rows, so a hot key
    * cannot kill the stage. Dropping df-capped shingles only shrinks
    * |A∩B| (n_common / containments become lower bounds for pairs
    * glued solely by boilerplate); on the fixture the cap is provably
    * inactive and the exact oracle hash-matches. */
  def containmentPairs(documents: DataFrame,
      threshold: Double = 0.5,
      cap: Int = ShingleDfCap): DataFrame = {
    val d = documents
      .select(col("doc_id"), col("lang"),
        graft.functions.TextHashExpressions.optBarrier(shingleHashes)
          .as("sh"))
      .where(size(col("sh")) > 0)
    val ex = cappedPostings(d, cap)
    ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id_1"), col("doc_id_2"),
        col("c").cast("long").as("n_common"),
        (col("c").cast("double") / col("n1").cast("double"))
          .as("containment_12"),
        (col("c").cast("double") / col("n2").cast("double"))
          .as("containment_21"))
      .where(greatest(col("containment_12"), col("containment_21"))
        >= threshold)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Embedding-cosine near-dup pairs inside label blocks, cos >= 0.25.
    *
    * VERIFY-SCALE / ground-truth formulation only: blocking on a
    * metadata label is quadratic within a block, and a hot label at
    * 100 TB is a killed stage. The scale path is
    * [[embeddingNearDupLsh]] (blocks on the sign-LSH bucket, whose
    * granularity is controlled by NPlanes, not by the data); its miss
    * rate against this exact set is measured by
    * [[embeddingNearDupRecall]]. */
  def embeddingNearDup(embeddings: DataFrame): DataFrame = {
    // pair-join door: fan the label-blocked self-join out when the
    // input arrives in fewer splits than cores (no-op at corpus scale)
    val e = VectorSearch.spreadPairSide(
      embeddings.select(col("vec_id"), col("label"), col("embedding")),
      col("vec_id"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"),
        col("b.vec_id").as("vec_id_2"),
        col("a.label").as("label"),
        V.cosine(col("a.embedding"), col("b.embedding")).as("cos_sim"))
      .where(col("cos_sim") >= 0.25)
      .orderBy("vec_id_1", "vec_id_2")
  }

  /** Embedding near-dup pairs blocked on the SIGN-LSH bucket
    * ([[Ann.bucketCol]] — the same 8 fixed hyperplanes the ANN index
    * uses): candidate pairs are generated only within a bucket, so the
    * self-join is an equi-join on a data-independent key whose block
    * count (2^NPlanes) is a CONFIG knob — more planes halve the block
    * mass per plane, vs. label blocking where one hot label is a
    * quadratic stage no config can split. Cosine-close vectors agree
    * on most hyperplane signs, so near-dups overwhelmingly share a
    * bucket (miss rate = [[embeddingNearDupRecall]], measured, not
    * assumed). Bucket assignment is a scan-side codegen projection;
    * the only shuffle is the (bucket) equi-join. */
  def embeddingNearDupLsh(embeddings: DataFrame,
      threshold: Double = 0.25): DataFrame = {
    val e = scoredSide(embeddings)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"),
        col("b.vec_id").as("vec_id_2"),
        col("a.bucket").as("bucket"),
        pairCosine.as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy("vec_id_1", "vec_id_2")
  }

  /** Pair-join side with the per-ROW work precomputed: double-cast
    * vector, sign-LSH bucket, L2 norm. Folding the norms here instead
    * of inside a per-pair cosine kernel turns O(pairs) norm folds into
    * O(rows) — for an all-pairs ground-truth query that is the
    * difference between 1 and ~5 array folds per pair. */
  private def scoredSide(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .withColumn("bucket", Ann.bucketCol(col("v")))
      .withColumn("nrm", V.norm2(col("v")))

  /** cos over a [[scoredSide]] self-join — IDENTICAL arithmetic to
    * V.cosine (same folds, same operand order, same zero-norm→null
    * guard), with the norms read from the precomputed columns. */
  private def pairCosine: Column = {
    val denom = col("a.nrm") * col("b.nrm")
    when(denom > 0.0, V.dot(col("a.v"), col("b.v")) / denom)
  }

  /** Recall of the LSH-blocked pairs against the UNBLOCKED exact pair
    * set — the index-quality measurement for [[embeddingNearDupLsh]]
    * (the embedding-space analogue of `ann_recall_at_k`). The blocked
    * set is a strict subset of the exact set (same cosine predicate,
    * extra same-bucket constraint), so recall = |blocked| / |exact| as
    * plain counts. Deliberately quadratic: it COMPUTES the ground
    * truth, so it runs at verify scale (or on a sample), never on the
    * full corpus. */
  def embeddingNearDupRecall(embeddings: DataFrame,
      threshold: Double = 0.25): DataFrame = {
    // pair-join door: the UNBLOCKED all-pairs ground truth is the one
    // genuinely quadratic stage here — fan it out when the input
    // arrives in fewer splits than cores (no-op at corpus scale).
    // Measured r19 @sf0.1: 0.80 → 0.47 s. The banded/blocked siblings
    // (lsh/simhash/phash neardups) deliberately do NOT spread: their
    // pair mass is small by construction and the extra exchange +
    // broadcast stage measured as a net loss there.
    val e = VectorSearch.spreadPairSide(scoredSide(embeddings),
      col("vec_id"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select((col("a.bucket") === col("b.bucket")).as("same_bucket"),
        pairCosine.as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("same_bucket"), lit(1))).as("n_lsh"))
      .select(col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          col("n_lsh").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then within each cluster mark every
    * vector that has a LOWER-id in-cluster neighbour with cosine ≥ τ as
    * a duplicate — keep flags, one row per vector. The clusters are the
    * ANN index's own IVF cells ([[Ann.codebook]] — the paper clusters
    * with k-means for exactly this role), so the dedup pass reuses the
    * index the corpus already maintains. "Earlier neighbour wins" is the
    * paper's keep-one-per-duplicate-set rule made deterministic (no
    * transitive closure — a vector close to a DROPPED earlier vector is
    * still dropped, matching SemDeDup's per-point threshold test).
    *
    * Scale shape: assignment is a scan-side fused-argmin projection
    * (zero joins), the pair generation is an equi-join on `cent_id` —
    * bounded by the largest CELL, and cell count is a config knob
    * (nlist), unlike label/domain blocking where one hot key is
    * quadratic forever. The miss rate of cell blocking is MEASURED by
    * [[semanticDedupRecall]], never assumed. The dropped-id set grows
    * with the corpus → unhinted join per the broadcast invariant. */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.25): DataFrame = {
    val cb = Ann.codebook(embeddings)
    // empty/degenerate table: no centroid rows — defined empty result
    if (cb.isEmpty)
      return embeddings.select(col("vec_id"), col("label"),
          lit(0L).as("cent_id"), lit(true).as("keep"))
        .where(lit(false))
    semanticDedupAssigned(Ann.ivfAssign(embeddings, cb), threshold)
  }

  /** [[semanticDedup]] over an ALREADY-ASSIGNED
    * (vec_id, label, cent_id, v) relation — the stored-index face: the
    * `'v'` rows of a manifest IVF index
    * ([[Ann.refreshManifestIvfIndex]]) skip the assignment projection
    * entirely, and after clustered compaction a per-cell maintenance
    * pass (`index.where(cent_id === c)`) is zone-map segment pruning —
    * the shape a 100 TB incremental dedup job runs cell by cell.
    * Results are identical to the compute-on-scan face (AnnSpec pins
    * equality and the pruned scan). */
  def semanticDedupAssigned(assigned: DataFrame,
      threshold: Double = 0.25): DataFrame = {
    val e = assigned.select(col("vec_id"), col("label"),
        col("cent_id").cast("long").as("cent_id"), col("v"))
      .withColumn("nrm", V.norm2(col("v")))
    val dropped = e.as("a").join(e.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .where(pairCosine >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
      .withColumn("dup", lit(true))
    e.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cent_id"),
        col("dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** Thresholds for the [[semanticDedupRecall]] curve: the default
    * operating point plus two tighter cuts. */
  val SemTaus: Seq[Double] = Seq(0.25, 0.4, 0.5)

  /** Recall CURVE of the cell-blocked duplicate pairs against the
    * UNBLOCKED exact pair set, per cosine threshold — the measured miss
    * rate of [[semanticDedup]]'s IVF-cell blocking. One number would
    * mislead here: at a loose τ most "pairs" are background similarity
    * that cells rightly cut (low recall, harmless), while the
    * truly-near pairs semantic dedup exists for concentrate in a shared
    * nearest cell (recall → 1 as τ tightens; the fixture measures
    * 0.17 / 0.19 / 1.0 at 0.25 / 0.4 / 0.5). This curve is the number
    * SemDeDup's nlist knob trades against cost. Deliberately quadratic:
    * it computes the ground truth, so at production scale it RUNS ON AN
    * AUDIT SLICE by construction (`vec_id % sampleMod == 0`, the
    * [[minhashRecall]] discipline — recall is a corpus-level rate and a
    * deterministic slice estimates it without paying n² over the whole
    * corpus); the default sampleMod = 1 is the exhaustive measurement
    * at verify scale. The codebook stays the FULL corpus's (it is the
    * production index being audited); only the measured vectors are
    * sliced. */
  def semanticDedupRecall(embeddings: DataFrame,
      sampleMod: Int = 1): DataFrame = {
    val cb = Ann.codebook(embeddings)
    if (cb.isEmpty)
      return embeddings.select(lit(0.0).as("tau"),
          lit(0L).as("n_exact"), lit(0L).as("n_sem"),
          lit(null).cast("double").as("recall"))
        .where(lit(false))
    val sliced =
      if (sampleMod == 1) embeddings
      else embeddings.where(col("vec_id") % sampleMod === 0)
    // pair-join door BEFORE the argmin assignment so the per-row
    // centroid folds fan out too (no-op at corpus scale)
    val e = Ann.ivfAssign(VectorSearch.spreadPairSide(sliced,
        col("vec_id")), cb)
      .withColumn("nrm", V.norm2(col("v")))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select((col("a.cent_id") === col("b.cent_id")).as("same_cell"),
        pairCosine.as("cos_sim"))
      .where(col("cos_sim") >= SemTaus.min)
      .select(col("same_cell"), col("cos_sim"),
        explode(array(SemTaus.map(lit(_)): _*)).as("tau"))
      .where(col("cos_sim") >= col("tau"))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("same_cell"), lit(1))).as("n_sem"))
      .select(col("tau"), col("n_exact"), col("n_sem"),
        when(col("n_exact") > 0,
          col("n_sem").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("tau")
  }

  // ------------------------------------------------------------------
  // oracles
  // ------------------------------------------------------------------

  private val ShSql =
    s"list_distinct(${polyHashAllSql(shinglesSql(wordsSql("text"), 3))})"

  private val SigsSql =
    s"""list_transform(range(0, $NumHashes), j ->
       |  coalesce(list_min(list_transform(shingle_hashes,
       |    x -> ((2*j + 1) * x + (j*12345 + 7)) % $P)), CAST(-1 AS BIGINT)))""".stripMargin

  private val BandsSql =
    s"""list_transform(range(0, $Bands), b ->
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_slice(sigs, b*$RowsPerBand + 1, b*$RowsPerBand + $RowsPerBand)),
       |    (acc, v) -> (acc * $HashMult + v) % $P))""".stripMargin

  /** 32-bit SimHash over a word-hash list column (the
    * [[graft.functions.TextHashExpressions.simhash32]] contract). */
  private def simhashExprSql(hashesCol: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(31, -1, -1), b ->
      |      CASE WHEN list_reduce(list_prepend(0,
      |          list_transform($hashesCol, h ->
      |            CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)),
      |          (a, x) -> a + x) > 0
      |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      |    (acc, x) -> acc * 2 + x)""".stripMargin
  private val SimhashExprSql = simhashExprSql("whashes")

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("dedup_exact",
      """SELECT doc_id, sha256(text) AS content_hash,
        |  count(*) OVER (PARTITION BY sha256(text)) AS group_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => exact(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_canonical",
      """WITH c AS (
        |  SELECT doc_id,
        |    substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
        |      1, 128) AS canon
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_variants,
        |  CAST(length(canon) AS BIGINT) AS canon_len
        |FROM c GROUP BY canon ORDER BY doc_id""".stripMargin) {
      (s, dir) => canonical(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_funnel",
      s"""WITH RECURSIVE c AS (
         |  SELECT doc_id,
         |    substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |      1, 128) AS canon
         |  FROM documents),
         |keep AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY canon),
         |surv AS (SELECT d.doc_id, d.text
         |  FROM documents d JOIN keep USING (doc_id)),
         |h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM surv),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bl x JOIN bl y ON x.band_idx = y.band_idx
         |    AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
         |verified AS (
         |  SELECT doc_id_1, doc_id_2 FROM cand
         |  JOIN h2 a ON a.doc_id = cand.doc_id_1
         |  JOIN h2 b2 ON b2.doc_id = cand.doc_id_2
         |  WHERE CAST(len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS DOUBLE) /
         |    CAST(len(a.shingle_hashes) + len(b2.shingle_hashes)
         |      - len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS DOUBLE)
         |    >= 0.5E0),
         |edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM verified
         |  UNION ALL SELECT doc_id_2, doc_id_1 FROM verified),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM h2
         |  UNION
         |  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.node),
         |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY node),
         |st AS (SELECT count(*) AS n_shingled,
         |  count(*) FILTER (doc_id = cluster_id) AS n_keep FROM lab)
         |SELECT r.n_raw, k.n_canonical,
         |  k.n_canonical - st.n_shingled + st.n_keep AS n_near,
         |  CASE WHEN r.n_raw > 0 THEN CAST(k.n_canonical AS DOUBLE)
         |    / CAST(r.n_raw AS DOUBLE) END AS yield_canonical,
         |  CASE WHEN r.n_raw > 0 THEN
         |    CAST(k.n_canonical - st.n_shingled + st.n_keep AS DOUBLE)
         |    / CAST(r.n_raw AS DOUBLE) END AS yield_near
         |FROM (SELECT count(*) AS n_raw FROM documents) r,
         |  (SELECT count(*) AS n_canonical FROM keep) k, st""".stripMargin) {
      (s, dir) => dedupFunnel(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_keep_best", {
      val w = wordsSql("text")
      s"""WITH c AS (
         |  SELECT doc_id,
         |    substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |      1, 128) AS canon,
         |    CAST(len($w) AS BIGINT) AS n_words
         |  FROM documents)
         |SELECT doc_id, n_words,
         |  count(*) OVER (PARTITION BY canon) AS n_variants,
         |  row_number() OVER (PARTITION BY canon
         |    ORDER BY n_words DESC NULLS LAST, doc_id) = 1 AS keep
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) => keepBest(Tables(s, dir, "documents")) },

    QueryDef.sql("dedup_minhash_sig",
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |s AS (SELECT doc_id, $SigsSql AS sigs FROM h),
         |b AS (SELECT doc_id, $BandsSql AS bands FROM s)
         |SELECT doc_id, bands[1] AS band0, bands[2] AS band1,
         |  bands[3] AS band2, bands[4] AS band3
         |FROM b ORDER BY doc_id""".stripMargin) {
      (s, dir) => minhashSignatures(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_band_stats",
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |occ AS (SELECT band_idx, band_hash, count(*) AS c
         |  FROM bl GROUP BY 1, 2)
         |SELECT (SELECT count(*) FROM h2) AS n_docs,
         |  count(*) AS n_buckets,
         |  max(c) AS hottest,
         |  CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS pair_mass
         |FROM occ""".stripMargin) {
      (s, dir) => minhashBandStats(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_minhash_pairs",
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bl x JOIN bl y ON x.band_idx = y.band_idx
         |    AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
         |SELECT doc_id_1, doc_id_2,
         |  CAST(len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS BIGINT) AS n_common,
         |  CAST(len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS DOUBLE) /
         |    CAST(len(a.shingle_hashes) + len(b2.shingle_hashes)
         |      - len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS DOUBLE) AS jaccard
         |FROM cand
         |JOIN h2 a ON a.doc_id = cand.doc_id_1
         |JOIN h2 b2 ON b2.doc_id = cand.doc_id_2
         |ORDER BY doc_id_1, doc_id_2""".stripMargin) {
      (s, dir) => minhashPairs(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_minhash_recall", {
      val tauList = MinhashRecallTaus
        .map(graft.functions.VectorFunctions.doubleSql).mkString(", ")
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes
         |  FROM documents WHERE doc_id % 2 = 0),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bl x JOIN bl y ON x.band_idx = y.band_idx
         |    AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
         |ex AS (SELECT doc_id, len(shingle_hashes) AS n,
         |  unnest(shingle_hashes) AS h FROM h2),
         |exact AS (
         |  SELECT a.doc_id AS doc_id_1, b2.doc_id AS doc_id_2,
         |    CAST(count(*) AS DOUBLE) /
         |      CAST(a.n + b2.n - count(*) AS DOUBLE) AS jaccard
         |  FROM ex a JOIN ex b2 ON a.h = b2.h AND a.doc_id < b2.doc_id
         |  GROUP BY a.doc_id, b2.doc_id, a.n, b2.n),
         |p AS (
         |  SELECT exact.jaccard, cand.doc_id_1 IS NOT NULL AS in_lsh
         |  FROM exact LEFT JOIN cand ON exact.doc_id_1 = cand.doc_id_1
         |    AND exact.doc_id_2 = cand.doc_id_2
         |  WHERE exact.jaccard >=
         |    ${graft.functions.VectorFunctions.doubleSql(MinhashRecallTaus.min)}),
         |t AS (SELECT unnest([$tauList]) AS tau)
         |SELECT tau, count(*) AS n_exact,
         |  count(*) FILTER (in_lsh) AS n_lsh,
         |  CASE WHEN count(*) > 0
         |    THEN CAST(count(*) FILTER (in_lsh) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS recall
         |FROM p JOIN t ON p.jaccard >= t.tau
         |GROUP BY tau ORDER BY tau""".stripMargin
    }) { (s, dir) => minhashRecall(Tables(s, dir, "documents")) },

    QueryDef.sql("dedup_decontaminate",
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |bench AS (SELECT DISTINCT unnest(shingle_hashes) AS hash
         |  FROM h2 WHERE doc_id % 17 = 0),
         |tr AS (SELECT doc_id, shingle_hashes FROM h2 WHERE doc_id % 17 <> 0),
         |ex AS (SELECT doc_id, unnest(shingle_hashes) AS hash FROM tr),
         |sh2 AS (SELECT ex.doc_id, count(*) AS n_shared
         |  FROM ex JOIN bench USING (hash) GROUP BY ex.doc_id)
         |SELECT tr.doc_id AS doc_id,
         |  CAST(len(tr.shingle_hashes) AS BIGINT) AS n_shingles,
         |  COALESCE(sh2.n_shared, 0) AS n_shared,
         |  COALESCE(sh2.n_shared, 0) >= 1 AS contaminated
         |FROM tr LEFT JOIN sh2 ON tr.doc_id = sh2.doc_id
         |ORDER BY tr.doc_id""".stripMargin) {
      (s, dir) => decontaminate(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_clusters", ClustersOracleSql) {
      (s, dir) => minhashClusters(Tables(s, dir, "documents"))
    },

    // identical oracle: the star solver must reproduce join-min's
    // clusters bit-for-bit — only the round complexity differs
    QueryDef.sql("dedup_clusters_star", ClustersOracleSql) {
      (s, dir) => minhashClustersStar(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_incremental",
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS corpus_id
         |  FROM bl n JOIN bl o ON n.band_idx = o.band_idx
         |    AND n.band_hash = o.band_hash
         |  WHERE n.doc_id % 10 = 1 AND o.doc_id % 10 <> 1)
         |SELECT new_id, corpus_id,
         |  CAST(len(list_intersect(a.shingle_hashes, c.shingle_hashes)) AS DOUBLE) /
         |    CAST(len(a.shingle_hashes) + len(c.shingle_hashes)
         |      - len(list_intersect(a.shingle_hashes, c.shingle_hashes)) AS DOUBLE)
         |    AS jaccard
         |FROM cand
         |JOIN h2 a ON a.doc_id = cand.new_id
         |JOIN h2 c ON c.doc_id = cand.corpus_id
         |WHERE CAST(len(list_intersect(a.shingle_hashes, c.shingle_hashes)) AS DOUBLE) /
         |    CAST(len(a.shingle_hashes) + len(c.shingle_hashes)
         |      - len(list_intersect(a.shingle_hashes, c.shingle_hashes)) AS DOUBLE)
         |    >= 0.5E0
         |ORDER BY new_id, corpus_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      incrementalNearDups(
        docs.where(col("doc_id") % 10 =!= 1),
        docs.where(col("doc_id") % 10 === 1))
    },

    QueryDef.sql("dedup_refresh", {
      val w = wordsSql("text")
      s"""WITH h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS corpus_id
         |  FROM bl n JOIN bl o ON n.band_idx = o.band_idx
         |    AND n.band_hash = o.band_hash
         |  WHERE n.doc_id % 10 = 1 AND o.doc_id % 10 <> 1),
         |dup AS (SELECT DISTINCT new_id FROM cand
         |  JOIN h2 a ON a.doc_id = cand.new_id
         |  JOIN h2 c ON c.doc_id = cand.corpus_id
         |  WHERE CAST(len(list_intersect(a.shingle_hashes, c.shingle_hashes)) AS DOUBLE) /
         |      CAST(len(a.shingle_hashes) + len(c.shingle_hashes)
         |        - len(list_intersect(a.shingle_hashes, c.shingle_hashes)) AS DOUBLE)
         |      >= 0.5E0),
         |kept AS (SELECT * FROM documents
         |  WHERE doc_id % 10 <> 1
         |     OR doc_id NOT IN (SELECT new_id FROM dup))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(SUM(CAST(len($w) AS BIGINT)) AS BIGINT) AS n_words
         |FROM kept GROUP BY lang
         |ORDER BY lang ASC NULLS FIRST""".stripMargin
    }) { (s, dir) => corpusRefresh(s, dir) },

    QueryDef.sql("dedup_simhash", {
      val wh = polyHashAllSql(wordsSql("text"))
      s"""WITH w AS (SELECT doc_id, $wh AS whashes FROM documents)
         |SELECT doc_id, $SimhashExprSql AS simhash
         |FROM w ORDER BY doc_id""".stripMargin
    }) { (s, dir) => simhash(Tables(s, dir, "documents")) },

    QueryDef.sql("dedup_simhash_pairs", {
      val wh = polyHashAllSql(wordsSql("text"))
      s"""WITH w AS (SELECT doc_id, $wh AS whashes FROM documents),
         |w2 AS (SELECT doc_id, whashes,
         |  list_transform(whashes, x ->
         |    ((x * $SimhashRemixMult) >> $SimhashRemixShift) & $SimhashRemixMask) AS hb
         |  FROM w WHERE len(whashes) > 0),
         |s AS (SELECT doc_id,
         |  ${simhashExprSql("whashes")} * CAST(2147483648 AS BIGINT) +
         |    ${simhashExprSql("hb")} AS simhash FROM w2),
         |bl AS (SELECT doc_id, simhash,
         |  unnest(generate_series(0, ${SimhashBands - 1})) AS band_idx FROM s),
         |b AS (SELECT doc_id, simhash, band_idx,
         |  ${(0 until SimhashBandBits).map(j =>
              s"((simhash >> ($SimhashBands * $j + band_idx)) & 1) * ${1L << j}")
              .mkString(" + ")} AS band_key FROM bl),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id_1, b2.doc_id AS doc_id_2,
         |    CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
         |  FROM b a JOIN b b2 ON a.band_idx = b2.band_idx
         |    AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id)
         |SELECT doc_id_1, doc_id_2, hamming FROM cand
         |WHERE hamming <= $SimhashMaxHamming
         |ORDER BY doc_id_1, doc_id_2""".stripMargin
    }) { (s, dir) => simhashPairs(Tables(s, dir, "documents")) },

    QueryDef.sql("dedup_ngram_jaccard",
      s"""WITH d AS (
         |  SELECT doc_id, lang, $ShSql AS sh
         |  FROM documents WHERE doc_id % 3 = 0),
         |d2 AS (SELECT * FROM d WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         |FROM d2 a JOIN d2 b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.01E0
         |ORDER BY doc_id_1, doc_id_2""".stripMargin) {
      (s, dir) => ngramJaccardPairs(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_containment",
      s"""WITH d AS (
         |  SELECT doc_id, lang, $ShSql AS sh FROM documents),
         |d2 AS (SELECT * FROM d WHERE len(sh) > 0),
         |p AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      CAST(len(a.sh) AS DOUBLE) AS containment_12,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      CAST(len(b.sh) AS DOUBLE) AS containment_21
         |  FROM d2 a JOIN d2 b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |SELECT * FROM p
         |WHERE greatest(containment_12, containment_21) >= 0.5E0
         |ORDER BY doc_id_1, doc_id_2""".stripMargin) {
      (s, dir) => containmentPairs(Tables(s, dir, "documents"))
    },

    QueryDef.sql("dedup_embedding_cosine", {
      val cos = cosSql("CAST(a.embedding AS DOUBLE[])",
        "CAST(b.embedding AS DOUBLE[])")
      s"""SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         |  a.label AS label, $cos AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $cos >= 0.25E0
         |ORDER BY vec_id_1, vec_id_2""".stripMargin
    }) { (s, dir) => embeddingNearDup(Tables(s, dir, "embeddings")) },

    QueryDef.sql("dedup_embedding_lsh", {
      val cos = cosSql("a.v", "b.v")
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (
         |  SELECT vec_id, v, CAST($BucketSql AS INT) AS bucket FROM e0)
         |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         |  a.bucket AS bucket, $cos AS cos_sim
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE $cos >= 0.25E0
         |ORDER BY vec_id_1, vec_id_2""".stripMargin
    }) { (s, dir) => embeddingNearDupLsh(Tables(s, dir, "embeddings")) },

    QueryDef.sql("dedup_embedding_recall", {
      val cos = cosSql("a.v", "b.v")
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (
         |  SELECT vec_id, v, CAST($BucketSql AS INT) AS bucket FROM e0),
         |p AS (
         |  SELECT a.bucket = b.bucket AS same_bucket
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE $cos >= 0.25E0)
         |SELECT count(*) AS n_exact,
         |  count(*) FILTER (same_bucket) AS n_lsh,
         |  CASE WHEN count(*) > 0
         |    THEN CAST(count(*) FILTER (same_bucket) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS recall
         |FROM p""".stripMargin
    }) { (s, dir) => embeddingNearDupRecall(Tables(s, dir, "embeddings")) },

    QueryDef.sql("dedup_semantic", {
      val cos = cosSql("a.v", "b.v")
      s"""WITH $SemAssignedSql,
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  WHERE $cos >= 0.25E0)
         |SELECT asg.vec_id, asg.label, asg.cent_id,
         |  d.vec_id IS NULL AS keep
         |FROM asg LEFT JOIN dropped d ON asg.vec_id = d.vec_id
         |ORDER BY asg.vec_id""".stripMargin
    }) { (s, dir) => semanticDedup(Tables(s, dir, "embeddings")) },

    QueryDef.sql("dedup_semantic_recall", {
      val cos = cosSql("a.v", "b.v")
      val tauList = SemTaus.map(graft.functions.VectorFunctions.doubleSql)
        .mkString(", ")
      s"""WITH $SemAssignedSql,
         |p AS (
         |  SELECT a.cent_id = b.cent_id AS same_cell, $cos AS cos_sim
         |  FROM asg a JOIN asg b ON a.vec_id < b.vec_id
         |  WHERE $cos >= ${graft.functions.VectorFunctions.doubleSql(SemTaus.min)}),
         |t AS (SELECT unnest([$tauList]) AS tau)
         |SELECT tau, count(*) AS n_exact,
         |  count(*) FILTER (same_cell) AS n_sem,
         |  CASE WHEN count(*) > 0
         |    THEN CAST(count(*) FILTER (same_cell) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS recall
         |FROM p JOIN t ON p.cos_sim >= t.tau
         |GROUP BY tau ORDER BY tau""".stripMargin
    }) { (s, dir) => semanticDedupRecall(Tables(s, dir, "embeddings")) }
  )

  /** Shared oracle for BOTH cluster formulations (join-min and
    * large-star/small-star): connected components as a recursive CTE,
    * labels = component minimum. */
  private lazy val ClustersOracleSql: String =
      s"""WITH RECURSIVE h AS (SELECT doc_id, $ShSql AS shingle_hashes FROM documents),
         |h2 AS (SELECT * FROM h WHERE len(shingle_hashes) > 0),
         |s AS (SELECT doc_id, shingle_hashes, $SigsSql AS sigs FROM h2),
         |b AS (SELECT doc_id, shingle_hashes, $BandsSql AS bands FROM s),
         |bl AS (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band_idx,
         |         unnest(bands) AS band_hash FROM b),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bl x JOIN bl y ON x.band_idx = y.band_idx
         |    AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
         |verified AS (
         |  SELECT doc_id_1, doc_id_2 FROM cand
         |  JOIN h2 a ON a.doc_id = cand.doc_id_1
         |  JOIN h2 b2 ON b2.doc_id = cand.doc_id_2
         |  WHERE CAST(len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS DOUBLE) /
         |    CAST(len(a.shingle_hashes) + len(b2.shingle_hashes)
         |      - len(list_intersect(a.shingle_hashes, b2.shingle_hashes)) AS DOUBLE)
         |    >= 0.5E0),
         |edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM verified
         |  UNION ALL SELECT doc_id_2, doc_id_1 FROM verified),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM h2
         |  UNION
         |  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.node),
         |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS keep
         |FROM lab ORDER BY doc_id""".stripMargin

  /** DuckDB fragment: guarded sequential-fold cosine (mirrors
    * V.cosine's fold order bitwise). */
  private def cosSql(va: String, vb: String): String = {
    import graft.functions.VectorFunctions.dotSeqSql
    val denom = s"(sqrt(${dotSeqSql(va, va, VectorSearch.Dim)}) * " +
      s"sqrt(${dotSeqSql(vb, vb, VectorSearch.Dim)}))"
    s"(CASE WHEN $denom > 0.0 THEN " +
      s"${dotSeqSql(va, vb, VectorSearch.Dim)} / $denom END)"
  }

  /** DuckDB fragment: the sign-LSH bucket of the CTE-bound vector `v`
    * (identical arithmetic to [[Ann.bucketCol]]). */
  private def BucketSql: String = Ann.bucketSqlFor("v")

  /** Shared oracle CTEs for the semantic-dedup queries: IVF centroids +
    * per-vector cell assignment `asg` — the same ROW_NUMBER argmin (and
    * the same sqrt-L2 fold + lowest-id tie break) as the `ann_ivf_topk`
    * oracle, re-deriving [[graft.operators.Ann.ivfAssign]] in SQL. */
  private lazy val SemAssignedSql: String =
    s"""cents AS (
       |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS c_vec
       |  FROM embeddings WHERE vec_id IN (${Ann.CentroidIds.mkString(", ")})),
       |asg AS (
       |  SELECT vec_id, label, v, cent_id FROM (
       |    SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v,
       |      c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${Ann.l2Sql("CAST(e.embedding AS DOUBLE[])", "c_vec")},
       |          c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1)""".stripMargin
}
