package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import graft.functions.{VectorExpressions => V}

/** Approximate nearest-neighbour search — the scale path past the
  * reference's brute-force-only design (the reference scans every vector
  * of a collection on every query, reference main.go:186-237; `vs_topk`
  * reproduces that as the exact baseline).
  *
  * Two classic ANN index layouts, re-expressed as Spark scan-side
  * pruning rather than pointer structures:
  *
  *   - '''Sign-hyperplane LSH''' (random-projection hashing for cosine):
  *     each vector hashes to an int bucket from the sign pattern of
  *     `NPlanes` fixed hyperplane dot products; a query probes its own
  *     bucket plus all Hamming-distance-1 buckets — 9 of 256 buckets,
  *     a cell filter over the scan.
  *
  *   - '''IVF-flat''' (inverted file): vectors are assigned to their
  *     nearest of `NList` centroids; a query scans only the `NProbe`
  *     nearest cells. Centroids here are a fixed, deterministic subset of
  *     the data (so the DuckDB oracle can re-derive the identical index);
  *     at scale they'd come from distributed k-means (MLlib `KMeans`), and
  *     cell assignment is exactly this same broadcast-argmin job.
  *
  * Every STORED index (IVF, binary-sign, PQ) persists through one
  * layer: tagged `ManifestStore.storeBatch` commits (atomic,
  * replay-idempotent) plus `zorderCompact`. A stored probe prunes
  * whole segments through the zone-map sidecars `GraftFileIndex`
  * proves against — for IVF, the `cent_id IN (…)` probe after
  * clustered compaction ([[compactManifestIvfIndex]]).
  *
  * Both indexes are built with one broadcast join + windowed argmin — no
  * shuffle of the vector table — and both searches stay
  * scan → prune → project → TakeOrderedAndProject, the same shape as the
  * exact path, just over a pruned input.
  *
  * Determinism: hyperplanes/centroid ids are fixed constants rendered
  * into both the Spark plan and the oracle SQL; all float math is the
  * shared sequential-fold dot/L2 (bitwise identical across engines), so
  * sign tests and argmins agree exactly.
  */
object Ann {

  import VectorSearch.{Dim, K, Query, QueryNorm, scoreRef}

  // ---- sign-hyperplane LSH ----

  val NPlanes = 8

  /** Fixed "random" hyperplanes, same deterministic recipe as the query
    * vector (sin ramp, offset per plane). */
  val Planes: Array[Array[Double]] =
    Array.tabulate(NPlanes)(j => Array.tabulate(Dim)(i => math.sin(j * Dim + i + 0.7)))

  /** Driver-side sequential-fold dot — replicates VectorFunctions.dotSeq
    * arithmetic exactly for plan constants. */
  private def dotScalar(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  /** Bucket id of a stored vector: bit j set iff dot(plane_j, v) > 0. */
  def bucketCol(emb: Column): Column =
    Planes.zipWithIndex.map { case (p, j) =>
      when(V.dot(vecLit(p), emb) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The query's bucket (a plan constant, like the reference's one-time
    * query normalization, main.go:179-183). */
  val QueryBucket: Int =
    Planes.zipWithIndex.map { case (p, j) =>
      if (dotScalar(p, Query) > 0.0) 1 << j else 0
    }.sum

  /** Multi-probe set: the query bucket + every Hamming-1 neighbour. */
  val ProbeBuckets: Seq[Int] =
    QueryBucket +: (0 until NPlanes).map(j => QueryBucket ^ (1 << j))

  /** LSH-pruned top-K: score only vectors in the probe buckets. */
  def lshTopK(emb: DataFrame, k: Int = K): DataFrame =
    emb.withColumn("bucket", bucketCol(col("embedding")))
      .where(col("bucket").isin(ProbeBuckets: _*))
      .select(col("vec_id"), col("label"), col("bucket"),
        scoreRef(col("embedding")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)

  // ----------------------------------------------------------------
  // manifest-backed IVF index — versioned, exactly-once maintenance
  // ----------------------------------------------------------------

  /** The manifest collection name holding a versioned IVF index. */
  val IvfIndexCollection = "vindex"

  /** Assigned-vector rows of one batch, kind `'v'`: (vec_id, label, v,
    * cent_id) hashed by the GIVEN codebook. */
  private def ivfVectorRows(emb: DataFrame,
      cb: Seq[(Long, Array[Double])]): DataFrame =
    // label widened to long so every commit (incl. the codebook's
    // typed NULLs) shares ONE segment schema; the probe narrows back
    ivfAssign(emb, cb).select(lit("v").as("kind"), col("vec_id"),
      col("label").cast("long").as("label"), col("v"),
      col("cent_id").cast("long").as("cent_id"))

  /** Codebook rows, kind `'c'`: the trained centroids ARE the index's
    * layout identity and travel WITH it (the text index's `'b'` row
    * discipline) — a probe or a later batch must never re-derive them
    * from the [[CentroidIds]] constant, which may have changed since
    * the index was built. */
  private def ivfCodebookRows(s: SparkSession,
      cb: Seq[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    cb.toDF("cent_id", "v").select(lit("c").as("kind"),
      lit(null).cast("long").as("vec_id"),
      lit(null).cast("long").as("label"),
      col("v"), col("cent_id"))
  }

  /** Table config for a manifest IVF index: zone maps on the probe
    * axis (effective once [[compactManifestIvfIndex]] clusters the
    * segments). Call once before the first commit. */
  def initManifestIvfIndex(s: SparkSession, tablePath: String): Unit =
    graft.sources.ManifestStore.setZoneMapColumns(s, tablePath,
      Seq("cent_id"))

  /** Every row of the versioned IVF index, both kinds, through the
    * declarative connector. */
  private def ivfIndexRows(s: SparkSession, tablePath: String): DataFrame =
    s.read.format("graft").option("path", tablePath)
      .option("collection", IvfIndexCollection).load()

  /** The versioned index's codebook read back from its `'c'` rows —
    * fails LOUD on an index without one (predates versioning /
    * different store) or with conflicting codebook commits. */
  def manifestCodebook(s: SparkSession,
      tablePath: String): Seq[(Long, Array[Double])] = {
    val rows = ivfIndexRows(s, tablePath)
      .where(col("kind") === "c").select(col("cent_id"), col("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    require(rows.nonEmpty,
      s"IVF index at $tablePath carries no codebook rows — it predates " +
        "codebook versioning or is not an IVF index; rebuild it")
    require(rows.map(_._1).distinct.length == rows.length,
      s"IVF index at $tablePath has CONFLICTING codebook commits " +
        "(duplicate cent_ids) — assignments are split across " +
        "codebooks; rebuild it")
    rows
  }

  /** Apply one vector batch to the versioned index — ONE tagged
    * pointer commit (atomic, replay-idempotent: a redelivered tag
    * no-ops). The FIRST commit trains: its codebook rows and its
    * assigned vectors land together, so a crash can never publish an
    * index without its layout. Every later batch is assigned by the
    * STORED codebook (faiss's train-then-add — never retrain, never
    * rebuild); cost scales with the batch. */
  def refreshManifestIvfIndex(emb: DataFrame, tablePath: String,
      tag: String): Boolean = {
    val s = emb.sparkSession
    val live = graft.sources.ManifestStore
      .currentSegments(s, tablePath, IvfIndexCollection).toSeq.flatten
    val rows = if (live.isEmpty) {
      val cb = codebook(emb)
      require(cb.nonEmpty, "the training batch holds no centroid rows")
      ivfCodebookRows(s, cb).unionByName(ivfVectorRows(emb, cb))
    } else ivfVectorRows(emb, manifestCodebook(s, tablePath))
    graft.sources.ManifestStore.storeBatch(
      rows, tablePath, IvfIndexCollection, tag)
  }

  /** Restore probe pruning after appends: cluster the vector rows into
    * cent_id ranges (one atomic pointer commit) so a probe's
    * `cent_id IN (…)` drops whole segments via the zone-map sidecars. */
  def compactManifestIvfIndex(s: SparkSession, tablePath: String,
      segments: Int = 4): Unit =
    graft.sources.ManifestStore.zorderCompact(
      s, tablePath, IvfIndexCollection, Seq("cent_id"), segments)

  /** IVF top-K over the VERSIONED index through the declarative
    * connector: probe cells are chosen driver-side from the STORED
    * codebook, the `cent_id IN (…)` filter prunes segments via the
    * sidecars (whole cell ranges skip at planning time after
    * [[compactManifestIvfIndex]]), and scoring is the shared
    * sequential-fold dot kernel — bitwise [[ivfTopK]]'s answers, same
    * oracle. */
  def ivfManifestTopK(s: SparkSession, tablePath: String,
      k: Int = K): DataFrame = {
    val cb = manifestCodebook(s, tablePath)
    val probeIds = cb
      .map { case (id, cv) => (l2Scalar(Query, cv), id) }
      .sorted.take(NProbe).map(_._2)
    ivfIndexRows(s, tablePath)
      .where(col("kind") === "v" && col("cent_id").isin(probeIds: _*))
      // label narrows back to the embeddings table's int — the output
      // schema (and the driver's type-sensitive hash) must match the
      // scan face's
      .select(col("vec_id"), col("label").cast("int").as("label"),
        col("cent_id"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Memoized manifest IVF index behind `ann_ivf_manifest`,
    * `ann_ivf_stored`, `ann_ivf_refresh` and `ann_ivf_stats`: init →
    * training commit (everything but the batch slice, centroids always
    * in the train set) → delta commit assigned by the STORED codebook →
    * clustered compaction — the full lifecycle, queried through the
    * connector against the same from-scratch oracle as [[ivfTopK]]. */
  private val manifestIvfIndexes =
    new FixtureTables[String]("graft-ivf-mindex-")(identity)

  private[graft] def manifestIvfIndexFor(s: SparkSession,
      dir: String): String =
    manifestIvfIndexes(s, dir) { path =>
      val emb = Tables(s, dir, "embeddings")
      val batchPred = col("vec_id") % 10 === 1 &&
        !col("vec_id").isin(CentroidIds: _*)
      initManifestIvfIndex(s, path)
      refreshManifestIvfIndex(emb.where(!batchPred), path, "base")
      refreshManifestIvfIndex(emb.where(batchPred), path, "delta-1")
      compactManifestIvfIndex(s, path)
      path
    }

  /** Drop every memoized manifest index (the explicit release half of
    * the implicit indexes; every main calls this on shutdown). */
  def releaseCaches(): Unit = {
    manifestIvfIndexes.release()
    manifestBinaryIndexes.release()
    manifestPqIndexes.release()
  }

  /** Bucket occupancy histogram — the "index statistics" view. */
  def lshBuckets(emb: DataFrame): DataFrame =
    emb.withColumn("bucket", bucketCol(col("embedding")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")

  // ---- IVF-flat ----

  val NList = 16
  val NProbe = 4

  /** Deterministic centroid choice: a fixed stride over vec_ids that
    * exists at every fixture scale (ids 0..499 are present at sf0.001+). */
  val CentroidIds: Seq[Long] = (0 until NList).map(_ * 31L)

  /** The codebook: (cent_id, vector) for each centroid, collected to the
    * driver. An IVF codebook is index METADATA — tiny (nlist entries)
    * next to the vector table — and baking it into the plan as constants
    * is how IVF works everywhere (faiss keeps the codebook in RAM and
    * scans cells): assignment becomes a pure scan-side projection with no
    * join and no shuffle. The collect reads exactly nlist rows. */
  def codebook(emb: DataFrame): Seq[(Long, Array[Double])] =
    emb.where(col("vec_id").isin(CentroidIds: _*))
      .select(col("vec_id"), toDouble(col("embedding")))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq

  /** Driver-side sequential-fold L2 — same fold order as V.l2Dist, so
    * probe selection agrees bitwise with the oracle's SQL argmin. */
  private def l2Scalar(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc = acc + d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Cell assignment: nearest centroid per vector — a pure projection
    * (no join, no shuffle; the codebook rides inside one fused codegen
    * loop, [[graft.functions.NearestCentroidExpr]] — the (dist, cent_id)
    * lexicographic argmin the oracle's ROW_NUMBER computes). */
  def ivfAssign(emb: DataFrame): DataFrame = ivfAssign(emb, codebook(emb))

  /** [[ivfAssign]] with a pre-collected codebook (one collect, reused by
    * assignment AND probe selection in [[ivfTopK]]). */
  def ivfAssign(emb: DataFrame, cb: Seq[(Long, Array[Double])]): DataFrame =
    emb.select(col("vec_id"), col("label"),
        toDouble(col("embedding")).as("v"))
      .withColumn("cent_id", V.nearestCentroid(col("v"),
        cb.map(_._1).toArray, cb.map(_._2).toArray))

  /** IVF-pruned top-K: scan only the NProbe cells nearest the query.
    * Probe cells are chosen driver-side from the codebook (same
    * arithmetic as the scan side); the whole query is then
    * scan → assign(projection) → cell filter → score → TakeOrdered —
    * zero shuffles. With the assignment stored in the manifest index
    * ([[ivfManifestTopK]]) the filter becomes segment pruning. */
  def ivfTopK(emb: DataFrame, k: Int = K): DataFrame = {
    val cb = codebook(emb)
    val probeIds = cb
      .map { case (id, cv) => (l2Scalar(Query, cv), id) }
      .sorted.take(NProbe).map(_._2)
    ivfAssign(emb, cb)
      .where(col("cent_id").isin(probeIds: _*))
      .select(col("vec_id"), col("label"), col("cent_id"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-cell occupancy audit of the STORED IVF index — the
    * `text_index_stats` discipline applied to the one index family
    * that had spec coverage but no standing declared integrity face:
    * each stored cell's vector count, its share of the corpus, and
    * the hottest cell's share (the `nlist` tuning signal SemDeDup's
    * largest-cell join bound depends on — a hot_share near 1 means
    * the index has degenerated to brute force). Reads the manifest
    * index's `'v'` rows (a `kind`+`cent_id` column-pruned scan — bytes
    * per vector, never the `v` payload; the `'c'` codebook rows carry
    * a `cent_id` too, so the caller filters them out); the oracle
    * recomputes every assignment from the raw embeddings, so stored ≡
    * recompute IS the integrity claim, the same from-scratch
    * discipline as the probe oracles. */
  def ivfStats(store: DataFrame): DataFrame = {
    val w = Window.partitionBy(lit(1))
    store
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("n_total", sum(col("n_vectors")).over(w))
      .select(col("cent_id"), col("n_vectors"),
        when(col("n_total") > 0L, col("n_vectors").cast("double") /
          col("n_total").cast("double")).as("share"))
      .withColumn("hot_share", max(col("share")).over(w))
      .orderBy("cent_id")
  }

  /** FILTERED ANN — the metadata-predicate + approximate-index query
    * that is a research problem for graph indexes (filtered HNSW) and
    * a non-problem in the declarative formulation: the metadata
    * semi-join (size-gated broadcast, [[VectorSearch.filteredTopK]]'s
    * discipline) and the IVF cell probe are BOTH scan-side filters on
    * one pass, composing conjunctively — no post-filtering a
    * too-short result list, no index variant per predicate. The
    * filtered miss rate is measured by [[filteredIvfRecall]] against
    * the exact filtered answer (cell pruning can only lose cells, so
    * the filtered recall question is the same cell question). */
  def filteredIvfTopK(emb: DataFrame, docs: DataFrame,
      lang: String = "en", minChars: Long = 200L, k: Int = K): DataFrame = {
    val cb = codebook(emb)
    val probeIds = cb
      .map { case (id, cv) => (l2Scalar(Query, cv), id) }
      .sorted.take(NProbe).map(_._2)
    val keep = docs.where(col("lang") === lang && col("n_chars") >= minChars)
      .select(col("doc_id"))
    ivfAssign(emb, cb)
      .join(VectorSearch.broadcastIfSmall(keep),
        col("vec_id") === col("doc_id"), "left_semi")
      .where(col("cent_id").isin(probeIds: _*))
      .select(col("vec_id"), col("label"), col("cent_id"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Recall of [[filteredIvfTopK]] against the EXACT filtered top-k —
    * the filtered path's own miss-rate measurement (an unfiltered
    * recall would grade the wrong query). */
  def filteredIvfRecall(emb: DataFrame, docs: DataFrame,
      lang: String = "en", minChars: Long = 200L, k: Int = K): DataFrame = {
    val exact = VectorSearch.filteredTopK(emb, docs, lang, minChars, k)
      .select(col("vec_id"))
    val approx = filteredIvfTopK(emb, docs, lang, minChars, k)
      .select(col("vec_id"))
    exact.join(approx, Seq("vec_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(lit(k).as("k"), col("n_common"),
        (col("n_common").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** END-TO-END curated index search — the index-side composition that
    * closes the reference-replacement loop (the curation-side twin is
    * `pl_corpus_pipeline`): gate the corpus on the Gopher repetition
    * signals, keep one document per canonical key, keep only the
    * SURVIVORS' vectors, and answer the query through the IVF-pruned
    * index over exactly that curated set. This is the query a user of
    * the reference actually wants to run after curation — search over
    * the cleaned corpus — expressed as ONE declarative plan: the
    * quality kernels pipeline into the documents scan, the keeper
    * aggregation is the only corpus shuffle, the vector side joins in
    * on vec_id, and the IVF probe stays a scan-side filter.
    *
    * Index metadata (codebook, probe set) is fixed on the FULL table:
    * an index is built once at ingest; curation changes which rows the
    * probed cells still contain, not where the cells are. At 100 TB
    * the curated keeper set is corpus-growing, so the embeddings join
    * is an unhinted equi-join (shuffle when big, broadcast when the
    * optimizer proves it small) — never force-broadcast. */
  def curatedSearch(s: SparkSession, dir: String, k: Int = K): DataFrame = {
    // The gate and the keeper set are the curation pipeline's OWN
    // relations (Pipeline.gatedDocs is memoized+persisted, the
    // thresholds are Pipeline.GateMinWords etc., the keeper
    // formulation is Dedup.canonicalKeepers) — the search side cannot
    // drift from the pipeline, and bench reps reuse the cached corpus
    // instead of re-running the repetition kernels per call.
    val keepers = Dedup
      .canonicalKeepers(Pipeline.gatedDocs(Tables(s, dir, "documents")))
      .select(col("doc_id").as("vec_id"))
    val emb = Tables(s, dir, "embeddings")
    val cb = codebook(emb)
    if (cb.isEmpty)
      return emb.select(col("vec_id"), col("label"),
          lit(0L).as("cent_id"), lit(0.0).as("similarity"))
        .where(lit(false))
    val probeIds = cb.map { case (id, cv) => (l2Scalar(Query, cv), id) }
      .sorted.take(NProbe).map(_._2)
    ivfAssign(emb.join(keepers, Seq("vec_id")), cb)
      .where(col("cent_id").isin(probeIds: _*))
      .select(col("vec_id"), col("label"), col("cent_id"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  // ---- product quantization (PQ) ----

  /** Subspace count: 64 dims → 16 blocks of 4. More, smaller subspaces
    * beat fewer, larger ones for a SAMPLED codebook (no k-means in the
    * loop — a trained codebook couldn't be re-derived by the SQL
    * oracle): measured on the fixture, M=16/Ksub=32 holds shortlist
    * recall at 1.0 where M=4/16 scored 0.1. */
  val PqM = 16
  val PqSub: Int = Dim / PqM
  /** Centroids per subspace — codes 0..31 fit 5 bits, so a 64-float
    * (256-byte) vector compresses to PqM·5 = 80 bits (26×). */
  val PqKsub = 32
  /** ADC shortlist width: the first (code-scan) stage keeps this many
    * candidates for the exact re-rank — the standard two-stage PQ
    * serving shape (faiss IndexPQ + refine). */
  val PqShortlist = 100

  /** Deterministic codebook rows: a fixed vec_id stride that exists at
    * every fixture scale (distinct from the IVF stride so the two
    * indexes don't share a codebook). */
  val PqCentroidIds: Seq[Long] = (0 until PqKsub).map(i => i * 13L + 1L)

  /** PQ codebook: the [[PqKsub]] full vectors, sorted by vec_id; code c
    * in subspace m means "centroid = slice m of full vector c". Like the
    * IVF codebook this is index METADATA (PqKsub rows) baked into the
    * plan — faiss keeps exactly this table in RAM. */
  def pqCodebook(emb: DataFrame): Seq[Array[Double]] =
    emb.where(col("vec_id").isin(PqCentroidIds: _*))
      .select(col("vec_id"), toDouble(col("embedding")))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray).toSeq

  /** PQ encode: per subspace, the nearest sub-centroid id — [[PqM]]
    * fused codegen argmin kernels over array slices; a pure scan-side
    * projection (no join, no shuffle), exactly like [[ivfAssign]].
    * Ties break to the LOWEST code id in both engines (strict-< scan
    * here, `ORDER BY dist, cent_id` in the oracle). */
  def pqEncode(emb: DataFrame, cb: Seq[Array[Double]]): DataFrame =
    pqEncodeCol(emb.select(col("vec_id"), col("label"),
      toDouble(col("embedding")).as("ve")), "ve", cb)

  /** [[pqEncode]] over an arbitrary pre-computed DOUBLE[] column — the
    * seam that lets the IVF-PQ path encode RESIDUALS through the exact
    * same [[PqM]] argmin kernels. */
  private def pqEncodeCol(df: DataFrame, vecCol: String,
      cb: Seq[Array[Double]]): DataFrame =
    (0 until PqM).foldLeft(df) { (d, m) =>
      val sub = cb.map(_.slice(m * PqSub, (m + 1) * PqSub))
      // cb.size, not PqKsub: a trained codebook may carry fewer centers
      // (k-means|| on a slice with < k distinct points)
      d.withColumn(s"c$m",
        V.nearestCentroid(slice(col(vecCol), m * PqSub + 1, PqSub),
          Array.tabulate(cb.size)(_.toLong), sub.toArray))
    }

  /** Two-stage PQ search — asymmetric-distance shortlist, exact
    * re-rank (the standard serving shape: faiss IndexPQ + refine).
    *
    * Stage 1 (ADC): the query is NOT quantized; per subspace a
    * driver-side lookup table lut[m][c] = dot(q_m, centroid_{m,c}) is
    * baked into the plan as an array literal, and a vector's coarse
    * score is the [[PqM]]-term sum of its codes' table entries — PqM
    * O(1) array reads per row instead of a Dim-length dot. The top
    * [[PqShortlist]] survive via a shuffle-free TakeOrdered.
    *
    * Stage 2: the shortlist (a k-row-scale set) is re-scored with the
    * exact sequential-fold dot and re-topped to k.
    *
    * At 100 TB the codes table (10 bytes/vector vs 256) is what the
    * first-stage scan reads — late-materialize the full vectors only
    * for the shortlist; [[pqRecallAtK]] measures what the pruning
    * costs. All folds share the sequential order, so the oracle (which
    * re-derives codes AND re-computes the subspace dots itself)
    * matches bitwise. */
  def pqTopK(emb: DataFrame, k: Int = K): DataFrame =
    pqTopKWith(emb, pqCodebook(emb), k)

  /** [[pqTopK]] against a caller-supplied codebook — the seam that lets
    * [[MlIndex.pqKmeansTopK]] swap the deterministic sampled codebook
    * for a per-subspace k-means-TRAINED one (the faiss shape) while
    * sharing the whole encode + ADC + re-rank pipeline. */
  private[graft] def pqTopKWith(emb: DataFrame, cb: Seq[Array[Double]],
      k: Int = K): DataFrame = {
    // empty/degenerate table: no codebook rows exist — a defined empty
    // result (the reference's panic class, SURVEY.md D5)
    if (cb.isEmpty)
      return emb.select(col("vec_id"), col("label"),
          lit(0.0).as("pq_sim"), lit(0.0).as("similarity"))
        .where(lit(false))
    val lut = pqLut(cb)
    val score = (0 until PqM).map(m =>
        element_at(vecLit(lut(m)), (col(s"c$m") + 1).cast("int")))
      .reduce(_ + _) // left-assoc ((s0 + s1) + s2) + …, ≡ oracle parens
    pqEncode(emb, cb)
      .select(col("vec_id"), col("label"), col("ve"), score.as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(PqShortlist)
      .select(col("vec_id"), col("label"), col("pq_sim"),
        V.dot(vecLit(QueryNorm), col("ve")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** The per-subspace ADC lookup table lut[m][c] = dot(q_m,
    * centroid_{m,c}) — driver-side sequential folds baked into the
    * plan as array literals, shared by the scan face ([[pqTopKWith]])
    * and the versioned face ([[pqManifestTopK]]) so both score
    * bitwise-identically. */
  private def pqLut(cb: Seq[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(PqM) { m =>
      Array.tabulate(cb.size) { c =>
        var acc = 0.0
        var j = 0
        while (j < PqSub) {
          acc = acc + QueryNorm(m * PqSub + j) * cb(c)(m * PqSub + j)
          j += 1
        }
        acc
      }
    }

  /** Recall@k of the two-stage PQ search against the exact scan — the
    * measured cost of pruning on 80-bit codes. */
  def pqRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    recallAtK(pqTopK(emb, k), emb, k)

  // ---- IVF-PQ (residual product quantization — the faiss IVFADC layout) ----

  /** Sample rows for the RESIDUAL codebook — a third deterministic
    * vec_id stride, disjoint from the IVF (`_ * 31`) and flat-PQ
    * (`_ * 13 + 1`) strides so no two indexes share a codebook, and
    * present at every fixture scale (max id 31·7+3 = 220). */
  val IvfPqSampleIds: Seq[Long] = (0 until PqKsub).map(i => i * 7L + 3L)

  /** Residual PQ codebook: each sampled vector MINUS its assigned IVF
    * centroid — the quantity IVF-PQ actually quantizes. Coarse cells
    * absorb the vector's location; the residual distribution is far
    * tighter than the raw one, so the same 80-bit budget spends its
    * precision where the cell left uncertainty (the faiss IVFADC
    * design). Driver-side index METADATA like the other codebooks
    * ([[PqKsub]] rows collected once); assignment uses the identical
    * sqrt-L2 fold + lowest-id tie break as the scan kernel, so the
    * oracle's ROW_NUMBER argmin re-derives the same residuals. */
  def ivfPqResidualCodebook(emb: DataFrame,
      cb: Seq[(Long, Array[Double])]): Seq[Array[Double]] =
    emb.where(col("vec_id").isin(IvfPqSampleIds: _*))
      .select(col("vec_id"), toDouble(col("embedding")))
      .collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val c = cb.minBy { case (id, cv) => (l2Scalar(v, cv), id) }._2
        Array.tabulate(Dim)(i => v(i) - c(i))
      }.toSeq

  /** IVF-PQ top-K — coarse cells prune the scan, residual codes prune
    * the arithmetic: the full faiss IVFADC serving shape as one
    * declarative plan.
    *
    * Plan: scan → cell assign (fused argmin projection) → probe filter
    * (NProbe of NList cells — with `cent_id` stored and clustered, as in
    * the manifest IVF index, this is zone-map segment pruning, reading
    * 1/4 of the data) → residual
    * `v − c_cell` (`zip_with`, the cell centroid a when-chain literal
    * over the NProbe probed ids) → [[PqM]] residual argmin kernels →
    * ADC score `dot(q, c_cell) + Σ_m lut[m][code_m]` (inner product
    * decomposes exactly: `q·(c + r̂)`; both terms are driver-side
    * constants — a per-cell dot and the residual lookup tables — baked
    * into the plan) → shuffle-free shortlist → exact re-rank of
    * [[PqShortlist]] rows. Zero shuffles end to end.
    *
    * At 100 TB this is THE vector-serving layout: the first stage reads
    * 10-byte codes from a quarter of the cells instead of 256-byte
    * vectors from all of them — ~100× less I/O — and
    * [[ivfPqRecallAtK]] measures what that pruning costs. */
  def ivfPqTopK(emb: DataFrame, k: Int = K): DataFrame = {
    val cb = codebook(emb)
    val rcb = if (cb.isEmpty) Seq.empty[Array[Double]]
      else ivfPqResidualCodebook(emb, cb)
    ivfPqTopKWith(emb, cb, rcb, k)
  }

  /** [[ivfPqTopK]] against caller-supplied coarse + residual codebooks —
    * the seam that lets [[MlIndex.ivfPqKmeansTopK]] swap the sampled
    * residual codebook for a per-subspace k-means-TRAINED one (the
    * faiss IVFADC training shape) while sharing the whole
    * assign + residual-encode + ADC + re-rank pipeline. */
  private[graft] def ivfPqTopKWith(emb: DataFrame,
      cb: Seq[(Long, Array[Double])], rcb: Seq[Array[Double]],
      k: Int = K, keep: Option[DataFrame] = None): DataFrame = {
    // empty/degenerate table: no codebook rows exist — a defined empty
    // result (the reference's panic class, SURVEY.md D5)
    if (cb.isEmpty || rcb.isEmpty)
      return emb.select(col("vec_id"), col("label"),
          lit(0L).as("cent_id"), lit(0.0).as("pq_sim"),
          lit(0.0).as("similarity"))
        .where(lit(false))
    val probeIds = cb.map { case (id, cv) => (l2Scalar(Query, cv), id) }
      .sorted.take(NProbe).map(_._2)
    val cbMap = cb.toMap
    val cellVec = probeIds.tail.foldLeft(
      when(col("cent_id") === probeIds.head, vecLit(cbMap(probeIds.head)))) {
      (acc, id) => acc.when(col("cent_id") === id, vecLit(cbMap(id)))
    }
    val cellDot = probeIds.tail.foldLeft(
      when(col("cent_id") === probeIds.head,
        lit(dotScalar(QueryNorm, cbMap(probeIds.head))))) {
      (acc, id) => acc.when(col("cent_id") === id,
        lit(dotScalar(QueryNorm, cbMap(id))))
    }
    val lut: Array[Array[Double]] = Array.tabulate(PqM) { m =>
      Array.tabulate(rcb.size) { c =>
        var acc = 0.0
        var j = 0
        while (j < PqSub) {
          acc = acc + QueryNorm(m * PqSub + j) * rcb(c)(m * PqSub + j)
          j += 1
        }
        acc
      }
    }
    val probed = ivfAssign(emb, cb)
      .where(col("cent_id").isin(probeIds: _*))
    // the metadata predicate composes CONJUNCTIVELY with the cell
    // probe, BEFORE the ADC shortlist — post-filtering the shortlist
    // would shorten the final k ([[filteredIvfTopK]]'s discipline,
    // size-gated broadcast semi-join)
    val eligible = keep.fold(probed)(ks => probed.join(
      VectorSearch.broadcastIfSmall(ks.select(col("doc_id"))),
      col("vec_id") === col("doc_id"), "left_semi"))
    val pruned = eligible
      .withColumn("r", zip_with(col("v"), cellVec, (x, y) => x - y))
    val subSum = (0 until PqM).map(m =>
        element_at(vecLit(lut(m)), (col(s"c$m") + 1).cast("int")))
      .reduce(_ + _) // left-assoc, ≡ oracle parens
    pqEncodeCol(pruned, "r", rcb)
      .select(col("vec_id"), col("label"), col("cent_id"), col("v"),
        (cellDot + subSum).as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(PqShortlist)
      .select(col("vec_id"), col("label"), col("cent_id"), col("pq_sim"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Recall@k of the IVF-PQ search against the exact scan — the
    * combined miss rate of cell pruning AND residual quantization (the
    * two approximations compound; measuring them fused is what an index
    * deployment actually monitors). */
  def ivfPqRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    recallAtK(ivfPqTopK(emb, k), emb, k)

  /** FILTERED IVF-PQ — [[filteredIvfTopK]]'s metadata semi-join
    * composed with the full IVFADC residual path: predicate ∧ cell
    * probe ∧ ADC shortlist → exact re-rank, ONE pass, zero shuffles.
    * The predicate lands BEFORE the shortlist, so the PqShortlist
    * budget is spent entirely on eligible rows (post-filtering an
    * unfiltered shortlist would return fewer than k). The composed
    * miss rate — cell pruning AND residual quantization AND the
    * filter's interaction with both — is what
    * [[filteredIvfPqRecall]] measures against the exact FILTERED
    * answer; the two stages' individual miss rates do not simply
    * multiply, which is why the composition ships its own number. */
  def filteredIvfPqTopK(emb: DataFrame, docs: DataFrame,
      lang: String = "en", minChars: Long = 200L, k: Int = K): DataFrame = {
    val cb = codebook(emb)
    val rcb = if (cb.isEmpty) Seq.empty[Array[Double]]
      else ivfPqResidualCodebook(emb, cb)
    val keep = docs.where(col("lang") === lang && col("n_chars") >= minChars)
      .select(col("doc_id"))
    ivfPqTopKWith(emb, cb, rcb, k, keep = Some(keep))
  }

  /** Recall of [[filteredIvfPqTopK]] against the EXACT filtered top-k
    * ([[VectorSearch.filteredTopK]]) — the composed filtered miss
    * rate. */
  def filteredIvfPqRecall(emb: DataFrame, docs: DataFrame,
      lang: String = "en", minChars: Long = 200L, k: Int = K): DataFrame = {
    val exact = VectorSearch.filteredTopK(emb, docs, lang, minChars, k)
      .select(col("vec_id"))
    val approx = filteredIvfPqTopK(emb, docs, lang, minChars, k)
      .select(col("vec_id"))
    exact.join(approx, Seq("vec_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(lit(k).as("k"), col("n_common"),
        (col("n_common").cast("double") / lit(k.toDouble)).as("recall"))
  }

  // ------------------------------------------------------------------
  // Declared queries + DuckDB oracles
  // ------------------------------------------------------------------

  private def embD = "CAST(embedding AS DOUBLE[])"
  private val qNormSql = vecSql(QueryNorm)
  private val qRawSql = vecSql(Query)

  /** DuckDB fragment: sequential-fold L2 distance (matches V.l2Dist;
    * shared with Dedup's cluster-blocked semantic dedup oracle). */
  private[operators] def l2Sql(a: String, b: String): String =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}), " +
      s"i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i]))), (acc, x) -> acc + x))"

  /** DuckDB fragment: sequential-fold L2 over ONE PQ subspace —
    * list indexes off+1..off+PqSub, same fold order as the sliced
    * [[graft.functions.NearestCentroidExpr]] scan. */
  private def l2SubSql(a: String, b: String, off: Int): String =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${PqSub + 1}), " +
      s"i -> (($a)[i + $off] - ($b)[i + $off]) * (($a)[i + $off] - ($b)[i + $off]))), " +
      "(acc, x) -> acc + x))"

  /** DuckDB fragment: sequential-fold dot over ONE PQ subspace —
    * ≡ the driver-side lut derivation in [[pqTopK]]. */
  private def dotSubSql(a: String, b: String, off: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${PqSub + 1}), " +
      s"i -> ($a)[i + $off] * ($b)[i + $off])), (acc, x) -> acc + x)"

  /** Shared oracle CTEs for the PQ queries: the codebook (cent_id =
    * rank of the fixed vec_id stride, ≡ [[pqCodebook]]'s sort) and the
    * per-subspace argmin code assignment a0..a3. */
  private val pqCtes: String = {
    val centIdList = PqCentroidIds.mkString(", ")
    val assigns = (0 until PqM).map { m =>
      s"""a$m AS (
         |  SELECT vec_id, cent_id AS k$m FROM (
         |    SELECT e.vec_id, c.cent_id, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${l2SubSql("e.v", "c.c_vec", m * PqSub)}, c.cent_id) AS rn
         |    FROM e CROSS JOIN pqcents c)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""pqcents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id,
       |    $embD AS c_vec
       |  FROM embeddings WHERE vec_id IN ($centIdList)),
       |e AS (SELECT vec_id, label, $embD AS v FROM embeddings),
       |$assigns""".stripMargin
  }

  /** Oracle PQ score: explicit left-parenthesized sum of the PqM
    * subspace dots (the lut entries re-derived in SQL), never a SUM
    * aggregate (whose order is nondeterministic). */
  private val pqScoreSql: String =
    (0 until PqM).map(m => dotSubSql("q.v", s"k${m}v.c_vec", m * PqSub))
      .reduce((a, b) => s"($a + $b)")

  private val pqJoins: String =
    (0 until PqM).map(m =>
      s"JOIN a$m USING (vec_id) JOIN pqcents k${m}v ON a$m.k$m = k${m}v.cent_id")
      .mkString("\n")

  /** Shared oracle CTEs for the IVF-PQ queries: IVF centroids + probe
    * set + cell assignment (≡ the `ann_ivf_topk` oracle), the probed
    * rows with their residuals `p`, the residual codebook `rcb`
    * re-derived from the sample stride (assign → subtract, same
    * sqrt-L2 fold + lowest-id ties as [[ivfPqResidualCodebook]]), and
    * the per-subspace residual code assignments ia0..ia15. */
  private lazy val ivfPqCtes: String = ivfPqCtesWith("")

  /** [[ivfPqCtes]] with an extra conjunct on the probed-rows CTE `p` —
    * the seam the FILTERED variant injects its metadata predicate
    * through (before the shortlist, mirroring the Spark plan). */
  private def ivfPqCtesWith(pFilter: String): String = {
    val assigns = (0 until PqM).map { m =>
      s"""ia$m AS (
         |  SELECT vec_id, code AS k$m FROM (
         |    SELECT p.vec_id, r.code, row_number() OVER (
         |      PARTITION BY p.vec_id
         |      ORDER BY ${l2SubSql("p.r", "r.r_vec", m * PqSub)}, r.code) AS rn
         |    FROM p CROSS JOIN rcb r)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""cents AS (
       |  SELECT vec_id AS cent_id, $embD AS c_vec
       |  FROM embeddings WHERE vec_id IN (${CentroidIds.mkString(", ")})),
       |probe AS (
       |  SELECT cent_id FROM (
       |    SELECT cent_id, row_number() OVER (
       |      ORDER BY ${l2Sql(qRawSql, "c_vec")}, cent_id) AS crn
       |    FROM cents)
       |  WHERE crn <= $NProbe),
       |assigned AS (
       |  SELECT vec_id, label, v, cent_id FROM (
       |    SELECT e.vec_id, e.label, $embD AS v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |p AS (
       |  SELECT a.vec_id, a.label, a.cent_id, a.v,
       |    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.c_vec[i]) AS r
       |  FROM assigned a JOIN cents c USING (cent_id)
       |  WHERE a.cent_id IN (SELECT cent_id FROM probe)$pFilter),
       |samp AS (
       |  SELECT vec_id, $embD AS sv
       |  FROM embeddings WHERE vec_id IN (${IvfPqSampleIds.mkString(", ")})),
       |sa AS (
       |  SELECT vec_id, sv, cent_id FROM (
       |    SELECT s.vec_id, s.sv, c.cent_id, row_number() OVER (
       |      PARTITION BY s.vec_id
       |      ORDER BY ${l2Sql("s.sv", "c_vec")}, c.cent_id) AS rn
       |    FROM samp s CROSS JOIN cents c)
       |  WHERE rn = 1),
       |rcb AS (
       |  SELECT row_number() OVER (ORDER BY sa.vec_id) - 1 AS code,
       |    list_transform(range(1, ${Dim + 1}), i -> sa.sv[i] - c.c_vec[i]) AS r_vec
       |  FROM sa JOIN cents c USING (cent_id)),
       |$assigns""".stripMargin
  }

  /** Oracle IVF-PQ score: the per-cell query·centroid dot plus the
    * left-parenthesized sum of the PqM residual subspace dots —
    * operand-for-operand the Spark plan's `cellDot + subSum`. */
  private lazy val ivfPqScoreSql: String = {
    val sub = (0 until PqM).map(m => dotSubSql("q.v", s"ik${m}v.r_vec", m * PqSub))
      .reduce((a, b) => s"($a + $b)")
    s"(${dotSeqSql("q.v", "c.c_vec", Dim)} + $sub)"
  }

  private lazy val ivfPqJoins: String =
    (0 until PqM).map(m =>
      s"JOIN ia$m USING (vec_id) JOIN rcb ik${m}v ON ia$m.k$m = ik${m}v.code")
      .mkString("\n")

  private lazy val ivfPqShortCte: String =
    s"""short AS (
       |  SELECT p.vec_id, p.label, p.cent_id, p.v, $ivfPqScoreSql AS pq_sim
       |  FROM p JOIN cents c USING (cent_id)
       |  $ivfPqJoins
       |  CROSS JOIN q
       |  ORDER BY pq_sim DESC, p.vec_id LIMIT $PqShortlist)""".stripMargin

  /** DuckDB fragment mirroring [[bucketCol]] over an arbitrary
    * DOUBLE[] expression (shared with Dedup's LSH-blocked near-dup). */
  private[operators] def bucketSqlFor(v: String): String =
    Planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ${dotSeqSql(vecSql(p), v, Dim)} > 0.0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val bucketSql: String = bucketSqlFor(embD)

  private val probeList = ProbeBuckets.mkString(", ")
  private val centroidList = CentroidIds.mkString(", ")

  /** Symmetric int8 quantization of the embedding table — the classic
    * 4× compression step before an ANN index is shipped: per vector,
    * scale = max |component| and q_i = floor(v_i/scale·127 + 0.5)
    * (range [-127, 127], no clamp needed). Deterministic double
    * arithmetic in a fixed operand order, so the oracle reproduces the
    * quantized values AND the reconstruction error bit-for-bit. Pure
    * scan-side projection: zero shuffles, pipelines into any downstream
    * scorer. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val ve = graft.functions.VectorFunctions.toDouble(col("embedding"))
    emb
      .select(col("vec_id"), col("label"), ve.as("ve"))
      .withColumn("scale", array_max(transform(col("ve"), x => abs(x))))
      .where(col("scale") > 0.0)
      // capture of `scale`/`ve` in the lambdas is an ATTRIBUTE reference
      // (O(1) slot read), not a re-evaluated subtree — cf. the HOF
      // shingles pitfall (TextHashExpressions.ShingleStringsExpr)
      .withColumn("qs", transform(col("ve"),
        x => floor(x / col("scale") * lit(127.0) + lit(0.5))))
      .select(col("vec_id"), col("label"), col("scale"),
        aggregate(col("qs"), lit(0.0), (a, x) => a + x).cast("long").as("q_sum"),
        array_max(zip_with(col("ve"), col("qs"),
          (v, q) => abs(v - q * col("scale") / lit(127.0)))).as("max_err"))
      .orderBy("vec_id")
  }

  /** Top-K scored on the INT8 representation — the second half of the
    * compression story ([[quantizeInt8]] is the first): the scorer an
    * index serves when it ships quantized vectors, here evaluated as
    * dequantize-then-dot so the arithmetic stays deterministic double
    * math in a fixed operand order (q_i * scale / 127, left-assoc —
    * bitwise-reproducible in DuckDB; an integer-accumulator kernel
    * with a per-vector float rescale would score identically but its
    * fidelity could not be oracle-checked). Same plan shape as the
    * exact path: pure scan-side projection → shuffle-free TakeOrdered.
    * Rank fidelity vs the exact scorer is MEASURED, not assumed —
    * `ann_quantized_recall` below, the third use of the recall
    * pattern. */
  def quantizedTopK(emb: DataFrame, k: Int = K): DataFrame = {
    val ve = toDouble(col("embedding"))
    emb
      .select(col("vec_id"), col("label"), ve.as("ve"))
      .withColumn("scale", array_max(transform(col("ve"), x => abs(x))))
      .where(col("scale") > 0.0)
      .withColumn("qs", transform(col("ve"),
        x => floor(x / col("scale") * lit(127.0) + lit(0.5))))
      // dequantized vector rides one codegen'd projection into the
      // shared sequential-fold dot kernel (≡ the oracle's list fold)
      .withColumn("dq", transform(col("qs"),
        x => x * col("scale") / lit(127.0)))
      .select(col("vec_id"), col("label"),
        V.dot(vecLit(QueryNorm), col("dq")).as("q_sim"))
      .orderBy(col("q_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Recall@k of the int8-quantized scorer against the exact scan —
    * the measured quality loss of the 4× compression. */
  def quantizedRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    recallAtK(quantizedTopK(emb, k), emb, k)

  /** Shortlist width for the binary-sign rerank — how many Hamming
    * nearest survive to the exact-cosine pass. */
  val BinaryShortlist = 50

  /** Sign bit-pack of a [[graft.operators.VectorSearch.Dim]]=64-dim
    * vector into ONE long: bit j set ⟺ v_j > 0. The bits are disjoint
    * so the pack is a pure bitwise-OR fold — no addition, no overflow
    * semantics, identical in every engine (bit 63's literal is
    * Long.MinValue, which an arithmetic sum would trip ANSI checks
    * on). Scan-side projection, whole-stage codegen. */
  private def packedSig(ve: Column): Column = {
    require(Dim <= 64, s"packedSig packs one sign bit per dimension " +
      s"into a single long — Dim=$Dim would alias bits mod 64")
    (0 until Dim).map(j =>
      when(element_at(ve, j + 1) > 0.0, lit(1L << j)).otherwise(lit(0L)))
      .reduceLeft((a, b) => a.bitwiseOR(b))
  }

  /** Driver-side twin of [[packedSig]] — the query's signature is a
    * plan CONSTANT, like every other query-derived probe here. */
  private def packedSigLocal(v: Array[Double]): Long = {
    require(v.length <= 64, s"packedSigLocal packs one sign bit per " +
      s"dimension into a single long — length ${v.length} would alias " +
      "bits mod 64")
    var s = 0L
    var j = 0
    while (j < v.length) { if (v(j) > 0.0) s |= (1L << j); j += 1 }
    s
  }

  /** SQL twin of [[packedSig]]: the same disjoint-bit OR chain (each
    * bit literal pre-computed in Scala so both engines parse the
    * identical BIGINT constants). */
  private def packedSigSql(v: String): String = {
    require(Dim <= 64, s"packedSigSql packs one sign bit per dimension " +
      s"into a single BIGINT — Dim=$Dim would alias bits mod 64")
    (0 until Dim).map(j =>
      s"(CASE WHEN $v[${j + 1}] > 0.0E0 THEN CAST(${1L << j} AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END)")
      .mkString("(", " | ", ")")
  }

  /** BINARY-sign quantized search — the 64×-compression tier every
    * current vector store ships below int8/PQ: each vector is ONE long
    * (its sign pattern), candidate scoring is one XOR + popcount
    * against the query's signature, and the [[BinaryShortlist]]
    * Hamming-nearest survivors are reranked by exact cosine. For
    * L2-normalized-ish embeddings, angular proximity concentrates sign
    * agreement (the [[lshTopK]] hyperplane argument with the standard
    * basis as planes), so Hamming distance is a cheap monotone proxy —
    * and the rerank restores exact top-k order among survivors.
    *
    * Scale shape: the signature projection and XOR/popcount ride the
    * scan (zero shuffles, whole-stage codegen), the Hamming shortlist
    * is a TakeOrderedAndProject heap, and the exact dot runs on
    * [[BinaryShortlist]] rows only. At 100 TB the signatures are the
    * resident index — 8 bytes/vector, 64× under the raw doubles, the
    * RAM-vs-recall trade [[binaryRecallAtK]] measures (never
    * assumes). Ties (equal Hamming / equal cosine) break on vec_id in
    * both engines. */
  def binaryTopK(emb: DataFrame, k: Int = K): DataFrame = {
    val qSig = packedSigLocal(Query)
    emb
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("hamming",
        bit_count(packedSig(col("v")).bitwiseXOR(lit(qSig))))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(BinaryShortlist)
      .select(col("vec_id"), col("label"), col("hamming"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Recall@k of the binary-sign tier against the exact scan — the
    * measured price of 64× compression (same pattern as the int8, LSH,
    * IVF, and PQ tiers: every approximate path ships its miss rate). */
  def binaryRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    recallAtK(binaryTopK(emb, k), emb, k)

  /** Hamming shortlist over a (vec_id, sig) relation — the stored
    * faces' one pack and one tie order. */
  private def sigShortlist(sigs: DataFrame): DataFrame = {
    val qSig = packedSigLocal(Query)
    sigs
      .select(col("vec_id"),
        bit_count(col("sig").bitwiseXOR(lit(qSig))).as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(BinaryShortlist)
  }

  /** Exact-cosine rerank of a Hamming shortlist against the vector
    * table — the shared tail of every binary-tier face. */
  private def binaryRerank(shortlist: DataFrame, emb: DataFrame,
      k: Int): DataFrame =
    emb.select(col("vec_id"), col("label"),
        toDouble(col("embedding")).as("v"))
      .join(VectorSearch.broadcastIfSmall(shortlist), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("hamming"),
        V.dot(vecLit(QueryNorm), col("v")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)

  /** The manifest collection name holding a VERSIONED binary-signature
    * index. */
  val BinaryIndexCollection = "bindex"

  /** Table config for a manifest binary index: zone maps on vec_id —
    * the Hamming pass reads every 8-byte signature by design, but
    * point lookups and CDC merges on the id axis still prune. Call
    * once before the first commit. */
  def initManifestBinaryIndex(s: SparkSession, tablePath: String): Unit =
    graft.sources.ManifestStore.setZoneMapColumns(s, tablePath,
      Seq("vec_id"))

  /** Apply one vector batch to the versioned signature index — ONE
    * tagged pointer commit (atomic, replay-idempotent: a redelivered
    * tag no-ops). Signatures are per-row and position-independent, so
    * the commit is a pure additive append: no codebook, no training
    * commit, no layout rows — the simplest possible exactly-once index
    * maintenance ([[refreshManifestIvfIndex]] minus the train step). */
  def refreshManifestBinaryIndex(emb: DataFrame, tablePath: String,
      tag: String): Boolean =
    graft.sources.ManifestStore.storeBatch(
      emb.select(col("vec_id"),
        packedSig(toDouble(col("embedding"))).as("sig")),
      tablePath, BinaryIndexCollection, tag)

  /** Binary-sign search over the VERSIONED index through the
    * declarative connector — bitwise [[binaryTopK]]'s answers, same
    * oracle; the snapshot semantics (pinned segment list, versionAsOf)
    * come free from the connector. */
  def binaryManifestTopK(s: SparkSession, tablePath: String,
      emb: DataFrame, k: Int = K): DataFrame =
    binaryRerank(sigShortlist(
      s.read.format("graft").option("path", tablePath)
        .option("collection", BinaryIndexCollection).load()
        .select("vec_id", "sig")), emb, k)

  /** Memoized VERSIONED (manifest) signature index behind
    * `ann_binary_manifest`, `ann_binary_stored` and
    * `ann_binary_refresh`: init → two tagged commits (base + delta,
    * both pure appends) — the lifecycle [[manifestIvfIndexFor]] runs,
    * minus training; queried through the connector against the same
    * from-scratch oracle as [[binaryTopK]]. */
  private val manifestBinaryIndexes =
    new FixtureTables[String]("graft-binary-mindex-")(identity)

  private[graft] def manifestBinaryIndexFor(s: SparkSession,
      dir: String): String =
    manifestBinaryIndexes(s, dir) { path =>
      val emb = Tables(s, dir, "embeddings")
      val batchPred = col("vec_id") % 10 === 1
      initManifestBinaryIndex(s, path)
      refreshManifestBinaryIndex(emb.where(!batchPred), path, "base")
      refreshManifestBinaryIndex(emb.where(batchPred), path, "delta-1")
      path
    }

  // ----------------------------------------------------------------
  // manifest-backed PQ index — versioned, exactly-once maintenance
  // ----------------------------------------------------------------

  /** The manifest collection name holding a VERSIONED PQ-code index. */
  val PqIndexCollection = "pindex"

  /** Encoded-vector rows of one batch, kind `'v'`: (vec_id, label,
    * codes) where codes[m] is the subspace-m centroid id under the
    * GIVEN codebook — the 80-bit payload a 100 TB deployment actually
    * stores per vector (the full doubles stay in the source table and
    * are read only for the shortlist rerank, the binary tier's
    * late-materialization discipline). */
  private def pqVectorRows(emb: DataFrame,
      cb: Seq[Array[Double]]): DataFrame =
    pqEncode(emb, cb).select(lit("v").as("kind"), col("vec_id"),
      col("label").cast("long").as("label"),
      array((0 until PqM).map(m => col(s"c$m")): _*).as("codes"),
      lit(null).cast("long").as("cent_id"),
      lit(null).cast("array<double>").as("v"))

  /** Codebook rows, kind `'c'`: the subspace centroids ARE the index's
    * layout identity and travel WITH it ([[ivfCodebookRows]]'s
    * discipline) — a probe or a later batch must never re-derive them
    * from the [[PqCentroidIds]] constant. cent_id is the codebook
    * POSITION (codes index into this order), so read-back requires the
    * stored ids to be exactly 0..n−1. */
  private def pqCodebookRows(s: SparkSession,
      cb: Seq[Array[Double]]): DataFrame = {
    import s.implicits._
    cb.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
      .toDF("cent_id", "v")
      .select(lit("c").as("kind"), lit(null).cast("long").as("vec_id"),
        lit(null).cast("long").as("label"),
        lit(null).cast("array<long>").as("codes"),
        col("cent_id"), col("v"))
  }

  /** Table config for a manifest PQ index: zone maps on vec_id — the
    * ADC pass reads every code row by design (10 bytes/vector), but
    * point lookups and CDC merges on the id axis still prune. Call
    * once before the first commit. */
  def initManifestPqIndex(s: SparkSession, tablePath: String): Unit =
    graft.sources.ManifestStore.setZoneMapColumns(s, tablePath,
      Seq("vec_id"))

  /** The versioned index's codebook read back from its `'c'` rows —
    * fails LOUD on an index without one, with conflicting codebook
    * commits, or with non-contiguous positions (codes index into the
    * 0..n−1 order; a gap means assignments point at missing
    * centroids). */
  def manifestPqCodebook(s: SparkSession,
      tablePath: String): Seq[Array[Double]] = {
    val rows = s.read.format("graft").option("path", tablePath)
      .option("collection", PqIndexCollection).load()
      .where(col("kind") === "c").select(col("cent_id"), col("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    require(rows.nonEmpty,
      s"PQ index at $tablePath carries no codebook rows — it predates " +
        "codebook versioning or is not a PQ index; rebuild it")
    require(rows.map(_._1).distinct.length == rows.length,
      s"PQ index at $tablePath has CONFLICTING codebook commits " +
        "(duplicate positions) — codes are split across codebooks; " +
        "rebuild it")
    require(rows.zipWithIndex.forall { case ((id, _), i) => id == i.toLong },
      s"PQ index at $tablePath has NON-CONTIGUOUS codebook positions " +
        s"${rows.map(_._1).mkString("[", ", ", "]")} — stored codes " +
        "index past the codebook; rebuild it")
    rows.map(_._2)
  }

  /** Apply one vector batch to the versioned PQ index — ONE tagged
    * pointer commit (atomic, replay-idempotent: a redelivered tag
    * no-ops). The FIRST commit trains: its codebook rows and its
    * encoded vectors land together, so a crash can never publish codes
    * without the codebook they index into. Every later batch is
    * encoded by the STORED codebook (faiss's train-then-add —
    * [[refreshManifestIvfIndex]]'s contract for the compressed
    * tier). */
  def refreshManifestPqIndex(emb: DataFrame, tablePath: String,
      tag: String): Boolean = {
    val s = emb.sparkSession
    val live = graft.sources.ManifestStore
      .currentSegments(s, tablePath, PqIndexCollection).toSeq.flatten
    val rows = if (live.isEmpty) {
      val cb = pqCodebook(emb)
      require(cb.nonEmpty, "the training batch holds no codebook rows")
      pqCodebookRows(s, cb).unionByName(pqVectorRows(emb, cb))
    } else pqVectorRows(emb, manifestPqCodebook(s, tablePath))
    graft.sources.ManifestStore.storeBatch(
      rows, tablePath, PqIndexCollection, tag)
  }

  /** Two-stage PQ search over the VERSIONED index through the
    * declarative connector: the ADC pass scans ONLY the stored code
    * rows (never the corpus doubles) against the driver-side lookup
    * table built from the STORED codebook ([[pqLut]] — shared with the
    * scan face, so scoring is bitwise identical), the
    * [[PqShortlist]] survivors late-materialize their full vectors
    * from the source table for the exact rerank — bitwise
    * [[pqTopK]]'s answers, same oracle. */
  def pqManifestTopK(s: SparkSession, tablePath: String,
      emb: DataFrame, k: Int = K): DataFrame = {
    val lut = pqLut(manifestPqCodebook(s, tablePath))
    val score = (0 until PqM).map(m =>
        element_at(vecLit(lut(m)),
          (element_at(col("codes"), m + 1) + 1).cast("int")))
      .reduce(_ + _) // left-assoc, ≡ the scan face and the oracle
    val shortlist = s.read.format("graft").option("path", tablePath)
      .option("collection", PqIndexCollection).load()
      .where(col("kind") === "v")
      .select(col("vec_id"), score.as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(PqShortlist)
    emb.select(col("vec_id"), col("label"),
        toDouble(col("embedding")).as("ve"))
      .join(VectorSearch.broadcastIfSmall(shortlist), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("pq_sim"),
        V.dot(vecLit(QueryNorm), col("ve")).as("similarity"))
      .orderBy(col("similarity").desc, col("vec_id"))
      .limit(k)
  }

  /** Memoized VERSIONED (manifest) PQ index behind `ann_pq_manifest`:
    * init → training commit (everything but the batch slice, codebook
    * sample always in the train set) → delta commit encoded by the
    * STORED codebook — [[manifestIvfIndexFor]]'s lifecycle for the
    * compressed tier; queried through the connector against the same
    * from-scratch oracle as [[pqTopK]]. */
  private val manifestPqIndexes =
    new FixtureTables[String]("graft-pq-mindex-")(identity)

  private[graft] def manifestPqIndexFor(s: SparkSession, dir: String): String =
    manifestPqIndexes(s, dir) { path =>
      val emb = Tables(s, dir, "embeddings")
      val batchPred = col("vec_id") % 10 === 1 &&
        !col("vec_id").isin(PqCentroidIds: _*)
      initManifestPqIndex(s, path)
      refreshManifestPqIndex(emb.where(!batchPred), path, "base")
      refreshManifestPqIndex(emb.where(batchPred), path, "delta-1")
      path
    }

  /** Per-query Hamming shortlist width for [[binaryKnnJoin]]. */
  val BinaryJoinShortlist = 30

  /** The binary tier in the KNN-JOIN regime
    * ([[VectorSearch.knnJoinAgg]]'s shape under 64× compression): for
    * each query, the candidate pass scores ONE xor+popcount of two
    * longs per pair — the corpus side materializes only its 8-byte
    * signature, never the doubles — and per-query bounded heaps
    * ([[graft.functions.TopKAggregate]], score = −hamming so the heap
    * order IS (hamming asc, cand_id asc)) cut to a
    * [[BinaryJoinShortlist]]-row shortlist map-side. Only the
    * shortlist joins back for its vectors (size-gated broadcast — it
    * grows with queries · C, never the corpus) and reranks by exact
    * dot. At 100 TB the full-precision vectors are read twice per
    * SHORTLISTED pair, and the Q·N pass is bit arithmetic. */
  def binaryKnnJoin(emb: DataFrame, queryIds: Seq[Int],
      k: Int = K): DataFrame = {
    val ve = toDouble(col("embedding"))
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), packedSig(ve).as("q_sig"))
    val shortlist = emb
      .select(col("vec_id").as("cand_id"), packedSig(ve).as("c_sig"))
      .join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        bit_count(col("c_sig").bitwiseXOR(col("q_sig"))).as("hamming"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAggregate.topK(
        -col("hamming").cast("double"), col("cand_id"),
        BinaryJoinShortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("cand_id"),
        (-col("t.score")).cast("int").as("hamming"))
    val qVecs = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), ve.as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("cand_id"))
    emb.select(col("vec_id").as("cand_id"), ve.as("c_vec"))
      .join(VectorSearch.broadcastIfSmall(shortlist), Seq("cand_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("hamming"),
        V.dot(col("q_vec"), col("c_vec")).as("similarity"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Recall@k of the LSH probe against the exact scan — the index
    * quality measurement every ANN deployment monitors. Both top-k sets
    * are tiny (k rows), so the join is driver-trivial; the expensive
    * parts are the two scans, each already shuffle-free. */
  def lshRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    recallAtK(lshTopK(emb, k), emb, k)

  /** Recall@k of the IVF probe (NProbe of NList cells) against the
    * exact scan — completes the measurement story for the second index
    * layout: both ANN paths ship with their miss rate measured, never
    * assumed. */
  def ivfRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    recallAtK(ivfTopK(emb, k), emb, k)

  private[graft] def recallAtK(approxTopK: DataFrame, emb: DataFrame,
      k: Int): DataFrame = {
    val exact = VectorSearch.topK(emb, k).select(col("vec_id"))
    val approx = approxTopK.select(col("vec_id"))
    exact.join(approx, Seq("vec_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(lit(k).as("k"), col("n_common"),
        (col("n_common").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Shared oracle CTEs deriving the dequantized vector table `d`
    * (vec_id, label, dq) — the SQL twin of [[quantizedTopK]]'s
    * projection chain (same operand order everywhere). */
  private val quantDqCtes: String =
    s"""v AS (
       |  SELECT vec_id, label, $embD AS ve FROM embeddings),
       |s AS (
       |  SELECT vec_id, label, ve,
       |    list_max(list_transform(ve, x -> abs(x))) AS scale
       |  FROM v WHERE list_max(list_transform(ve, x -> abs(x))) > 0.0E0),
       |d AS (
       |  SELECT vec_id, label,
       |    list_transform(
       |      list_transform(ve, y -> floor(y / scale * 127.0E0 + 0.5E0)),
       |      x -> x * scale / 127.0E0) AS dq
       |  FROM s)""".stripMargin

  /** Shared oracle for [[binaryTopK]] and its stored-signature twin
    * ([[binaryManifestTopK]]) — one SQL verifies both faces. */
  private lazy val binaryTopKOracleSql: String = {
    val qSig = packedSigLocal(Query)
    s"""WITH q AS (SELECT $qNormSql AS v),
       |e AS (SELECT vec_id, label, $embD AS ve FROM embeddings),
       |b AS (SELECT vec_id, label, ve,
       |    CAST(bit_count(xor(${packedSigSql("ve")},
       |      CAST($qSig AS BIGINT))) AS INT) AS hamming
       |  FROM e),
       |short AS (SELECT vec_id, label, ve, hamming FROM (
       |    SELECT vec_id, label, ve, hamming,
       |      row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM b)
       |  WHERE rn <= $BinaryShortlist)
       |SELECT vec_id, label, hamming,
       |  ${dotSeqSql("q.v", "ve", Dim)} AS similarity
       |FROM short, q
       |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin
  }

  /** Shared oracle for [[ivfTopK]] and its stored-layout twin: the two
    * faces are bitwise interchangeable by construction, so one SQL
    * verifies both. */
  private lazy val ivfTopKOracleSql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, $embD AS c_vec
       |  FROM embeddings WHERE vec_id IN ($centroidList)),
       |probe AS (
       |  SELECT cent_id FROM (
       |    SELECT cent_id, row_number() OVER (
       |      ORDER BY ${l2Sql(qRawSql, "c_vec")}, cent_id) AS crn
       |    FROM cents)
       |  WHERE crn <= $NProbe),
       |assigned AS (
       |  SELECT vec_id, label, v, cent_id FROM (
       |    SELECT e.vec_id, e.label, $embD AS v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1)
       |SELECT vec_id, label, cent_id,
       |  ${dotSeqSql(qNormSql, "v", Dim)} AS similarity
       |FROM assigned
       |WHERE cent_id IN (SELECT cent_id FROM probe)
       |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin

  /** Shared oracle for [[pqTopK]] and its versioned twin
    * ([[pqManifestTopK]]): the two faces are bitwise interchangeable
    * by construction (one codebook, one LUT, one fold order), so one
    * SQL verifies both. */
  private lazy val pqTopKOracleSql: String =
    s"""WITH q AS (SELECT $qNormSql AS v),
       |$pqCtes,
       |short AS (
       |  SELECT e.vec_id, e.label, e.v, $pqScoreSql AS pq_sim
       |  FROM e
       |  $pqJoins
       |  CROSS JOIN q
       |  ORDER BY pq_sim DESC, e.vec_id LIMIT $PqShortlist)
       |SELECT vec_id, label, pq_sim,
       |  ${dotSeqSql("q.v", "short.v", Dim)} AS similarity
       |FROM short, q
       |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("ann_pq_topk", pqTopKOracleSql) {
      (s, dir) => pqTopK(Tables(s, dir, "embeddings"))
    },

    // the VERSIONED (manifest-backed) PQ index through the declarative
    // connector: training commit (codebook rows atomic with their
    // codes) + stored-codebook delta commit, exactly-once replay,
    // ADC over stored 80-bit codes + late-materialized exact rerank —
    // bitwise the scan face, same oracle
    QueryDef.sql("ann_pq_manifest", pqTopKOracleSql) {
      (s, dir) => pqManifestTopK(s, manifestPqIndexFor(s, dir),
        Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_pq_recall",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |$pqCtes,
         |short AS (
         |  SELECT e.vec_id, e.v, $pqScoreSql AS pq_sim
         |  FROM e
         |  $pqJoins
         |  CROSS JOIN q
         |  ORDER BY pq_sim DESC, e.vec_id LIMIT $PqShortlist),
         |approx AS (
         |  SELECT vec_id FROM short, q
         |  ORDER BY ${dotSeqSql("q.v", "short.v", Dim)} DESC, vec_id
         |  LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => pqRecallAtK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_quantized_topk",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |$quantDqCtes
         |SELECT vec_id, label,
         |  ${dotSeqSql("q.v", "dq", Dim)} AS q_sim
         |FROM d, q
         |ORDER BY q_sim DESC, vec_id LIMIT $K""".stripMargin) {
      (s, dir) => quantizedTopK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_quantized_recall",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |$quantDqCtes,
         |approx AS (
         |  SELECT vec_id FROM d, q
         |  ORDER BY ${dotSeqSql("q.v", "dq", Dim)} DESC, vec_id LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => quantizedRecallAtK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_binary_topk", binaryTopKOracleSql) {
      (s, dir) => binaryTopK(Tables(s, dir, "embeddings"))
    },

    // the STORED signature index: the Hamming pass reads 8 bytes per
    // vector, the corpus's doubles only join in for the shortlist
    // rerank — bitwise the scan face, same oracle
    QueryDef.sql("ann_binary_stored", binaryTopKOracleSql) {
      (s, dir) => binaryManifestTopK(s, manifestBinaryIndexFor(s, dir),
        Tables(s, dir, "embeddings"))
    },

    // the INCREMENTALLY REFRESHED signature index: a base commit minus
    // a held-out slice, then a pure-append delta commit applies the
    // batch (base segments untouched, AnnSpec-pinned) — searches
    // answer bitwise like a one-commit full index, same oracle
    QueryDef.sql("ann_binary_refresh", binaryTopKOracleSql) {
      (s, dir) => binaryManifestTopK(s, manifestBinaryIndexFor(s, dir),
        Tables(s, dir, "embeddings"))
    },

    // VERSIONED (manifest) signature index through the declarative
    // connector: two tagged pure-append commits, exactly-once replay,
    // snapshot-pinned probes — bitwise the scan face, same oracle
    QueryDef.sql("ann_binary_manifest", binaryTopKOracleSql) {
      (s, dir) => binaryManifestTopK(s, manifestBinaryIndexFor(s, dir),
        Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_binary_recall", {
      val qSig = packedSigLocal(Query)
      s"""WITH q AS (SELECT $qNormSql AS v),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |e AS (SELECT vec_id, $embD AS ve FROM embeddings),
         |b AS (SELECT vec_id, ve,
         |    CAST(bit_count(xor(${packedSigSql("ve")},
         |      CAST($qSig AS BIGINT))) AS INT) AS hamming
         |  FROM e),
         |short AS (SELECT vec_id, ve FROM (
         |    SELECT vec_id, ve,
         |      row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM b)
         |  WHERE rn <= $BinaryShortlist),
         |approx AS (
         |  SELECT vec_id FROM short, q
         |  ORDER BY ${dotSeqSql("q.v", "ve", Dim)} DESC, vec_id LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin
    }) { (s, dir) => binaryRecallAtK(Tables(s, dir, "embeddings")) },

    QueryDef.sql("ann_binary_join", {
      val ids = (0 until 8).mkString(", ")
      s"""WITH e AS (SELECT vec_id, $embD AS ve FROM embeddings),
         |s AS (SELECT vec_id, ve, ${packedSigSql("ve")} AS sig FROM e),
         |q AS (SELECT vec_id AS query_id, ve AS q_vec, sig AS q_sig
         |  FROM s WHERE vec_id IN ($ids)),
         |h AS (SELECT q.query_id, s.vec_id AS cand_id, s.ve AS c_vec,
         |    q.q_vec,
         |    CAST(bit_count(xor(s.sig, q.q_sig)) AS INT) AS hamming,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      CAST(bit_count(xor(s.sig, q.q_sig)) AS INT), s.vec_id)
         |      AS hrn
         |  FROM s JOIN q ON s.vec_id <> q.query_id),
         |r AS (SELECT query_id, cand_id, hamming,
         |    ${dotSeqSql("q_vec", "c_vec", Dim)} AS similarity
         |  FROM h WHERE hrn <= $BinaryJoinShortlist)
         |SELECT query_id, cand_id, hamming, similarity,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY similarity DESC, cand_id) AS INT) AS rnk
         |FROM r QUALIFY rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    }) { (s, dir) =>
      binaryKnnJoin(Tables(s, dir, "embeddings"), 0 until 8, 5)
    },

    QueryDef.sql("ann_quantize_int8",
      s"""WITH v AS (
         |  SELECT vec_id, label, $embD AS ve FROM embeddings),
         |s AS (
         |  SELECT vec_id, label, ve,
         |    list_max(list_transform(ve, x -> abs(x))) AS scale
         |  FROM v WHERE list_max(list_transform(ve, x -> abs(x))) > 0.0E0),
         |q AS (
         |  SELECT vec_id, label, ve, scale,
         |    list_transform(ve, x -> floor(x / scale * 127.0E0 + 0.5E0)) AS qs
         |  FROM s)
         |SELECT vec_id, label, scale,
         |  CAST(list_reduce(list_prepend(0.0E0, qs), (a, x) -> a + x) AS BIGINT)
         |    AS q_sum,
         |  list_max(list_transform(range(1, ${Dim + 1}),
         |    i -> abs(ve[i] - qs[i] * scale / 127.0E0))) AS max_err
         |FROM q ORDER BY vec_id""".stripMargin) {
      (s, dir) => quantizeInt8(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_recall_at_k",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |approx AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, CAST($bucketSql AS INT) AS bucket,
         |      ${dotSeqSql("q.v", embD, Dim)} AS similarity
         |    FROM embeddings, q)
         |  WHERE bucket IN ($probeList)
         |  ORDER BY similarity DESC, vec_id LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => lshRecallAtK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_ivf_recall",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |cents AS (
         |  SELECT vec_id AS cent_id, $embD AS c_vec
         |  FROM embeddings WHERE vec_id IN ($centroidList)),
         |probe AS (
         |  SELECT cent_id FROM (
         |    SELECT cent_id, row_number() OVER (
         |      ORDER BY ${l2Sql(qRawSql, "c_vec")}, cent_id) AS crn
         |    FROM cents)
         |  WHERE crn <= $NProbe),
         |assigned AS (
         |  SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, $embD AS v, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |approx AS (
         |  SELECT vec_id FROM assigned, q
         |  WHERE cent_id IN (SELECT cent_id FROM probe)
         |  ORDER BY ${dotSeqSql("q.v", "assigned.v", Dim)} DESC, vec_id
         |  LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => ivfRecallAtK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_lsh_topk",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |scored AS (
         |  SELECT vec_id, label, CAST($bucketSql AS INT) AS bucket,
         |    ${dotSeqSql("q.v", embD, Dim)} AS similarity
         |  FROM embeddings, q)
         |SELECT vec_id, label, bucket, similarity
         |FROM scored WHERE bucket IN ($probeList)
         |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin) {
      (s, dir) => lshTopK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_lsh_buckets",
      s"""SELECT CAST($bucketSql AS INT) AS bucket, count(*) AS n_vectors
         |FROM embeddings
         |GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, dir) => lshBuckets(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_ivf_topk", ivfTopKOracleSql) {
      (s, dir) => ivfTopK(Tables(s, dir, "embeddings"))
    },

    // the SAME oracle verifies the search over the STORED index:
    // compute-on-scan and stored-probe faces must be bitwise
    // interchangeable, and the gate pins the segment-pruning path too
    QueryDef.sql("ann_ivf_stored", ivfTopKOracleSql) {
      (s, dir) => ivfManifestTopK(s, manifestIvfIndexFor(s, dir))
    },

    // the stored index's cell-occupancy audit: the oracle recomputes
    // every assignment from the raw embeddings — stored ≡ recompute is
    // the integrity claim, and hot_share is the nlist tuning signal
    QueryDef.sql("ann_ivf_stats",
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, $embD AS c_vec
         |  FROM embeddings WHERE vec_id IN ($centroidList)),
         |assigned AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT e.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |cells AS (SELECT cent_id, count(*) AS n_vectors
         |  FROM assigned GROUP BY cent_id),
         |sh AS (SELECT cent_id, n_vectors,
         |    CASE WHEN SUM(n_vectors) OVER () > 0 THEN
         |      CAST(n_vectors AS DOUBLE)
         |        / CAST(SUM(n_vectors) OVER () AS DOUBLE) END AS share
         |  FROM cells)
         |SELECT cent_id, n_vectors, share,
         |  MAX(share) OVER () AS hot_share
         |FROM sh ORDER BY cent_id""".stripMargin) {
      (s, dir) => ivfStats(ivfIndexRows(s, manifestIvfIndexFor(s, dir))
        .where(col("kind") === "v"))
    },

    // the INCREMENTALLY refreshed index (base commit + delta commit
    // assigned by the index's own stored codebook) answers the same
    // oracle: refresh must be indistinguishable from a rebuild
    QueryDef.sql("ann_ivf_refresh", ivfTopKOracleSql) {
      (s, dir) => ivfManifestTopK(s, manifestIvfIndexFor(s, dir))
    },

    // the VERSIONED (manifest-backed) index through the declarative
    // connector: training commit + stored-codebook delta commit +
    // clustered compaction, same from-scratch oracle — maintenance is
    // exactly-once tagged commits, probes prune segments via sidecars
    QueryDef.sql("ann_ivf_manifest", ivfTopKOracleSql) {
      (s, dir) => ivfManifestTopK(s, manifestIvfIndexFor(s, dir))
    },

    QueryDef.sql("ann_filtered_ivf",
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, $embD AS c_vec
         |  FROM embeddings WHERE vec_id IN ($centroidList)),
         |probe AS (
         |  SELECT cent_id FROM (
         |    SELECT cent_id, row_number() OVER (
         |      ORDER BY ${l2Sql(qRawSql, "c_vec")}, cent_id) AS crn
         |    FROM cents)
         |  WHERE crn <= $NProbe),
         |assigned AS (
         |  SELECT vec_id, label, v, cent_id FROM (
         |    SELECT e.vec_id, e.label, $embD AS v, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1)
         |SELECT vec_id, label, cent_id,
         |  ${dotSeqSql(qNormSql, "v", Dim)} AS similarity
         |FROM assigned
         |WHERE cent_id IN (SELECT cent_id FROM probe)
         |  AND vec_id IN (SELECT doc_id FROM documents
         |    WHERE lang = 'en' AND n_chars >= 200)
         |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin) {
      (s, dir) => filteredIvfTopK(Tables(s, dir, "embeddings"),
        Tables(s, dir, "documents"))
    },

    QueryDef.sql("ann_filtered_recall",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |keep AS (SELECT doc_id FROM documents
         |  WHERE lang = 'en' AND n_chars >= 200),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  WHERE vec_id IN (SELECT doc_id FROM keep)
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |cents AS (
         |  SELECT vec_id AS cent_id, $embD AS c_vec
         |  FROM embeddings WHERE vec_id IN ($centroidList)),
         |probe AS (
         |  SELECT cent_id FROM (
         |    SELECT cent_id, row_number() OVER (
         |      ORDER BY ${l2Sql(qRawSql, "c_vec")}, cent_id) AS crn
         |    FROM cents)
         |  WHERE crn <= $NProbe),
         |assigned AS (
         |  SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, $embD AS v, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |approx AS (
         |  SELECT vec_id FROM assigned, q
         |  WHERE cent_id IN (SELECT cent_id FROM probe)
         |    AND vec_id IN (SELECT doc_id FROM keep)
         |  ORDER BY ${dotSeqSql("q.v", "assigned.v", Dim)} DESC, vec_id
         |  LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => filteredIvfRecall(Tables(s, dir, "embeddings"),
        Tables(s, dir, "documents"))
    },

    QueryDef.sql("ann_curated_search",
      s"""WITH ${TextAnalysis.repetitionRelationSql},
         |keepers AS (
         |  SELECT min(d.doc_id) AS vec_id
         |  FROM documents d JOIN rep USING (doc_id)
         |  WHERE ${Pipeline.gateSql("rep.")}
         |  GROUP BY substr(trim(regexp_replace(lower(d.text), '\\s+', ' ',
         |    'g')), 1, 128)),
         |cents AS (
         |  SELECT vec_id AS cent_id, $embD AS c_vec
         |  FROM embeddings WHERE vec_id IN ($centroidList)),
         |probe AS (
         |  SELECT cent_id FROM (
         |    SELECT cent_id, row_number() OVER (
         |      ORDER BY ${l2Sql(qRawSql, "c_vec")}, cent_id) AS crn
         |    FROM cents)
         |  WHERE crn <= $NProbe),
         |cur AS (
         |  SELECT e.vec_id, e.label, e.embedding
         |  FROM embeddings e JOIN keepers USING (vec_id)),
         |assigned AS (
         |  SELECT vec_id, label, v, cent_id FROM (
         |    SELECT e.vec_id, e.label, $embD AS v, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2Sql(embD, "c_vec")}, c.cent_id) AS rn
         |    FROM cur e CROSS JOIN cents c)
         |  WHERE rn = 1)
         |SELECT vec_id, label, cent_id,
         |  ${dotSeqSql(qNormSql, "v", Dim)} AS similarity
         |FROM assigned
         |WHERE cent_id IN (SELECT cent_id FROM probe)
         |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin) {
      (s, dir) => curatedSearch(s, dir)
    },

    QueryDef.sql("ann_ivfpq_topk",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |$ivfPqCtes,
         |$ivfPqShortCte
         |SELECT vec_id, label, cent_id, pq_sim,
         |  ${dotSeqSql("q.v", "short.v", Dim)} AS similarity
         |FROM short, q
         |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin) {
      (s, dir) => ivfPqTopK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_ivfpq_recall",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |$ivfPqCtes,
         |$ivfPqShortCte,
         |approx AS (
         |  SELECT vec_id FROM short, q
         |  ORDER BY ${dotSeqSql("q.v", "short.v", Dim)} DESC, vec_id
         |  LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => ivfPqRecallAtK(Tables(s, dir, "embeddings"))
    },

    QueryDef.sql("ann_filtered_ivfpq",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |keep AS (SELECT doc_id FROM documents
         |  WHERE lang = 'en' AND n_chars >= 200),
         |${ivfPqCtesWith(
           "\n    AND a.vec_id IN (SELECT doc_id FROM keep)")},
         |$ivfPqShortCte
         |SELECT vec_id, label, cent_id, pq_sim,
         |  ${dotSeqSql("q.v", "short.v", Dim)} AS similarity
         |FROM short, q
         |ORDER BY similarity DESC, vec_id LIMIT $K""".stripMargin) {
      (s, dir) => filteredIvfPqTopK(Tables(s, dir, "embeddings"),
        Tables(s, dir, "documents"))
    },

    QueryDef.sql("ann_filtered_ivfpq_recall",
      s"""WITH q AS (SELECT $qNormSql AS v),
         |keep AS (SELECT doc_id FROM documents
         |  WHERE lang = 'en' AND n_chars >= 200),
         |exact AS (
         |  SELECT vec_id FROM embeddings, q
         |  WHERE vec_id IN (SELECT doc_id FROM keep)
         |  ORDER BY ${dotSeqSql("q.v", embD, Dim)} DESC, vec_id LIMIT $K),
         |${ivfPqCtesWith(
           "\n    AND a.vec_id IN (SELECT doc_id FROM keep)")},
         |$ivfPqShortCte,
         |approx AS (
         |  SELECT vec_id FROM short, q
         |  ORDER BY ${dotSeqSql("q.v", "short.v", Dim)} DESC, vec_id
         |  LIMIT $K)
         |SELECT $K AS k, count(*) AS n_common,
         |  CAST(count(*) AS DOUBLE) / ${K}.0E0 AS recall
         |FROM exact JOIN approx USING (vec_id)""".stripMargin) {
      (s, dir) => filteredIvfPqRecall(Tables(s, dir, "embeddings"),
        Tables(s, dir, "documents"))
    }
  )
}
