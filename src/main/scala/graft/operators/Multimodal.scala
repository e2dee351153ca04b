package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Multimodal (image/audio/video) column support.
  *
  * Model: media is an opaque `binary` payload column plus typed metadata
  * columns — the layout that works at 100 TB because parquet late
  * materialization means metadata-only queries never read the payload
  * bytes, and the payload column's pages stay compressed until a decode
  * stage actually needs them. Partitioning is by `media_type` so a
  * pipeline stage that only touches one modality prunes the rest.
  *
  * Decode/feature-extract/frame-sample run as partition-local batch
  * functions over a typed Dataset (`mapPartitions` — Spark's JVM analogue
  * of arrow-batched Python UDFs: no per-row closure dispatch, one
  * function call per partition, codegen-friendly boundaries).
  *
  * ==STUBBED DECODE==
  * This container ships no codec libraries (no ImageIO plugins beyond
  * JDK defaults, no ffmpeg), so the byte→pixels/samples step is a
  * clearly-marked deterministic fake ([[Multimodal.decodeFeatures]],
  * [[Multimodal.sampleFrames]]): it preserves the exact contract (bytes
  * in → fixed-length vector / frame list out, pure per-record, total) so
  * the Spark-side plumbing — schema, batch shape, partitioning, typed
  * encoders — is real and tested; swapping in a real decoder changes one
  * pure function. The fixture payloads are derived deterministically
  * from `documents.text` (fixtures carry no real media bytes).
  */
object Multimodal {

  /** One media object: opaque payload + typed metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String,
      payload: Array[Byte], width: Int, height: Int, n_frames: Int)

  /** Flattened feature row: one scalar column per histogram bin. The
    * flat shape (no array column) is deliberate — downstream relational
    * ops (and external comparers) treat each feature as an ordinary
    * double column, and columnar storage prunes unused bins. */
  final case class MediaFeatures(doc_id: Long, media_type: String,
      n_bytes: Int, byte_mean: Double,
      f0: Double, f1: Double, f2: Double, f3: Double,
      f4: Double, f5: Double, f6: Double, f7: Double)

  final case class Frame(doc_id: Long, frame_idx: Int, offset: Int,
      frame_sig: String)

  val FeatureDim = 8

  // ------------------------------------------------------------------
  // Stubbed decoders (deterministic fakes with the real contract)
  // ------------------------------------------------------------------

  /** STUB decode: a real implementation decodes the payload (JPEG/WAV/...)
    * and extracts a feature vector; this fake derives an
    * L1-normalized byte-value histogram — deterministic, pure,
    * fixed-dimension, so every downstream contract (schema, batching,
    * aggregation) is exercised for real. */
  def decodeFeatures(payload: Array[Byte], dim: Int = FeatureDim): Array[Double] = {
    val hist = new Array[Double](dim)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xff) * dim / 256) += 1.0
      i += 1
    }
    if (payload.length > 0) { var j = 0; while (j < dim) { hist(j) /= payload.length; j += 1 } }
    hist
  }

  /** STUB frame sampler: a real implementation seeks key frames; this
    * fake cuts the payload into `n` equal spans and fingerprints each
    * span's first bytes. Same shape: one row per sampled frame. */
  def sampleFrames(docId: Long, payload: Array[Byte], n: Int): Seq[Frame] = {
    if (payload.isEmpty || n <= 0) return Seq.empty
    val span = math.max(1, payload.length / n)
    (0 until math.min(n, payload.length)).map { k =>
      val off = k * span
      val sig = payload.slice(off, math.min(off + 4, payload.length))
        .map(b => f"${b & 0xff}%02x").mkString
      Frame(docId, k, off, sig)
    }
  }

  // ------------------------------------------------------------------
  // The media table (payloads derived from the documents fixture)
  // ------------------------------------------------------------------

  /** Media table over the documents fixture: payload = UTF-8 bytes of the
    * text (stand-in for real media bytes), modality round-robined by
    * doc_id, metadata derived deterministically. At scale this table is
    * written `partitionBy("media_type")`. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      element_at(lit(Array("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"),
      (lit(64) + (col("doc_id") % 8) * 32).cast("int").as("width"),
      (lit(64) + (col("doc_id") % 4) * 32).cast("int").as("height"),
      (lit(1) + (col("doc_id") % 16)).cast("int").as("n_frames"))

  /** Metadata-only scan: never touches payload bytes beyond length/hash —
    * the query shape that must NOT decode anything at 100 TB. */
  def mediaMetadata(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
        col("doc_id"), col("media_type"),
        length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("payload_sha"),
        col("width"), col("height"), col("n_frames"))
      .orderBy("doc_id")

  /** Batch feature extraction via typed mapPartitions (stub decode). */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRecord]
      .mapPartitions(_.map { r =>
        val f = decodeFeatures(r.payload)
        // histogram-weighted approximate byte mean: weight = bin midpoint;
        // sequential left fold (Array.sum) — oracle-reproducible
        val binW = 256 / FeatureDim
        MediaFeatures(r.doc_id, r.media_type, r.payload.length,
          f.zipWithIndex.map { case (v, i) => v * (i * binW + binW / 2) }.sum,
          f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame sampling for the video modality: one output row per sampled
    * frame (flatMap — the explode-shaped decode). */
  def videoFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).where(col("media_type") === "video").as[MediaRecord]
      .flatMap(r => sampleFrames(r.doc_id, r.payload, math.min(r.n_frames, 4)))
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** STUB resize planning: fit each media object into a `box`×`box`
    * target preserving aspect ratio — the metadata half of a resize
    * stage (a real implementation feeds these dims to the codec; the
    * byte estimate scales payload size by the area ratio). All-integer
    * arithmetic on the metadata columns — the payload is never read,
    * so at 100 TB this "resize audit" runs at metadata-scan speed. */
  def mediaResize(s: SparkSession, dir: String, box: Int = 64): DataFrame =
    mediaTable(s, dir)
      .select(col("doc_id"), col("media_type"),
        col("width"), col("height"),
        length(col("payload")).as("n_bytes"))
      // `div` = exact integer division, matching the oracle's `//` at
      // ANY magnitude (double `/`+cast agrees only below 2^53)
      .withColumn("out_w",
        when(col("width") >= col("height"), lit(box))
          .otherwise(greatest(lit(1),
            expr(s"(width * $box) div height").cast("int"))))
      .withColumn("out_h",
        when(col("width") >= col("height"),
          greatest(lit(1), expr(s"(height * $box) div width").cast("int")))
          .otherwise(lit(box)))
      .withColumn("est_bytes",
        expr("(CAST(n_bytes AS BIGINT) * out_w * out_h) div " +
          "(CAST(width AS BIGINT) * height)"))
      .orderBy("doc_id")

  /** Exact media dedup: cluster by payload content hash, keep the
    * minimum doc_id — the first stage of any multimodal corpus build
    * (re-crawled images/audio share exact bytes far more often than
    * text does, and hashing is the only modality-independent identity).
    * Metadata-scan shape: the sha is computed once during the scan and
    * the single shuffle is hash-partitioned on it (uniform by
    * construction); the payload bytes never ride the exchange. */
  def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("payload_sha"))
    mediaTable(s, dir)
      .select(col("doc_id"), col("media_type"),
        sha2(col("payload"), 256).as("payload_sha"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy("doc_id")
  }

  /** Quantization levels per histogram bin for the perceptual-hash
    * signature — the GRANULARITY KNOB: more levels → finer bands →
    * smaller candidate buckets (the [[Ann]] NPlanes argument; measured
    * on the fixture: hottest bucket 1168 at 256 levels vs 323 at 1024,
    * sf0.1). */
  val PhashLevels = 1024
  /** L1 verify threshold for [[mediaPhashNearDup]]. */
  val PhashMaxL1 = 2e-4

  /** Perceptual NEAR-dup media pairs — [[mediaDedup]]'s
    * byte-tolerant twin (re-encoded/resized media shares no bytes but
    * near-identical decoded features). pHash-banded LSH over the stub
    * feature histogram:
    *
    *   1. signature: each of the 8 stub features quantized to
    *      [[PhashLevels]] levels — with a real codec this is the
    *      DCT-sign step of pHash; the quantized-histogram stand-in
    *      keeps the exact contract (deterministic ints from bytes);
    *   2. banding: adjacent feature pairs form 4 bands; candidates
    *      share ≥1 band value — the [[Dedup]] MinHash OR-amplification,
    *      so near-misses in one band still meet in another. ZERO bands
    *      (both bins empty) are DROPPED before the self-join: absence
    *      of signal matches everything (on ASCII fixtures the high
    *      half of the byte histogram is structurally empty, and a
    *      zero-band join is the all-pairs quadratic blowup — same
    *      head-drop discipline as [[Dedup.cappedPostings]]);
    *   3. verify: exact L1 distance over the full 8-dim histogram,
    *      sequential-fold arithmetic the DuckDB oracle reproduces
    *      bitwise.
    *
    * The only corpus shuffles are the (band_idx, band_value) equi-join
    * and the two doc_id set-fetch joins — never all-pairs; payload
    * bytes never leave the scan (features are a scan-side decode). */
  /** Memoized per-(session, dir, levels) signature relations — the
    * [[Dedup]] shingle-cache discipline: the signature feeds BOTH sides
    * of the band self-join plus both verify set-fetches (4 plan
    * branches), and uncached Catalyst re-runs the full scan-side
    * decode per branch — at 100 TB that is four corpus decodes for one
    * query. Released via [[releaseCaches]]; snapshot semantics like
    * every built index. */
  private val sigCache = Memo.ofFrames[(SparkSession, String, Int)]

  /** Unpersist and forget the memoized signature relations (the
    * explicit release half of the implicit index, mirroring
    * [[Dedup.releaseCaches]]). */
  def releaseCaches(): Unit = {
    sigCache.release()
    audioSigCache.release()
  }

  /** Per-doc pHash signature side: features f0..f7 plus the 4 banded
    * quantized values b0..b3 — the shared projection under both the
    * pair generator and the recall measurement. Pure scan-side decode;
    * empty payloads are dropped (no features to compare). */
  private def phashSig(s: SparkSession, dir: String,
      levels: Int): DataFrame =
    sigCache((s, dir, levels))(phashSigPlan(s, dir, levels).persist())

  private def phashSigPlan(s: SparkSession, dir: String,
      levels: Int): DataFrame = {
    import s.implicits._
    val feats = mediaTable(s, dir).as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        if (r.payload.isEmpty) Iterator.empty else {
          val f = decodeFeatures(r.payload)
          Iterator.single(MediaFeatures(r.doc_id, r.media_type,
            r.payload.length, 0.0,
            f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7)))
        }
      })
      .toDF()
      .select(col("doc_id") +:
        (0 until FeatureDim).map(j => col(s"f$j")): _*)
    val qs = (0 until FeatureDim).map(j =>
      least(lit(levels - 1L), floor(col(s"f$j") * levels).cast("long")))
    feats.select(col("doc_id") +:
      (0 until FeatureDim).map(j => col(s"f$j")) ++:
      (0 until FeatureDim / 2).map(j =>
        (qs(2 * j) * levels + qs(2 * j + 1)).as(s"b$j")): _*)
  }

  /** Sequential-fold L1 distance over the a-/b-prefixed feature pair
    * — identical operand order in the DuckDB oracles. `dim` is the
    * caller's own dimension (phash features vs audio windows — equal
    * today, but a silent coupling would under-measure the audio
    * distance the day AudioWindows moves). */
  private def pairL1(dim: Int = FeatureDim): org.apache.spark.sql.Column =
    (0 until dim)
      .map(j => abs(col(s"a$j") - col(s"b$j")))
      .reduceLeft(_ + _)

  def mediaPhashNearDup(s: SparkSession, dir: String,
      levels: Int = PhashLevels, maxL1: Double = PhashMaxL1): DataFrame = {
    val sig = phashSig(s, dir, levels)
    val feats = sig.select(col("doc_id") +:
      (0 until FeatureDim).map(j => col(s"f$j")): _*)
    val bands = sig
      .select(col("doc_id"), explode(array((0 until FeatureDim / 2).map(j =>
        struct(lit(j).as("band_idx"), col(s"b$j").as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx").as("band_idx"),
        col("b.bv").as("bv"))
      .where(col("bv") > 0L)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
      .distinct()
    val a = feats.toDF("doc_id_1" +: (0 until FeatureDim).map(j => s"a$j"): _*)
    val b = feats.toDF("doc_id_2" +: (0 until FeatureDim).map(j => s"b$j"): _*)
    cand.join(a, "doc_id_1").join(b, "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"), pairL1().as("l1_dist"))
      .where(col("l1_dist") <= maxL1)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Recall of the BANDED pair generator against the UNBLOCKED exact
    * L1 pair set — the index-quality measurement for
    * [[mediaPhashNearDup]], the same discipline as the embedding LSH
    * twin ([[Dedup.embeddingNearDupRecall]]): an approximate path
    * ships its measured miss rate, never an assumed one. A pair is
    * reachable iff the two docs agree on ≥1 NONZERO band (band_idx is
    * positional, so "shares a band" is 4 scalar equality tests — no
    * arrays, fully codegen). The ground truth is an all-pairs join
    * (quadratic by definition — measuring recall requires the exact
    * set), so at production scale it RUNS ON AN AUDIT SLICE by
    * construction (`doc_id % sampleMod == 0`, the
    * [[Dedup.minhashRecall]] discipline — recall is a corpus-level
    * rate and a deterministic slice estimates it at 1/sampleMod² the
    * cost); the default sampleMod = 1 is the exhaustive measurement at
    * verify scale. The memoized signature relation is untouched — only
    * the measured pairs are sliced. */
  def mediaPhashRecall(s: SparkSession, dir: String,
      levels: Int = PhashLevels, maxL1: Double = PhashMaxL1,
      sampleMod: Int = 1): DataFrame = {
    val sigAll = phashSig(s, dir, levels)
    val sig = VectorSearch.spreadPairSide(
      if (sampleMod == 1) sigAll
      else sigAll.where(col("doc_id") % sampleMod === 0),
      col("doc_id"))
    val cols = (0 until FeatureDim).map(j => s"f$j") ++
      (0 until FeatureDim / 2).map(j => s"b$j")
    val a = sig.toDF("doc_id_1" +: cols.map("a" + _): _*)
    val b = sig.toDF("doc_id_2" +: cols.map("b" + _): _*)
    val sharesBand = (0 until FeatureDim / 2)
      .map(j => col(s"ab$j") === col(s"bb$j") && col(s"ab$j") > 0L)
      .reduceLeft(_ || _)
    a.join(b, col("doc_id_1") < col("doc_id_2"))
      .where(pairL1Pref("af", "bf") <= maxL1)
      .agg(count(lit(1)).as("n_exact"),
        count(when(sharesBand, 1)).as("n_lsh"))
      .select(col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          col("n_lsh").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Perceptual near-dup CLUSTERS: connected components over the
    * verified pHash pair graph — the step that turns pairwise media
    * hits into "keep one canonical rendition per cluster" (the media
    * face of [[Dedup.minhashClustersStar]], sharing its O(log n)
    * large-star/small-star solver and its localCheckpoint loop
    * discipline). Nodes are every decodable payload (the memoized
    * signature relation), so singleton media keep themselves. */
  def mediaPhashClusters(s: SparkSession, dir: String): DataFrame = {
    val sig = phashSig(s, dir, PhashLevels)
    val pairs = mediaPhashNearDup(s, dir)
      .select(col("doc_id_1"), col("doc_id_2"))
    val labels = Dedup.connectedComponentsStar(
      sig.select(col("doc_id")), pairs)
    val w = Window.partitionBy(col("cluster_id"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** [[pairL1]] with configurable column prefixes (the recall join
    * carries both feature and band columns per side, so the sides are
    * prefixed af0../ab0.. and bf0../bb0..). */
  private def pairL1Pref(pa: String, pb: String,
      dim: Int = FeatureDim): org.apache.spark.sql.Column =
    (0 until dim)
      .map(j => abs(col(s"$pa$j") - col(s"$pb$j")))
      .reduceLeft(_ + _)

  // ------------------------------------------------------------------
  // Audio fingerprint family (stub decode; accepted gap #2)
  // ------------------------------------------------------------------

  /** Frame-window count of the audio fingerprint. */
  val AudioWindows = 8
  /** Quantization bucket width (byte-mean units) for the banded
    * index — 2 units/bucket measured the knee of the recall/candidate
    * trade on the fixture (0.97 recall at ~4× candidate prune vs
    * 1-unit's 0.68 recall). */
  val AudioShift = 2L
  val AudioBandLevels = 256L / AudioShift
  /** Verify threshold: exact integer L1 over the window means. */
  val AudioMaxL1 = 6L

  /** Flat fingerprint row — one long column per window mean (the
    * [[MediaFeatures]] columnar-pruning argument). */
  final case class AudioFp(doc_id: Long, g0: Long, g1: Long, g2: Long,
      g3: Long, g4: Long, g5: Long, g6: Long, g7: Long)

  /** STUB audio fingerprint: a real implementation decodes PCM and
    * derives a chromaprint-style per-frame spectral sequence; this
    * fake assigns payload byte i to window i·W/len and takes each
    * window's INTEGER mean byte value — deterministic, pure, total,
    * exact in both engines (floor division end to end), so the whole
    * downstream contract (banding, verify join, recall audit) is
    * exercised for real. Same swap-one-pure-function seam as
    * [[decodeFeatures]]. */
  def audioFingerprint(payload: Array[Byte],
      windows: Int = AudioWindows): Array[Long] = {
    val sums = new Array[Long](windows)
    val cnts = new Array[Long](windows)
    val n = payload.length
    var i = 0
    while (i < n) {
      val w = ((i.toLong * windows) / n).toInt
      sums(w) += (payload(i) & 0xff); cnts(w) += 1; i += 1
    }
    Array.tabulate(windows)(j =>
      if (cnts(j) == 0L) 0L else sums(j) / cnts(j))
  }

  /** Memoized per-(session, dir) audio signature relation — the
    * [[sigCache]] discipline for the audio modality (feeds the band
    * self-join's both sides plus both verify fetches). Released via
    * [[releaseCaches]]. */
  private val audioSigCache = Memo.ofFrames[(SparkSession, String)]

  private def audioSig(s: SparkSession, dir: String): DataFrame =
    audioSigCache((s, dir))(audioSigPlan(s, dir).persist())

  /** Fingerprint + band columns for every decodable AUDIO payload —
    * the modality filter is relational (scan-side; at 100 TB it is the
    * `media_type` partition-directory prune), the decode a
    * partition-local batch map. Bands pair adjacent windows quantized
    * to [[AudioShift]]-unit buckets. */
  private def audioSigPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = mediaTable(s, dir)
      .where(col("media_type") === "audio")
      .as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        if (r.payload.isEmpty) Iterator.empty
        else {
          val g = audioFingerprint(r.payload)
          Iterator.single(AudioFp(r.doc_id, g(0), g(1), g(2), g(3),
            g(4), g(5), g(6), g(7)))
        }
      })
      .toDF()
    fp.select(col("doc_id") +:
      (0 until AudioWindows).map(j => col(s"g$j")) ++:
      (0 until AudioWindows / 2).map(j =>
        (expr(s"g${2 * j} div $AudioShift") * AudioBandLevels +
          expr(s"g${2 * j + 1} div $AudioShift")).as(s"b$j")): _*)
  }

  /** The audio fingerprint table itself as a declared face — the
    * relation a production deployment persists beside the media store
    * (and the relation both audio queries below derive from). */
  def mediaAudioFingerprint(s: SparkSession, dir: String): DataFrame =
    audioSig(s, dir)
      .select(col("doc_id") +:
        (0 until AudioWindows).map(j => col(s"g$j")): _*)
      .orderBy("doc_id")

  /** Banded audio near-dup — [[mediaPhashNearDup]]'s shape on the
    * audio fingerprint: candidates share ≥1 nonzero band (adjacent
    * window pair, quantized), verified by exact integer L1 over the
    * full window-mean vector. Honest limit, same as the phash family:
    * the text-derived stub means CLUSTER (ASCII prose hovers in one
    * byte band), so the banded join prunes ~4× here where a real
    * chromaprint's spread bits would prune orders more; a band value
    * going corpus-hot takes the [[Dedup.cappedPostings]] df-cap
    * remedy, not a broadcast. */
  def mediaAudioNearDup(s: SparkSession, dir: String,
      maxL1: Long = AudioMaxL1): DataFrame = {
    val sig = audioSig(s, dir)
    val g = sig.select(col("doc_id") +:
      (0 until AudioWindows).map(j => col(s"g$j")): _*)
    val bands = sig
      .select(col("doc_id"),
        explode(array((0 until AudioWindows / 2).map(j =>
          struct(lit(j).as("band_idx"), col(s"b$j").as("bv"))): _*))
          .as("b"))
      .select(col("doc_id"), col("b.band_idx").as("band_idx"),
        col("b.bv").as("bv"))
      .where(col("bv") > 0L)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"),
        col("y.doc_id").as("doc_id_2"))
      .distinct()
    val a = g.toDF("doc_id_1" +:
      (0 until AudioWindows).map(j => s"a$j"): _*)
    val b = g.toDF("doc_id_2" +:
      (0 until AudioWindows).map(j => s"b$j"): _*)
    cand.join(a, "doc_id_1").join(b, "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        pairL1(AudioWindows).as("l1_dist"))
      .where(col("l1_dist") <= maxL1)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Measured recall of the audio band index against the unblocked
    * exact L1 pair set — [[mediaPhashRecall]]'s discipline (audit
    * slice via sampleMod at production scale; exhaustive at verify
    * scale). */
  def mediaAudioRecall(s: SparkSession, dir: String,
      maxL1: Long = AudioMaxL1, sampleMod: Int = 1): DataFrame = {
    val sigAll = audioSig(s, dir)
    val sig =
      if (sampleMod == 1) sigAll
      else sigAll.where(col("doc_id") % sampleMod === 0)
    val cols = (0 until AudioWindows).map(j => s"g$j") ++
      (0 until AudioWindows / 2).map(j => s"b$j")
    val a = sig.toDF("doc_id_1" +: cols.map("a" + _): _*)
    val b = sig.toDF("doc_id_2" +: cols.map("b" + _): _*)
    val sharesBand = (0 until AudioWindows / 2)
      .map(j => col(s"ab$j") === col(s"bb$j") && col(s"ab$j") > 0L)
      .reduceLeft(_ || _)
    a.join(b, col("doc_id_1") < col("doc_id_2"))
      .where(pairL1Pref("ag", "bg", AudioWindows) <= maxL1)
      .agg(count(lit(1)).as("n_exact"),
        count(when(sharesBand, 1)).as("n_lsh"))
      .select(col("n_exact"), col("n_lsh"),
        when(col("n_exact") > 0,
          col("n_lsh").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Per-modality rollup over extracted features — decode feeding a
    * relational aggregate, the end-to-end pipeline shape. */
  def modalityStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bin 3 (byte values 96-127) covers lowercase ASCII — the informative
    // bin for the text-derived fixture payloads
    mediaTable(s, dir).as[MediaRecord]
      .mapPartitions(_.map(r =>
        (r.media_type, r.payload.length, decodeFeatures(r.payload)(3))))
      .toDF("media_type", "n_bytes", "f3")
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        min(col("f3")).as("min_f3"), max(col("f3")).as("max_f3"))
      .orderBy("media_type")
  }

  // ------------------------------------------------------------------
  // Declared queries — ALL fully DuckDB-oracled. The stub decode is
  // deterministic byte arithmetic and the fixture payloads are pure
  // ASCII (octet_length == length for every row), so the oracle can
  // re-derive the byte histogram character-by-character. A real codec
  // would drop these queries back to rows-only + unit-test checks.
  // ------------------------------------------------------------------

  private val MediaTypeSql =
    "(['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)]"
  private val WidthSql = "CAST(64 + (doc_id % 8) * 32 AS INT)"
  private val HeightSql = "CAST(64 + (doc_id % 4) * 32 AS INT)"

  /** Per-char ascii codes of `text` — the oracle's view of the payload
    * bytes (valid because the fixture is pure ASCII). */
  private val CodesSql =
    "list_transform(string_split_regex(text, ''), c -> ascii(c))"

  /** Shared oracle CTE prefix for the audio family: the per-audio-doc
    * window means (integer floor arithmetic mirroring
    * [[audioFingerprint]]: byte i → window i·W/len, mean = sum // n)
    * plus the quantized band values. 'audio' is doc_id % 3 = 1 under
    * [[mediaTable]]'s round-robin. */
  private lazy val AudioSigCte: String = {
    val gCols = (0 until AudioWindows).map(j =>
      s"coalesce(max(CASE WHEN w = $j THEN g END), 0) AS g$j")
      .mkString(",\n    ")
    val gList = (0 until AudioWindows).map(j => s"g$j").mkString(", ")
    val bCols = (0 until AudioWindows / 2).map(j =>
      s"(g${2 * j} // $AudioShift) * $AudioBandLevels + " +
        s"(g${2 * j + 1} // $AudioShift) AS b$j").mkString(",\n    ")
    s"""codes AS (
       |  SELECT doc_id, $CodesSql AS cs FROM documents
       |  WHERE doc_id % 3 = 1),
       |nb AS (SELECT doc_id, cs, len(cs) AS n FROM codes
       |  WHERE len(cs) > 0),
       |byt AS (SELECT doc_id, (i-1) * $AudioWindows // n AS w, cs[i] AS v
       |  FROM nb, unnest(range(1, len(cs)+1)) AS t(i)),
       |wm AS (SELECT doc_id, w, CAST(sum(v) // count(*) AS BIGINT) AS g
       |  FROM byt GROUP BY 1, 2),
       |fp AS (SELECT doc_id,
       |    $gCols
       |  FROM wm GROUP BY doc_id),
       |sg AS (SELECT doc_id, $gList,
       |    $bCols
       |  FROM fp)""".stripMargin
  }

  /** Sequential a.gj/b.gj L1 term for the audio oracles. */
  private lazy val AudioL1Sql: String = (0 until AudioWindows)
    .map(j => s"abs(a.g$j-b.g$j)").mkString("+")

  /** j → band value dispatch, arms generated from the SAME range the
    * unnest iterates (no ELSE: a hardcoded fallback would silently
    * alias every j past its arm count if AudioWindows ever grew). */
  private lazy val AudioBandCase: String = "(CASE j " +
    (0 until AudioWindows / 2).map(j => s"WHEN $j THEN b$j")
      .mkString(" ") + " END)"

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("mm_metadata",
      s"""SELECT doc_id,
         |  $MediaTypeSql AS media_type,
         |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         |  sha256(text) AS payload_sha,
         |  $WidthSql AS width,
         |  $HeightSql AS height,
         |  CAST(1 + (doc_id % 16) AS INT) AS n_frames
         |FROM documents ORDER BY doc_id""".stripMargin)(mediaMetadata),

    QueryDef.sql("mm_dedup",
      s"""WITH m AS (
         |  SELECT doc_id, $MediaTypeSql AS media_type,
         |    sha256(text) AS payload_sha
         |  FROM documents)
         |SELECT doc_id, media_type, payload_sha,
         |  count(*) OVER (PARTITION BY payload_sha) AS group_size,
         |  doc_id = min(doc_id) OVER (PARTITION BY payload_sha) AS keep
         |FROM m ORDER BY doc_id""".stripMargin)(mediaDedup),

    QueryDef.sql("mm_phash_neardup",
      s"""WITH codes AS (
         |  SELECT doc_id, $CodesSql AS cs FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $FeatureDim), j ->
         |      CASE WHEN len(cs) = 0 THEN 0.0E0 ELSE
         |        CAST(len(list_filter(cs, c -> c // 32 = j)) AS DOUBLE)
         |          / CAST(len(cs) AS DOUBLE) END) AS fs
         |  FROM codes WHERE len(cs) > 0),
         |q AS (
         |  SELECT doc_id, fs, list_transform(fs, v ->
         |    CAST(least(${PhashLevels - 1}, floor(v * ${PhashLevels}E0))
         |      AS BIGINT)) AS qs
         |  FROM f),
         |bands AS (
         |  SELECT doc_id, j AS band_idx,
         |    qs[2*j+1] * $PhashLevels + qs[2*j+2] AS bv
         |  FROM q, unnest(range(0, ${FeatureDim / 2})) AS t(j)
         |  WHERE qs[2*j+1] * $PhashLevels + qs[2*j+2] > 0),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
         |    AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_id_1, doc_id_2,
         |  abs(a.fs[1]-b.fs[1])+abs(a.fs[2]-b.fs[2])+abs(a.fs[3]-b.fs[3])
         |    +abs(a.fs[4]-b.fs[4])+abs(a.fs[5]-b.fs[5])+abs(a.fs[6]-b.fs[6])
         |    +abs(a.fs[7]-b.fs[7])+abs(a.fs[8]-b.fs[8]) AS l1_dist
         |FROM cand
         |JOIN q a ON a.doc_id = cand.doc_id_1
         |JOIN q b ON b.doc_id = cand.doc_id_2
         |WHERE abs(a.fs[1]-b.fs[1])+abs(a.fs[2]-b.fs[2])+abs(a.fs[3]-b.fs[3])
         |    +abs(a.fs[4]-b.fs[4])+abs(a.fs[5]-b.fs[5])+abs(a.fs[6]-b.fs[6])
         |    +abs(a.fs[7]-b.fs[7])+abs(a.fs[8]-b.fs[8]) <= $PhashMaxL1
         |ORDER BY doc_id_1, doc_id_2""".stripMargin)(
      (s, dir) => mediaPhashNearDup(s, dir)),

    QueryDef.sql("mm_phash_recall",
      s"""WITH codes AS (
         |  SELECT doc_id, $CodesSql AS cs FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $FeatureDim), j ->
         |      CASE WHEN len(cs) = 0 THEN 0.0E0 ELSE
         |        CAST(len(list_filter(cs, c -> c // 32 = j)) AS DOUBLE)
         |          / CAST(len(cs) AS DOUBLE) END) AS fs
         |  FROM codes WHERE len(cs) > 0),
         |q AS (
         |  SELECT doc_id, fs, list_transform(fs, v ->
         |    CAST(least(${PhashLevels - 1}, floor(v * ${PhashLevels}E0))
         |      AS BIGINT)) AS qs
         |  FROM f),
         |s AS (
         |  SELECT doc_id, fs,
         |    qs[1] * $PhashLevels + qs[2] AS b0,
         |    qs[3] * $PhashLevels + qs[4] AS b1,
         |    qs[5] * $PhashLevels + qs[6] AS b2,
         |    qs[7] * $PhashLevels + qs[8] AS b3
         |  FROM q),
         |p AS (
         |  SELECT (a.b0 = b.b0 AND a.b0 > 0) OR (a.b1 = b.b1 AND a.b1 > 0)
         |      OR (a.b2 = b.b2 AND a.b2 > 0) OR (a.b3 = b.b3 AND a.b3 > 0)
         |      AS shares
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE abs(a.fs[1]-b.fs[1])+abs(a.fs[2]-b.fs[2])
         |    +abs(a.fs[3]-b.fs[3])+abs(a.fs[4]-b.fs[4])
         |    +abs(a.fs[5]-b.fs[5])+abs(a.fs[6]-b.fs[6])
         |    +abs(a.fs[7]-b.fs[7])+abs(a.fs[8]-b.fs[8]) <= $PhashMaxL1)
         |SELECT count(*) AS n_exact,
         |  count(*) FILTER (shares) AS n_lsh,
         |  CASE WHEN count(*) > 0
         |    THEN CAST(count(*) FILTER (shares) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS recall
         |FROM p""".stripMargin)(
      (s, dir) => mediaPhashRecall(s, dir)),

    QueryDef.sql("mm_phash_clusters",
      s"""WITH RECURSIVE codes AS (
         |  SELECT doc_id, $CodesSql AS cs FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $FeatureDim), j ->
         |      CASE WHEN len(cs) = 0 THEN 0.0E0 ELSE
         |        CAST(len(list_filter(cs, c -> c // 32 = j)) AS DOUBLE)
         |          / CAST(len(cs) AS DOUBLE) END) AS fs
         |  FROM codes WHERE len(cs) > 0),
         |q AS (
         |  SELECT doc_id, fs, list_transform(fs, v ->
         |    CAST(least(${PhashLevels - 1}, floor(v * ${PhashLevels}E0))
         |      AS BIGINT)) AS qs
         |  FROM f),
         |bands AS (
         |  SELECT doc_id, j AS band_idx,
         |    qs[2*j+1] * $PhashLevels + qs[2*j+2] AS bv
         |  FROM q, unnest(range(0, ${FeatureDim / 2})) AS t(j)
         |  WHERE qs[2*j+1] * $PhashLevels + qs[2*j+2] > 0),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
         |    AND x.bv = y.bv AND x.doc_id < y.doc_id),
         |verified AS (
         |  SELECT doc_id_1, doc_id_2 FROM cand
         |  JOIN q a ON a.doc_id = cand.doc_id_1
         |  JOIN q b ON b.doc_id = cand.doc_id_2
         |  WHERE abs(a.fs[1]-b.fs[1])+abs(a.fs[2]-b.fs[2])
         |    +abs(a.fs[3]-b.fs[3])+abs(a.fs[4]-b.fs[4])
         |    +abs(a.fs[5]-b.fs[5])+abs(a.fs[6]-b.fs[6])
         |    +abs(a.fs[7]-b.fs[7])+abs(a.fs[8]-b.fs[8]) <= $PhashMaxL1),
         |edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM verified
         |  UNION ALL SELECT doc_id_2, doc_id_1 FROM verified),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM f
         |  UNION
         |  SELECT e.dst, reach.lbl FROM reach JOIN edges e ON e.src = reach.node),
         |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS keep
         |FROM lab ORDER BY doc_id""".stripMargin)(
      (s, dir) => mediaPhashClusters(s, dir)),

    // the audio fingerprint family: chromaprint-role stub (accepted
    // gap #2 — deterministic byte arithmetic with the real contract),
    // banded near-dup + measured recall like the phash family
    QueryDef.sql("mm_audio_fingerprint",
      s"""WITH $AudioSigCte
         |SELECT doc_id, ${(0 until AudioWindows)
            .map(j => s"g$j").mkString(", ")}
         |FROM fp ORDER BY doc_id""".stripMargin)(mediaAudioFingerprint),

    QueryDef.sql("mm_audio_neardup",
      s"""WITH $AudioSigCte,
         |bands AS (
         |  SELECT doc_id, j AS band_idx, $AudioBandCase AS bv
         |  FROM sg, unnest(range(0, ${AudioWindows / 2})) AS t(j)
         |  WHERE $AudioBandCase > 0),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
         |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
         |    AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_id_1, doc_id_2, $AudioL1Sql AS l1_dist
         |FROM cand
         |JOIN sg a ON a.doc_id = cand.doc_id_1
         |JOIN sg b ON b.doc_id = cand.doc_id_2
         |WHERE $AudioL1Sql <= $AudioMaxL1
         |ORDER BY doc_id_1, doc_id_2""".stripMargin)(
      (s, dir) => mediaAudioNearDup(s, dir)),

    QueryDef.sql("mm_audio_recall",
      s"""WITH $AudioSigCte,
         |p AS (
         |  SELECT ${(0 until AudioWindows / 2).map(j =>
              s"(a.b$j = b.b$j AND a.b$j > 0)").mkString(" OR ")}
         |      AS shares
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE $AudioL1Sql <= $AudioMaxL1)
         |SELECT count(*) AS n_exact,
         |  count(*) FILTER (shares) AS n_lsh,
         |  CASE WHEN count(*) > 0
         |    THEN CAST(count(*) FILTER (shares) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS recall
         |FROM p""".stripMargin)(
      (s, dir) => mediaAudioRecall(s, dir)),

    QueryDef.sql("mm_features",
      s"""WITH codes AS (
         |  SELECT doc_id, $CodesSql AS cs FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(len(cs) AS INT) AS n_bytes,
         |    -- empty-payload guard mirrors the stub's skipped division:
         |    -- all-zero features, never 0/0
         |    list_transform(range(0, $FeatureDim), j ->
         |      CASE WHEN len(cs) = 0 THEN 0.0E0 ELSE
         |        CAST(len(list_filter(cs, c -> c // 32 = j)) AS DOUBLE)
         |          / CAST(len(cs) AS DOUBLE) END) AS fs
         |  FROM codes)
         |SELECT doc_id, $MediaTypeSql AS media_type, n_bytes,
         |  ((((((((0.0E0 + fs[1]*16E0) + fs[2]*48E0) + fs[3]*80E0)
         |    + fs[4]*112E0) + fs[5]*144E0) + fs[6]*176E0)
         |    + fs[7]*208E0) + fs[8]*240E0) AS byte_mean,
         |  fs[1] AS f0, fs[2] AS f1, fs[3] AS f2, fs[4] AS f3,
         |  fs[5] AS f4, fs[6] AS f5, fs[7] AS f6, fs[8] AS f7
         |FROM f ORDER BY doc_id""".stripMargin)(mediaFeatures),

    QueryDef.sql("mm_resize",
      s"""WITH m AS (
         |  SELECT doc_id, $MediaTypeSql AS media_type,
         |    $WidthSql AS width,
         |    $HeightSql AS height,
         |    CAST(octet_length(encode(text)) AS INT) AS n_bytes
         |  FROM documents)
         |SELECT doc_id, media_type, width, height, n_bytes,
         |  CAST(CASE WHEN width >= height THEN 64
         |       ELSE greatest(1, (width * 64) // height) END AS INT) AS out_w,
         |  CAST(CASE WHEN width >= height
         |       THEN greatest(1, (height * 64) // width)
         |       ELSE 64 END AS INT) AS out_h,
         |  CAST((CAST(n_bytes AS BIGINT) * out_w * out_h)
         |    // (CAST(width AS BIGINT) * height) AS BIGINT) AS est_bytes
         |FROM m ORDER BY doc_id""".stripMargin)(
      (s, dir) => mediaResize(s, dir)),

    QueryDef.sql("mm_video_frames",
      """WITH v AS (
        |  SELECT doc_id, text,
        |    least(CAST(1 + doc_id % 16 AS INT), 4) AS n,
        |    CAST(length(text) AS INT) AS len
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, least(n, len))) AS k,
        |    greatest(1, len // n) AS span
        |  FROM v)
        |SELECT doc_id, CAST(k AS INT) AS frame_idx,
        |  CAST(k * span AS INT) AS offset,
        |  lower(hex(encode(substring(text, CAST(k * span + 1 AS INT), 4)))) AS frame_sig
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin)(videoFrames),

    QueryDef.sql("mm_modality_stats",
      s"""WITH codes AS (
         |  SELECT doc_id, $MediaTypeSql AS media_type,
         |    $CodesSql AS cs FROM documents),
         |g AS (
         |  SELECT media_type, len(cs) AS n_bytes,
         |    CASE WHEN len(cs) = 0 THEN 0.0E0 ELSE
         |      CAST(len(list_filter(cs, c -> c // 32 = 3)) AS DOUBLE)
         |        / CAST(len(cs) AS DOUBLE) END AS f3
         |  FROM codes)
         |SELECT media_type, count(*) AS n_docs,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  min(f3) AS min_f3, max(f3) AS max_f3
         |FROM g GROUP BY media_type ORDER BY media_type""".stripMargin)(modalityStats)
  )
}
