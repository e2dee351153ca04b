package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._

/** Training-data pipeline composition operators: deterministic dataset
  * splitting, stratified sampling, the filter→dedup funnel every LLM
  * corpus build runs, C4-style span dedup, PII redaction,
  * domain-mixture rebalancing, sequence packing and chunking. The
  * reference engine has nothing upstream of storage (SURVEY.md §2.2);
  * these are north-star extensions composing the text/dedup
  * primitives into end-to-end curation shapes.
  *
  * Determinism note: splits and samples key on `doc_id % k`, not on
  * `rand()` or Spark's `sampleBy` — reproducible across engines, runs
  * and partitionings, which is what a training pipeline needs anyway
  * (resumable, auditable membership). At 100 TB all three are one scan
  * + one hash aggregate (or one window) — no extra shuffles.
  */
object Pipeline {

  /** Deterministic train/val/test split (80/10/10 by doc_id residue)
    * with per-split profile. One scan, one partial+final aggregate. */
  def trainTestSplit(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        when(col("doc_id") % 10 < 8, "train")
          .when(col("doc_id") % 10 === 8, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("split")

  /** Deterministic stratified sample audit: per stratum (lang), the
    * population size, the mod-based sample size, and the realized rate.
    * The sample predicate (`doc_id % 7 = 0`) is a pure row property, so
    * membership is stable under any repartitioning — unlike rand()-based
    * sampleBy, whose strata drift run to run. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("doc_id") % 7 === 0, lit(1))).as("n_sampled"))
      .select(col("lang"), col("n_total"), col("n_sampled"),
        (col("n_sampled").cast("double") / col("n_total").cast("double"))
          .as("sample_rate"))
      .orderBy("lang")

  /** Deterministic uniform sample via BOTTOM-K hashing: the k documents
    * with the smallest affine hash of doc_id. Strictly better than the
    * mod-based sampler when the id space is irregular (mod-k biases
    * toward arithmetic patterns; an affine hash mod a prime does not),
    * while keeping every property a training pipeline needs: membership
    * is a pure row property (stable under any repartitioning,
    * resumable, auditable), the sample is MERGEABLE (bottom-k of a
    * union = bottom-k over each part's bottom-k — so per-shard samples
    * combine exactly), and the plan is a zero-shuffle
    * TakeOrderedAndProject: per-partition bounded heaps, k rows to the
    * driver, no rand() nondeterminism anywhere. */
  def bottomKSample(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        sampleHash.as("hkey"))
      .orderBy(col("hkey"), col("doc_id"))
      .limit(k)

  /** The affine doc_id hash in [0, [[SampleMod]]) — single definition
    * shared by [[bottomKSample]] and the mixture sampler so the
    * constants can never drift apart between them. */
  private def sampleHash: Column =
    pmod(pmod(col("doc_id"), lit(SampleMod)) * SampleMult + SampleAdd,
      lit(SampleMod))

  /** Affine-hash constants for [[bottomKSample]] — prime modulus keeps
    * the map bias-free; all arithmetic stays below 2^61 (ANSI-safe). */
  val SampleMod = 1000000007L
  val SampleMult = 1103515245L % 1000000007L
  val SampleAdd = 12345L

  /** Shard count and a SECOND affine map (constants distinct from
    * [[sampleHash]]'s, so the training-order stream is independent of
    * the sampling stream) for [[shuffleShards]]. */
  val ShardCount = 16
  val ShuffleMult = 2862933555777941757L % SampleMod
  val ShuffleAdd = 3037000493L % SampleMod

  private def shuffleKey: Column =
    pmod(pmod(col("doc_id"), lit(SampleMod)) * ShuffleMult + ShuffleAdd,
      lit(SampleMod))

  def shuffleShards(s: SparkSession, dir: String): DataFrame =
    shuffleShardsOn(Tables(s, dir, "documents"))

  /** Deterministic TRAINING-ORDER global shuffle — the curation stage
    * that fixes "which shard does each example land in, and in what
    * order is the shard read", reproducibly. Both coordinates are PURE
    * ROW PROPERTIES (the same discipline as [[bottomKSample]]):
    * `skey` is an affine permutation of doc_id mod a prime, `shard`
    * its residue — so the assignment is mergeable (disjoint corpus
    * parts compute their shards independently), resumable (re-running
    * any subset reproduces it), and identical under ANY input
    * partitioning. The training order within a shard is "sorted by
    * skey" — a property of the rows, NOT a window rank: at 100 TB a
    * per-shard row_number would serialize each shard through one
    * task, while a sort-on-read (or a range-clustered shard write)
    * keeps the order without ever materializing global positions. */
  def shuffleShardsOn(documents: DataFrame,
      shards: Int = ShardCount): DataFrame =
    shardCoords(documents.select(col("doc_id"), col("lang")), shards)
      .select(col("doc_id"), col("lang"), col("shard"), col("skey"))
      .orderBy(col("shard"), col("skey"), col("doc_id"))

  /** The (skey, shard) coordinate pair appended to any frame with a
    * doc_id — THE definition of the training-order assignment, shared
    * by [[shuffleShardsOn]], [[writeTrainingShards]] and the streaming
    * curation ([[graft.streaming.EventStream]]). Pure row-property
    * projection: no shuffle, no state, stream-safe. */
  def shardCoords(df: DataFrame, shards: Int = ShardCount): DataFrame =
    df.withColumn("skey", shuffleKey)
      .withColumn("shard", (col("skey") % shards).cast("int"))

  /** Materialize the training order [[shuffleShardsOn]] declares:
    * shard-partitioned parquet whose files are internally skey-sorted.
    * This is the "range-clustered shard write" the operator's scaladoc
    * promises — a reader streams one shard's files in file order and
    * gets the training order WITHOUT a global sort ever existing:
    * `repartition(shard)` is one uniform exchange into exactly
    * `shards` tasks and the sort is per-task. Epoch-resumable (the
    * order is a row property, so re-writing any shard reproduces it)
    * and merge-friendly (disjoint corpus parts write disjoint row
    * sets of the same deterministic order). */
  def writeTrainingShards(documents: DataFrame, path: String,
      shards: Int = ShardCount): Unit =
    shardCoords(documents.select(col("doc_id"), col("lang")), shards)
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("skey"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Epoch weights for [[oversampleDocs]] in TENTHS — exact integer
    * config, no float weights anywhere: src0 trains 2.4 epochs, src2
    * 3.0, unlisted sources 1.0. Every weight must be ≥ 10 (pure
    * OVERsampling — downweighting is [[domainMixDocs]]' job; keeping
    * copies ≥ 1 also keeps the repeat sequence non-empty). */
  val OverWeightTenths: Seq[(String, Int)] =
    Seq("src0" -> 24, "src1" -> 17, "src2" -> 30, "src3" -> 12)
  val OverDefaultTenths = 10
  /** Upper bound on copies per doc (tenths ≤ 39 → ≤ 3 + 1 fractional);
    * spreads the (doc, copy) pair into a single key below. */
  val OverMaxCopies = 8
  /** Dedicated affine map for the FRACTIONAL-copy acceptance residue —
    * constants distinct from both the sampling and the training-order
    * streams, so repeat membership correlates with neither. */
  val OverMult = 48271L
  val OverAdd = 11L

  private def overTenthsCol: Column =
    OverWeightTenths.foldLeft(null: Column) { case (acc, (src, t)) =>
      if (acc == null) when(col("source") === src, lit(t))
      else acc.when(col("source") === src, lit(t))
    }.otherwise(lit(OverDefaultTenths))

  def oversample(s: SparkSession, dir: String): DataFrame =
    oversampleAuditOn(Tables(s, dir, "documents"))

  def oversampleDocs(s: SparkSession, dir: String): DataFrame =
    oversampleDocsOn(Tables(s, dir, "documents"))

  /** Per-document copy count: floor(w) full copies + one more iff the
    * doc's acceptance residue falls under the fractional part —
    * EXACT integer arithmetic (w_tenths ``/ 10`` and ``% 10``), so the
    * realized per-source row count is n·⌊w⌋ + |{h₁₀ < w mod 10}| by
    * construction, not in expectation. A pure row property: stable
    * under repartitioning, mergeable across corpus parts, and
    * re-derivable for any single doc (resumable). */
  private def nCopiesCol: Column = {
    val h10 = pmod(pmod(col("doc_id"), lit(SampleMod)) * OverMult + OverAdd,
      lit(SampleMod)) % 10
    expr("w_tenths div 10").cast("long") +
      when(h10 < col("w_tenths") % 10, 1L).otherwise(0L)
  }

  /** Epoch-weighted OVERSAMPLING — the data-mixing stage that repeats
    * high-value sources a fractional number of epochs (e.g. "books ×
    * 2.4") in one pass. Each (doc, copy) row gets its own
    * training-order key `tkey` — an affine permutation of
    * doc_id·[[OverMaxCopies]]+copy on the [[shuffleShardsOn]] stream —
    * so repeats of a document land SPREAD across the training order,
    * never adjacent. Scale shape: scan → projection → explode
    * (`sequence` of at most ⌈w⌉ ints, generated, never materialized
    * corpus-wide) — zero shuffles before the output sort; composes
    * directly with [[shuffleShardsOn]]'s shard assignment. */
  def oversampleDocsOn(documents: DataFrame): DataFrame = {
    val tkey = pmod(
      pmod(col("doc_id") * OverMaxCopies + col("copy"), lit(SampleMod))
        * ShuffleMult + ShuffleAdd, lit(SampleMod))
    documents
      .select(col("doc_id"), col("source"), overTenthsCol.as("w_tenths"))
      .withColumn("n_copies", nCopiesCol)
      .select(col("doc_id"), col("source"), col("w_tenths"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      .withColumn("tkey", tkey)
      .orderBy(col("doc_id"), col("copy"))
  }

  /** The audit twin of [[oversampleDocsOn]]: per source, the configured
    * weight, population, realized repeated-row count and rate — one
    * partial+final aggregate over the SAME copy-count row property (no
    * explode; counting never pays the repetition). */
  def oversampleAuditOn(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"), overTenthsCol.as("w_tenths"))
      .withColumn("n_copies", nCopiesCol)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        min(col("w_tenths")).as("w_tenths"),
        sum(col("n_copies")).as("n_rows"))
      .select(col("source"), col("n_docs"), col("w_tenths"), col("n_rows"),
        (col("n_rows").cast("double") / col("n_docs").cast("double"))
          .as("realized_epochs"))
      .orderBy("source")

  /** The corpus-curation funnel: quality gate (length + stopword
    * density) then exact dedup, keeping one canonical doc per content
    * hash. Composes the fused word-stats/marker kernels with the
    * dedup window — one scan, one window shuffle on the content hash. */
  def qualityFilter(s: SparkSession, dir: String,
      minWords: Long = 30L, minStopRatio: Double = 0.05): DataFrame = {
    val ws = words(col("text"))
    val base = Tables(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      graft.functions.TextHashExpressions.wordStats(ws)
        .getField("n_words").as("n_words"),
      graft.functions.TextHashExpressions.markerCount(ws, Stopwords("en"))
        .as("n_stopwords"),
      sha2(col("text"), 256).as("content_hash"))
    val w = Window.partitionBy(col("content_hash"))
    base
      .withColumn("keeper", col("doc_id") === min(col("doc_id")).over(w))
      .withColumn("stop_ratio",
        when(col("n_words") > 0,
          col("n_stopwords").cast("double") / col("n_words").cast("double")))
      .where(col("n_words") >= minWords &&
        col("stop_ratio") >= minStopRatio && col("keeper"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        col("n_stopwords"), col("stop_ratio"))
      .orderBy("doc_id")
  }

  /** Gopher repetition-gate thresholds — the ONE definition every gate
    * site reads: [[gopherFilter]]'s defaults, [[gatedDocs]] (and through
    * it [[curationFunnelOn]], [[corpusPipelineOn]],
    * [[Ann.curatedSearch]], [[graft.streaming.EventStream]]'s curation
    * stages), and via [[gateSql]] every DuckDB oracle. A threshold edit
    * lands everywhere at once — the curated search can no longer
    * silently desynchronize from the pipeline it twins. */
  val GateMinWords = 30L
  val GateMaxTopWordShare = 0.12
  val GateMaxDupBigramFrac = 0.05

  /** DuckDB fragment of the gate predicate over columns
    * (n_words, top_word_share, dup_bigram_frac), optionally qualified
    * with `p` (e.g. "rep."). E0 suffixes keep the literals DOUBLE. */
  def gateSql(p: String = ""): String =
    s"${p}n_words >= $GateMinWords AND " +
      s"${p}top_word_share <= ${GateMaxTopWordShare}E0 AND " +
      s"${p}dup_bigram_frac <= ${GateMaxDupBigramFrac}E0"

  /** Gopher/C4-style repetition gate — the curation rule set that
    * drops boilerplate and degenerate text: minimum length, bounded
    * top-word concentration, bounded duplicate-bigram share (the
    * signals [[TextAnalysis.repetitionStats]] computes; thresholds sit
    * just past the fixture's p90s so the gate provably fires without
    * emptying the corpus). Same scan-side shape as the signals
    * themselves: no shuffle before the output sort. */
  def gopherFilter(s: SparkSession, dir: String,
      minWords: Long = GateMinWords,
      maxTopWordShare: Double = GateMaxTopWordShare,
      maxDupBigramFrac: Double = GateMaxDupBigramFrac): DataFrame =
    TextAnalysis.repetitionStatsCore(Tables(s, dir, "documents"), Nil)
      .where(col("n_words") >= minWords &&
        col("top_word_share") <= maxTopWordShare &&
        col("dup_bigram_frac") <= maxDupBigramFrac)
      .select(col("doc_id"), col("n_words"), col("top_word_share"),
        col("dup_bigram_frac"))
      .orderBy("doc_id")

  /** pack_id = cum_before div budget, as exact INTEGER division — the
    * double-division formulation is exact only below 2^53, and per-lang
    * cumulative token counts exceed that at the 100 TB posture (same
    * class of fix as mm_resize; the oracle uses `//`). */
  def packId(cumBefore: Column, budgetTokens: Long): Column =
    call_function("div", cumBefore, lit(budgetTokens))

  /** Sequence packing: assign documents to fixed-token-budget training
    * sequences (streaming first-fit within each lang, doc_id order) —
    * the step that turns a curated corpus into packed training rows.
    * pack_id = exclusive-running-token-count div budget: deterministic,
    * and packs overflow by at most one document (the well-defined
    * streaming-packing trade-off; bin-packing exactly would be a
    * driver-side loop and is deliberately not offered). Token counts
    * are the fused word-stats BPE estimate.
    *
    * Scale shape: the per-lang running sum is a TWO-PHASE prefix sum,
    * not one window per lang (which is one task per lang — the English
    * partition of a 100 TB corpus on a single core). Documents fall
    * into deterministic doc_id blocks (`blk = doc_id div blockDocs`,
    * order-preserving because doc_id orders both); phase 1 computes
    * within-block running sums with a window per (lang, blk) — one
    * task per block, so a giant language spreads over n_docs/blockDocs
    * tasks; phase 2 turns per-block token TOTALS (block-cardinality,
    * tiny) into block start offsets with a per-lang window over blocks,
    * broadcast back. Both phases branch off the SAME repartition
    * exchange (ReuseExchange — CI-asserted single scan), and all
    * arithmetic is exact long addition, so the decomposition is
    * bit-identical to the sequential fold at any scale. */
  def sequencePack(s: SparkSession, dir: String,
      budgetTokens: Long = 2048L, blockDocs: Long = 4096L): DataFrame =
    sequencePackOn(Tables(s, dir, "documents"), budgetTokens, blockDocs)

  /** [[sequencePack]] over any (doc_id, lang, text) frame — separable so
    * the null-lang partition semantics are unit-testable. */
  def sequencePackOn(documents: DataFrame,
      budgetTokens: Long = 2048L, blockDocs: Long = 4096L): DataFrame = {
    val base = documents
      .select(col("doc_id"),
        // NULL lang is a PARTITION, not a dropped row (the oracle's
        // `PARTITION BY lang` groups NULLs together; an isNotNull
        // filter here would silently diverge). Keying on a coalesced
        // sentinel keeps the join/windows null-safe — and because the
        // sentinel literal is non-nullable, the join below infers no
        // per-branch null filter that would break ReuseExchange.
        coalesce(col("lang"), lit(LangNullSentinel)).as("lang_key"),
        graft.functions.TextHashExpressions.wordStats(words(col("text")))
          .getField("bpe_tokens").as("tokens"))
      .withColumn("blk", call_function("div", col("doc_id"), lit(blockDocs)))
      // explicit key-null filter BEFORE the shared exchange: the join
      // below would infer it per-branch at different depths, making the
      // two exchange subtrees canonically unequal — which silently
      // defeats ReuseExchange and doubles the scan + tokenize.
      // (blk is null only when doc_id is — a broken key, not data.)
      .where(col("blk").isNotNull)
      // ONE explicit shuffle feeds both phases: the per-row window needs
      // exactly this distribution, and the totals aggregate reuses the
      // exchange instead of re-scanning (and re-tokenizing) the corpus
      .repartition(col("lang_key"), col("blk"))
    val wIn = Window.partitionBy(col("lang_key"), col("blk"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    val inBlock = base.withColumn("cum_in",
      coalesce(sum(col("tokens")).over(wIn), lit(0L)))
    // the offsets window orders blocks by min(doc_id), which is the
    // same order as blk (blocks are monotone in doc_id) — chosen over
    // blk itself so doc_id stays REFERENCED in this branch: otherwise
    // column pruning projects different columns below the two uses of
    // the exchange and ReuseExchange no longer fires
    val wOff = Window.partitionBy(col("lang_key")).orderBy(col("blk_min_doc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("lang_key"), col("blk"))
      .agg(sum(col("tokens")).as("blk_total"),
        min(col("doc_id")).as("blk_min_doc"))
      .withColumn("blk_offset",
        coalesce(sum(col("blk_total")).over(wOff), lit(0L)))
      .select(col("lang_key"), col("blk"), col("blk_offset"))
    // offsets is block-cardinality: n_docs/blockDocs rows — tiny for
    // sane blockDocs, but it GROWS with the corpus, so the broadcast is
    // size-gated (past the threshold the join shuffles on (lang, blk),
    // which the row side is already partitioned by). blockDocs trades
    // offsets size against per-lang parallelism; at 10^11 docs pick
    // blockDocs ~1M to keep offsets in the low MBs.
    inBlock.join(VectorSearch.broadcastIfSmall(offsets), Seq("lang_key", "blk"))
      .withColumn("cum_before", col("blk_offset") + col("cum_in"))
      .select(col("doc_id"),
        // un-sentinel: emit the original (possibly null) lang
        unSentinel(col("lang_key")).as("lang"),
        col("tokens"),
        packId(col("cum_before"), budgetTokens).as("pack_id"),
        (col("cum_before") % budgetTokens).as("pack_offset"))
      .orderBy("doc_id")
  }

  /** Stand-in partition key for NULL lang in [[sequencePackOn]] — NUL
    * is not a language code, so the round-trip through the sentinel is
    * lossless for any real corpus. */
  val LangNullSentinel = "\u0000"

  /** PACKING-EFFICIENCY AUDIT — the number a training pipeline watches
    * after [[sequencePack]]: per language, how full the packed
    * sequences actually are (padding waste is paid GPU time).
    * Composed over the packer's OWN relation, so the report can never
    * drift from the packing it describes. utilization =
    * total_tokens / (n_packs x budget) — the only float op is one
    * final division of exact longs, bitwise-deterministic;
    * n_overflow counts packs whose assigned tokens exceed the budget
    * (the documented streaming-first-fit trade: a document may
    * straddle its pack boundary by at most itself). Aggregation is
    * packs-cardinality after one (lang, pack_id) reduction — nothing
    * wider than the corpus shuffles beyond what the packer already
    * paid. */
  def packStats(s: SparkSession, dir: String,
      budgetTokens: Long = 2048L): DataFrame = {
    val perPack = sequencePack(s, dir, budgetTokens)
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("pack_tokens"))
    perPack.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_packs"),
        sum(col("pack_tokens")).as("total_tokens"),
        max(col("pack_tokens")).as("max_pack_tokens"),
        count(when(col("pack_tokens") > budgetTokens, 1)).as("n_overflow"))
      .select(col("lang"), col("n_docs"), col("n_packs"),
        col("total_tokens"), col("max_pack_tokens"), col("n_overflow"),
        (col("total_tokens").cast("double") /
          (col("n_packs") * budgetTokens).cast("double"))
          .as("utilization"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Domain-mixture knobs: acceptance granularity (hash buckets per
    * domain) and the target weights — English 8/20 = 40% of the output
    * mixture, every other language 3/20 each (weights renormalize over
    * the domains actually present). Downsample-only: the feasible
    * output size is capped by the scarcest domain relative to its
    * target share. */
  val MixBuckets = 4096L
  val MixEnWeight = 8L
  val MixOtherWeight = 3L

  /** Target-mixture weight of a domain — a pure expression so both the
    * audit aggregate and the row-level resample inline it. */
  private def mixWeight(lang: Column): Column =
    when(lang === "en", lit(MixEnWeight)).otherwise(lit(MixOtherWeight))

  private[graft] def mixHashBucket: Column = sampleHash % MixBuckets

  /** The pure row-property acceptance predicate over (hb, n_total,
    * quota) columns — ONE definition shared by the batch resample and
    * the streaming mix stage so the membership rule can never drift. */
  private[graft] def mixAccept: Column =
    col("hb") * col("n_total") < col("quota") * MixBuckets

  /** Per-domain quotas for the target mixture, derived from the
    * per-(domain, hash-bucket) histogram in EXACT integer arithmetic:
    *   w_total = Σ weights over present domains
    *   n_star  = min_d ⌊n_d · w_total / w_d⌋   (largest downsample-only
    *             output hitting every target share exactly)
    *   quota_d = ⌊n_star · w_d / w_total⌋
    * A document is accepted iff `hb · n_total < quota · MixBuckets`
    * (i.e. its hash bucket falls below the domain's acceptance
    * threshold) — a pure row property once quota is known, stable
    * under any partitioning. All products stay far under 2^63 at any
    * corpus size (hb < 4096, weights ≤ 8). The windows here are
    * whole-relation (single partition) — safe because this relation is
    * at most domains × [[MixBuckets]] rows of longs, regardless of
    * corpus size. */
  private def mixQuotas(hist: DataFrame): DataFrame = {
    val wAll = Window.partitionBy()
    hist.groupBy("lang_key")
      .agg(sum(col("n")).as("n_total"))
      .withColumn("weight", mixWeight(col("lang_key")))
      .withColumn("w_total", sum(col("weight")).over(wAll))
      .withColumn("n_star",
        min(call_function("div", col("n_total") * col("w_total"),
          col("weight"))).over(wAll))
      .withColumn("quota",
        call_function("div", col("n_star") * col("weight"), col("w_total")))
  }

  /** Domain-mixture resampling AUDIT: per language, the population, its
    * target weight, the integer quota, the realized kept count under
    * deterministic hash acceptance, and the realized output share.
    * n_kept tracks quota within n_total/[[MixBuckets]] granularity.
    *
    * Scale shape: ONE corpus scan into a partial+final aggregate keyed
    * (lang, hash-bucket) — the shuffle carries at most
    * domains × [[MixBuckets]] rows no matter the corpus size; every
    * window/join after it runs on that tiny relation. */
  def domainMix(s: SparkSession, dir: String): DataFrame =
    domainMixOn(Tables(s, dir, "documents"))

  /** (lang_key, hash-bucket) histogram — NULL lang rides the
    * [[LangNullSentinel]] so the joins downstream can't silently drop
    * it (same contract as [[sequencePackOn]]). */
  private def mixHist(documents: DataFrame): DataFrame =
    documents
      .select(coalesce(col("lang"), lit(LangNullSentinel)).as("lang_key"),
        mixHashBucket.as("hb"))
      .groupBy("lang_key", "hb").agg(count(lit(1)).as("n"))

  private def unSentinel(langKey: Column): Column =
    when(langKey === lit(LangNullSentinel), lit(null: String))
      .otherwise(langKey)

  /** [[domainMix]] over an explicit documents frame — the spec surface. */
  def domainMixOn(documents: DataFrame): DataFrame = {
    val hist = mixHist(documents)
    val wAll = Window.partitionBy()
    hist.join(mixQuotas(hist), Seq("lang_key"))
      .groupBy(col("lang_key"), col("n_total"), col("weight"), col("quota"))
      .agg(sum(when(col("hb") * col("n_total") < col("quota") * MixBuckets,
        col("n")).otherwise(lit(0L))).as("n_kept"))
      // null (not NaN) when NOTHING is kept anywhere: Spark's 0.0/0.0
      // is NaN but DuckDB's is NULL — guard in both engines
      .withColumn("realized_share",
        when(sum(col("n_kept")).over(wAll) > 0,
          col("n_kept").cast("double") /
            sum(col("n_kept")).over(wAll).cast("double")))
      .select(unSentinel(col("lang_key")).as("lang"), col("n_total"),
        col("weight"), col("quota"), col("n_kept"), col("realized_share"))
      .orderBy("lang")
  }

  /** Row-level domain-mixture resample: the documents the mixture
    * KEEPS. The per-domain thresholds (a domains-cardinality relation)
    * broadcast back onto the corpus and acceptance is the same pure
    * row predicate as the audit — so membership is reproducible across
    * runs and partitionings, and `count(pl_domain_mix_docs) per lang`
    * equals the audit's `n_kept` by construction (spec-pinned).
    *
    * Scale shape: scan #1 builds the tiny histogram; scan #2 filters
    * the corpus with a BROADCAST of the domains-row quota relation —
    * no corpus-wide shuffle anywhere. */
  def domainMixDocs(s: SparkSession, dir: String): DataFrame =
    domainMixDocsOn(Tables(s, dir, "documents"))

  /** Broadcast ceiling for the quota relation: far above any ISO
    * language inventory (~8k codes), far below anything a driver
    * would mind holding. */
  val MaxMixQuotaRows = 100000L

  /** Memoized PERSISTED quota relations, keyed by the canonicalized
    * input plan (the same lifecycle discipline as `Dedup`'s shingle
    * cache): the cardinality gate's count and the join reuse one
    * materialization, repeat calls over the same corpus (bench reps,
    * audit-then-resample) pay the histogram scan once, and
    * [[releaseCaches]] frees the blocks deterministically instead of
    * leaking them to driver GC. */
  private val quotaCache = new PlanMemo

  /** Release every persisted quota relation ([[domainMixDocsOn]]'s
    * memoized gate input). Frames previously returned by
    * [[domainMixDocs]] recompute from lineage afterwards. */
  def releaseCaches(): Unit = {
    quotaCache.release()
    tempQuotaCache.release()
    gatedCache.release()
    tokenHistCache.release()
  }

  /** The slim (lang_key, n_total, quota) relation for an explicit
    * corpus — the BATCH-derived static state the streaming mix stage
    * ([[graft.streaming.EventStream.curateDocumentsMixed]]) consumes:
    * quotas are corpus-level (they need full per-domain counts), which
    * a one-pass stream cannot derive, so the boundary is explicit —
    * batch owns quota derivation, the stream owns row acceptance.
    * Same memoized persisted relation the batch resample joins. */
  def mixQuotasFor(documents: DataFrame): DataFrame =
    quotaCache(Seq(documents))(
      mixQuotas(mixHist(documents))
        .select("lang_key", "n_total", "quota").persist())

  /** [[domainMixDocs]] over an explicit documents frame. */
  def domainMixDocsOn(documents: DataFrame): DataFrame = {
    // quotas is one row per distinct lang — a bounded dim (ISO codes)
    // in a clean corpus, but `lang` is DATA, and a dirty corpus with
    // free-text values makes it corpus-growing. The stats-based
    // broadcast gate can't referee this (the size-only estimator
    // prices the aggregate at its child-scan size and never
    // broadcasts), so gate on the ACTUAL realized cardinality of the
    // memoized persisted relation and broadcast only under
    // [[MaxMixQuotaRows]]; past it, fall back to a shuffle join, which
    // is the only correct plan for a corpus-sized dim anyway.
    val quotas = mixQuotasFor(documents)
    val quotasHinted =
      if (quotas.count() <= MaxMixQuotaRows) broadcast(quotas) else quotas
    documents
      .select(col("doc_id"),
        coalesce(col("lang"), lit(LangNullSentinel)).as("lang_key"),
        mixHashBucket.as("hb"))
      .join(quotasHinted, Seq("lang_key"))
      .where(mixAccept)
      .select(col("doc_id"), unSentinel(col("lang_key")).as("lang"),
        col("hb"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // temperature-flattened domain mixture (the mT5/XLM-R multilingual
  // sampling recipe: target share ∝ (n_d)^τ, τ < 1 upweights the tail)
  // ------------------------------------------------------------------

  /** Per-(domain, hash-bucket) counts for the temperature mix, whose
    * τ = 1/2: target shares ∝ n_d^(1/2) via `sqrt`, the one fractional
    * power whose IEEE result is correctly rounded in BOTH engines (the
    * established cosine/norm precedent) — so the flattened shares stay
    * bitwise-deterministic without any float fold beyond the one
    * ORDERED weight sum. */
  private def tempHist(documents: DataFrame): DataFrame =
    documents
      .select(coalesce(col("source"), lit(LangNullSentinel)).as("domain"),
        mixHashBucket.as("hb"))
      .groupBy("domain", "hb").agg(count(lit(1)).as("n"))

  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMixOn(Tables(s, dir, "documents"))

  /** Temperature-flattened domain-mixture AUDIT over the `source`
    * domains (one row per domain): raw share, flattened target share
    * p_d = √n_d / Σ√n, the largest downsample-only integer quota
    * hitting those targets (n* = min_d ⌊n_d/p_d⌋, quota_d =
    * ⌊n*·p_d⌋), the realized kept count under the deterministic
    * hash-bucket acceptance, and its output share. This is the
    * sampling stage of the multilingual pre-training recipes (mT5
    * α-sampling, XLM-R): raw corpus shares are power-law, training
    * wants the tail upweighted — τ = 1/2 halves the log-scale spread.
    *
    * Determinism contract: Σ√n is the ONLY cross-domain float
    * reduction and it runs as a sequential left fold over the
    * domain-sorted weight array (window sums of doubles are
    * partition-order-dependent; `text_bm25_multi` precedent); every
    * other float op is a division or a product of already-agreed
    * doubles. Scale shape: one corpus scan into the (domain, bucket)
    * histogram — ≤ domains × [[MixBuckets]] rows shuffled regardless
    * of corpus size; everything after runs on that tiny relation. */
  /** The flattened-share/quota relation over a (domain, hb, n)
    * histogram — shared by the audit and the row-level resample. */
  private def tempQuotas(hist: DataFrame): DataFrame = {
    val wAll = Window.partitionBy()
    hist.groupBy("domain").agg(sum(col("n")).as("n_total"))
      .withColumn("w", sqrt(col("n_total").cast("double")))
      .withColumn("ws",
        array_sort(collect_list(struct(col("domain"), col("w"))).over(wAll)))
      .withColumn("w_sum",
        aggregate(col("ws"), lit(0.0), (a, x) => a + x.getField("w")))
      .drop("ws")
      .withColumn("n_corpus", sum(col("n_total")).over(wAll))
      .withColumn("share_raw",
        col("n_total").cast("double") / col("n_corpus").cast("double"))
      .withColumn("share_target", col("w") / col("w_sum"))
      .withColumn("cap",
        floor(col("n_total").cast("double") / col("share_target"))
          .cast("long"))
      .withColumn("n_star", min(col("cap")).over(wAll))
      .withColumn("quota",
        floor(col("n_star").cast("double") * col("share_target"))
          .cast("long"))
  }

  /** Memoized slim (domain, n_total, quota) relation — the
    * [[mixQuotasFor]] discipline for the temperature mixture (own
    * cache map: the same input corpus legitimately has BOTH a lang
    * quota relation and a source-domain one). */
  private val tempQuotaCache = new PlanMemo

  def tempQuotasFor(documents: DataFrame): DataFrame =
    tempQuotaCache(Seq(documents))(
      tempQuotas(tempHist(documents))
        .select("domain", "n_total", "quota").persist())

  def temperatureMixOn(documents: DataFrame): DataFrame = {
    val hist = tempHist(documents)
    val wAll = Window.partitionBy()
    tempQuotas(hist).join(hist, Seq("domain"))
      .groupBy(col("domain"), col("n_total"), col("share_raw"),
        col("share_target"), col("quota"))
      .agg(sum(when(mixAccept, col("n")).otherwise(lit(0L))).as("n_kept"))
      .withColumn("realized_share",
        when(sum(col("n_kept")).over(wAll) > 0,
          col("n_kept").cast("double") /
            sum(col("n_kept")).over(wAll).cast("double")))
      .select(unSentinel(col("domain")).as("domain"), col("n_total"),
        col("share_raw"), col("share_target"), col("quota"),
        col("n_kept"), col("realized_share"))
      .orderBy("domain")
  }

  def temperatureMixDocs(s: SparkSession, dir: String): DataFrame =
    temperatureMixDocsOn(Tables(s, dir, "documents"))

  /** Row-level temperature resample: the documents the flattened
    * mixture KEEPS — same structure as [[domainMixDocsOn]] (memoized
    * quota relation, realized-cardinality broadcast gate, pure
    * row-property acceptance), keyed on `source` domains. */
  def temperatureMixDocsOn(documents: DataFrame): DataFrame = {
    val quotas = tempQuotasFor(documents)
    val quotasHinted =
      if (quotas.count() <= MaxMixQuotaRows) broadcast(quotas) else quotas
    documents
      .select(col("doc_id"),
        coalesce(col("source"), lit(LangNullSentinel)).as("domain"),
        mixHashBucket.as("hb"))
      .join(quotasHinted, Seq("domain"))
      .where(mixAccept)
      .select(col("doc_id"), unSentinel(col("domain")).as("domain"),
        col("hb"))
      .orderBy("doc_id")
  }

  /** TOKEN-budgeted mixture knobs: mixtures in practice are defined
    * over TOKENS, not document counts (a lang of long documents at a
    * 40% doc share can be 70% of the tokens). Same downsample-only
    * largest-feasible derivation as [[mixQuotas]], in token units. */
  val TokenMixBuckets = MixBuckets

  /** TOKEN-BUDGETED domain mixture audit: per language — total
    * tokens, target weight, the exact-integer token quota, and what a
    * hash-bucket-prefix acceptance realizes against it.
    *
    * Derivation (exact integers, [[mixQuotas]]' shape in token
    * units): t_star = min_l ⌊tok_l · w_total / w_l⌋ is the largest
    * downsample-only total token budget hitting every target share;
    * quota_l = ⌊t_star · w_l / w_total⌋. Acceptance is STREAMING by
    * hash bucket: buckets are taken in hb order while the lang's
    * cumulative token count BEFORE the bucket stays under quota — so
    * the realized take overflows by at most one bucket's tokens
    * (the sequencePack streaming-accept trade, at bucket
    * granularity), and membership is a pure (lang, hb) property,
    * reproducible under any partitioning.
    *
    * Scale shape: ONE corpus scan (tokenize riding the scan) into a
    * partial+final aggregate keyed (lang, hash-bucket) — the shuffle
    * carries ≤ domains × [[TokenMixBuckets]] rows whatever the corpus
    * size; every window after it runs on that tiny relation. */
  def tokenMix(s: SparkSession, dir: String): DataFrame =
    tokenMixOn(Tables(s, dir, "documents"))

  /** (lang_key, hb) → (token sum, doc count) histogram — the only
    * corpus-sized pass of the token mixture. MEMOIZED by canonicalized
    * input plan and PERSISTED (the [[tempQuotaCache]] discipline,
    * released via [[releaseCaches]]): two branches of [[tokenMixOn]]
    * consume it, and uncached Catalyst would re-run the corpus scan —
    * and the word-stats KERNEL — once per branch. */
  private val tokenHistCache = new PlanMemo

  private def tokenHist(documents: DataFrame): DataFrame =
    tokenHistCache(Seq(documents))(
      documents
        .select(coalesce(col("lang"), lit(LangNullSentinel)).as("lang_key"),
          mixHashBucket.as("hb"),
          graft.functions.TextHashExpressions.wordStats(
            graft.functions.TextFunctions.words(col("text")))
            .getField("bpe_tokens").as("tokens"))
        .groupBy("lang_key", "hb")
        .agg(sum(col("tokens")).as("tok"), count(lit(1)).as("n"))
        .persist())

  def tokenMixOn(documents: DataFrame): DataFrame = {
    val hist = tokenHist(documents)
    val wAll = Window.partitionBy()
    val quotas = hist.groupBy("lang_key")
      .agg(sum(col("tok")).as("tok_total"))
      .withColumn("weight", mixWeight(col("lang_key")))
      .withColumn("w_total", sum(col("weight")).over(wAll))
      .withColumn("t_star",
        min(call_function("div", col("tok_total") * col("w_total"),
          col("weight"))).over(wAll))
      .withColumn("quota_tok",
        call_function("div", col("t_star") * col("weight"), col("w_total")))
      .select("lang_key", "tok_total", "weight", "quota_tok")
    // exclusive per-lang running token count in hb order — the
    // bucket-prefix acceptance cursor (tiny relation, fine windows)
    val wCum = Window.partitionBy(col("lang_key")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("cum_before", coalesce(sum(col("tok")).over(wCum),
        lit(0L)))
      .join(quotas, Seq("lang_key"))
      .groupBy(col("lang_key"), col("tok_total"), col("weight"),
        col("quota_tok"))
      .agg(
        sum(when(col("cum_before") < col("quota_tok"), col("n"))
          .otherwise(lit(0L))).as("n_kept"),
        sum(when(col("cum_before") < col("quota_tok"), col("tok"))
          .otherwise(lit(0L))).as("kept_tokens"))
      .withColumn("realized_share",
        when(sum(col("kept_tokens")).over(wAll) > 0,
          col("kept_tokens").cast("double") /
            sum(col("kept_tokens")).over(wAll).cast("double")))
      .select(unSentinel(col("lang_key")).as("lang"), col("tok_total"),
        col("weight"), col("quota_tok"), col("n_kept"),
        col("kept_tokens"), col("realized_share"))
      .orderBy(asc_nulls_first("lang"))
  }

  def tokenMixDocs(s: SparkSession, dir: String): DataFrame =
    tokenMixDocsOn(Tables(s, dir, "documents"))

  /** Row-level TOKEN-mixture resample: the documents the token budget
    * KEEPS — acceptance is membership of the doc's (lang, hash-bucket)
    * in the bucket-PREFIX set `cum_before < quota_tok` derived in
    * [[tokenMixOn]], so the kept rows are exactly the audit's
    * `n_kept`/`kept_tokens` rollup (spec-pinned).
    *
    * Scale shape: the accepted-bucket relation is derived from the
    * memoized persisted [[tokenHist]] (≤ langs × [[TokenMixBuckets]]
    * rows — it grows with DISTINCT LANGS, not the corpus), so the
    * realized-cardinality broadcast gate ([[MaxMixQuotaRows]] ×
    * buckets would be the true bound; the same [[domainMixDocsOn]]
    * discipline applies) decides hash-join vs broadcast; acceptance
    * itself needs no second corpus aggregate. */
  def tokenMixDocsOn(documents: DataFrame): DataFrame = {
    val hist = tokenHist(documents)
    val wAll = Window.partitionBy()
    val quotas = hist.groupBy("lang_key")
      .agg(sum(col("tok")).as("tok_total"))
      .withColumn("weight", mixWeight(col("lang_key")))
      .withColumn("w_total", sum(col("weight")).over(wAll))
      .withColumn("t_star",
        min(call_function("div", col("tok_total") * col("w_total"),
          col("weight"))).over(wAll))
      .withColumn("quota_tok",
        call_function("div", col("t_star") * col("weight"), col("w_total")))
      .select("lang_key", "quota_tok")
    val wCum = Window.partitionBy(col("lang_key")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val accepted = hist
      .withColumn("cum_before", coalesce(sum(col("tok")).over(wCum),
        lit(0L)))
      .join(quotas, Seq("lang_key"))
      .where(col("cum_before") < col("quota_tok"))
      .select("lang_key", "hb")
    val acceptedHinted =
      if (accepted.count() <= MaxMixQuotaRows * TokenMixBuckets)
        broadcast(accepted)
      else accepted
    documents
      .select(col("doc_id"),
        coalesce(col("lang"), lit(LangNullSentinel)).as("lang_key"),
        mixHashBucket.as("hb"))
      .join(acceptedHinted, Seq("lang_key", "hb"))
      .select(col("doc_id"), unSentinel(col("lang_key")).as("lang"),
        col("hb"))
      .orderBy("doc_id")
  }

  /** Contrastive NEGATIVE sampling knobs: negatives per anchor, the
    * in-stratum hash-bucket count, and the anchor sample residue. */
  val NegK = 3
  val NegBuckets = 8L
  val NegAnchorMod = 5L

  /** IN-STRATUM negative pairs for contrastive training: every
    * anchor document (deterministic `doc_id % [[NegAnchorMod]] == 0`
    * sample) gets up to [[NegK]] negatives drawn from its OWN
    * language stratum — hash-bucket peers, cyclically the next
    * ranks in an independent second hash order, so the picks are
    * "random but reproducible" and never the anchor itself
    * (j ≤ cnt−1 keeps partners distinct and excludes the self-wrap).
    *
    * Scale shape: both window ranks and the partner self-join are
    * keyed (lang, hash-bucket) — [[NegBuckets]] buckets per lang
    * bound every partition at n_lang/[[NegBuckets]] and spread each
    * stratum over that many tasks (raise buckets with the corpus);
    * join mass is ≤ [[NegK]] rows per anchor. Two corpus scans
    * (rank relation + its partner side), cheap integer projections
    * only. */
  def negativePairs(s: SparkSession, dir: String): DataFrame =
    negativePairsOn(Tables(s, dir, "documents"))

  def negativePairsOn(documents: DataFrame): DataFrame = {
    // bucket by the SAMPLING hash, order inside by the independent
    // SHUFFLE hash — so "who is my neighbor" is uncorrelated with
    // "which bucket am I in"
    def ranked = {
      val w = Window.partitionBy(col("lang_key"), col("hb"))
      documents.select(col("doc_id"),
          coalesce(col("lang"), lit(LangNullSentinel)).as("lang_key"),
          (sampleHash % NegBuckets).as("hb"), shuffleKey.as("skey"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("skey"), col("doc_id"))) - 1)
        .withColumn("cnt", count(lit(1)).over(w))
    }
    val anchors = ranked
      .where(col("doc_id") % NegAnchorMod === 0 && col("cnt") > 1)
      .select(col("doc_id"), col("lang_key"), col("hb"), col("rn"),
        col("cnt"))
      .withColumn("j", explode(sequence(lit(1), least(lit(NegK),
        (col("cnt") - 1).cast("int")))))
      .withColumn("nrn", (col("rn") + col("j")) % col("cnt"))
    val partners = ranked
      .select(col("lang_key"), col("hb"), col("rn").as("nrn"),
        col("doc_id").as("neg_doc_id"))
    anchors.join(partners, Seq("lang_key", "hb", "nrn"))
      .select(col("doc_id"), unSentinel(col("lang_key")).as("lang"),
        col("j"), col("neg_doc_id"))
      .orderBy("doc_id", "j")
  }

  def curationFunnel(s: SparkSession, dir: String): DataFrame =
    curationFunnelOn(Tables(s, dir, "documents"))

  /** The repetition-gated corpus (doc_id, lang, text) — memoized and
    * PERSISTED by canonicalized input plan (the [[Dedup]] shingle-cache
    * discipline) because it feeds multiple branches of the SAME plan in
    * both [[curationFunnelOn]] (three count branches) and
    * [[corpusPipelineOn]]: uncached, Catalyst re-evaluates the Gopher
    * signal kernels once per branch (measured 4.3 s vs 2.7 s at sf0.1).
    * Released via [[releaseCaches]]. */
  private val gatedCache = new PlanMemo

  private[operators] def gatedDocs(documents: DataFrame): DataFrame =
    gatedCache(Seq(documents))(
      TextAnalysis.repetitionStatsCore(documents, keep = Seq("lang", "text"))
        .where(col("n_words") >= GateMinWords &&
          col("top_word_share") <= GateMaxTopWordShare &&
          col("dup_bigram_frac") <= GateMaxDupBigramFrac)
        .select(col("doc_id"), col("lang"), col("text"))
        .persist())

  /** Curation YIELD report — the one-row audit every corpus build logs:
    * how many documents survive each stage of [[corpusPipelineOn]]
    * (raw → repetition gate → canonical dedup → domain mix) and each
    * stage's yield against the raw corpus. Stage memberships are the
    * pipeline's own relations (same predicates, same quota cache), so
    * the report can never drift from the pipeline it describes.
    *
    * Scale shape: each count is a partial+final 1-row aggregate over
    * the corresponding stage relation, combined by 1-row cross joins
    * (the stats-broadcast pattern) — no corpus-sized exchange beyond
    * what the stages themselves pay, and the whole report is ONE
    * declarative plan. */
  def curationFunnelOn(documents: DataFrame): DataFrame = {
    val gated = gatedDocs(documents)
    val keepers = Dedup.canonicalKeepers(gated)
    val deduped = gated.join(keepers, "doc_id").select("doc_id", "lang")
    val mixed = domainMixDocsOn(deduped).select("doc_id")
    def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    def yld(num: Column) = when(col("n_raw") > 0,
      num.cast("double") / col("n_raw").cast("double"))
    n(documents, "n_raw")
      .crossJoin(n(gated, "n_gated"))
      .crossJoin(n(keepers, "n_deduped"))
      .crossJoin(n(mixed, "n_mixed"))
      .select(col("n_raw"), col("n_gated"), col("n_deduped"), col("n_mixed"),
        yld(col("n_gated")).as("yield_gated"),
        yld(col("n_deduped")).as("yield_deduped"),
        yld(col("n_mixed")).as("yield_mixed"))
  }

  def corpusPipeline(s: SparkSession, dir: String): DataFrame =
    corpusPipelineOn(Tables(s, dir, "documents"))

  /** The END-TO-END curation pipeline, composed from the suite's own
    * stages in the order a corpus build runs them:
    *
    *   1. Gopher repetition gate — scan-side quality kernels, inline
    *      predicate (no join; `lang`/`text` ride the projection);
    *   2. canonical-key dedup ([[Dedup.canonicalKeepers]]) keeping the
    *      minimum doc_id per normalized prefix — a partial-aggregated
    *      canon shuffle plus a uniform doc_id join;
    *   3. domain-mixture acceptance ([[domainMixDocsOn]]) over the
    *      SURVIVING corpus — quotas derive from what dedup kept, not
    *      from the raw table (mixing before dedup would re-skew the
    *      mixture by each domain's duplicate rate);
    *   4. training-order shard assignment ([[shuffleShardsOn]]).
    *
    * The composition is the point: every stage is a pure row property
    * or a keyed aggregate over the previous stage's output, so the
    * whole pipeline is ONE declarative plan — Catalyst pipelines the
    * quality kernels into the scan, the only corpus-sized exchanges
    * are the dedup shuffles and the final sort, and the mixture's
    * histogram/quota relation stays broadcast-tiny. Re-running any
    * stage over a corpus delta reproduces membership (every predicate
    * is deterministic in the row). */
  def corpusPipelineOn(documents: DataFrame): DataFrame = {
    val quality = gatedDocs(documents)
    val deduped = quality.join(Dedup.canonicalKeepers(quality), "doc_id")
      .select(col("doc_id"), col("lang"))
    shuffleShardsOn(domainMixDocsOn(deduped))
  }

  // ----------------------------------------------------------------
  // data-quality constraints (the Deequ/Delta-constraints ingest gate)
  // ----------------------------------------------------------------

  /** Declared language set for the [[dataQuality]] expectations — a
    * CHECK constraint is a declaration about the data, so the declared
    * set deliberately EXCLUDES one fixture language (zh): a constraint
    * suite in which every rule trivially passes pins only the no-op
    * path, and "the crawl grew a language the pipeline never declared"
    * is exactly the drift this gate exists to surface. */
  val DeclaredLangs: Seq[String] = Seq("en", "de", "fr", "es")

  /** Minimum declared document length (chars) for the same reason. */
  val MinDeclaredChars = 100L

  /** ONE-PASS data-quality CONSTRAINT CHECK — the validation gate every
    * ingest runs before data enters the corpus (Deequ's Check /
    * Delta's table constraints, as a declarative report): one row per
    * rule with its violation count and pass flag. ALL rules evaluate
    * in a SINGLE aggregate over one scan (conditional counts + one
    * distinct-count riding the same Expand, the [[Relational
    * .profileCustomer]] discipline) — never a scan per rule, which at
    * 100 TB is the difference between one pass and N. Row-level
    * violators are extracted (not just counted) by [[quarantine]]. */
  def dataQuality(s: SparkSession, dir: String): DataFrame =
    dataQualityOn(Tables(s, dir, "documents"))

  /** [[dataQuality]] over any (doc_id, text, lang, n_chars) frame —
    * the spec surface (planted-dirty fixtures). */
  def dataQualityOn(t: DataFrame): DataFrame = {
    val wide = t.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("v_key_not_null"),
      (sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)) -
        countDistinct(col("doc_id"))).as("v_key_unique"),
      sum(when(col("text").isNull || length(trim(col("text"))) === 0,
        1L).otherwise(0L)).as("v_text_not_empty"),
      sum(when(!(col("n_chars") <=> length(col("text"))), 1L)
        .otherwise(0L)).as("v_chars_consistent"),
      sum(when(col("lang").isNull ||
        !col("lang").isin(DeclaredLangs: _*), 1L).otherwise(0L))
        .as("v_lang_declared"),
      sum(when(col("n_chars") < MinDeclaredChars, 1L).otherwise(0L))
        .as("v_text_min_chars"))
    val rules = Seq("key_not_null", "key_unique", "text_not_empty",
      "chars_consistent", "lang_declared", "text_min_chars")
    val stackArgs = rules.map(r => s"'$r', v_$r").mkString(", ")
    wide.selectExpr("n_rows",
        s"stack(${rules.length}, $stackArgs) AS (rule, n_violations)")
      .select(col("rule"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
      .orderBy("rule")
  }

  /** QUARANTINE split — the row-level half of [[dataQuality]]: every
    * document violating at least one row-level rule, with the sorted
    * list of violated rules as its quarantine reason (the
    * dead-letter relation an ingest pipeline writes aside instead of
    * silently dropping). Duplicate keys quarantine EVERY copy (the
    * pipeline cannot know which is authoritative). Plan shape: all
    * rules except duplication are scan-side predicates; duplication is
    * one window count over the uniform key — a single shuffle, same
    * class as exact dedup. */
  def quarantine(s: SparkSession, dir: String): DataFrame =
    quarantineOn(Tables(s, dir, "documents"))

  /** The sorted violated-rule list for one row: every row-local rule,
    * plus `key_duplicate` when a duplication signal is supplied (a
    * window count in batch; a STREAM has no retrospective count — its
    * duplicate handling is the stateful dedup stage, so the streaming
    * face passes None). */
  private[graft] def rowQualityReasons(dupCnt: Option[Column]): Column =
    array_sort(filter(array(
      (Seq(
        when(col("doc_id").isNull, lit("key_not_null"))) ++
        dupCnt.map(c => when(c > 1, lit("key_duplicate"))).toSeq ++ Seq(
        when(col("text").isNull || length(trim(col("text"))) === 0,
          lit("text_not_empty")),
        when(!(col("n_chars") <=> length(col("text"))),
          lit("chars_consistent")),
        when(col("lang").isNull || !col("lang").isin(DeclaredLangs: _*),
          lit("lang_declared")),
        when(col("n_chars") < MinDeclaredChars,
          lit("text_min_chars")))): _*),
      x => x.isNotNull))

  /** [[quarantine]]'s frame-level surface. The reason list is emitted
    * PIPE-JOINED (`a|b`), not as an array: declared outputs keep every
    * column scalar so any downstream comparator can sort/hash cells
    * (the [[graft.operators.Dedup.minhashSignatures]] band-flattening
    * discipline). NULL keys sort FIRST on both engines by explicit
    * request — the key_not_null violators this operator exists to
    * surface must not depend on engine default null placement. */
  def quarantineOn(t: DataFrame): DataFrame = {
    val reasons = rowQualityReasons(
      Some(count(lit(1)).over(Window.partitionBy(col("doc_id")))))
    t.select(col("doc_id"), col("lang"), col("n_chars"),
        reasons.as("reason_list"))
      .where(size(col("reason_list")) > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_join(col("reason_list"), "|").as("reasons"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** PII patterns — deliberately restricted to constructs with
    * IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB):
    * explicit ASCII classes, bounded quantifiers, `\b`/`\d` (ASCII in
    * both), no lookaround, no Unicode classes. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub — the C4/Dolma redaction stage: count and replace
    * email addresses and IPv4 literals per document. Pure scan-side
    * projection (regexp match + replace are row-local); the only
    * shuffle is the output sort.
    *
    * The declared query plants one synthetic email + IP per row
    * ([[piiAugment]]) because the fixture corpus is lowercase
    * word-salad with no digits — without the marker the oracle would
    * only pin the no-match path. With it, every row exercises
    * match + replace parity across both regex engines, on real text
    * surroundings. */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    piiScrubOn(piiAugment(Tables(s, dir, "documents")))

  /** Appends a deterministic synthetic contact line per document. */
  private def piiAugment(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"), lit(" now")).as("text"))

  /** [[piiScrub]] over any (doc_id, text) frame — the spec surface.
    * Redaction is sequential (emails first, then IPs on the
    * email-redacted text), and EACH COUNT DESCRIBES ITS OWN PASS:
    * n_emails counts matches on the original text (exactly what the
    * first replace consumes), n_ips counts matches on the
    * email-redacted text (exactly what the second replace consumes).
    * Counting both on the original would let the passes disagree with
    * the counts — an email can swallow a counted IP
    * (`a@1.2.3.4.com`), and a replacement boundary can manufacture an
    * IP match that was never counted. With pass-scoped counts,
    * `n_emails + n_ips` always equals the number of `<EMAIL>`/`<IP>`
    * tokens in clean_text (spec-pinned). */
  def piiScrubOn(documents: DataFrame): DataFrame = {
    // Each pass is ONE fused count+replace matcher walk
    // (CountReplaceExpr) instead of a regexp_count + regexp_replace
    // pair — 4 full-document regex walks down to 2. optBarrier keeps
    // CollapseProject from inlining the struct into per-field copies
    // (codegen CSE would usually rescue that, but the barrier makes
    // single evaluation a plan property, not a codegen one).
    import graft.functions.TextHashExpressions.{countReplace, optBarrier}
    documents
      .select(col("doc_id"),
        optBarrier(countReplace(col("text"), EmailPat, "<EMAIL>"))
          .as("er"))
      .select(col("doc_id"), col("er.n").as("n_emails"),
        optBarrier(countReplace(col("er.replaced"), Ipv4Pat, "<IP>"))
          .as("ir"))
      .select(col("doc_id"), col("n_emails"),
        col("ir.n").as("n_ips"), col("ir.replaced").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Overlapping word-window chunking: the ingest stage that produces
    * the reference's chunk table (its documents arrive pre-chunked;
    * this is the step upstream). Windows of `chunkWords` words every
    * `step` words, 1-based chunk_idx (the reference's Q6 convention),
    * emitted via posexplode — scan-side, no shuffle before the output
    * sort. */
  def chunkDocuments(s: SparkSession, dir: String,
      chunkWords: Int = 64, step: Int = 48): DataFrame = {
    // optBarrier: the emptiness gate otherwise re-tokenizes every
    // document inside the substituted Filter (2 tokenize evals/row)
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextHashExpressions
        .optBarrier(words(col("text"))).as("ws"))
      .where(size(col("ws")) > 0)
      // n_chunks = ceil(max(n - chunk, 0) / step) + 1 — enough windows
      // to cover the tail; integer arithmetic only
      .withColumn("n_chunks",
        (greatest(size(col("ws")) - chunkWords, lit(0)) + (step - 1))
          .divide(step).cast("int") + 1)
    d.select(col("doc_id"), col("ws"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => i * step)).as(Seq("pos", "start")))
      .select(col("doc_id"),
        (col("pos") + 1).as("chunk_idx"), // 1-based (reference Q6)
        col("start").cast("long").as("start_word"),
        size(slice(col("ws"), col("start") + 1, lit(chunkWords)))
          .as("n_words"),
        concat_ws(" ", slice(col("ws"), col("start") + 1, lit(chunkWords)))
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Span-dedup knobs: non-overlapping [[SpanWords]]-word spans; a span
    * seen in more than [[SpanMaxDf]] DISTINCT documents is boilerplate. */
  val SpanWords = 3
  val SpanMaxDf = 3

  /** C4-style cross-document span deduplication (boilerplate removal).
    * C4 drops any three-sentence span duplicated across the corpus;
    * RefinedWeb's line dedup is the same shape over lines. Over
    * unstructured text the unit is a non-overlapping [[SpanWords]]-word
    * span: count each span's corpus-wide DOCUMENT frequency (distinct
    * docs, not occurrences — a doc repeating its own phrase is
    * repetition, `text_repetition`'s job, not boilerplate), drop spans
    * above [[SpanMaxDf]], reassemble each document from its surviving
    * spans in order. Documents whose every span is boilerplate drop out
    * entirely (that IS the C4 outcome for pure-boilerplate pages).
    *
    * Scale shape: one scan → one hash aggregate on span text (the only
    * corpus-wide shuffle), over-common spans are a small relation
    * (boilerplate is few distinct strings by definition — but it GROWS
    * with the corpus, so the anti-join broadcast is size-gated), then
    * one groupBy doc_id to reassemble. Never all-pairs, nothing
    * driver-side; the span explode is scan-side and re-derived on each
    * pass rather than persisted (recompute beats caching a corpus-sized
    * intermediate at 100 TB).
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    spanDedupOn(Tables(s, dir, "documents"), SpanWords, SpanMaxDf)

  /** [[spanDedup]] over an explicit documents frame (needs `doc_id`,
    * `text`) with explicit knobs — the spec surface. */
  def spanDedupOn(documents: DataFrame, spanWords: Int,
      maxDf: Int): DataFrame = {
    // optBarrier: same substituted-gate pathology as [[chunkDocuments]]
    // — and `spans` derives TWICE (boilerplate agg + reassembly join),
    // so the un-barriered shape paid 4 tokenize evals per row
    val spans = documents
      .select(col("doc_id"), graft.functions.TextHashExpressions
        .optBarrier(words(col("text"))).as("ws"))
      .where(size(col("ws")) > 0)
      // ceil(len/k) in integer arithmetic (positive, so cast truncation
      // is floor)
      .withColumn("n_spans",
        (size(col("ws")) + (spanWords - 1)).divide(spanWords).cast("long"))
      .select(col("doc_id"), col("n_spans"),
        posexplode(transform(
          sequence(lit(0), col("n_spans").cast("int") - 1),
          i => concat_ws(" ",
            slice(col("ws"), i * spanWords + 1, lit(spanWords)))))
          .as(Seq("span_idx", "span_text")))
    val boilerplate = spans.groupBy("span_text")
      .agg(countDistinct(col("doc_id")).as("span_df"))
      .where(col("span_df") > maxDf)
      .select("span_text")
    spans.join(VectorSearch.broadcastIfSmall(boilerplate),
        Seq("span_text"), "left_anti")
      .groupBy("doc_id")
      .agg(min(col("n_spans")).as("n_spans"),
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("span_idx"), col("span_text")))),
          x => x.getField("span_text"))).as("clean_text"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // hashed-feature linear quality classifier (model inference)
  // ------------------------------------------------------------------

  /** Feature-space size of the hashing-trick classifier — a power of
    * two so bucketing is a bit mask (no `%`: ANSI `%` inside a HOF
    * lambda marks elements nullable, the repo's join-key invariant). */
  val QmBuckets = 256

  /** Acceptance threshold on the mean per-word weight ("logit"). */
  val QmThreshold = 0.0

  /** Weight of one word-hash under the stand-in model: bucket =
    * `h & 255`, weight = `((bucket*37 + 11) & 255) - 128` — an affine
    * permutation of the bucket space into [-128, 127]. Integer-exact
    * in both engines; the real-model seam is exactly here (see
    * [[qualityModelOn]]). */
  private def qmWeight(h: Column): Column =
    (h.bitwiseAND(lit(255L)) * lit(37L) + lit(11L))
      .bitwiseAND(lit(255L)) - lit(128L)

  /** MODEL-INFERENCE stage — the fasttext-style hashed-bag-of-words
    * linear quality classifier every modern curation pipeline runs
    * (DCLM's fasttext filter, FineWeb-Edu's quality scorer), expressed
    * as pure scan-side arithmetic: per-word polynomial hashes (the
    * fused codegen kernel) → hash-bucket features (bit mask) → weight
    * lookup → sequential integer fold; the "logit" is the mean
    * per-word weight (ONE final double division, null-guarded), and
    * the gate is a row predicate on it. Zero shuffles except the
    * output sort; at 100 TB this runs inside the ingest scan like the
    * Gopher gate.
    *
    * The weights here are a deterministic affine stand-in
    * ([[qmWeight]]) so the oracle stays integer-exact — a TRAINED
    * model drops in at that seam unchanged: real fasttext/logistic
    * weights are model METADATA (64 KiB for 2^16 buckets — the
    * [[Ann.codebook]] plan-constant class), baked in as a literal
    * array lookup (`element_at(lit(weights), bucket + 1)`) with the
    * identical hash → bucket → fold plumbing and plan shape. */
  def qualityModel(s: SparkSession, dir: String): DataFrame =
    qualityModelOn(Tables(s, dir, "documents"))

  /** [[qualityModel]]'s frame-level surface. */
  def qualityModelOn(t: DataFrame): DataFrame =
    qualityModelScored(t, qmWeight)

  /** [[qualityModelOn]] with EXPLICIT per-bucket weights — the
    * trained-model seam made concrete: `weights` (length
    * [[QmBuckets]]) is model metadata baked into the plan as one
    * literal array (the [[Ann.codebook]] plan-constant discipline),
    * and each word's bucket indexes it with `element_at` — identical
    * hash → bucket → fold plumbing and plan shape as the stand-in
    * (PipelineSpec pins the equivalence when `weights` IS the affine
    * table). Swap in real fasttext/logistic weights here. */
  def qualityModelWeightedOn(t: DataFrame, weights: Seq[Long]): DataFrame = {
    require(weights.size == QmBuckets,
      s"need $QmBuckets per-bucket weights, got ${weights.size}")
    val wlit = typedLit(weights)
    qualityModelScored(t, h => element_at(wlit,
      (h.bitwiseAND(lit((QmBuckets - 1).toLong)) + lit(1L)).cast("int")))
  }

  private def qualityModelScored(t: DataFrame,
      weightOf: Column => Column): DataFrame = {
    import graft.functions.TextHashExpressions
    t.select(col("doc_id"), col("lang"),
        TextHashExpressions.wordHashes(words(col("text"))).as("hs"))
      .select(col("doc_id"), col("lang"),
        size(col("hs")).cast("long").as("n_words"),
        aggregate(col("hs"), lit(0L), (acc, h) => acc + weightOf(h))
          .as("score_raw"))
      .withColumn("logit", when(col("n_words") > 0,
        col("score_raw").cast("double") / col("n_words").cast("double")))
      .withColumn("pass",
        coalesce(col("logit") >= lit(QmThreshold), lit(false)))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // oracles
  // ------------------------------------------------------------------

  private val W = wordsSql("text")

  /** Shared CTE stack for the mixture oracles — the same integer
    * quota derivation as [[mixQuotas]], spelled in DuckDB, over an
    * arbitrary source relation (the composed-pipeline oracle feeds it
    * a filtered CTE instead of the raw table). */
  private def mixOracleCtes(src: String = "documents"): String =
    s"""h AS (
       |  SELECT doc_id, coalesce(lang, chr(0)) AS lang_key,
       |    ((doc_id % $SampleMod) * $SampleMult + $SampleAdd) % $SampleMod
       |      % $MixBuckets AS hb
       |  FROM $src),
       |hist AS (
       |  SELECT lang_key, hb, count(*) AS n FROM h GROUP BY lang_key, hb),
       |d AS (
       |  SELECT lang_key, CAST(sum(n) AS BIGINT) AS n_total,
       |    CAST(CASE WHEN lang_key = 'en' THEN $MixEnWeight
       |              ELSE $MixOtherWeight END AS BIGINT) AS weight
       |  FROM hist GROUP BY lang_key),
       |q1 AS (SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_total
       |  FROM d),
       |q2 AS (SELECT *,
       |    CAST(min(n_total * w_total // weight) OVER () AS BIGINT) AS n_star
       |  FROM q1),
       |q AS (SELECT *, CAST(n_star * weight // w_total AS BIGINT) AS quota
       |  FROM q2),
       |k AS (
       |  SELECT lang_key, n_total, weight, quota,
       |    CAST(sum(CASE WHEN hb * n_total < quota * $MixBuckets
       |      THEN n ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM hist JOIN q USING (lang_key)
       |  GROUP BY lang_key, n_total, weight, quota)""".stripMargin

  /** DuckDB CASE mirroring [[overTenthsCol]]. */
  private def overCaseSql: String =
    "CASE source " +
      OverWeightTenths.map { case (s, t) => s"WHEN '$s' THEN $t" }
        .mkString(" ") +
      s" ELSE $OverDefaultTenths END"

  /** Shared oracle CTE `c` — the per-doc copy count, ≡ [[nCopiesCol]]
    * (integer arithmetic only, so the twin derivations cannot drift). */
  private def overCopiesCteSql: String =
    s"""w AS (
       |  SELECT doc_id, source, $overCaseSql AS w_tenths,
       |    ((doc_id % $SampleMod) * $OverMult + $OverAdd)
       |      % $SampleMod % 10 AS h10
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, w_tenths,
       |    CAST(w_tenths // 10
       |      + CASE WHEN h10 < w_tenths % 10 THEN 1 ELSE 0 END
       |      AS BIGINT) AS n_copies
       |  FROM w)""".stripMargin

  /** Curriculum phase boundaries: quartile targets over the document
    * word-count distribution. */
  val CurriculumPcts: Seq[Int] = Seq(25, 50, 75)

  /** CURRICULUM split audit — the shortest-first length curriculum
    * (train on short documents first, lengthen over phases): every
    * document gets a phase 1-4 from its word count against the corpus
    * quartiles, reported as per-phase counts and length ranges.
    *
    * Scale shape: the naive formulation is ntile() over a GLOBAL sort
    * — a single-partition window that dies at corpus scale. Here the
    * boundaries are EXACT order statistics from the distributed
    * histogram-narrowing selection ([[Events.exactQuantilesOn]], no
    * global sort, ≤ buckets cells to the driver per round), and phase
    * membership is then a pure row predicate: 1 + #(thresholds
    * strictly below the doc's count). Docs AT a boundary value stay in
    * the lower phase — membership is a function of the VALUE, so the
    * split is deterministic under any row order and any partitioning
    * (ntile's remainder handling is not). Duplicate threshold values
    * (a narrow distribution) simply leave middle phases empty, in both
    * engines. */
  def curriculumPhases(s: SparkSession, dir: String): DataFrame = {
    // the protocol caches its own input for its rounds
    // ([[Events.exactQuantilesOn]]), so the counts tokenize once there
    // and once more for the final per-phase aggregate — the floor for
    // any formulation; no caller-side persist on top.
    // optBarrier: the n_words > 0 gate otherwise re-tokenizes every
    // document inside the substituted Filter (2 tokenize evals/row on
    // each pass)
    val v = Tables(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextHashExpressions
        .optBarrier(size(words(col("text"))).cast("long")).as("n_words"))
      .where(col("n_words") > 0)
    val thresholds = Events.exactQuantilesOn(v.select(col("n_words")),
        "n_words", pcts = CurriculumPcts)
      .collect().map(_.getAs[Long]("n_words")).sorted
    val phase = thresholds.foldLeft(lit(1)) { (acc, t) =>
      acc + when(col("n_words") > t, 1).otherwise(0) }
    v.select(col("doc_id"), col("n_words"), phase.cast("int").as("phase"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_words")).as("min_words"),
        max(col("n_words")).as("max_words"),
        sum(col("n_words")).as("sum_words"))
      .orderBy("phase")
  }

  /** TOKEN-weighted document-length percentiles — "the length below
    * which half the TOKENS live", the statistic that sizes packing
    * budgets and truncation cutoffs (doc-COUNT percentiles misstate it
    * badly on long-tailed corpora: most documents are short, most
    * tokens live in long ones). Value = weight = the word count, via
    * [[Events.weightedQuantilesOn]]'s integer narrowing protocol. */
  def tokenWeightedLengths(s: SparkSession, dir: String): DataFrame = {
    // cache the TOKENIZED counts for the protocol's duration — each
    // narrowing round otherwise re-tokenizes the corpus (the protocol
    // fully materializes its local result before the unpersist)
    val v = Tables(s, dir, "documents")
      .select(graft.functions.TextHashExpressions
        .optBarrier(size(words(col("text"))).cast("long")).as("n_words"))
      .where(col("n_words") > 0).persist()
    try Events.weightedQuantilesOn(v, "n_words", "n_words")
    finally { v.unpersist(); () }
  }

  /** [[tokenWeightedLengths]] PER LANGUAGE — the mixture-design view
    * (every language's token-mass length profile from the same
    * protocol run; all languages share each round's scan). */
  def tokenWeightedLengthsByLang(s: SparkSession, dir: String): DataFrame = {
    val v = Tables(s, dir, "documents")
      .select(col("lang"), graft.functions.TextHashExpressions
        .optBarrier(size(words(col("text"))).cast("long")).as("n_words"))
      .where(col("n_words") > 0 && col("lang").isNotNull).persist()
    try Events.groupWeightedQuantilesOn(v, "lang", "n_words", "n_words")
    finally { v.unpersist(); () }
  }

  /** The percentile grid a MIXTURE design actually reads off
    * ([[tokenWeightedLengthsByLang]] at arbitrary targets): how token
    * mass distributes across document lengths per language, at the
    * quartile+tail grid rather than the monitoring protocol's fixed
    * p50/p90/p99 — the grouped weighted core is pcts-parametric, so
    * any grid is one protocol run with all languages sharing each
    * round's scan. */
  val MixturePcts: Seq[Int] = Seq(10, 25, 50, 75, 90)

  def tokenWeightedDecilesByLang(s: SparkSession, dir: String): DataFrame = {
    val v = Tables(s, dir, "documents")
      .select(col("lang"), graft.functions.TextHashExpressions
        .optBarrier(size(words(col("text"))).cast("long")).as("n_words"))
      .where(col("n_words") > 0 && col("lang").isNotNull).persist()
    try Events.groupWeightedQuantilesOn(v, "lang", "n_words", "n_words",
      pcts = MixturePcts)
    finally { v.unpersist(); () }
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("pl_token_weighted_by_lang",
      s"""WITH v AS (
         |  SELECT lang, CAST(len($W) AS BIGINT) AS n_words FROM documents
         |  WHERE len($W) > 0 AND lang IS NOT NULL),
         |t AS (SELECT lang, CAST(sum(n_words) AS BIGINT) AS tw
         |  FROM v GROUP BY lang),
         |k AS (SELECT t.lang, p,
         |  CAST((t.tw * p + 99) // 100 AS BIGINT) AS k
         |  FROM (VALUES (50), (90), (99)) AS q(p), t),
         |c AS (SELECT lang, n_words,
         |  sum(n_words) OVER (PARTITION BY lang ORDER BY n_words) AS cw
         |  FROM v)
         |SELECT k.lang, k.p AS pct, k.k AS k, min(c.n_words) AS n_words
         |FROM k JOIN c ON c.lang = k.lang AND c.cw >= k.k
         |GROUP BY k.lang, k.p, k.k ORDER BY k.lang, pct""".stripMargin)(
      (s, dir) => tokenWeightedLengthsByLang(s, dir)),

    // the same grouped weighted protocol at an ARBITRARY target grid
    // (quartiles + tails) — the mixture-design query; one run, all
    // languages and all targets share each round's scan
    QueryDef.sql("pl_token_weighted_deciles", {
      val pvals = MixturePcts.map(p => s"($p)").mkString(", ")
      s"""WITH v AS (
         |  SELECT lang, CAST(len($W) AS BIGINT) AS n_words FROM documents
         |  WHERE len($W) > 0 AND lang IS NOT NULL),
         |t AS (SELECT lang, CAST(sum(n_words) AS BIGINT) AS tw
         |  FROM v GROUP BY lang),
         |k AS (SELECT t.lang, p,
         |  CAST((t.tw * p + 99) // 100 AS BIGINT) AS k
         |  FROM (VALUES $pvals) AS q(p), t),
         |c AS (SELECT lang, n_words,
         |  sum(n_words) OVER (PARTITION BY lang ORDER BY n_words) AS cw
         |  FROM v)
         |SELECT k.lang, k.p AS pct, k.k AS k, min(c.n_words) AS n_words
         |FROM k JOIN c ON c.lang = k.lang AND c.cw >= k.k
         |GROUP BY k.lang, k.p, k.k ORDER BY k.lang, pct""".stripMargin})(
      (s, dir) => tokenWeightedDecilesByLang(s, dir)),

    QueryDef.sql("pl_token_weighted_len",
      s"""WITH v AS (
         |  SELECT CAST(len($W) AS BIGINT) AS n_words FROM documents
         |  WHERE len($W) > 0),
         |t AS (SELECT CAST(sum(n_words) AS BIGINT) AS tw FROM v),
         |k AS (SELECT p, CAST((t.tw * p + 99) // 100 AS BIGINT) AS k
         |  FROM (VALUES (50), (90), (99)) AS q(p), t),
         |c AS (SELECT n_words,
         |  sum(n_words) OVER (ORDER BY n_words) AS cw FROM v)
         |SELECT k.p AS pct, k.k AS k, min(c.n_words) AS n_words
         |FROM k JOIN c ON c.cw >= k.k
         |GROUP BY k.p, k.k ORDER BY pct""".stripMargin)(
      (s, dir) => tokenWeightedLengths(s, dir)),

    QueryDef.sql("pl_curriculum", {
      val pvals = CurriculumPcts.map(p => s"($p)").mkString(", ")
      s"""WITH v AS (
         |  SELECT doc_id, CAST(len($W) AS BIGINT) AS n_words
         |  FROM documents WHERE len($W) > 0),
         |n AS (SELECT count(*) AS n FROM v),
         |r AS (SELECT n_words, row_number() OVER (ORDER BY n_words) AS rn
         |  FROM v),
         |t AS (SELECT p, (n.n * p + 99) // 100 AS k
         |  FROM (VALUES $pvals) AS q(p), n),
         |thr AS (SELECT t.p, r.n_words AS tv FROM t JOIN r ON r.rn = t.k),
         |ph AS (SELECT v.doc_id, v.n_words,
         |    CAST(1 + (SELECT count(*) FROM thr WHERE v.n_words > thr.tv)
         |      AS INT) AS phase
         |  FROM v)
         |SELECT phase, count(*) AS n_docs, min(n_words) AS min_words,
         |  max(n_words) AS max_words, CAST(sum(n_words) AS BIGINT)
         |    AS sum_words
         |FROM ph GROUP BY phase ORDER BY phase""".stripMargin
    }) { (s, dir) => curriculumPhases(s, dir) },

    QueryDef.sql("pl_train_test_split",
      """WITH s AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
        |    CASE WHEN doc_id % 10 < 8 THEN 'train'
        |         WHEN doc_id % 10 = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin)(trainTestSplit),

    QueryDef.sql("pl_stratified_sample",
      """SELECT lang, count(*) AS n_total,
        |  count(*) FILTER (doc_id % 7 = 0) AS n_sampled,
        |  CAST(count(*) FILTER (doc_id % 7 = 0) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS sample_rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)(
      stratifiedSample),

    QueryDef.sql("pl_sequence_pack", {
      val bpe = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform($W, w ->
        |      CAST(floor((length(w) + 3) / 4.0E0) AS BIGINT))),
        |    (a, x) -> a + x)""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, lang, $bpe AS tokens FROM documents),
         |p AS (
         |  SELECT doc_id, lang, tokens,
         |    CAST(coalesce(SUM(tokens) OVER (PARTITION BY lang
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, lang, tokens,
         |  CAST(cum_before // 2048 AS BIGINT) AS pack_id,
         |  CAST(cum_before % 2048 AS BIGINT) AS pack_offset
         |FROM p ORDER BY doc_id""".stripMargin
    })((s, dir) => sequencePack(s, dir)),

    QueryDef.sql("pl_pack_stats", {
      val bpe = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform($W, w ->
        |      CAST(floor((length(w) + 3) / 4.0E0) AS BIGINT))),
        |    (a, x) -> a + x)""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, lang, $bpe AS tokens FROM documents),
         |p AS (
         |  SELECT doc_id, lang, tokens,
         |    CAST(coalesce(SUM(tokens) OVER (PARTITION BY lang
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM t),
         |packed AS (
         |  SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS pack_id,
         |    tokens FROM p),
         |per_pack AS (
         |  SELECT lang, pack_id, count(*) AS n_docs,
         |    CAST(sum(tokens) AS BIGINT) AS pack_tokens
         |  FROM packed GROUP BY lang, pack_id)
         |SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  count(*) AS n_packs,
         |  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
         |  max(pack_tokens) AS max_pack_tokens,
         |  CAST(sum(CASE WHEN pack_tokens > 2048 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overflow,
         |  CAST(sum(pack_tokens) AS DOUBLE) /
         |    CAST(count(*) * 2048 AS DOUBLE) AS utilization
         |FROM per_pack GROUP BY lang
         |ORDER BY lang ASC NULLS FIRST""".stripMargin
    })((s, dir) => packStats(s, dir)),

    QueryDef.sql("pl_gopher_filter",
      s"""WITH ${TextAnalysis.repetitionRelationSql}
         |SELECT doc_id, n_words, top_word_share, dup_bigram_frac
         |FROM rep
         |WHERE ${gateSql()}
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) => gopherFilter(s, dir)),

    QueryDef.sql("pl_bottomk_sample",
      s"""SELECT doc_id, lang, n_chars,
         |  ((doc_id % $SampleMod) * $SampleMult + $SampleAdd) % $SampleMod
         |    AS hkey
         |FROM documents
         |ORDER BY hkey, doc_id LIMIT 100""".stripMargin)(
      (s, dir) => bottomKSample(s, dir)),

    QueryDef.sql("pl_shuffle_shards",
      s"""SELECT doc_id, lang,
         |  CAST(((doc_id % $SampleMod) * $ShuffleMult + $ShuffleAdd)
         |    % $SampleMod % $ShardCount AS INT) AS shard,
         |  ((doc_id % $SampleMod) * $ShuffleMult + $ShuffleAdd)
         |    % $SampleMod AS skey
         |FROM documents
         |ORDER BY shard, skey, doc_id""".stripMargin)(
      (s, dir) => shuffleShards(s, dir)),

    QueryDef.sql("pl_oversample", {
      s"""WITH $overCopiesCteSql
         |SELECT source, count(*) AS n_docs, min(w_tenths) AS w_tenths,
         |  CAST(sum(n_copies) AS BIGINT) AS n_rows,
         |  CAST(sum(n_copies) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS realized_epochs
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    })((s, dir) => oversample(s, dir)),

    QueryDef.sql("pl_oversample_docs", {
      s"""WITH $overCopiesCteSql,
         |r AS (
         |  SELECT doc_id, source, w_tenths,
         |    unnest(range(n_copies)) AS copy
         |  FROM c)
         |SELECT doc_id, source, w_tenths, copy,
         |  (((doc_id * $OverMaxCopies + copy) % $SampleMod)
         |      * $ShuffleMult + $ShuffleAdd) % $SampleMod AS tkey
         |FROM r ORDER BY doc_id, copy""".stripMargin
    })((s, dir) => oversampleDocs(s, dir)),

    QueryDef.sql("pl_chunk_documents",
      s"""WITH d AS (
         |  SELECT doc_id, $W AS ws FROM documents WHERE len($W) > 0),
         |n AS (
         |  SELECT doc_id, ws,
         |    CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS INT) + 1
         |      AS n_chunks
         |  FROM d),
         |e AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS k FROM n)
         |SELECT doc_id, CAST(k + 1 AS INT) AS chunk_idx,
         |  CAST(k * 48 AS BIGINT) AS start_word,
         |  CAST(len(list_slice(ws, k*48 + 1, k*48 + 64)) AS INT) AS n_words,
         |  array_to_string(list_slice(ws, k*48 + 1, k*48 + 64), ' ')
         |    AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin)(
      (s, dir) => chunkDocuments(s, dir)),

    QueryDef.sql("pl_span_dedup",
      s"""WITH d AS (
         |  SELECT doc_id, $W AS ws FROM documents WHERE len($W) > 0),
         |n AS (
         |  SELECT doc_id, ws,
         |    CAST((len(ws) + ${SpanWords - 1}) // $SpanWords AS BIGINT)
         |      AS n_spans
         |  FROM d),
         |s AS (
         |  SELECT doc_id, n_spans, ws, unnest(range(0, n_spans)) AS i
         |  FROM n),
         |spans AS (
         |  SELECT doc_id, n_spans, i,
         |    array_to_string(
         |      list_slice(ws, i*$SpanWords + 1, i*$SpanWords + $SpanWords),
         |      ' ') AS span_text
         |  FROM s),
         |b AS (
         |  SELECT span_text FROM spans GROUP BY span_text
         |  HAVING count(DISTINCT doc_id) > $SpanMaxDf),
         |kept AS (SELECT * FROM spans ANTI JOIN b USING (span_text))
         |SELECT doc_id, min(n_spans) AS n_spans,
         |  count(*) AS n_kept,
         |  string_agg(span_text, ' ' ORDER BY i) AS clean_text
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin)(
      (s, dir) => spanDedup(s, dir)),

    QueryDef.sql("pl_domain_mix",
      s"""WITH ${mixOracleCtes()}
         |SELECT CASE WHEN lang_key = chr(0) THEN NULL ELSE lang_key END
         |    AS lang,
         |  n_total, weight, quota, n_kept,
         |  CASE WHEN sum(n_kept) OVER () > 0 THEN
         |    CAST(n_kept AS DOUBLE) / CAST(sum(n_kept) OVER () AS DOUBLE)
         |  END AS realized_share
         |FROM k ORDER BY lang NULLS FIRST""".stripMargin)(
      (s, dir) => domainMix(s, dir)),

    QueryDef.sql("pl_domain_mix_docs",
      s"""WITH ${mixOracleCtes()}
         |SELECT doc_id,
         |  CASE WHEN lang_key = chr(0) THEN NULL ELSE lang_key END AS lang,
         |  hb
         |FROM h JOIN q USING (lang_key)
         |WHERE hb * n_total < quota * $MixBuckets
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) => domainMixDocs(s, dir)),

    QueryDef.sql("pl_temperature_mix",
      s"""WITH h AS (
         |  SELECT doc_id, coalesce(source, chr(0)) AS domain,
         |    ((doc_id % $SampleMod) * $SampleMult + $SampleAdd) % $SampleMod
         |      % $MixBuckets AS hb
         |  FROM documents),
         |hist AS (SELECT domain, hb, count(*) AS n FROM h GROUP BY domain, hb),
         |d AS (SELECT domain, CAST(sum(n) AS BIGINT) AS n_total
         |  FROM hist GROUP BY domain),
         |d2 AS (SELECT *, sqrt(CAST(n_total AS DOUBLE)) AS w FROM d),
         |ws AS (SELECT
         |    list_reduce(list_prepend(0.0E0, list(w ORDER BY domain)),
         |      (a, x) -> a + x) AS w_sum,
         |    CAST(sum(n_total) AS BIGINT) AS n_corpus
         |  FROM d2),
         |p AS (SELECT d2.*, ws.w_sum, ws.n_corpus,
         |    CAST(n_total AS DOUBLE) / CAST(n_corpus AS DOUBLE) AS share_raw,
         |    w / w_sum AS share_target
         |  FROM d2 CROSS JOIN ws),
         |c AS (SELECT *, CAST(floor(CAST(n_total AS DOUBLE) / share_target)
         |    AS BIGINT) AS cap FROM p),
         |c2 AS (SELECT *, CAST(min(cap) OVER () AS BIGINT) AS n_star FROM c),
         |q AS (SELECT *, CAST(floor(CAST(n_star AS DOUBLE) * share_target)
         |    AS BIGINT) AS quota FROM c2),
         |k AS (SELECT domain, n_total, share_raw, share_target, quota,
         |    CAST(sum(CASE WHEN hb * n_total < quota * $MixBuckets
         |      THEN n ELSE 0 END) AS BIGINT) AS n_kept
         |  FROM hist JOIN q USING (domain)
         |  GROUP BY domain, n_total, share_raw, share_target, quota)
         |SELECT CASE WHEN domain = chr(0) THEN NULL ELSE domain END
         |    AS domain,
         |  n_total, share_raw, share_target, quota, n_kept,
         |  CASE WHEN sum(n_kept) OVER () > 0 THEN
         |    CAST(n_kept AS DOUBLE) /
         |      CAST(CAST(sum(n_kept) OVER () AS BIGINT) AS DOUBLE)
         |  END AS realized_share
         |FROM k ORDER BY domain NULLS FIRST""".stripMargin)(
      (s, dir) => temperatureMix(s, dir)),

    QueryDef.sql("pl_temperature_mix_docs",
      s"""WITH h AS (
         |  SELECT doc_id, coalesce(source, chr(0)) AS domain,
         |    ((doc_id % $SampleMod) * $SampleMult + $SampleAdd) % $SampleMod
         |      % $MixBuckets AS hb
         |  FROM documents),
         |hist AS (SELECT domain, hb, count(*) AS n FROM h GROUP BY domain, hb),
         |d AS (SELECT domain, CAST(sum(n) AS BIGINT) AS n_total
         |  FROM hist GROUP BY domain),
         |d2 AS (SELECT *, sqrt(CAST(n_total AS DOUBLE)) AS w FROM d),
         |ws AS (SELECT
         |    list_reduce(list_prepend(0.0E0, list(w ORDER BY domain)),
         |      (a, x) -> a + x) AS w_sum
         |  FROM d2),
         |p AS (SELECT d2.*, w / w_sum AS share_target
         |  FROM d2 CROSS JOIN ws),
         |c AS (SELECT *, CAST(floor(CAST(n_total AS DOUBLE) / share_target)
         |    AS BIGINT) AS cap FROM p),
         |c2 AS (SELECT *, CAST(min(cap) OVER () AS BIGINT) AS n_star FROM c),
         |q AS (SELECT *, CAST(floor(CAST(n_star AS DOUBLE) * share_target)
         |    AS BIGINT) AS quota FROM c2)
         |SELECT doc_id,
         |  CASE WHEN domain = chr(0) THEN NULL ELSE domain END AS domain,
         |  hb
         |FROM h JOIN q USING (domain)
         |WHERE hb * n_total < quota * $MixBuckets
         |ORDER BY doc_id""".stripMargin)(
      (s, dir) => temperatureMixDocs(s, dir)),

    QueryDef.sql("pl_token_mix", {
      val bpe = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform($W, w ->
        |      CAST(floor((length(w) + 3) / 4.0E0) AS BIGINT))),
        |    (a, x) -> a + x)""".stripMargin
      s"""WITH h AS (
         |  SELECT coalesce(lang, chr(0)) AS lang_key,
         |    ((doc_id % $SampleMod) * $SampleMult + $SampleAdd)
         |      % $SampleMod % $TokenMixBuckets AS hb,
         |    $bpe AS tokens
         |  FROM documents),
         |hist AS (
         |  SELECT lang_key, hb, CAST(sum(tokens) AS BIGINT) AS tok,
         |    count(*) AS n
         |  FROM h GROUP BY lang_key, hb),
         |d AS (
         |  SELECT lang_key, CAST(sum(tok) AS BIGINT) AS tok_total,
         |    CAST(CASE WHEN lang_key = 'en' THEN $MixEnWeight
         |              ELSE $MixOtherWeight END AS BIGINT) AS weight
         |  FROM hist GROUP BY lang_key),
         |q1 AS (SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_total
         |  FROM d),
         |q2 AS (SELECT *,
         |    CAST(min(tok_total * w_total // weight) OVER () AS BIGINT)
         |      AS t_star
         |  FROM q1),
         |q AS (SELECT lang_key, tok_total, weight,
         |    CAST(t_star * weight // w_total AS BIGINT) AS quota_tok
         |  FROM q2),
         |c AS (SELECT lang_key, hb, tok, n,
         |    CAST(coalesce(SUM(tok) OVER (PARTITION BY lang_key
         |      ORDER BY hb
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM hist),
         |k AS (SELECT q.lang_key, q.tok_total, q.weight, q.quota_tok,
         |    CAST(sum(CASE WHEN cum_before < quota_tok THEN n ELSE 0 END)
         |      AS BIGINT) AS n_kept,
         |    CAST(sum(CASE WHEN cum_before < quota_tok THEN tok ELSE 0 END)
         |      AS BIGINT) AS kept_tokens
         |  FROM c JOIN q USING (lang_key)
         |  GROUP BY q.lang_key, q.tok_total, q.weight, q.quota_tok)
         |SELECT CASE WHEN lang_key = chr(0) THEN NULL ELSE lang_key END
         |    AS lang,
         |  tok_total, weight, quota_tok, n_kept, kept_tokens,
         |  CASE WHEN sum(kept_tokens) OVER () > 0 THEN
         |    CAST(kept_tokens AS DOUBLE) /
         |      CAST(sum(kept_tokens) OVER () AS DOUBLE)
         |  END AS realized_share
         |FROM k ORDER BY lang NULLS FIRST""".stripMargin
    })((s, dir) => tokenMix(s, dir)),

    QueryDef.sql("pl_token_mix_docs", {
      val bpe = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform($W, w ->
        |      CAST(floor((length(w) + 3) / 4.0E0) AS BIGINT))),
        |    (a, x) -> a + x)""".stripMargin
      s"""WITH h AS (
         |  SELECT doc_id, coalesce(lang, chr(0)) AS lang_key,
         |    ((doc_id % $SampleMod) * $SampleMult + $SampleAdd)
         |      % $SampleMod % $TokenMixBuckets AS hb,
         |    $bpe AS tokens
         |  FROM documents),
         |hist AS (
         |  SELECT lang_key, hb, CAST(sum(tokens) AS BIGINT) AS tok
         |  FROM h GROUP BY lang_key, hb),
         |d AS (
         |  SELECT lang_key, CAST(sum(tok) AS BIGINT) AS tok_total,
         |    CAST(CASE WHEN lang_key = 'en' THEN $MixEnWeight
         |              ELSE $MixOtherWeight END AS BIGINT) AS weight
         |  FROM hist GROUP BY lang_key),
         |q1 AS (SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_total
         |  FROM d),
         |q2 AS (SELECT *,
         |    CAST(min(tok_total * w_total // weight) OVER () AS BIGINT)
         |      AS t_star
         |  FROM q1),
         |q AS (SELECT lang_key,
         |    CAST(t_star * weight // w_total AS BIGINT) AS quota_tok
         |  FROM q2),
         |acc AS (
         |  SELECT lang_key, hb
         |  FROM (SELECT lang_key, hb,
         |      CAST(coalesce(SUM(tok) OVER (PARTITION BY lang_key
         |        ORDER BY hb
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS cum_before
         |    FROM hist) c JOIN q USING (lang_key)
         |  WHERE cum_before < quota_tok)
         |SELECT h.doc_id,
         |  CASE WHEN h.lang_key = chr(0) THEN NULL ELSE h.lang_key END
         |    AS lang,
         |  h.hb
         |FROM h JOIN acc ON h.lang_key = acc.lang_key AND h.hb = acc.hb
         |ORDER BY doc_id""".stripMargin
    })((s, dir) => tokenMixDocs(s, dir)),

    QueryDef.sql("pl_negative_pairs",
      s"""WITH r AS (
         |  SELECT doc_id, coalesce(lang, chr(0)) AS lang_key,
         |    ((doc_id % $SampleMod) * $SampleMult + $SampleAdd)
         |      % $SampleMod % $NegBuckets AS hb,
         |    ((doc_id % $SampleMod) * $ShuffleMult + $ShuffleAdd)
         |      % $SampleMod AS skey
         |  FROM documents),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang_key, hb
         |      ORDER BY skey, doc_id) - 1 AS rn,
         |    count(*) OVER (PARTITION BY lang_key, hb) AS cnt
         |  FROM r),
         |a AS (
         |  SELECT doc_id, lang_key, hb, rn, cnt,
         |    unnest(range(1, $NegK + 1)) AS j
         |  FROM rk WHERE doc_id % $NegAnchorMod = 0 AND cnt > 1),
         |p AS (
         |  SELECT doc_id, lang_key, hb, CAST(j AS INT) AS j,
         |    (rn + j) % cnt AS nrn
         |  FROM a WHERE j <= least($NegK, cnt - 1))
         |SELECT p.doc_id,
         |  CASE WHEN p.lang_key = chr(0) THEN NULL ELSE p.lang_key END
         |    AS lang,
         |  p.j, rk.doc_id AS neg_doc_id
         |FROM p JOIN rk ON p.lang_key = rk.lang_key AND p.hb = rk.hb
         |  AND p.nrn = rk.rn
         |ORDER BY p.doc_id, p.j""".stripMargin)(
      (s, dir) => negativePairs(s, dir)),

    QueryDef.sql("pl_corpus_pipeline",
      s"""WITH ${TextAnalysis.repetitionRelationSql},
         |surv AS (
         |  SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN rep USING (doc_id)
         |  WHERE ${gateSql("rep.")}),
         |cn AS (
         |  SELECT doc_id, lang,
         |    substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |      1, 128) AS canon
         |  FROM surv),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM cn GROUP BY canon),
         |base AS (SELECT cn.doc_id, cn.lang FROM cn JOIN keepers USING (doc_id)),
         |${mixOracleCtes("base")},
         |mixed AS (
         |  SELECT doc_id, lang_key FROM h JOIN q USING (lang_key)
         |  WHERE hb * n_total < quota * $MixBuckets)
         |SELECT doc_id,
         |  CASE WHEN lang_key = chr(0) THEN NULL ELSE lang_key END AS lang,
         |  CAST(((doc_id % $SampleMod) * $ShuffleMult + $ShuffleAdd)
         |    % $SampleMod % $ShardCount AS INT) AS shard,
         |  ((doc_id % $SampleMod) * $ShuffleMult + $ShuffleAdd)
         |    % $SampleMod AS skey
         |FROM mixed
         |ORDER BY shard, skey, doc_id""".stripMargin)(
      (s, dir) => corpusPipeline(s, dir)),

    QueryDef.sql("pl_curation_funnel",
      s"""WITH ${TextAnalysis.repetitionRelationSql},
         |g AS (
         |  SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN rep USING (doc_id)
         |  WHERE ${gateSql("rep.")}),
         |kp AS (
         |  SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id,
         |      substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |        1, 128) AS canon
         |    FROM g)
         |  GROUP BY canon),
         |base AS (SELECT g.doc_id, g.lang FROM g JOIN kp USING (doc_id)),
         |${mixOracleCtes("base")},
         |mx AS (
         |  SELECT doc_id FROM h JOIN q USING (lang_key)
         |  WHERE hb * n_total < quota * $MixBuckets),
         |c AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_raw,
         |    (SELECT count(*) FROM g) AS n_gated,
         |    (SELECT count(*) FROM kp) AS n_deduped,
         |    (SELECT count(*) FROM mx) AS n_mixed)
         |SELECT n_raw, n_gated, n_deduped, n_mixed,
         |  CASE WHEN n_raw > 0 THEN
         |    CAST(n_gated AS DOUBLE) / CAST(n_raw AS DOUBLE) END
         |    AS yield_gated,
         |  CASE WHEN n_raw > 0 THEN
         |    CAST(n_deduped AS DOUBLE) / CAST(n_raw AS DOUBLE) END
         |    AS yield_deduped,
         |  CASE WHEN n_raw > 0 THEN
         |    CAST(n_mixed AS DOUBLE) / CAST(n_raw AS DOUBLE) END
         |    AS yield_mixed
         |FROM c""".stripMargin)(
      (s, dir) => curationFunnel(s, dir)),

    QueryDef.sql("pl_data_quality", {
      val langs = DeclaredLangs.map(l => s"'$l'").mkString(", ")
      s"""WITH agg AS (
         |  SELECT count(*) AS n_rows,
         |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
         |      AS v_key_not_null,
         |    sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      - count(DISTINCT doc_id) AS v_key_unique,
         |    sum(CASE WHEN text IS NULL OR length(trim(text)) = 0
         |      THEN 1 ELSE 0 END) AS v_text_not_empty,
         |    sum(CASE WHEN n_chars IS DISTINCT FROM length(text)
         |      THEN 1 ELSE 0 END) AS v_chars_consistent,
         |    sum(CASE WHEN lang IS NULL OR lang NOT IN ($langs)
         |      THEN 1 ELSE 0 END) AS v_lang_declared,
         |    sum(CASE WHEN n_chars < $MinDeclaredChars THEN 1 ELSE 0 END)
         |      AS v_text_min_chars
         |  FROM documents)
         |SELECT rule, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
         |  n_violations = 0 AS pass
         |FROM (
         |  SELECT 'key_not_null' AS rule, n_rows,
         |    v_key_not_null AS n_violations FROM agg
         |  UNION ALL SELECT 'key_unique', n_rows, v_key_unique FROM agg
         |  UNION ALL SELECT 'text_not_empty', n_rows, v_text_not_empty
         |    FROM agg
         |  UNION ALL SELECT 'chars_consistent', n_rows, v_chars_consistent
         |    FROM agg
         |  UNION ALL SELECT 'lang_declared', n_rows, v_lang_declared
         |    FROM agg
         |  UNION ALL SELECT 'text_min_chars', n_rows, v_text_min_chars
         |    FROM agg)
         |ORDER BY rule""".stripMargin
    }) { (s, dir) => dataQuality(s, dir) },

    QueryDef.sql("pl_quarantine", {
      val langs = DeclaredLangs.map(l => s"'$l'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, lang, n_chars, text,
         |    count(*) OVER (PARTITION BY doc_id) AS dup_cnt
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, n_chars,
         |    list_sort(list_filter([
         |      CASE WHEN doc_id IS NULL THEN 'key_not_null' END,
         |      CASE WHEN dup_cnt > 1 THEN 'key_duplicate' END,
         |      CASE WHEN text IS NULL OR length(trim(text)) = 0
         |        THEN 'text_not_empty' END,
         |      CASE WHEN n_chars IS DISTINCT FROM length(text)
         |        THEN 'chars_consistent' END,
         |      CASE WHEN lang IS NULL OR lang NOT IN ($langs)
         |        THEN 'lang_declared' END,
         |      CASE WHEN n_chars < $MinDeclaredChars
         |        THEN 'text_min_chars' END
         |    ], x -> x IS NOT NULL)) AS reason_list
         |  FROM d)
         |SELECT doc_id, lang, n_chars,
         |  array_to_string(reason_list, '|') AS reasons FROM r
         |WHERE len(reason_list) > 0
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
    }) { (s, dir) => quarantine(s, dir) },

    QueryDef.sql("pl_pii_scrub",
      s"""WITH a AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com from 10.'
         |      || CAST(doc_id % 256 AS VARCHAR) || '.0.'
         |      || CAST(doc_id % 100 AS VARCHAR) || ' now' AS text
         |  FROM documents),
         |e AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT)
         |      AS n_emails,
         |    regexp_replace(text, '$EmailPat', '<EMAIL>', 'g') AS no_email
         |  FROM a)
         |SELECT doc_id, n_emails,
         |  CAST(len(regexp_extract_all(no_email, '$Ipv4Pat')) AS BIGINT)
         |    AS n_ips,
         |  regexp_replace(no_email, '$Ipv4Pat', '<IP>', 'g') AS clean_text
         |FROM e ORDER BY doc_id""".stripMargin)(
      (s, dir) => piiScrub(s, dir)),

    QueryDef.sql("pl_quality_filter", {
      val stops = markerCountSql(W, Stopwords("en"))
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(len($W) AS BIGINT) AS n_words,
         |    $stops AS n_stopwords,
         |    sha256(text) AS h
         |  FROM documents),
         |k AS (
         |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY h) AS keeper,
         |    CASE WHEN n_words > 0 THEN
         |      CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE) END
         |      AS stop_ratio
         |  FROM q)
         |SELECT doc_id, lang, n_words, n_stopwords, stop_ratio
         |FROM k
         |WHERE n_words >= 30 AND stop_ratio >= 0.05E0 AND keeper
         |ORDER BY doc_id""".stripMargin
    })((s, dir) => qualityFilter(s, dir)),

    QueryDef.sql("pl_quality_model",
      // the same hash -> bucket -> affine weight -> sequential fold,
      // all bigint bit/arithmetic ops (exact both engines); ONE double
      // division at the end, null-guarded (ANSI /0)
      s"""WITH w AS (
         |  SELECT doc_id, lang, ${polyHashAllSql(W)} AS hs
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, lang, CAST(len(hs) AS BIGINT) AS n_words,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
         |      (acc, h) -> acc + ((((h & 255) * 37 + 11) & 255) - 128))
         |      AS score_raw
         |  FROM w),
         |g AS (
         |  SELECT doc_id, lang, n_words, score_raw,
         |    CASE WHEN n_words > 0 THEN
         |      CAST(score_raw AS DOUBLE) / CAST(n_words AS DOUBLE) END
         |      AS logit
         |  FROM s)
         |SELECT doc_id, lang, n_words, score_raw, logit,
         |  coalesce(logit >= 0.0E0, false) AS pass
         |FROM g ORDER BY doc_id""".stripMargin)(
      (s, dir) => qualityModel(s, dir))
  )
}
