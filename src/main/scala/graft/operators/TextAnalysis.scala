package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._

/** Scan-side text analysis for LLM training-data pipelines: token
  * statistics, quality scoring, heuristic language ID, and document
  * fingerprinting. All four are single-pass projections over the
  * `documents` table — no shuffle, no state; at 100 TB they run at scan
  * speed and their cost is the parquet read (only `doc_id`,`lang`,`text`
  * columns are projected). The reference engine has no text operators at
  * all (SURVEY.md §2.2) — these are the north-star extensions.
  */
object TextAnalysis {

  /** Tokenization + counting: whitespace words, distinct words, a
    * BPE-ish subword estimate (ceil(len/4) per word — the "~4 chars per
    * token" rule), character counts. One fused codegen pass over the
    * word array (WordStatsExpr) instead of three interpreted HOF
    * traversals — at 100 TB this is the difference between scan-speed
    * and lambda-dispatch-bound. */
  def tokenStats(documents: DataFrame): DataFrame = {
    val st = graft.functions.TextHashExpressions.wordStats(words(col("text")))
    documents
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"), st.as("st"))
      .select(
        col("doc_id"),
        col("lang"),
        col("st.n_words").as("n_words"),
        col("st.n_distinct_words").as("n_distinct_words"),
        col("n_chars"),
        col("st.sum_word_len").as("sum_word_len"),
        col("st.bpe_tokens").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Quality scoring: character-class ratios + stopword density + a
    * bounded length reward, combined in a fixed-order double formula.
    * The char-class counts are ONE fused byte-scan kernel
    * (CharClassStatsExpr) — the regexp_replace formulation allocated two
    * filtered copies of every document per row just to measure their
    * lengths, which at 100 TB doubles the scan's allocation rate. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val cs = graft.functions.TextHashExpressions.charClassStats(col("text"))
    val counted = documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      cs.as("cs"),
      size(ws).cast("long").as("n_words"),
      markerCount(ws, Stopwords("en")).as("n_stopwords"))
    // guard: ANSI mode (Spark 4 default) throws DIVIDE_BY_ZERO on empty
    // docs; ratios are null when undefined (0 words / 0 chars)
    val alphaRatio = when(col("n_chars") > 0,
      col("cs.n_alpha").cast("double") / col("n_chars").cast("double"))
    val stopRatio = when(col("n_words") > 0,
      col("n_stopwords").cast("double") / col("n_words").cast("double"))
    val lenReward = least(lit(1.0), col("n_words").cast("double") / lit(100.0))
    counted.select(
      col("doc_id"),
      col("n_chars"),
      col("cs.n_alpha").as("n_alpha"),
      col("cs.n_spaces").as("n_spaces"),
      col("n_words"),
      col("n_stopwords"),
      alphaRatio.as("alpha_ratio"),
      stopRatio.as("stopword_ratio"),
      (alphaRatio * 0.5 + stopRatio * 0.3 + lenReward * 0.2).as("quality_score")
    ).orderBy("doc_id")
  }

  /** Fixed-priority argmax over per-language scores (en>de>es>fr on
    * ties) — ONE definition shared by both language-ID variants, with
    * [[argmaxLangSql]] as its SQL twin (edit both together: the oracle
    * equality depends on them agreeing). */
  private def argmaxLang(en: Column, de: Column, es: Column, fr: Column): Column =
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")

  private val argmaxLangSql: String =
    """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END""".stripMargin

  /** Heuristic language ID: marker-stopword counts per language, argmax
    * with fixed priority en > de > es > fr on ties. */
  def languageId(documents: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val s = Seq("en", "de", "es", "fr").map(l =>
      l -> markerCount(ws, Stopwords(l)))
    val Seq(en, de, es, fr) = s.map(_._2)
    val predicted = argmaxLang(en, de, es, fr)
    documents.select(
      col("doc_id"), col("lang"),
      en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
      predicted.as("predicted")
    ).orderBy("doc_id")
  }

  /** Tiny per-language character-trigram profiles (ASCII; in production
    * these are learned from a labeled corpus — hundreds of trigrams per
    * language; the mechanism is identical). */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "ing", "ion", "ent", "th ", " th"),
    "de" -> Seq("der", "sch", "ein", "ich", "und", "en ", "ch "),
    "es" -> Seq("que", "los", "con", "aci", "ado", "de ", " de"),
    "fr" -> Seq("les", "que", "ent", "eur", "ais", "le ", " le"))

  /** Language ID via CHARACTER n-gram profiles — the classic n-gram
    * heuristic (vs [[languageId]]'s stopword markers): count each
    * language profile's trigrams among the document's overlapping char
    * trigrams, argmax with the same fixed en>de>es>fr tie priority.
    * All four counts come from ONE byte walk per row
    * ([[graft.functions.CharNgramCountsExpr]]): no per-character or
    * per-trigram strings, and each window is looked up once for every
    * profile. It counts exactly what the split-into-characters /
    * join-into-trigrams / per-profile marker-count chain counts
    * (PropertySpec pins the two equal). */
  def languageIdNgram(documents: DataFrame): DataFrame = {
    val counts = graft.functions.TextHashExpressions
      .charNgramCounts(col("text"), 3, TrigramProfiles.map(_._2))
    val scored = documents.select(col("doc_id"), col("lang"),
      counts.as("cnt"))
    val Seq(en, de, es, fr) = TrigramProfiles.indices.map(col("cnt")(_))
    scored.select(col("doc_id"), col("lang"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
        argmaxLang(en, de, es, fr).as("predicted"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: whole-text polynomial hash plus the
    * min-hash of 3-word shingles (the winnowing-style representative
    * fingerprint used for fast near-dup candidate lookup). */
  def fingerprint(documents: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val sh = graft.functions.TextHashExpressions.shingleHashes(ws, 3)
    documents.select(
      col("doc_id"),
      polyHash(normText(col("text"))).as("fp_text"),
      coalesce(array_min(sh), lit(-1L)).as("fp_min_shingle"),
      size(sh).cast("long").as("n_shingles")
    ).orderBy("doc_id")
  }

  /** Repetition statistics — the Gopher/C4-style quality signals that
    * catch boilerplate and degenerate generation: the share of the
    * document consumed by its single most frequent word, and the
    * fraction of duplicated word-bigrams. Both are pure scan-side
    * array math (no shuffle, no state). The top-word count is a SORT +
    * RUN-LENGTH fold — O(n log n) per document — not the obvious
    * `distinct × filter` nesting, which is O(n·distinct) and turns a
    * single 100k-word document into ~10^9 lambda evaluations; per-doc
    * cost must stay near-linear in doc length for the corpus scan to
    * be scan-speed. The fold's state is a (prev, run, best) struct of
    * lambda-variable slot reads (not the re-evaluated-subtree HOF
    * pitfall). */
  def repetitionStats(documents: DataFrame): DataFrame =
    repetitionStatsCore(documents, Nil).orderBy("doc_id")

  /** [[repetitionStats]] WITHOUT the output sort and with pass-through
    * columns — the composition surface: a consumer that filters on the
    * signals (the Gopher gate, the corpus pipeline) must not pay a
    * corpus-wide range exchange it immediately destroys (the optimizer
    * does NOT eliminate an intermediate global sort under a window's
    * hash exchange — measured on the composed-pipeline plan). */
  private[operators] def repetitionStatsCore(documents: DataFrame,
      keep: Seq[String]): DataFrame = {
    val ws = words(col("text"))
    val st = graft.functions.TextHashExpressions.wordStats(ws)
    // ONE fused codegen pass computes all three repetition signals
    // (top-word multiplicity, bigram count, distinct bigram count) —
    // the previous composed form paid an interpreted struct-fold over
    // the sorted words (HOFs are CodegenFallback) plus a materialized
    // bigram-string array traversed twice. Semantics bitwise identical
    // (kernel scaladoc); NULL text still yields the oracle's
    // LEFT JOIN + coalesce shape: top_word_count coalesces to 0, the
    // bigram columns and fractions stay NULL.
    val rep = graft.functions.TextHashExpressions.repetitionSignals(col("ws"))
    // every computed signal is aliased through the zero-cost
    // nondeterministic barrier: a consumer's gate predicate then
    // evaluates these as ATTRIBUTES of this projection instead of
    // being substituted below it, where the CASE WHEN-guarded terms
    // are exempt from codegen subexpression elimination and the text
    // kernels re-ran 4-6x per row (measured on the gopher gate; the
    // predicate never reached the parquet scan anyway — computed
    // columns prune nothing). doc_id and pass-through columns stay
    // plain so their predicates still push to the scan.
    val b = graft.functions.TextHashExpressions.optBarrier _
    documents
      .select(col("doc_id") +: keep.map(col) :+ ws.as("ws") :+
        st.getField("n_words").as("n_words") :+
        st.getField("n_distinct_words").as("n_distinct_words"): _*)
      .withColumn("rep", rep)
      .select(col("doc_id") +: keep.map(col) :+ b(col("n_words")).as("n_words") :+
        b(col("n_distinct_words")).as("n_distinct_words") :+
        b(coalesce(col("rep.top_word_count"), lit(0L))).as("top_word_count") :+
        b(when(col("n_words") > 0,
          coalesce(col("rep.top_word_count"), lit(0L)).cast("double") /
            col("n_words").cast("double"))).as("top_word_share") :+
        b(col("rep.n_bigrams")).as("n_bigrams") :+
        b(col("rep.n_distinct_bigrams")).as("n_distinct_bigrams") :+
        b(when(col("rep.n_bigrams") > 0,
          (col("rep.n_bigrams") - col("rep.n_distinct_bigrams"))
            .cast("double") / col("rep.n_bigrams").cast("double")))
          .as("dup_bigram_frac"): _*)
  }

  /** Term-frequency / document-frequency table: top-3 terms per document
    * by in-doc count, each with its corpus document frequency — the
    * integer-exact core of TF-IDF (the log-weighted score is left to the
    * caller: cross-engine `ln` is not bitwise-reproducible, counts are).
    * Shape: explode -> two hash aggregations -> ranking window; the df
    * side is a broadcast back-join on the word. */
  def wordFreq(documents: DataFrame, topN: Int = 3): DataFrame = {
    val terms = documents
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("word"))
    // the df relation is VOCABULARY-cardinality — sublinear in the
    // corpus (Heaps' law) but unbounded; size-gate the broadcast so a
    // 100 TB vocabulary degrades to a shuffle join on the word instead
    // of OOMing the driver
    tf.join(VectorSearch.broadcastIfSmall(df), "word")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topN)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Vocabulary size for [[oovRate]] — deliberately BELOW the fixture's
    * 31-word vocabulary so the out-of-vocabulary signal is real (a
    * production corpus uses ~10^5; the mechanism is identical). */
  val OovVocabSize = 16

  /** Out-of-vocabulary rate — the CCNet-style quality signal the
    * stopword-based [[qualityScore]] can't provide: score each document
    * by the fraction of its tokens OUTSIDE the corpus's own top-K
    * vocabulary (gibberish, code, boilerplate and non-target-language
    * text all surface as high OOV against a clean reference corpus).
    *
    * Two corpus passes by construction: (1) derive the vocabulary —
    * a word-count aggregate (uniform keys, map-side partials, shuffle
    * bounded by DISTINCT-word cardinality, Heaps-sublinear) topped to
    * [[OovVocabSize]] under the total (tf DESC, word) order both
    * engines share; (2) score — scan + broadcast semi-join against the
    * K-row vocabulary (fixed-size by config: unconditional broadcast is
    * correct) + one per-doc count aggregate. Total word counts ride the
    * fused [[graft.functions.TextHashExpressions.wordStats]] kernel, so
    * pass 2 explodes only for the vocabulary intersection. */
  def oovRate(documents: DataFrame): DataFrame = {
    val terms = documents
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val vocab = terms.groupBy("word").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word")).limit(OovVocabSize)
      .select("word")
    // The K-row vocabulary collapses to a ONE-ROW array relation that
    // rides a broadcast cross join (bm25On's stats pattern); scoring is
    // then a single scan-side projection — tokenize once per document
    // (optBarrier'd against gate substitution), n_words from the fused
    // word-stats kernel, n_in_vocab counted by an array filter against
    // the 16-element vocab array. The former explode + vocab join +
    // per-doc count aggregate + left join moved the whole token stream
    // through a shuffle to compute a per-doc counter that never needed
    // to leave the scan; values are identical (matched-token counts and
    // the same guarded division), and docs with zero in-vocab tokens
    // hit the coalesce(size, 0) exactly where the left-join miss used
    // to coalesce to 0.
    val vocabArr = vocab.agg(sort_array(collect_list(col("word")))
      .as("vocab_arr"))
    val ws = graft.functions.TextHashExpressions.optBarrier(
      words(col("text")))
    documents
      .select(col("doc_id"), ws.as("ws"))
      .crossJoin(broadcast(vocabArr))
      .select(col("doc_id"),
        graft.functions.TextHashExpressions.wordStats(col("ws"))
          .getField("n_words").as("n_words"),
        coalesce(
          size(filter(col("ws"),
            w => array_contains(col("vocab_arr"), w))).cast("long"),
          lit(0L)).as("n_in_vocab"))
      .select(col("doc_id"), col("n_words"), col("n_in_vocab"),
        when(col("n_words") > 0,
          (col("n_words") - col("n_in_vocab"))
            .cast("double") / col("n_words").cast("double"))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** BM25 knobs (classic Robertson defaults) and the fixed demo query
    * terms (in production the tokenized user query). The idf is the
    * RATIONAL Robertson–Spärck Jones core `(N − df + ½)/(df + ½)`
    * WITHOUT the usual log wrap: libm `log` is not bitwise-portable
    * across engines (the repo's float-determinism rules ban it), and
    * since log is monotone the per-term ranking is unchanged — only
    * the relative weighting across terms in the sum differs from
    * textbook BM25 (documented variant, spec-pinned). */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "merge")
  val Bm25TopK = 10

  def bm25(s: SparkSession, dir: String): DataFrame =
    bm25On(Tables(s, dir, "documents"), Bm25Terms, Bm25TopK)

  /** BM25-style ranked retrieval over any (doc_id, text) frame.
    *
    * Scale shape: ZERO corpus shuffles — pass 1 is one global
    * aggregate (N, Σdl, per-term df) collapsing to a single row that
    * rides a broadcast cross join; pass 2 computes tf/score as
    * scan-side array-kernel projections and feeds a shuffle-free
    * TakeOrderedAndProject top-k. No explode, no per-term join: for a
    * FIXED query the per-term tf is a column, not a relation. (The
    * inverted-index formulation — explode + df join — is [[wordFreq]];
    * this is the ranked-retrieval shape where the query is small and
    * the corpus is not.) All float arithmetic is literal-for-literal
    * mirrored in the oracle: IEEE ±·/ are correctly rounded in both
    * engines, so determinism needs only identical operand order. */
  def bm25On(documents: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    // optBarrier: the dl > 0 gate otherwise gets SUBSTITUTED below this
    // projection and re-tokenizes every document inside the Filter
    // (2 tokenize evals per row, ×2 again because `base` derives twice
    // — stats agg + scored)
    val base = documents
      .select(col("doc_id"),
        graft.functions.TextHashExpressions.optBarrier(words(col("text")))
          .as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
      .where(col("dl") > 0)
    val dfCols = terms.map(t =>
      sum(when(array_contains(col("ws"), t), 1L).otherwise(0L))
        .as(s"df_$t"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +: dfCols): _*)
    // per-term tf as an array kernel — the lambda captures only a
    // literal, so the HOF re-evaluation pitfall doesn't apply
    val tfCols = terms.map(t =>
      size(filter(col("ws"), w => w === lit(t))).cast("long").as(s"tf_$t"))
    // stats is exactly one row by construction — unconditionally
    // broadcastable
    val scored = base.crossJoin(broadcast(stats))
      .select(Seq(col("doc_id"), col("dl")) ++ tfCols ++
        Seq(col("n_docs"), col("sum_dl")) ++
        terms.map(t => col(s"df_$t")): _*)
    def termScore(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val df = col(s"df_$t").cast("double")
      val idf = (col("n_docs").cast("double") - df + lit(0.5)) /
        (df + lit(0.5))
      val avgdl = col("sum_dl").cast("double") /
        col("n_docs").cast("double")
      // norm = (1 − b) + b·dl/avgdl with b = 0.75 pre-folded to 0.25:
      // computing 1 − 0.75 at runtime vs parsing the literal 0.25 can
      // differ from a literal by an ulp — both engines get LITERALS
      val norm = lit(0.25) + lit(0.75) *
        (col("dl").cast("double") / avgdl)
      // k1 = 1.2, k1+1 pre-folded to the literal 2.2 for the same reason
      idf * (tf * lit(2.2)) / (tf + lit(1.2) * norm)
    }
    scored
      .withColumn("score",
        terms.map(termScore).reduceLeft(_ + _))
      .select(col("doc_id") +: col("dl") +:
        terms.map(t => col(s"tf_$t")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Query SUITE for the relation-shaped BM25 ([[bm25Multi]]): the
    * multi-query regime a training-data pipeline actually runs
    * (millions of decontamination/eval probes, not three hardcoded
    * terms). Includes the fixed demo's terms, an overlapping second
    * query, a stopword-heavy one, and a no-hit probe (which must
    * yield zero rows, not a fault). */
  val Bm25QuerySuite: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join", 1L -> "merge",
    2L -> "data", 2L -> "join",
    3L -> "the", 3L -> "of",
    4L -> "zxqvjkwpt")

  def bm25Multi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25MultiOn(Tables(s, dir, "documents"),
      Bm25QuerySuite.toDF("query_id", "term"), Bm25TopK)
  }

  /** BM25 where the QUERY SIDE IS A RELATION (query_id, term) — the
    * inverted-index formulation [[bm25On]]'s scaladoc points to for
    * query sets too large to live in the plan.
    *
    * Scale shape: the corpus shuffles ONCE, onto (doc_id, word), to
    * build per-document term frequencies; the query suite then joins
    * INTO that relation through [[VectorSearch.broadcastIfSmall]] — a
    * benchmark-suite-sized relation broadcasts (hash join, no corpus
    * movement), a corpus-derived query side degrades to a shuffle
    * join, which is then the only correct plan. Document frequencies
    * come from a window over the HITS relation (suite terms only) —
    * never a vocabulary-wide join. Scoring folds each document's
    * matched terms in sorted order (sequential left fold, the repo's
    * float-determinism rule) against the same rational-idf,
    * literal-folded arithmetic as [[bm25On]]; corpus stats ride a
    * 1-row broadcast. */
  def bm25MultiOn(documents: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    // optBarrier: same substituted-gate pathology as [[bm25On]], ×2
    // because `base` derives twice (stats agg + tf explode)
    val base = documents
      .select(col("doc_id"),
        graft.functions.TextHashExpressions.optBarrier(words(col("text")))
          .as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
      .where(col("dl") > 0)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("word"))
      .groupBy("doc_id", "dl", "word")
      .agg(count(lit(1)).as("tf"))
    bm25Rank(tf, queries, stats, k)
  }

  /** The ranking tail shared by the compute-on-scan ([[bm25MultiOn]])
    * and stored-index ([[bm25StoredTopK]]) faces: takes the per-(doc,
    * word) tf relation however it was produced — recomputed from text
    * or read back from postings — plus the 1-row corpus stats, and
    * ranks. ONE shared code path is what makes the stored face
    * bitwise-equal to the scan face (same sorted sequential fold,
    * same literal-folded arithmetic). df is a window over the
    * semi-joined hits: exact as long as the tf relation contains ALL
    * of a matched word's postings (true trivially for the full
    * relation; true for the stored face because every posting carries
    * its word's hash bucket, so probing a term's bucket yields the
    * whole posting list — and a capped probe drops whole words, never
    * part of a list). */
  private def bm25Rank(tf: DataFrame, queries: DataFrame,
      stats: DataFrame, k: Int): DataFrame =
    scoreAndRank(bm25Hits(tf, queries), stats, k)

  /** The per-query HITS relation both ranking faces start from:
    * (query_id, doc_id, dl, word, tf, df) for every posting of a suite
    * term. */
  private def bm25Hits(tf: DataFrame, queries: DataFrame): DataFrame = {
    val qterms = queries.select(col("query_id"), col("term")).distinct()
    val suiteTerms = qterms.select(col("term")).distinct()
    val wWord = Window.partitionBy(col("word"))
    tf.join(VectorSearch.broadcastIfSmall(suiteTerms),
        col("word") === col("term"), "left_semi")
      // df(word) counted over the SEMI-joined hits: tf rows are
      // distinct (doc, word) pairs, so the per-word row count IS the
      // corpus document frequency — computed only for suite terms.
      // The semi-join must precede this window: counting after
      // attaching query_ids would double-count a document for every
      // query sharing the term
      .withColumn("df", count(lit(1)).over(wWord))
      .join(VectorSearch.broadcastIfSmall(qterms),
        col("word") === col("term"))
      .select(col("query_id"), col("doc_id"), col("dl"), col("word"),
        col("tf"), col("df"))
  }

  /** The exact scoring + ranking tail over a hits relation — ONE
    * definition, so [[bm25Rank]] and the impact-pruned [[wandRank]]
    * are bitwise-equal by construction (same sorted sequential fold,
    * same literal-folded arithmetic). */
  private def scoreAndRank(hits: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    hits
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(sort_array(collect_list(
        struct(col("word"), col("tf"), col("df")))).as("tl"))
      .crossJoin(broadcast(stats)) // exactly one row by construction
      .withColumn("nd", col("n_docs").cast("double"))
      .withColumn("norm", lit(0.25) + lit(0.75) *
        (col("dl").cast("double") /
          (col("sum_dl").cast("double") / col("nd"))))
      // sorted sequential fold: ((0 + s_1) + s_2) + ... — the oracle
      // mirrors the exact op order; the lambda captures only
      // ATTRIBUTES (nd, norm), per the HOF re-evaluation rule
      .withColumn("score", aggregate(col("tl"), lit(0.0), (acc, x) => {
        val tfv = x.getField("tf").cast("double")
        val dfv = x.getField("df").cast("double")
        val idf = (col("nd") - dfv + lit(0.5)) / (dfv + lit(0.5))
        acc + idf * (tfv * lit(2.2)) / (tfv + lit(1.2) * col("norm"))
      }))
      .withColumn("rnk", row_number().over(wq))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("dl"), col("score"),
        col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Seed-set width for the WAND prune threshold: the top-N
    * highest-impact terms per query whose docs get exact seed scores
    * (see [[wandParts]] for the any-width soundness argument). */
  val WandSeedTerms = 1

  /** The MATERIALIZED hits relation the WAND machinery fans out from,
    * memoized per (session, canonicalized tf plan, canonicalized
    * queries plan) — the [[graft.operators.Dedup]] shingle-cache
    * discipline: the relation feeds FOUR consumers per call (term
    * impacts, the seed threshold, the UB sum, the survivor scoring
    * tail), each pruning different columns, so ReuseExchange cannot
    * dedupe them — without materialization the postings probe + df
    * window runs ~4× per call (measured: the wand face cost ~4× the
    * plain probe) — AND the ranked face and its prune-rate audit probe
    * the same (index, suite) inputs, so the memo shares one
    * materialization across both. localCheckpoint cuts the lineage;
    * the relation is suite-terms-posting-bounded. The checkpoint
    * materializes PRE-PARTITIONED on (query_id, doc_id) — the
    * clustering three of the four consumers aggregate under (seed-doc
    * scoring, UB sum, survivor scoring all group by (query, doc, …),
    * and HashPartitioning(q, d) satisfies those
    * ClusteredDistributions) — so one shuffle paid at materialization
    * replaces three downstream hits-sized exchanges; only the
    * suite-bounded ti aggregate re-keys. Released by
    * [[releaseCaches]] (the [[PlanMemo]] eagerly drops the checkpoint
    * blocks); like every canonicalized-plan memo, rewriting
    * the underlying index files does NOT invalidate it — writers call
    * releaseCaches after maintenance. */
  private val wandHitsCache = new PlanMemo

  private def wandHits(tf: DataFrame, queries: DataFrame): DataFrame =
    wandHitsCache(Seq(tf, queries))(
      bm25Hits(tf, queries)
        .repartition(col("query_id"), col("doc_id"))
        .localCheckpoint())

  /** The candidate set and its impact-pruned survivor set — the WAND
    * machinery shared by [[wandRank]] and the prune-rate audit.
    * Returns (hits, survivors-as-(query_id, doc_id)). */
  private def wandParts(tf: DataFrame, queries: DataFrame,
      stats: DataFrame, k: Int, foldUb: Boolean = false,
      seedTerms: Int = WandSeedTerms): (DataFrame, DataFrame) = {
    val hits = wandHits(tf, queries)
    // per-(query, term) IMPACT upper bound: idf(df) × tf_norm at the
    // term's most favourable posting — the RATIONAL idf
    // (nd − df + 0.5)/(df + 0.5) is strictly positive (nd ≥ df), and
    // tf_norm is monotone ↑tf ↓dl, so idf · tf_norm(max_tf, min_dl)
    // dominates every posting. (A log-idf would go negative past
    // df > N/2 and invert that argument — this engine's rational form
    // never does; the greatest(0, ·) clamp is belt-and-braces.)
    // Suite-term-cardinality relation — broadcast class.
    // df/max_tf/min_dl are integer aggregates; the impact is a fixed
    // expression over them.
    val ti = hits.groupBy(col("query_id"), col("word"))
      .agg(max(col("df")).as("df"), max(col("tf")).as("max_tf"),
        min(col("dl")).as("min_dl"))
      .crossJoin(broadcast(stats)) // exactly one row by construction
      .withColumn("nd", col("n_docs").cast("double"))
      .withColumn("impact", greatest(lit(0.0),
        ((col("nd") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))) *
          (col("max_tf").cast("double") * lit(2.2)) /
          (col("max_tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("min_dl").cast("double") /
              (col("sum_dl").cast("double") / col("nd")))))))
      .select(col("query_id"), col("word"), col("impact"))
    // seed = each query's `seedTerms` highest-impact terms; their
    // matching docs get EXACT scores and the kth becomes the prune
    // threshold L. SOUND for ANY seed set: L is the kth-best of a
    // SUBSET of candidates, so L <= the true kth-best, and a true
    // top-k doc (score >= true kth >= L, UB >= score) always clears
    // the margin test. A LARGER seed can only raise L — tighter
    // pruning — at the cost of exactly scoring more seed docs.
    val wImp = Window.partitionBy(col("query_id"))
      .orderBy(col("impact").desc, col("word"))
    val seed = ti.withColumn("srnk", row_number().over(wImp))
      .where(col("srnk") <= seedTerms)
      .select(col("query_id").as("s_qid"), col("word").as("s_word"))
    val seedDocs = hits.join(broadcast(seed),
        col("query_id") === col("s_qid") && col("word") === col("s_word"))
      .select("query_id", "doc_id").distinct()
    val thresh = scoreAndRank(hits.join(
        VectorSearch.broadcastIfSmall(seedDocs),
        Seq("query_id", "doc_id"), "left_semi"), stats, k)
      .where(col("rnk") === k)
      .select(col("query_id").as("t_qid"), col("score").as("l_score"))
    // per-(query, doc) upper bound = Σ matched-term impacts — a plain
    // map-side-combinable sum, no arrays, no sort: the mass the prune
    // then keeps OUT of the collect_list/fold/rank stage. The float
    // sum's partial order varies with partitioning, so the prune test
    // carries a relative+absolute margin (~1e-6, ulp noise is ~1e-16
    // relative): a true top-k doc can never be margin-pruned, and any
    // extra survivors are re-scored exactly — output identical either
    // way.
    val imp = hits.join(broadcast(ti.select(col("query_id").as("i_qid"),
        col("word").as("i_word"), col("impact"))),
        col("query_id") === col("i_qid") && col("word") === col("i_word"))
    // foldUb = the CANONICAL-order UB for the declared audit face: a
    // sorted sequential fold over the doc's matched-term impacts is
    // deterministic and cross-engine exact (the repo's float rule), so
    // `text_wand_stats` can sit under the DuckDB oracle. The
    // production prune keeps the plain map-side-combinable sum — no
    // arrays for the pruned mass, which is the whole point — and its
    // order noise is margin-absorbed: only docs within ~1e-16 relative
    // of the margin boundary could decide differently between the two
    // forms, and either decision is provably harmless for results.
    val ub =
      if (foldUb) imp
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sort_array(collect_list(
          struct(col("word"), col("impact")))).as("il"))
        .withColumn("ub", aggregate(col("il"), lit(0.0),
          (acc, x) => acc + x.getField("impact")))
        .select(col("query_id"), col("doc_id"), col("ub"))
      else imp
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("impact")).as("ub"))
    val survivors = ub.join(broadcast(thresh),
        col("query_id") === col("t_qid"), "left_outer")
      .where(col("l_score").isNull ||
        col("ub") * lit(1.000001) + lit(1e-12) >= col("l_score"))
      .select("query_id", "doc_id")
    (hits, survivors)
  }

  /** WAND/threshold-algorithm style impact-ordered top-k — the
    * production-IR pruning discipline the stored index's honest-limits
    * note calls for, PROOF-based so results are bitwise [[bm25Rank]]'s
    * under the same oracle: a document is dropped only when an UPPER
    * BOUND on its score (Σ per-term impact bounds) sits below the kth
    * EXACT score of the top-impact term's documents — score ≤ UB <
    * L ≤ kth-best means it cannot place. Survivors (and only they) go
    * through the exact collect/fold/rank tail. At 100 TB the win is
    * the stopword tail: documents matching ONLY low-impact terms never
    * reach the array-building aggregate — they cost one
    * map-side-combined sum instead. */
  private[graft] def wandRank(tf: DataFrame, queries: DataFrame,
      stats: DataFrame, k: Int,
      seedTerms: Int = WandSeedTerms): DataFrame = {
    val (hits, survivors) =
      wandParts(tf, queries, stats, k, foldUb = false, seedTerms)
    scoreAndRank(hits.join(VectorSearch.broadcastIfSmall(survivors),
      Seq("query_id", "doc_id"), "left_semi"), stats, k)
  }

  /** Prune-rate audit for the WAND path: per query, candidate docs vs
    * impact-surviving docs — the every-approximate-path-ships-its-
    * measurement discipline applied to the prune (invisible in results
    * by design, so the rate is the only observable). Declared as
    * `text_wand_stats` under a full DuckDB re-derivation; uses the
    * canonical-order (fold) UB so the survivor decision is
    * deterministic (see [[wandParts]]). */
  private[graft] def wandPruneStats(tf: DataFrame, queries: DataFrame,
      stats: DataFrame, k: Int,
      seedTerms: Int = WandSeedTerms): DataFrame = {
    val (hits, survivors) =
      wandParts(tf, queries, stats, k, foldUb = true, seedTerms)
    hits.select("query_id", "doc_id").distinct()
      .groupBy("query_id").agg(count(lit(1)).as("n_candidates"))
      .join(survivors.groupBy("query_id")
        .agg(count(lit(1)).as("n_survivors")), Seq("query_id"))
      .orderBy("query_id")
  }

  /** [[wandPruneStats]] over the stored index's probe — the declared
    * `text_wand_stats` face. */
  private[graft] def wandStatsStored(s: SparkSession, tablePath: String,
      queries: Seq[(Long, String)], k: Int,
      seedTerms: Int = WandSeedTerms): DataFrame = {
    import s.implicits._
    val (tf, stats) = indexProbe(s, tablePath, Some(queries.map(_._2)))
    wandPruneStats(tf, queries.toDF("query_id", "term"), stats, k,
      seedTerms)
  }

  /** DuckDB oracle for the fixed-terms BM25 ([[bm25On]]) — used by
    * `text_bm25` and composed by `vs_rrf_fusion`'s oracle (the lexical
    * ranking half of reciprocal-rank fusion). */
  private[operators] def bm25OracleSql(terms: Seq[String],
      k: Int): String = {
    val termSql = terms.map { t =>
      s"""(((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5E0)
         |    / (CAST(df_$t AS DOUBLE) + 0.5E0))
         |  * (CAST(tf_$t AS DOUBLE) * 2.2E0))
         |/ (CAST(tf_$t AS DOUBLE) + 1.2E0 *
         |   (0.25E0 + 0.75E0 * (CAST(dl AS DOUBLE)
         |     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""
        .stripMargin
    }.mkString("(", ")\n + (", ")")
    val dfSql = terms.map(t =>
      s"""CAST(sum(CASE WHEN list_contains(ws, '$t') THEN 1 ELSE 0 END)
         |      AS BIGINT) AS df_$t""".stripMargin).mkString(",\n")
    val tfSql = terms.map(t =>
      s"CAST(len(list_filter(ws, w -> w = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n")
    s"""WITH d AS (
       |  SELECT doc_id, $W AS ws FROM documents),
       |b AS (
       |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
       |  FROM d WHERE len(ws) > 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS sum_dl,
       |$dfSql
       |  FROM b),
       |sc AS (
       |  SELECT doc_id, dl,
       |$tfSql,
       |    n_docs, sum_dl, ${terms.map(t => s"df_$t").mkString(", ")}
       |  FROM b CROSS JOIN st)
       |SELECT doc_id, dl, ${terms.map(t => s"tf_$t").mkString(", ")},
       |  $termSql AS score
       |FROM sc
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB oracle shared by `text_bm25_multi` AND `text_index_search`
    * — the stored face must reproduce the scan face exactly, so they
    * are checked against the SAME rank-retrieval SQL. A positive
    * `dfCap` mirrors the capped-index build: words whose corpus df
    * exceeds the cap contribute no hits (their posting lists were
    * never stored), while surviving words' dfs and scores are the
    * full-corpus values — `text_index_capped`'s contract. */
  private def bm25MultiOracleSql: String = bm25MultiOracleSqlCapped(0L)

  /** DuckDB oracle shared by `text_phrase_search` AND
    * `text_index_phrase` — the stored positional face must reproduce
    * the scan face exactly. Adjacency counted over word indexes
    * (1-based in both engines), exact integer arithmetic. */
  private lazy val phraseOracleSql: String = {
    val (w1, w2) = PhraseTerms
    s"""WITH d AS (SELECT doc_id, $W AS ws FROM documents),
       |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
       |  FROM d WHERE len(ws) > 0),
       |c AS (SELECT doc_id, dl,
       |    CAST(len(list_filter(range(1, len(ws)),
       |      i -> ws[i] = '$w1' AND ws[i+1] = '$w2')) AS BIGINT)
       |      AS phrase_tf
       |  FROM b)
       |SELECT doc_id, dl, phrase_tf FROM c WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT $PhraseTopK""".stripMargin
  }

  /** DuckDB oracle shared by `text_phrase_n` AND `text_index_phrase_n`
    * — the [[PhraseNLen]]-gram probe derived in-query (first n words
    * of the min-doc_id document, matching [[phraseNProbe]]), adjacency
    * counted over 1-based word indexes, exact integer arithmetic. */
  private lazy val phraseNOracleSql: String = {
    val n = PhraseNLen
    val tsel = (1 to n).map(i => s"ws[$i] AS t$i").mkString(", ")
    val conds = (0 until n)
      .map(i => s"ws[i+$i] = p.t${i + 1}").mkString(" AND ")
    s"""WITH d AS (SELECT doc_id, $W AS ws FROM documents),
       |p AS (SELECT $tsel FROM d
       |  WHERE doc_id = (SELECT min(doc_id) FROM documents)),
       |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
       |  FROM d WHERE len(ws) > 0),
       |c AS (SELECT doc_id, dl,
       |    CAST(len(list_filter(range(1, len(ws) - ${n - 2}),
       |      i -> $conds)) AS BIGINT) AS phrase_tf
       |  FROM b, p)
       |SELECT doc_id, dl, phrase_tf FROM c WHERE phrase_tf > 0
       |ORDER BY phrase_tf DESC, doc_id LIMIT $PhraseTopK""".stripMargin
  }

  private def bm25MultiOracleSqlCapped(dfCapPct: Long): String = {
    val qvals = Bm25QuerySuite
      .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }
      .mkString(", ")
    // the same floored cap the build resolved: n_docs · pct // 100
    val capFilter =
      if (dfCapPct <= 0L) ""
      else s" WHERE h.df <= (SELECT n_docs FROM st) * $dfCapPct // 100"
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       |d AS (SELECT doc_id, $W AS ws FROM documents),
       |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
       |  FROM d WHERE len(ws) > 0),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM b),
       |terms AS (SELECT doc_id, dl, unnest(ws) AS word FROM b),
       |tf AS (SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM terms GROUP BY doc_id, dl, word),
       |hits0 AS (SELECT doc_id, dl, word, tf,
       |    CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df
       |  FROM tf WHERE word IN (SELECT term FROM q)),
       |hits AS (SELECT q.query_id, h.doc_id, h.dl, h.word, h.tf, h.df
       |  FROM hits0 h JOIN q ON h.word = q.term$capFilter),
       |g AS (SELECT query_id, doc_id, dl,
       |    list_sort(list({'word': word, 'tf': tf, 'df': df})) AS tl
       |  FROM hits GROUP BY query_id, doc_id, dl),
       |sc AS (SELECT query_id, doc_id, dl,
       |  list_reduce(list_prepend(0.0E0, list_transform(tl, x ->
       |    (((CAST(n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5E0)
       |        / (CAST(x.df AS DOUBLE) + 0.5E0))
       |      * (CAST(x.tf AS DOUBLE) * 2.2E0))
       |    / (CAST(x.tf AS DOUBLE) + 1.2E0 *
       |       (0.25E0 + 0.75E0 * (CAST(dl AS DOUBLE)
       |         / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))),
       |    (a, x) -> a + x) AS score
       |  FROM g CROSS JOIN st)
       |SELECT query_id, doc_id, dl, score,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS INT) AS rnk
       |FROM sc QUALIFY rnk <= $Bm25TopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** DuckDB oracle for `text_wand_stats` — a full re-derivation of the
    * WAND prune decision: the same hits relation as
    * [[bm25MultiOracleSqlCapped]], per-(query, term) impact bounds from
    * the identical literal-folded arithmetic, the top-impact seed
    * term's kth exact score as the threshold, and the CANONICAL-order
    * (word-sorted sequential fold) per-doc UB — deterministic on both
    * engines, unlike the production prune's map-side float sum (see
    * [[wandParts]]; the two can differ only inside the margin band,
    * where either decision is provably result-invisible). */
  private lazy val wandStatsOracleSql: String = {
    val qvals = Bm25QuerySuite
      .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qvals),
       |d AS (SELECT doc_id, $W AS ws FROM documents),
       |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
       |  FROM d WHERE len(ws) > 0),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM b),
       |terms AS (SELECT doc_id, dl, unnest(ws) AS word FROM b),
       |tf AS (SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM terms GROUP BY doc_id, dl, word),
       |hits0 AS (SELECT doc_id, dl, word, tf,
       |    CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df
       |  FROM tf WHERE word IN (SELECT term FROM q)),
       |hits AS (SELECT q.query_id, h.doc_id, h.dl, h.word, h.tf, h.df
       |  FROM hits0 h JOIN q ON h.word = q.term),
       |ti AS (SELECT query_id, word, CAST(max(df) AS BIGINT) AS df,
       |    CAST(max(tf) AS BIGINT) AS max_tf,
       |    CAST(min(dl) AS BIGINT) AS min_dl
       |  FROM hits GROUP BY query_id, word),
       |imp AS (SELECT query_id, word, greatest(0.0E0,
       |    (((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5E0)
       |        / (CAST(df AS DOUBLE) + 0.5E0))
       |      * (CAST(max_tf AS DOUBLE) * 2.2E0))
       |    / (CAST(max_tf AS DOUBLE) + 1.2E0 *
       |       (0.25E0 + 0.75E0 * (CAST(min_dl AS DOUBLE)
       |         / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       |    AS impact
       |  FROM ti CROSS JOIN st),
       |seed AS (SELECT query_id, word FROM imp
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY impact DESC, word) = 1),
       |sdocs AS (SELECT DISTINCT h.query_id, h.doc_id
       |  FROM hits h JOIN seed s
       |    ON h.query_id = s.query_id AND h.word = s.word),
       |sg AS (SELECT h.query_id, h.doc_id, h.dl,
       |    list_sort(list({'word': h.word, 'tf': h.tf, 'df': h.df}))
       |      AS tl
       |  FROM hits h JOIN sdocs sd
       |    ON h.query_id = sd.query_id AND h.doc_id = sd.doc_id
       |  GROUP BY h.query_id, h.doc_id, h.dl),
       |ssc AS (SELECT query_id, doc_id,
       |  list_reduce(list_prepend(0.0E0, list_transform(tl, x ->
       |    (((CAST(n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5E0)
       |        / (CAST(x.df AS DOUBLE) + 0.5E0))
       |      * (CAST(x.tf AS DOUBLE) * 2.2E0))
       |    / (CAST(x.tf AS DOUBLE) + 1.2E0 *
       |       (0.25E0 + 0.75E0 * (CAST(dl AS DOUBLE)
       |         / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))),
       |    (a, x) -> a + x) AS score
       |  FROM sg CROSS JOIN st),
       |th AS (SELECT query_id, score AS l_score FROM ssc
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) = $Bm25TopK),
       |ug AS (SELECT h.query_id, h.doc_id,
       |    list_sort(list({'word': h.word, 'impact': i.impact})) AS il
       |  FROM hits h JOIN imp i
       |    ON h.query_id = i.query_id AND h.word = i.word
       |  GROUP BY h.query_id, h.doc_id),
       |ub AS (SELECT query_id, doc_id,
       |  list_reduce(list_prepend(0.0E0,
       |    list_transform(il, x -> x.impact)), (a, x) -> a + x) AS ub
       |  FROM ug),
       |surv AS (SELECT u.query_id,
       |    CAST(count(*) AS BIGINT) AS n_survivors
       |  FROM ub u LEFT JOIN th t ON u.query_id = t.query_id
       |  WHERE t.l_score IS NULL
       |    OR u.ub * 1.000001E0 + 1.0E-12 >= t.l_score
       |  GROUP BY u.query_id),
       |cand AS (SELECT query_id,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_candidates
       |  FROM hits GROUP BY query_id)
       |SELECT c.query_id, c.n_candidates, s.n_survivors
       |FROM cand c JOIN surv s ON c.query_id = s.query_id
       |ORDER BY c.query_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // stored inverted index — one ManifestStore collection, pruned probes
  // ----------------------------------------------------------------

  /** Bucket count DEFAULT for new indexes. Each posting row carries
    * `bkt = polyHash(word) % n_buckets`, so ALL postings of a word
    * share one bucket — the invariant [[bm25Rank]]'s df window relies
    * on — and a query probes exactly its terms' buckets (the `bkt IN
    * (…)` filter the segment sidecars prune on). At 100 TB the knob
    * trades zone-map granularity against probe selectivity.
    *
    * The knob is ONLY a first-commit default: the count an index was
    * actually built with is part of the index's identity and is
    * PERSISTED with it (the `'b'` layout row), and every probe reads it
    * back — a stored index built under yesterday's knob keeps
    * answering correctly after the constant changes, instead of being
    * probed in the wrong buckets and silently returning empty posting
    * lists. */
  val TextIndexBuckets = 64L

  /** Build-time df-cap for the capped-index face
    * ([[cappedTextIndexFor]]), as a PERCENTAGE of the corpus: words
    * appearing in more than `n_docs · pct / 100` documents (floored,
    * both engines' integer division) are excluded from the postings.
    * Stopword-class terms carry corpus-sized posting lists (SCALING.md's
    * one documented IO-bound for the index); capping them bounds the
    * hottest bucket's mass while keeping every SURVIVING word's posting
    * list — and therefore its df and its BM25 scores — bitwise exact.
    * A fraction (not an absolute) because "stopword" is a
    * corpus-relative notion — the same knob serves every scale. The
    * RESOLVED absolute cap is persisted in the `'b'` layout row, and
    * the `'d'` rows keep incremental commits exact (see
    * [[refreshManifestTextIndex]]). 78 is tuned to the synthetic
    * fixture's deliberately narrow template vocabulary (all terms live
    * at 75-81% df, so the cap splits them); a natural-language corpus
    * would sit at 10-50. */
  val TextIndexDfCapPct = 78L

  /** The manifest collection name holding a versioned text index. */
  val TextIndexCollection = "tindex"

  private def indexTable(s: SparkSession, tablePath: String): DataFrame =
    s.read.format("graft").option("path", tablePath)
      .option("collection", TextIndexCollection).load()

  /** One batch's index contribution as ONE relation, so maintenance is
    * ONE tagged pointer commit (atomic + replay-idempotent — the
    * [[graft.streaming.EventStream.ingestStoreRequests]]
    * exactly-once discipline applied to index maintenance). Row
    * shapes, discriminated by `kind`:
    *   - `'p'` posting: (doc_id, dl, word, tf, bkt, ps) — bkt =
    *     polyHash(word) % n_buckets, the probe axis; ps = the sorted
    *     1-based POSITIONS of the word in the document, what makes the
    *     index positional ([[phraseStoredTopK]]; BM25 probes never read
    *     it — column-pruned at the scan);
    *   - `'s'` stats contribution: doc_id := the batch's doc count,
    *     dl := its Σdl — corpus stats are ADDITIVE, so the total is a
    *     sum over stats rows and never needs read-modify-write. Stats
    *     stay FULL-corpus even under a df-cap: BM25's N/avgdl
    *     normalization describes the corpus, not the index;
    *   - `'b'` layout identity: dl := the bucket count this batch was
    *     hashed with, doc_id := the absolute df-cap (0 = uncapped).
    *     Every commit carries one, so probe time can verify the WHOLE
    *     index shares one layout — a knob change between commits is a
    *     loud error, never a silently-empty posting list;
    *   - `'d'` df contribution, capped indexes only: (word, bkt, tf :=
    *     the batch's document count for the word) — additive like the
    *     stats, summed on read, pruned by the same `bkt` filter as the
    *     postings.
    * Columns a kind does not use are NULL. Keeping all kinds in one
    * commit means a crash can never publish postings without their
    * stats/layout/df contribution or vice versa. (The reference has no
    * text index at all — retrieval there is vector-only,
    * main.go:171-214; this is the lexical half of a hybrid retrieval
    * stack.) */
  def indexRows(docs: DataFrame, nBuckets: Long = TextIndexBuckets,
      dfCap: Long = 0L): DataFrame = {
    require(nBuckets > 0, s"text index needs nBuckets > 0, got $nBuckets")
    val bkt = (polyHash(col("word")) % lit(nBuckets)).as("bkt")
    val noPs = lit(null).cast("array<int>").as("ps")
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
      .where(col("dl") > 0)
    // positional postings: tf + the sorted 1-based occurrence list —
    // one posexplode, the same (doc, word) shuffle as a tf-only build
    val postings = base
      .select(col("doc_id"), col("dl"),
        posexplode(col("ws")).as(Seq("p", "word")))
      .groupBy("doc_id", "dl", "word")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p") + 1)).as("ps"))
      .select(lit("p").as("kind"), col("doc_id"), col("dl"), col("word"),
        col("tf"), bkt, col("ps"))
    val stats = base
      .agg(count(lit(1)).as("doc_id"),
        coalesce(sum(col("dl")), lit(0L)).as("dl"))
      .select(lit("s").as("kind"), col("doc_id"), col("dl"),
        lit(null).cast("string").as("word"), lit(null).cast("long").as("tf"),
        lit(null).cast("long").as("bkt"), noPs)
    val layout = docs.sparkSession.range(1)
      .select(lit("b").as("kind"), lit(dfCap).as("doc_id"),
        lit(nBuckets).as("dl"), lit(null).cast("string").as("word"),
        lit(null).cast("long").as("tf"), lit(null).cast("long").as("bkt"),
        noPs)
    val rows = postings.unionByName(stats).unionByName(layout)
    if (dfCap <= 0L) rows
    else rows.unionByName(postings
      // postings are distinct (doc, word) pairs: the per-word row count
      // IS the batch's document frequency
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .select(lit("d").as("kind"), lit(null).cast("long").as("doc_id"),
        lit(null).cast("long").as("dl"), col("word"), col("tf"), bkt, noPs))
  }

  /** The layout a VERSIONED index was built with — (n_buckets, df_cap)
    * from its `'b'` rows (df_cap 0 = uncapped; `'b'` rows committed
    * before capping existed carry 0 there, so they read as uncapped).
    * Exactly one distinct pair must exist: zero means the index
    * predates layout versioning (its geometry is unknowable — rebuild),
    * more than one means commits were made under different layouts (a
    * corrupted index — posting lists are split across buckets or
    * capped under different rules, and every df is suspect). */
  def manifestIndexLayout(s: SparkSession,
      tablePath: String): (Long, Long) = {
    val layouts = indexTable(s, tablePath)
      .where(col("kind") === "b").select(col("dl"), col("doc_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    require(layouts.length == 1,
      if (layouts.isEmpty)
        s"text index at $tablePath carries no 'b' layout row — it " +
          "predates bucket-count versioning; rebuild it"
      else
        s"text index at $tablePath was committed under MULTIPLE bucket " +
          "counts or df-caps (n_buckets, df_cap) = " +
          s"${layouts.mkString("[", ", ", "]")} — posting lists are " +
          "split across layouts; rebuild it")
    layouts.head
  }

  /** Table config for a manifest text index: zone maps on the probe
    * axis (effective once segments are bkt-clustered — see
    * [[compactManifestTextIndex]]) plus blooms for point probes on
    * post-append interleaved segments. Call once before the first
    * commit. */
  def initManifestTextIndex(s: SparkSession, tablePath: String): Unit = {
    graft.sources.ManifestStore.setZoneMapColumns(s, tablePath, Seq("bkt"))
    graft.sources.ManifestStore.setBloomColumns(s, tablePath, Seq("bkt"))
  }

  /** Apply one document batch to the versioned index — one tagged
    * commit; a replayed tag is a no-op (returns false). Cost scales
    * with the batch (plus, on a capped index, the stored `'d'` rows),
    * never the postings. The FIRST commit establishes the layout (from
    * `nBuckets` and the absolute `dfCap`, 0 = uncapped); every later
    * batch is hashed and capped with the STORED layout — the
    * parameters are ignored once the index exists, so a constant
    * change can never split posting lists.
    *
    * On a capped index a commit keeps only the batch postings of words
    * whose merged df (stored `'d'` sum + batch df) is ≤ the cap, so the
    * first commit equals a one-pass capped build. A word a later batch
    * pushes over the cap keeps its earlier postings in storage; the
    * probe drops it ([[indexProbe]]) and compaction evicts it
    * ([[foldIndexMeta]]). Exact because df only grows on an
    * append-only corpus: a word at or under the cap has never been
    * over it, so every one of its postings was committed. */
  def refreshManifestTextIndex(docs: DataFrame, tablePath: String,
      tag: String, nBuckets: Long = TextIndexBuckets,
      dfCap: Long = 0L): Boolean = {
    val s = docs.sparkSession
    val live = graft.sources.ManifestStore
      .currentSegments(s, tablePath, TextIndexCollection)
      .toSeq.flatten
    val (nb, cap) =
      if (live.isEmpty) (nBuckets, dfCap) else manifestIndexLayout(s, tablePath)
    val rows = indexRows(docs, nb, cap)
    val kept =
      if (cap <= 0L) rows
      else if (live.isEmpty) evictOverCap(rows, cap, rows)
      else evictOverCap(rows, cap, rows, indexTable(s, tablePath))
    graft.sources.ManifestStore.storeBatch(
      kept, tablePath, TextIndexCollection, tag)
  }

  /** `rows` without the `'p'` rows of every word whose df — summed over
    * the `'d'` rows of `dfs` — exceeds `dfCap`; every other row passes.
    * The one over-cap rule behind the capped commit, the capped probe
    * and the compaction fold. */
  private def evictOverCap(rows: DataFrame, dfCap: Long,
      dfs: DataFrame*): DataFrame = {
    val over = dfs
      .map(_.where(col("kind") === "d").select("word", "tf"))
      .reduce(_.unionByName(_))
      .groupBy("word").agg(sum(col("tf")).as("df"))
      .where(col("df") > dfCap)
      .select(col("word").as("over_word"))
    rows.join(VectorSearch.broadcastIfSmall(over),
      col("kind") === "p" && col("word") === col("over_word"), "left_anti")
  }

  /** Restore probe pruning after streaming appends: every batch
    * segment spans most buckets, so bkt zone maps exclude little until
    * a clustered rewrite lays the postings out in bkt ranges (one
    * atomic pointer commit; probes then skip whole segments). The
    * rewrite also FOLDS the per-batch metadata rows
    * ([[foldIndexMeta]]), so the one-tiny-row-per-batch stats scans
    * are bounded by compactions, not by commit count. Batches appended
    * DURING the rewrite keep their own additive rows, which sum
    * correctly beside the folded ones. */
  def compactManifestTextIndex(s: SparkSession, tablePath: String,
      segments: Int = 4): Unit =
    if (graft.sources.ManifestStore
        .currentSegments(s, tablePath, TextIndexCollection)
        .exists(_.nonEmpty)) {
      val (_, dfCap) = manifestIndexLayout(s, tablePath)
      graft.sources.ManifestStore.zorderCompact(
        s, tablePath, TextIndexCollection, Seq("bkt"), segments,
        foldIndexMeta(dfCap))
    }

  /** The reader-equivalent metadata fold applied at compaction (see
    * [[compactManifestTextIndex]]): the additive `'s'` stats
    * contributions collapse to one summed row, the `'d'` df
    * contributions to one summed row per word, the identical `'b'`
    * layout rows to one distinct row — reader-equivalent by
    * construction (stats and dfs are READ as sums, the layout as its
    * distinct value set). On a capped index it also evicts the `'p'`
    * rows of over-cap words, which every probe already drops; the
    * folded postings then equal a one-commit capped build's.
    * Multi-valued `'b'` layouts — the corruption [[manifestIndexLayout]]
    * fails loud on — survive the distinct, so compaction can never mask
    * that signal. Output keeps the input's schema. */
  private[graft] def foldIndexMeta(dfCap: Long)(rows: DataFrame): DataFrame = {
    def shaped(df: DataFrame): DataFrame = df.select(rows.schema.fields
      .map(f => if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    // any kind this fold does not understand passes through UNTOUCHED —
    // a future row kind added to indexRows must survive compaction
    // verbatim, not be silently deleted the first time the rewrite
    // runs (reader-equivalence by construction; a null kind is
    // unknown too)
    val other = rows.where(col("kind").isNull ||
      !col("kind").isin("p", "s", "b", "d"))
    val p = rows.where(col("kind") === "p")
    val sRows = shaped(rows.where(col("kind") === "s")
      .agg(coalesce(sum(col("doc_id")), lit(0L)).as("doc_id"),
        coalesce(sum(col("dl")), lit(0L)).as("dl"),
        count(lit(1)).as("n"))
      .where(col("n") > 0)
      .select(lit("s").as("kind"), col("doc_id"), col("dl")))
    val bRows = rows.where(col("kind") === "b").distinct()
    val dRows = shaped(rows.where(col("kind") === "d")
      .groupBy("word", "bkt").agg(sum(col("tf")).as("tf"))
      .withColumn("kind", lit("d")))
    val kept = if (dfCap <= 0L) p else evictOverCap(p, dfCap, dRows)
    kept.unionByName(sRows).unionByName(bRows).unionByName(dRows)
      .unionByName(other)
  }

  /** The stored-index probe shared by EVERY stored face: the term
    * set's (postings, 1-row stats) pair over the manifest index at
    * `tablePath`.
    *   - Layout: read back and verified single-valued
    *     ([[manifestIndexLayout]]); probe buckets are computed
    *     driver-side with the index's OWN bucket count
    *     ([[graft.functions.TextFunctions.polyHashLocal]], the same
    *     fold the commit hashed with), never the first-commit constant.
    *   - Postings: `kind = 'p' AND bkt IN (…)` — the `bkt` zone maps and
    *     blooms exclude segments at planning time, and a probed bucket
    *     holds each matched word's ENTIRE posting list, so tf and df
    *     are exactly the full relation's. `None` probes every bucket.
    *   - Cap: on a capped index every probed word whose summed `'d'` df
    *     is over the cap is dropped (see [[refreshManifestTextIndex]]).
    *   - Stats: the sum over the additive `'s'` rows.
    * Returns the `'p'` rows without `kind`: (doc_id, dl, word, tf, bkt,
    * ps). */
  private[graft] def indexProbe(s: SparkSession, tablePath: String,
      terms: Option[Seq[String]]): (DataFrame, DataFrame) = {
    val (nBuckets, dfCap) = manifestIndexLayout(s, tablePath)
    val rel = indexTable(s, tablePath)
    val probed = terms.fold(lit(true)) { ts =>
      col("bkt").isin(
        ts.distinct.map(t => polyHashLocal(t) % nBuckets).distinct: _*)
    }
    val posts = rel.where(col("kind") === "p" && probed)
    val kept =
      if (dfCap <= 0L) posts
      else evictOverCap(posts, dfCap, rel.where(col("kind") === "d" && probed))
    val stats = rel.where(col("kind") === "s")
      .agg(sum(col("doc_id")).as("n_docs"), sum(col("dl")).as("sum_dl"))
    (kept.drop("kind"), stats)
  }

  /** BM25 over the stored index: the [[indexProbe]] relation into the
    * [[bm25Rank]] tail [[bm25MultiOn]] uses — results are bitwise the
    * scan face's (tf and df are identical relations), same oracle. The
    * one BM25 probe for the memoized faces and the streaming face
    * ([[graft.streaming.EventStream.maintainTextIndex]]). */
  def bm25StoredTopK(s: SparkSession, tablePath: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    import s.implicits._
    val (tf, stats) = indexProbe(s, tablePath, Some(queries.map(_._2)))
    bm25Rank(tf, queries.toDF("query_id", "term"), stats, k)
  }

  /** [[bm25StoredTopK]] through the impact-ordered WAND prune
    * ([[wandRank]]) — identical results (one shared scoring tail, the
    * prune is proof-based), same oracle; the declared pair
    * `text_index_search` / `text_index_wand` pins the equivalence in
    * the driver's gate, and TextAnalysisSpec pins that the prune
    * actually fires. */
  def bm25WandStoredTopK(s: SparkSession, tablePath: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    import s.implicits._
    val (tf, stats) = indexProbe(s, tablePath, Some(queries.map(_._2)))
    wandRank(tf, queries.toDF("query_id", "term"), stats, k)
  }

  /** Demo phrase for the declared phrase-search queries — two common
    * template words, adjacent somewhere at every fixture scale. */
  val PhraseTerms: (String, String) = ("merge", "group")
  val PhraseTopK = 10

  /** Word length of the derived probe for the declared N-PHRASE
    * queries — long enough to exercise the folded adjacency chain the
    * 8-13-gram decontamination probes run. */
  val PhraseNLen = 5

  /** Deterministic [[PhraseNLen]]-gram probe BOTH engines derive the
    * same way: the first n words of the minimum-doc_id document — so
    * the probe exists at every fixture scale and under per-round data
    * regeneration (a fixed literal n-gram can vanish from regenerated
    * text), and the declared queries need no side-channel constant.
    * The lookup is one ordered-limit-1 row (at production scale a
    * zone-map-served min + point lookup), not a corpus pass; the
    * stored face's probes stay index-only. */
  def phraseNProbe(s: SparkSession, dir: String): Seq[String] = {
    val terms = Tables(s, dir, "documents")
      .orderBy("doc_id").limit(1)
      .select(slice(words(col("text")), 1, PhraseNLen).as("p"))
      .head.getSeq[String](0)
    require(terms.size == PhraseNLen,
      s"min-doc_id document has fewer than $PhraseNLen words: $terms")
    terms
  }

  /** Per-document occurrence count of the n-word phrase `terms`: one
    * boolean accumulator over START positions, folded through n-1
    * `zip_with`s against successively-shifted views of `ws` — position
    * p survives iff ws[p+i] = terms(i) for every i. Every HOF argument
    * (ws, the slices, sizes) evaluates ONCE per row — the lambdas read
    * only their parameters, so the captured-expression re-evaluation
    * pitfall does not apply; `zip_with` null-pads the shorter shifted
    * side and `m && (null = t)` is null, which filter drops — a start
    * too close to the end can never count. The 8-13-gram
    * decontamination/quote probes run exactly this chain. */
  private def phraseNTf(ws: Column, terms: Seq[String]): Column = {
    require(terms.size >= 2, s"a phrase needs >= 2 words: $terms")
    val init: Column = transform(ws, x => x === lit(terms.head))
    val matched = terms.zipWithIndex.tail.foldLeft(init) {
      case (acc, (t, i)) =>
        zip_with(acc,
          slice(ws, lit(i + 1), greatest(size(ws) - lit(i), lit(0))),
          (m, c) => m && (c === lit(t)))
    }
    size(filter(matched, x => x)).cast("long")
  }

  /** PHRASE search, compute-on-scan face: documents containing the
    * exact consecutive phrase, ranked by occurrence count. Pure
    * scan-side array arithmetic into a shuffle-free top-k — the
    * ranked-grep a decontamination/quote-detection pass runs when the
    * probe must match ORDER, which bag-of-words BM25 cannot express.
    * Both computed columns pass through the optimizer barrier so the
    * `phrase_tf > 0` gate filters on the ATTRIBUTE instead of
    * re-tokenizing inside the Filter (the kernel-in-filter audit
    * discipline). */
  def phraseTopK(documents: DataFrame, w1: String, w2: String,
      k: Int): DataFrame =
    phraseTopKN(documents, Seq(w1, w2), k)

  /** [[phraseTopK]] for an n-word phrase (n >= 2): same shuffle-free
    * scan + top-k heap, the adjacency chain folded once over the term
    * array ([[phraseNTf]]). */
  def phraseTopKN(documents: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    val b = graft.functions.TextHashExpressions.optBarrier _
    documents
      .select(col("doc_id"), b(words(col("text"))).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        b(phraseNTf(col("ws"), terms)).as("phrase_tf"))
      .where(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** PHRASE search over the stored POSITIONAL index: probe the two
    * terms' buckets ([[indexProbe]], like [[bm25StoredTopK]]), join the
    * two posting lists on doc_id, and count adjacency as
    * `|{p+1 : p ∈ ps(w1)} ∩ ps(w2)|` — positions are distinct, so the
    * intersect size IS the phrase tf. This is the classic positional-
    * index plan: the corpus is never touched, the join mass is the two
    * posting lists, and at 100 TB the probe reads only the segments
    * whose `bkt` sidecars admit the two buckets. Bitwise the scan
    * face's answers (same integer arithmetic), same oracle. */
  def phraseStoredTopK(s: SparkSession, tablePath: String, w1: String,
      w2: String, k: Int): DataFrame =
    phraseStoredTopKN(s, tablePath, Seq(w1, w2), k)

  /** [[phraseStoredTopK]] for an n-word phrase (n >= 2): one
    * [[indexProbe]] over the n terms' buckets, inner-join the n posting
    * lists on doc_id, and narrow the START-position set left to right:
    * S_0 = ps(t_0), S_i = S_(i-1) ∩ {p - i : p ∈ ps(t_i)} — positions
    * are distinct, so |S_(n-1)| IS the phrase tf. A repeated term
    * re-joins its own posting list under a fresh alias, shifted
    * differently per occurrence. The corpus is never touched; the join
    * mass is the n posting lists; at 100 TB an 8-13-gram
    * decontamination probe reads only the segments the n buckets'
    * sidecars admit, of an index built once. Bitwise the scan face's
    * answers, same oracle. */
  def phraseStoredTopKN(s: SparkSession, tablePath: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.size >= 2, s"a phrase needs >= 2 words: $terms")
    val (post, _) = indexProbe(s, tablePath, Some(terms))
    val joined = terms.zipWithIndex.map { case (t, i) =>
      val base = post.where(col("word") === t)
      if (i == 0)
        base.select(col("doc_id"), col("dl"), col("ps").as("s0"))
      else
        base.select(col("doc_id"),
          transform(col("ps"), x => x - i).as(s"s$i"))
    }.reduce(_.join(_, Seq("doc_id")))
    val starts = (1 until terms.size).foldLeft(col("s0")) {
      (acc, i) => array_intersect(acc, col(s"s$i"))
    }
    joined
      .select(col("doc_id"), col("dl"),
        size(starts).cast("long").as("phrase_tf"))
      .where(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Memoized text index behind `text_index_search`, `_wand`,
    * `text_wand_stats`, `_phrase`, `_phrase_n` and `_stats`: one commit
    * of the whole corpus, then the clustered rewrite. Lifecycle mirrors
    * [[Ann.manifestIvfIndexFor]] (torn down by [[releaseCaches]],
    * shutdown hook for lifecycle-skipping drivers). */
  private val textIndexes =
    new FixtureTables[String]("graft-text-index-")(identity)

  private[graft] def textIndexFor(s: SparkSession, dir: String): String =
    textIndexes(s, dir)(corpusIndex(s, dir, _, dfCap = 0L))

  /** Memoized DF-CAPPED index behind `text_index_capped`: the same
    * corpus, committed with the [[TextIndexDfCapPct]] cap resolved
    * against its own size — stopword-class posting lists never stored,
    * surviving terms' answers bitwise the uncapped index's (the oracle
    * mirrors the floored cap arithmetic in SQL). */
  private val cappedTextIndexes =
    new FixtureTables[String]("graft-text-capped-")(identity)

  private[graft] def cappedTextIndexFor(s: SparkSession, dir: String): String =
    cappedTextIndexes(s, dir) { path =>
      // project-then-filter (not a bare where) keeps the tokenize out
      // of the FilterExec — one eval per row, and the plan-audit's
      // zero-kernel-calls-in-Filter invariant holds for build jobs too
      val nDocs = Tables(s, dir, "documents")
        .select(graft.functions.TextHashExpressions
          .optBarrier(size(words(col("text")))).as("nw"))
        .where(col("nw") > 0).count()
      corpusIndex(s, dir, path, dfCap = nDocs * TextIndexDfCapPct / 100L)
    }

  /** init → one commit of the fixture corpus → clustered compaction. */
  private def corpusIndex(s: SparkSession, dir: String, path: String,
      dfCap: Long): String = {
    initManifestTextIndex(s, path)
    refreshManifestTextIndex(
      Tables(s, dir, "documents").select("doc_id", "text"), path,
      "corpus", dfCap = dfCap)
    compactManifestTextIndex(s, path)
    path
  }

  /** Memoized REFRESHED index behind `text_index_refresh`: a commit of
    * the anchored manifest snapshot (the stored nightly state), then a
    * commit of exactly the segments appended since the anchor
    * (`readSinceInferred` — the change feed). The refreshed index must
    * answer queries bitwise like an index over the full corpus — the
    * driver's oracle recomputes from scratch, which is the
    * mergeability proof. */
  private val refreshedIndexes =
    new FixtureTables[String]("graft-text-refresh-")(identity)

  private[graft] def refreshedTextIndexFor(s: SparkSession,
      dir: String): String =
    refreshedIndexes(s, dir) { path =>
      val (table, anchor) = Dedup.manifestDocsTable(s, dir)
      initManifestTextIndex(s, path)
      refreshManifestTextIndex(graft.sources.ManifestStore
        .readAsOfInferred(s, table, "docs", anchor)
        .select("doc_id", "text"), path, "base")
      refreshManifestTextIndex(graft.sources.ManifestStore
        .readSinceInferred(s, table, "docs", anchor)
        .select("doc_id", "text"), path, "delta")
      path
    }

  /** Memoized manifest-backed index behind `text_index_manifest`:
    * initial commit from the corpus slice, one maintenance commit from
    * the batch slice, then the clustered rewrite — the full lifecycle
    * (init → refresh → compact) the streaming face drives, queried
    * through the connector against the from-scratch oracle. */
  private val manifestIndexes =
    new FixtureTables[String]("graft-text-mindex-")(identity)

  private[graft] def manifestTextIndexFor(s: SparkSession,
      dir: String): String =
    manifestIndexes(s, dir) { path =>
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      initManifestTextIndex(s, path)
      refreshManifestTextIndex(
        docs.where(col("doc_id") % 10 =!= 1), path, "base")
      refreshManifestTextIndex(
        docs.where(col("doc_id") % 10 === 1), path, "delta-1")
      compactManifestTextIndex(s, path)
      path
    }

  /** Index OBSERVABILITY — per-bucket occupancy of the stored postings
    * ([[Ann.lshBuckets]]'s discipline applied to text): distinct
    * words, posting rows, and token mass per bucket. Read through
    * [[indexProbe]] over every bucket and oracled against a
    * from-scratch recomputation over the raw corpus — a standing
    * integrity check that the persisted index IS the corpus's inverted
    * index. Skew here (a stopword-heavy bucket) is what a stop-list or
    * impact-ordering decision is made from. */
  def textIndexStats(s: SparkSession, dir: String): DataFrame =
    indexProbe(s, textIndexFor(s, dir), None)._1
      .groupBy(col("bkt").cast("int").as("bkt"))
      .agg(count_distinct(col("word")).as("n_words"),
        count(lit(1)).as("n_postings"),
        sum(col("tf")).as("n_tokens"))
      .orderBy("bkt")

  /** Drop every memoized materialized text index (every main calls
    * this on shutdown). */
  def releaseCaches(): Unit = {
    textIndexes.release()
    cappedTextIndexes.release()
    refreshedIndexes.release()
    manifestIndexes.release()
    wandHitsCache.release() // eagerly drops the checkpoint blocks
  }

  /** Per-language distinct 3-shingle cardinality, exact AND sketched:
    * the KMV k-minimum-values aggregate ([[graft.functions.KmvSketchAgg]])
    * keeps the k smallest distinct shingle hashes per group — mergeable,
    * bounded state, partial-aggregated map-side — next to the exact
    * countDistinct it approximates. At 100 TB the exact distinct is the
    * expensive column (full shuffle of distinct hashes); the sketch's
    * shuffle is ≤ k longs per group per partition. Deterministic hash
    * arithmetic end-to-end, so unlike approx_count_distinct's HLL the
    * estimate itself is oracle-checked bit-for-bit. */
  def distinctShingleSketch(documents: DataFrame, k: Int = 64): DataFrame = {
    val sh = graft.functions.TextHashExpressions
      .shingleHashes(words(col("text")), 3)
    documents
      .select(col("lang"), explode(sh).as("hv"))
      .groupBy("lang")
      .agg(count_distinct(col("hv")).as("n_exact"),
        graft.functions.SketchAggregate.kmvSketch(col("hv"), k).as("sk"))
      .select(col("lang"), col("n_exact"),
        col("sk.kth_hash").as("kth_hash"), col("sk.est").as("n_est"))
      .orderBy("lang")
  }

  /** Winnowing window for [[winnow]] — guarantees any shared substring
    * of ≥ (window + shingle − 1) words produces a shared fingerprint. */
  val WinnowWindow = 4

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): per document, the fingerprint
    * set is the distinct minima of every `w`-window over the
    * positional shingle-hash sequence. The guarantee that makes it the
    * standard local fingerprinting scheme: any match of at least
    * w + shingle − 1 consecutive words between two documents shares at
    * least one selected fingerprint — so an index over ~2/(w+1) of the
    * shingles still catches every sufficiently long overlap, which
    * uniform sampling cannot promise. This audit reports the selection
    * itself (counts + realized density vs the 2/(w+1) expectation);
    * the selected hashes would feed the same inverted-index pair
    * machinery as [[graft.operators.Dedup.ngramJaccardPairs]] at 1/3
    * the postings. Pure scan-side array arithmetic — zero shuffles
    * before the final sort. */
  def winnow(documents: DataFrame, w: Int = WinnowWindow): DataFrame = {
    val sh = graft.functions.TextHashExpressions
      .shingleHashes(words(col("text")), 3)
    documents
      .select(col("doc_id"),
        graft.functions.TextHashExpressions.optBarrier(sh).as("sh"))
      .where(size(col("sh")) >= w)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        (size(col("sh")) - w + 1).cast("long").as("n_windows"),
        size(array_distinct(transform(
          sequence(lit(0), size(col("sh")) - w),
          i => array_min(slice(col("sh"), i + 1, lit(w))))))
          .cast("long").as("n_selected"))
      .withColumn("density",
        col("n_selected").cast("double") / col("n_windows").cast("double"))
      .orderBy("doc_id")
  }

  /** Corpus-LM FLUENCY proxy (the CCNet/KenLM quality-filter role in
    * engine-portable arithmetic): score each document by the mean
    * corpus DOCUMENT-FREQUENCY of its word bigrams — text whose word
    * transitions the corpus has seen widely (fluent prose) scores
    * high; gibberish, shuffled words, and code score low because
    * their bigrams are rare. A true LM perplexity needs log-probs,
    * whose float folds are engine-divergent; mean bigram-df is the
    * same monotone fluency signal as EXACT integer arithmetic (one
    * integer sum, one rational division — bit-reproducible).
    *
    * Scale shape: the exploded (doc, bigram) rows are hash-partitioned
    * on the bigram once; on that partitioning one aggregate counts `c`
    * per (bigram, doc) and a window over the bigram counts its
    * documents (`df`) with no second exchange. The per-doc sums
    * (`n_bigrams` = Σc, `sum_df` = Σ c·df) then take one shuffle on
    * doc_id, partial-combined map-side, and the output sort a range
    * exchange — two corpus-sized shuffles, no join, no broadcast of a
    * vocabulary-sized relation. The window sorts each bigram
    * partition, which spills like any sort. Single-word docs have no
    * bigrams and no row (no evidence either way — gate on
    * [[qualityScore]]'s signals for those). */
  def bigramFluency(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(graft.functions.TextHashExpressions
        .shingleHashes(words(col("text")), 2)).as("h"))
      .repartition(col("h"))
      .groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_bigrams"),
        sum(col("c") * col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_df"),
        (col("sum_df").cast("double") / col("n_bigrams").cast("double"))
          .as("fluency"))
      .orderBy("doc_id")

  /** Collocation knobs: minimum pair support and report size. */
  val MinCollocCount = 5L
  val CollocTopK = 20

  /** COLLOCATION mining — adjacent word pairs that co-occur far more
    * than their positional marginals predict, ranked by LIFT:
    * (n_ab · N) / (n_a· · n_·b) over bigram events (n_a· = bigrams
    * starting with a, n_·b = ending with b, N = all bigram tokens).
    * This is PMI's argument without the log — log is monotone, so the
    * RANKING is PMI's, while the arithmetic stays two exact-operand
    * double multiplies and one division (the repo's no-`ln` rule; a
    * log's libm rounding is engine-divergent). The standard phrase/
    * tokenizer-merge candidate generator (word2vec's phrase pass).
    *
    * Scale shape: one corpus shuffle builds the bigram counts
    * (vocabulary²-bounded, Heaps-sublinear in practice); the
    * positional marginals are aggregates OF that relation (no second
    * corpus pass) joined back through the size-gated broadcast; the
    * support floor prunes the long tail before the join. */
  def collocations(documents: DataFrame, k: Int = CollocTopK,
      minCount: Long = MinCollocCount): DataFrame = {
    val b = graft.functions.TextHashExpressions.optBarrier _
    val pairs = documents
      .select(b(words(col("text"))).as("ws"))
      .select(explode(filter(
        zip_with(col("ws"), slice(col("ws"), lit(2), size(col("ws"))),
          (a, w) => struct(a.as("w1"), w.as("w2"))),
        x => x.getField("w2").isNotNull)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the (w1, w2) counts relation is referenced FOUR times (marginals,
    // total, final join) and the branches prune different columns, so
    // ReuseExchange cannot dedupe them — without materialization the
    // corpus tokenize+shuffle runs four times (measured). localCheckpoint
    // cuts the lineage once: everything downstream reads the
    // vocabulary²-bounded blocks, and they free with the frame.
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .localCheckpoint()
    val na = counts.groupBy("w1").agg(sum(col("n_ab")).as("n_a"))
    val nb = counts.groupBy("w2").agg(sum(col("n_ab")).as("n_b"))
    val tot = counts.agg(sum(col("n_ab")).as("n_tot"))
    counts
      .where(col("n_ab") >= minCount)
      .join(VectorSearch.broadcastIfSmall(na), Seq("w1"))
      .join(VectorSearch.broadcastIfSmall(nb), Seq("w2"))
      .crossJoin(broadcast(tot)) // exactly one row by construction
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_tot").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** KMV sketch SET ALGEBRA: estimate the distinct-shingle overlap
    * between two corpus slices (here doc_id parity; in production two
    * crawl snapshots / dumps) from their mergeable bottom-k samples,
    * next to the exact values — the dedup-planning question "how much
    * of dump B is already in dump A" answered without a corpus-wide
    * distinct. Standard KMV estimators: union = bottom-k of the two
    * samples' union with est = (k−1)·P / kth; intersection = (share of
    * the merged sample present in BOTH samples) × est_union; Jaccard =
    * that share directly.
    *
    * Scale shape: the exact columns pay one distinct-hash shuffle
    * (they exist to measure the sketch and live at verify/audit
    * scale); the sketch path is two bounded-state aggregates whose
    * shuffle is ≤ k longs per slice per partition, then 1-row array
    * arithmetic — at 100 TB only the sketch path runs. All arithmetic
    * is exact-operand integer/IEEE ops, so the estimates themselves
    * hash-match the oracle. */
  def sketchOverlap(documents: DataFrame, k: Int = 64): DataFrame = {
    val sh = graft.functions.TextHashExpressions
      .shingleHashes(words(col("text")), 3)
    val hv = documents
      .select((col("doc_id") % 2 === 0).as("in_a"), explode(sh).as("hv"))
    val byHash = hv.groupBy("hv").agg(
      max(when(col("in_a"), lit(1L)).otherwise(lit(0L))).as("a"),
      max(when(!col("in_a"), lit(1L)).otherwise(lit(0L))).as("b"))
    val exact = byHash.agg(
      sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
      count(lit(1)).as("n_union"),
      sum(col("a") * col("b")).as("n_inter"))
    val sk = hv.groupBy("in_a")
      .agg(graft.functions.SketchAggregate.kmvSample(col("hv"), k).as("s"))
      .agg(max(when(col("in_a"), col("s"))).as("sa"),
        max(when(!col("in_a"), col("s"))).as("sb"))
    val num = (k - 1).toLong * graft.functions.TextFunctions.HashMod
    exact.crossJoin(sk)
      .withColumn("merged",
        slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
      .withColumn("kth",
        when(size(col("merged")) >= k, element_at(col("merged"), k))
          .otherwise(lit(-1L)))
      .withColumn("est_union",
        when(col("kth") > 0, lit(num.toDouble) / col("kth").cast("double"))
          .otherwise(size(col("merged")).cast("double")))
      .withColumn("n_both", size(filter(col("merged"),
        h => array_contains(col("sa"), h) && array_contains(col("sb"), h)))
        .cast("long"))
      .withColumn("est_inter",
        col("n_both").cast("double") / lit(k.toDouble) * col("est_union"))
      .select(col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
        // null (not NaN) on an empty union: Spark's 0.0/0.0 is NaN but
        // DuckDB's is NULL — guard in both engines
        when(col("n_union") > 0,
          col("n_inter").cast("double") / col("n_union").cast("double"))
          .as("jaccard"),
        col("kth"), col("est_union"), col("n_both"), col("est_inter"),
        (col("n_both").cast("double") / lit(k.toDouble)).as("est_jaccard"))
  }

  // ------------------------------------------------------------------
  // oracles
  // ------------------------------------------------------------------

  private val W = wordsSql("text")

  /** SQL twin of [[repetitionStats]] as a reusable CTE chain ending in
    * relation `rep` — shared by the `text_repetition` oracle and the
    * `pl_gopher_filter` funnel so the two can never drift apart. */
  private[operators] lazy val repetitionRelationSql: String = {
    val bg = shinglesSql("ws", 2)
    s"""t AS (SELECT doc_id, $W AS ws FROM documents),
       |terms AS (SELECT doc_id, unnest(ws) AS w FROM t),
       |wc AS (SELECT doc_id, w, count(*) AS c FROM terms GROUP BY doc_id, w),
       |top AS (SELECT doc_id, max(c) AS top_word_count FROM wc GROUP BY doc_id),
       |m AS (
       |  SELECT t.doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
       |    CAST(coalesce(top.top_word_count, 0) AS BIGINT) AS top_word_count,
       |    $bg AS bg
       |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id),
       |rep AS (
       |  SELECT doc_id, n_words, n_distinct_words, top_word_count,
       |    CASE WHEN n_words > 0
       |      THEN CAST(top_word_count AS DOUBLE) / CAST(n_words AS DOUBLE)
       |    END AS top_word_share,
       |    CAST(len(bg) AS BIGINT) AS n_bigrams,
       |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams,
       |    CASE WHEN len(bg) > 0
       |      THEN CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
       |        / CAST(len(bg) AS DOUBLE)
       |    END AS dup_bigram_frac
       |  FROM m)""".stripMargin
  }

  private def sumSql(list: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $list), (a, x) -> a + x)"

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("text_token_stats",
      s"""SELECT doc_id, lang,
         |  CAST(len($W) AS BIGINT) AS n_words,
         |  CAST(len(list_distinct($W)) AS BIGINT) AS n_distinct_words,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  ${sumSql(s"list_transform($W, w -> CAST(length(w) AS BIGINT))")} AS sum_word_len,
         |  ${sumSql(s"list_transform($W, w -> CAST(floor((length(w) + 3) / 4.0E0) AS BIGINT))")} AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => tokenStats(Tables(s, dir, "documents"))
    },

    QueryDef.sql("text_quality", {
      val stops = markerCountSql(W, Stopwords("en"))
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_spaces,
         |    CAST(len($W) AS BIGINT) AS n_words,
         |    $stops AS n_stopwords
         |  FROM documents)
         |SELECT doc_id, n_chars, n_alpha, n_spaces, n_words, n_stopwords,
         |  CASE WHEN n_chars > 0
         |    THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END
         |    AS alpha_ratio,
         |  CASE WHEN n_words > 0
         |    THEN CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE) END
         |    AS stopword_ratio,
         |  CASE WHEN n_chars > 0
         |    THEN CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END * 0.5E0
         |    + CASE WHEN n_words > 0
         |        THEN CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE) END * 0.3E0
         |    + least(1.0E0, CAST(n_words AS DOUBLE) / 100.0E0) * 0.2E0 AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, dir) => qualityScore(Tables(s, dir, "documents")) },

    QueryDef.sql("text_langid", {
      val Seq(en, de, es, fr) = Seq("en", "de", "es", "fr")
        .map(l => markerCountSql(W, Stopwords(l)))
      s"""WITH m AS (
         |  SELECT doc_id, lang,
         |    $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
         |  $argmaxLangSql AS predicted
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, dir) => languageId(Tables(s, dir, "documents")) },

    QueryDef.sql("text_langid_ngram", {
      val tg = "list_transform(range(1, length(text) - 1), i -> substring(text, i, 3))"
      val scores = TrigramProfiles.map { case (l, prof) =>
        s"${markerCountSql(tg, prof)} AS s_$l"
      }.mkString(",\n    ")
      s"""WITH m AS (
         |  SELECT doc_id, lang,
         |    $scores
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
         |  $argmaxLangSql AS predicted
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, dir) => languageIdNgram(Tables(s, dir, "documents")) },

    QueryDef.sql("text_repetition",
      s"""WITH $repetitionRelationSql
         |SELECT doc_id, n_words, n_distinct_words, top_word_count,
         |  top_word_share, n_bigrams, n_distinct_bigrams, dup_bigram_frac
         |FROM rep ORDER BY doc_id""".stripMargin) {
      (s, dir) => repetitionStats(Tables(s, dir, "documents"))
    },

    QueryDef.sql("text_bm25", bm25OracleSql(Bm25Terms, Bm25TopK))(
      (s, dir) => bm25(s, dir)),

    QueryDef.sql("text_bm25_multi", bm25MultiOracleSql)(
      (s, dir) => bm25Multi(s, dir)),

    // the STORED-index face: same ranking, same oracle — the engine
    // side reads postings back from the manifest index's probed
    // buckets and must land on the identical result (plus segment-
    // pruning assertions in TextAnalysisSpec)
    QueryDef.sql("text_index_search", bm25MultiOracleSql)((s, dir) =>
      bm25StoredTopK(s, textIndexFor(s, dir), Bm25QuerySuite, Bm25TopK)),

    // the same stored probe through the WAND impact prune: documents
    // whose score upper bound (Σ per-term impact bounds) sits below
    // the kth exact seed score never reach the fold/rank stage —
    // results provably identical, so it shares the oracle; at scale
    // this is what keeps stopword-heavy queries from array-folding
    // their corpus-sized tails
    QueryDef.sql("text_index_wand", bm25MultiOracleSql)((s, dir) =>
      bm25WandStoredTopK(s, textIndexFor(s, dir), Bm25QuerySuite,
        Bm25TopK)),

    // the prune-rate audit as a first-class query: per query,
    // candidate docs vs impact-surviving docs, with the DuckDB oracle
    // re-deriving the whole prune decision (impacts, seed threshold,
    // canonical-order UB) from the raw corpus — the measurement every
    // approximate/shedding path in this repo ships
    QueryDef.sql("text_wand_stats", wandStatsOracleSql)((s, dir) =>
      wandStatsStored(s, textIndexFor(s, dir), Bm25QuerySuite,
        Bm25TopK)),

    // INCREMENTALLY-refreshed index (base commit + change-feed delta
    // commit) must answer bitwise like an index over the full corpus:
    // the oracle recomputes from scratch — the mergeability proof
    QueryDef.sql("text_index_refresh", bm25MultiOracleSql)((s, dir) =>
      bm25StoredTopK(s, refreshedTextIndexFor(s, dir),
        Bm25QuerySuite, Bm25TopK)),

    // DF-CAPPED index: stopword-class posting lists (df > cap) are
    // never stored — the hottest buckets shed their corpus-sized
    // lists — while every SURVIVING term answers bitwise like the
    // uncapped index (whole lists kept, df window exact); the oracle
    // recomputes from the raw corpus with the cap mirrored in SQL
    QueryDef.sql("text_index_capped",
      bm25MultiOracleSqlCapped(TextIndexDfCapPct))((s, dir) =>
      bm25StoredTopK(s, cappedTextIndexFor(s, dir),
        Bm25QuerySuite, Bm25TopK)),

    QueryDef.sql("text_collocations",
      s"""WITH d AS (SELECT doc_id, $W AS ws FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
         |    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p FROM d),
         |c AS (SELECT p.w1 AS w1, p.w2 AS w2,
         |    CAST(count(*) AS BIGINT) AS n_ab FROM bg GROUP BY 1, 2),
         |na AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a
         |  FROM c GROUP BY w1),
         |nb AS (SELECT w2, CAST(sum(n_ab) AS BIGINT) AS n_b
         |  FROM c GROUP BY w2),
         |t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_tot FROM c)
         |SELECT c.w1, c.w2, c.n_ab, na.n_a, nb.n_b,
         |  (CAST(c.n_ab AS DOUBLE) * CAST(t.n_tot AS DOUBLE)) /
         |  (CAST(na.n_a AS DOUBLE) * CAST(nb.n_b AS DOUBLE)) AS lift
         |FROM c JOIN na USING (w1) JOIN nb USING (w2), t
         |WHERE c.n_ab >= $MinCollocCount
         |ORDER BY lift DESC, w1, w2 LIMIT $CollocTopK""".stripMargin)(
      (s, dir) => collocations(Tables(s, dir, "documents"))),

    // exact-phrase retrieval, scan face: adjacency over the token
    // array, shuffle-free top-k — order-sensitive matching BM25's
    // bag-of-words cannot express
    QueryDef.sql("text_phrase_search", phraseOracleSql)((s, dir) =>
      phraseTopK(Tables(s, dir, "documents"),
        PhraseTerms._1, PhraseTerms._2, PhraseTopK)),

    // the same phrase served from the POSITIONAL stored index: one
    // two-bucket probe + a posting-list join, corpus never touched —
    // must answer bitwise like the scan face, same oracle
    QueryDef.sql("text_index_phrase", phraseOracleSql)((s, dir) =>
      phraseStoredTopK(s, textIndexFor(s, dir),
        PhraseTerms._1, PhraseTerms._2, PhraseTopK)),

    // n-word phrase (n = PhraseNLen), scan face: the folded adjacency
    // chain over a data-derived probe — the 8-13-gram shape real
    // decontamination/quote audits run
    QueryDef.sql("text_phrase_n", phraseNOracleSql)((s, dir) =>
      phraseTopKN(Tables(s, dir, "documents"),
        phraseNProbe(s, dir), PhraseTopK)),

    // ...and the same n-gram served from the POSITIONAL stored index:
    // one n-bucket probe + n-1 posting-list joins narrowing the start-
    // position set, corpus never touched — bitwise the scan face,
    // same oracle
    QueryDef.sql("text_index_phrase_n", phraseNOracleSql)((s, dir) =>
      phraseStoredTopKN(s, textIndexFor(s, dir),
        phraseNProbe(s, dir), PhraseTopK)),

    // the stored index's contents recomputed from the raw corpus —
    // the standing integrity oracle for the persisted layout
    QueryDef.sql("text_index_stats",
      s"""WITH d AS (SELECT doc_id, $W AS ws FROM documents),
         |b AS (SELECT doc_id, ws FROM d WHERE len(ws) > 0),
         |terms AS (SELECT doc_id, unnest(ws) AS word FROM b),
         |tf AS (SELECT doc_id, word, count(*) AS tf
         |  FROM terms GROUP BY doc_id, word),
         |bk AS (SELECT word, tf,
         |  CAST(${polyHashSql("word")} % $TextIndexBuckets AS INT) AS bkt
         |  FROM tf)
         |SELECT bkt, count(DISTINCT word) AS n_words,
         |  count(*) AS n_postings, CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM bk GROUP BY bkt ORDER BY bkt""".stripMargin)(
      (s, dir) => textIndexStats(s, dir)),

    // the VERSIONED (manifest-backed) index through the declarative
    // connector: init -> tagged refresh -> clustered compaction, same
    // from-scratch oracle
    QueryDef.sql("text_index_manifest", bm25MultiOracleSql)((s, dir) =>
      bm25StoredTopK(s, manifestTextIndexFor(s, dir),
        Bm25QuerySuite, Bm25TopK)),

    QueryDef.sql("text_word_freq",
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($W) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf
         |  FROM terms GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df FROM (
         |  SELECT DISTINCT doc_id, word FROM terms) GROUP BY word)
         |SELECT doc_id, tf.word AS word, tf, df,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tf DESC, tf.word) AS INT) AS rnk
         |FROM tf JOIN df ON tf.word = df.word
         |QUALIFY rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin) {
      (s, dir) => wordFreq(Tables(s, dir, "documents"))
    },

    QueryDef.sql("text_oov_rate",
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($W) AS word FROM documents),
         |v AS (SELECT word FROM (
         |  SELECT word, count(*) AS tf FROM terms GROUP BY word
         |  ORDER BY tf DESC, word LIMIT $OovVocabSize)),
         |c AS (SELECT doc_id, CAST(len($W) AS BIGINT) AS n_words
         |  FROM documents),
         |iv AS (SELECT doc_id, count(*) AS n_in_vocab
         |  FROM terms JOIN v USING (word) GROUP BY doc_id)
         |SELECT c.doc_id AS doc_id, c.n_words AS n_words,
         |  COALESCE(iv.n_in_vocab, 0) AS n_in_vocab,
         |  CASE WHEN c.n_words > 0 THEN
         |    CAST(c.n_words - COALESCE(iv.n_in_vocab, 0) AS DOUBLE) /
         |      CAST(c.n_words AS DOUBLE) END AS oov_rate
         |FROM c LEFT JOIN iv ON c.doc_id = iv.doc_id
         |ORDER BY doc_id""".stripMargin) {
      (s, dir) => oovRate(Tables(s, dir, "documents"))
    },

    QueryDef.sql("text_fingerprint", {
      val sh = shinglesSql(W, 3)
      s"""SELECT doc_id,
         |  ${polyHashSql(normTextSql("text"))} AS fp_text,
         |  coalesce(list_min(${polyHashAllSql(sh)}), CAST(-1 AS BIGINT)) AS fp_min_shingle,
         |  CAST(len($sh) AS BIGINT) AS n_shingles
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) => fingerprint(Tables(s, dir, "documents")) },

    QueryDef.sql("text_winnow", {
      val sh = polyHashAllSql(shinglesSql(W, 3))
      val w = WinnowWindow
      s"""WITH t AS (SELECT doc_id, $sh AS sh FROM documents),
         |t2 AS (SELECT * FROM t WHERE len(sh) >= $w)
         |SELECT doc_id,
         |  CAST(len(sh) AS BIGINT) AS n_shingles,
         |  CAST(len(sh) - $w + 1 AS BIGINT) AS n_windows,
         |  CAST(len(list_distinct(list_transform(
         |    range(0, len(sh) - $w + 1),
         |    i -> list_min(sh[(i+1):(i+$w)])))) AS BIGINT) AS n_selected,
         |  CAST(len(list_distinct(list_transform(
         |    range(0, len(sh) - $w + 1),
         |    i -> list_min(sh[(i+1):(i+$w)])))) AS DOUBLE) /
         |    CAST(len(sh) - $w + 1 AS DOUBLE) AS density
         |FROM t2 ORDER BY doc_id""".stripMargin
    }) { (s, dir) => winnow(Tables(s, dir, "documents")) },

    QueryDef.sql("text_bigram_fluency", {
      val bgSql = polyHashAllSql(shinglesSql(W, 2))
      s"""WITH t AS (SELECT doc_id, unnest($bgSql) AS h FROM documents),
         |d AS (SELECT h, count(DISTINCT doc_id) AS df FROM t GROUP BY h)
         |SELECT t.doc_id AS doc_id, count(*) AS n_bigrams,
         |  CAST(sum(d.df) AS BIGINT) AS sum_df,
         |  CAST(CAST(sum(d.df) AS BIGINT) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE) AS fluency
         |FROM t JOIN d USING (h)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) => bigramFluency(Tables(s, dir, "documents")) },

    QueryDef.sql("text_sketch_overlap", {
      val hv = polyHashAllSql(shinglesSql(W, 3))
      val k = 64
      val num = (k - 1).toLong * graft.functions.TextFunctions.HashMod
      s"""WITH t AS (
         |  SELECT doc_id % 2 = 0 AS in_a, unnest($hv) AS hv FROM documents),
         |g AS (SELECT hv, max(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
         |    max(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS b
         |  FROM t GROUP BY hv),
         |ex AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
         |    CAST(sum(b) AS BIGINT) AS n_b,
         |    count(*) AS n_union, CAST(sum(a*b) AS BIGINT) AS n_inter
         |  FROM g),
         |ska AS (SELECT list_sort(list(DISTINCT hv))[1:$k] AS sa
         |  FROM t WHERE in_a),
         |skb AS (SELECT list_sort(list(DISTINCT hv))[1:$k] AS sb
         |  FROM t WHERE NOT in_a),
         |m AS (SELECT ex.*, sa, sb,
         |    list_sort(list_distinct(sa || sb))[1:$k] AS merged
         |  FROM ex CROSS JOIN ska CROSS JOIN skb),
         |m2 AS (SELECT *,
         |    CASE WHEN len(merged) >= $k THEN merged[$k]
         |         ELSE CAST(-1 AS BIGINT) END AS kth
         |  FROM m),
         |m3 AS (SELECT *,
         |    CASE WHEN kth > 0 THEN ${num}.0E0 / CAST(kth AS DOUBLE)
         |         ELSE CAST(len(merged) AS DOUBLE) END AS est_union,
         |    CAST(len(list_filter(merged, h ->
         |      list_contains(sa, h) AND list_contains(sb, h)))
         |      AS BIGINT) AS n_both
         |  FROM m2)
         |SELECT n_a, n_b, n_union, n_inter,
         |  CASE WHEN n_union > 0 THEN
         |    CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) END AS jaccard,
         |  kth, est_union, n_both,
         |  CAST(n_both AS DOUBLE) / $k.0E0 * est_union AS est_inter,
         |  CAST(n_both AS DOUBLE) / $k.0E0 AS est_jaccard
         |FROM m3""".stripMargin
    }) { (s, dir) => sketchOverlap(Tables(s, dir, "documents")) },

    QueryDef.sql("text_distinct_sketch", {
      // (k-1)·P = 63 · 1000000007 — exact in both engines
      val hv = polyHashAllSql(shinglesSql(W, 3))
      s"""WITH t AS (SELECT lang, unnest($hv) AS hv FROM documents),
         |d AS (SELECT DISTINCT lang, hv FROM t),
         |g AS (SELECT lang, count(*) AS n_exact,
         |  list_sort(list(hv)) AS hs FROM d GROUP BY lang)
         |SELECT lang, n_exact,
         |  CASE WHEN n_exact >= 64 THEN hs[64]
         |       ELSE CAST(-1 AS BIGINT) END AS kth_hash,
         |  CASE WHEN n_exact >= 64
         |       THEN 63000000441.0E0 / CAST(hs[64] AS DOUBLE)
         |       ELSE CAST(n_exact AS DOUBLE) END AS n_est
         |FROM g ORDER BY lang""".stripMargin
    }) { (s, dir) => distinctShingleSketch(Tables(s, dir, "documents")) }
  )
}
