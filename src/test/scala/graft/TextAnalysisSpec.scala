package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpecBase {

  test("fused repetition-signals kernel == composed HOF formulation " +
      "(bitwise, incl. empty / single-word / null-text edges)") {
    import graft.functions.TextHashExpressions
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, ""), (9002L, "solo"),
        (9003L, "a a a b b a"), (9004L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val ws = words(col("text"))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"))
    val hofTop = aggregate(array_sort(ws), zero,
      (s, w) => {
        val run = when(w === s.getField("prev"), s.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"),
          greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
    val bg = TextHashExpressions.shingleStrings(ws, 2)
    val rep = TextHashExpressions.repetitionSignals(ws)
    val diff = docs.select(
        hofTop.as("a_top"), size(bg).cast("long").as("a_nbg"),
        size(array_distinct(bg)).cast("long").as("a_ndbg"),
        rep.getField("top_word_count").as("b_top"),
        rep.getField("n_bigrams").as("b_nbg"),
        rep.getField("n_distinct_bigrams").as("b_ndbg"))
      .where(!(col("a_top") <=> col("b_top")) ||
        !(col("a_nbg") <=> col("b_nbg")) ||
        !(col("a_ndbg") <=> col("b_ndbg")))
    assert(diff.count() == 0)
  }

  test("oov rate: gibberish scores high against the corpus vocabulary, " +
      "clean text scores zero") {
    import spark.implicits._
    // corpus dominated by 9 clean words (tf >= 20 each) + one gibberish
    // doc of 20 distinct one-shot words; top-16 vocab = the 9 clean
    // words + the first 7 gibberish words under the (tf DESC, word)
    // tie-break
    val clean = "the cat sat on the mat and the dog ran off"
    val gib = (1 to 20).map(i => f"zz$i%02d").mkString(" ")
    val docs = ((1L to 20L).map(i => (i, clean)) :+ (99L, gib))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.oovRate(docs).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in_vocab") <= r.getAs[Long]("n_words"))
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    val by = rows.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("oov_rate")).toMap
    assert(by(1L) == 0.0)
    assert(by(99L) == 13.0 / 20.0)
  }
  private def docs = Tables(spark, sf, "documents")

  test("polyHash: known value, empty-string guard, order sensitivity") {
    val df = spark.sql("SELECT 'ab' a, '' e, 'ba' r")
      .select(polyHash(col("a")).as("ha"), polyHash(col("e")).as("he"),
        polyHash(col("r")).as("hr"))
    val row = df.collect().head
    assert(row.getLong(0) == (97L * 31 + 98) % 1000000007) // h('ab')
    assert(row.getLong(1) == 0L) // empty -> 0, not sequence(1,0) garbage
    assert(row.getLong(0) != row.getLong(2)) // order matters
  }

  test("shingles: 3-grams, under-n guard") {
    val df = spark.sql("SELECT 'a b c d' s, 'a b' t")
      .select(shingles(words(col("s")), 3).as("sh3"),
        shingles(words(col("t")), 3).as("shShort"))
    val row = df.collect().head
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(row.getSeq[String](1).isEmpty)
  }

  test("tokenStats counts whitespace runs and empties correctly") {
    val one = spark.sql("SELECT 1L doc_id, 'en' lang, 'x  y!! z' text")
    val r = TextAnalysis.tokenStats(one).collect().head
    assert(r.getAs[Long]("n_words") == 3)
    assert(r.getAs[Long]("sum_word_len") == 3)
    assert(r.getAs[Long]("bpe_tokens") == 3) // ceil(1/4)=1 each
  }

  test("languageId picks argmax with en-first tie priority") {
    val one = spark.sql(
      "SELECT 1L doc_id, 'xx' lang, 'der und ist the le la' text")
    val r = TextAnalysis.languageId(one).collect().head
    assert(r.getAs[Long]("s_de") == 3)
    assert(r.getAs[String]("predicted") == "de")
    val tie = spark.sql("SELECT 1L doc_id, 'xx' lang, 'zzz' text")
    assert(TextAnalysis.languageId(tie).collect().head
      .getAs[String]("predicted") == "en") // all-zero tie -> en
  }

  test("quality score is within [0,1] on fixtures and formula holds") {
    val rows = TextAnalysis.qualityScore(docs).collect()
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality_score")
      q >= 0.0 && q <= 1.0
    })
  }

  test("repetition stats: known values on constructed text, fixture bounds") {
    import spark.implicits._
    // "a a a b": top word a×3; bigrams [a a, a a, a b] -> 3 total, 2
    // distinct, dup fraction 1/3
    val one = TextAnalysis.repetitionStats(
      Seq((1L, "a a a b")).toDF("doc_id", "text")).head
    assert(one.getAs[Long]("n_words") == 4L)
    assert(one.getAs[Long]("top_word_count") == 3L)
    assert(one.getAs[Double]("top_word_share") == 0.75)
    assert(one.getAs[Long]("n_bigrams") == 3L)
    assert(one.getAs[Long]("n_distinct_bigrams") == 2L)
    assert(one.getAs[Double]("dup_bigram_frac") == 1.0 / 3.0)
    // empty text: zero counts, null ratios — never a division error
    val empty = TextAnalysis.repetitionStats(
      Seq((2L, "")).toDF("doc_id", "text")).head
    assert(empty.getAs[Long]("n_words") == 0L)
    assert(empty.isNullAt(empty.fieldIndex("top_word_share")))
    assert(empty.isNullAt(empty.fieldIndex("dup_bigram_frac")))
    // NULL text: top_word_count must be 0, matching the oracle's
    // LEFT JOIN + coalesce path (a bare fold would yield NULL here)
    val nul = TextAnalysis.repetitionStats(
      Seq((3L, null: String)).toDF("doc_id", "text")).head
    assert(nul.getAs[Long]("top_word_count") == 0L)
    // fixture-wide invariants
    TextAnalysis.repetitionStats(docs).collect().foreach { r =>
      val (n, top) = (r.getAs[Long]("n_words"), r.getAs[Long]("top_word_count"))
      assert(top <= n && (n == 0L || top >= 1L))
      assert(r.getAs[Long]("n_bigrams") == math.max(n - 1, 0L))
      assert(r.getAs[Long]("n_distinct_bigrams") <= r.getAs[Long]("n_bigrams"))
      if (n > 0) {
        val share = r.getAs[Double]("top_word_share")
        assert(share > 0.0 && share <= 1.0)
      }
    }
  }

  test("bm25: formula matches a sequential reimplementation; tf, idf " +
      "and length normalization rank as BM25 must") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark beats all"),          // tf=3, dl=5
      (2L, "spark beats all other things here"),    // tf=1, dl=6
      (3L, "spark beats all other things padding " +
        "padding padding padding padding"),         // same tf=1, LONG (dl=10)
      (4L, "join join beats all"),                  // rare term, tf=2
      (5L, "nothing relevant at all here")          // tf=0
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "join")
    val rows = graft.operators.TextAnalysis.bm25On(docs, terms, 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap

    // independent sequential reimplementation (same operand order)
    val split = Seq(
      1L -> Seq("spark", "spark", "spark", "beats", "all"),
      2L -> Seq("spark", "beats", "all", "other", "things", "here"),
      3L -> Seq("spark", "beats", "all", "other", "things", "padding",
        "padding", "padding", "padding", "padding"),
      4L -> Seq("join", "join", "beats", "all"),
      5L -> Seq("nothing", "relevant", "at", "all", "here"))
    val n = split.length.toDouble
    val sumDl = split.map(_._2.length.toLong).sum.toDouble
    def score(ws: Seq[String]): Double = terms.map { t =>
      val tf = ws.count(_ == t).toDouble
      val df = split.count(_._2.contains(t)).toDouble
      val idf = (n - df + 0.5) / (df + 0.5)
      val norm = 0.25 + 0.75 * (ws.length.toDouble / (sumDl / n))
      idf * (tf * 2.2) / (tf + 1.2 * norm)
    }.reduceLeft(_ + _)
    split.foreach { case (id, ws) => assert(rows(id) == score(ws), id) }

    // BM25 orderings: more occurrences beat fewer (1 > 2); at EQUAL
    // tf, length normalization penalizes the padded doc (2 > 3); the
    // rarer term (join: df=1 vs spark: df=3) outweighs tf parity (4 > 1)
    assert(rows(1L) > rows(2L) && rows(2L) > rows(3L))
    assert(rows(4L) > rows(1L))
    assert(rows(5L) == 0.0)
  }

  test("fingerprint: identical text -> identical fp, different -> differs") {
    val df = spark.sql(
      """SELECT * FROM VALUES (1L, 'the quick brown fox jumps'),
        |(2L, 'the quick brown fox jumps'),
        |(3L, 'a different doc entirely here') AS t(doc_id, text)""".stripMargin)
    val fps = TextAnalysis.fingerprint(df).collect()
    assert(fps(0).getAs[Long]("fp_text") == fps(1).getAs[Long]("fp_text"))
    assert(fps(0).getAs[Long]("fp_text") != fps(2).getAs[Long]("fp_text"))
    assert(fps(0).getAs[Long]("fp_min_shingle")
      == fps(1).getAs[Long]("fp_min_shingle"))
  }

  test("KMV sketch: exact below k, bounded error above, partition-invariant") {
    import graft.functions.SketchAggregate.kmvSketch
    // below k distinct values -> exact count
    val small = spark.range(10).select((col("id") * 37 % 1000).as("hv"))
      .agg(kmvSketch(col("hv"), 64).as("sk"))
      .select(col("sk.kth_hash"), col("sk.est")).head
    assert(small.getLong(0) == -1L && small.getDouble(1) == 10.0)
    // above k: estimate within the KMV error envelope (~1/sqrt(k-2))
    val n = 20000
    val big = spark.range(n)
      // pseudo-uniform distinct hashes on [0, P): affine map of id
      .select(((col("id") * 49979687L + 11L) % 1000000007L).as("hv"))
    def est(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(kmvSketch(col("hv"), 128).as("sk")).select(col("sk.est"))
        .head.getDouble(0)
    val e = est(big)
    assert(math.abs(e - n) / n < 0.5, s"est $e vs $n")
    // merge correctness: estimate identical under any partitioning
    assert(est(big.repartition(1)) == e)
    assert(est(big.repartition(17)) == e)
  }

  test("winnowing: selection bounded by windows, realized density near " +
      "the 2/(w+1) theory, identical docs select identically") {
    val rows = TextAnalysis.winnow(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, ns) = (r.getAs[Long]("n_windows"), r.getAs[Long]("n_selected"))
      assert(ns >= 1 && ns <= nw)
      assert(r.getAs[Double]("density") == ns.toDouble / nw.toDouble)
    }
    // E[density] = 2/(w+1) = 0.4 for w=4 on random-ish hashes; the
    // corpus average should sit near it (loose band: selection is
    // per-doc and docs are short)
    val avg = rows.map(_.getAs[Double]("density")).sum / rows.length
    assert(avg > 0.25 && avg < 0.6, s"avg density $avg")
    // identical texts -> identical selection
    import spark.implicits._
    val twin = Seq((1L, "one two three four five six seven eight nine"),
      (2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val t = TextAnalysis.winnow(twin).collect()
      .map(r => (r.getAs[Long]("n_windows"), r.getAs[Long]("n_selected")))
    assert(t.length == 2 && t(0) == t(1))
  }

  test("bigram fluency: repeated prose outranks unique gibberish; " +
      "counts exact; single-word docs carry no row") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown dog"),
      (3L, "zq wx kj vb"), (4L, "solo")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramFluency(tiny).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigrams"), x.getAs[Long]("sum_df"),
          x.getAs[Double]("fluency"))).toMap
    assert(!r.contains(4L)) // no bigrams, no evidence
    // docs 1/2 share 'the quick'/'quick brown' (df 2) + a unique tail
    assert(r(1L) == ((3L, 5L, 5.0 / 3.0)))
    assert(r(2L) == ((3L, 5L, 5.0 / 3.0)))
    // all-unique bigrams: fluency exactly 1
    assert(r(3L) == ((3L, 3L, 1.0)))
    // corpus-level: fluency is bounded below by 1 (a bigram's df
    // counts at least its own document)
    assert(TextAnalysis.bigramFluency(docs).collect()
      .forall(_.getAs[Double]("fluency") >= 1.0))
  }

  /** The df-join formulation [[TextAnalysis.bigramFluency]] replaced
    * (distinct (doc, bigram) pairs, a groupBy for df, a join back),
    * kept as the reference the one-shuffle plan must reproduce. */
  private def bigramFluencyJoinRef(documents: DataFrame): DataFrame = {
    val bg = documents.select(col("doc_id"), explode(
      graft.functions.TextHashExpressions
        .shingleHashes(words(col("text")), 2)).as("h"))
    val dfRel = bg.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    bg.join(dfRel, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_df"),
        (col("sum_df").cast("double") / col("n_bigrams").cast("double"))
          .as("fluency"))
      .orderBy("doc_id")
  }

  test("bigram fluency: the windowed-df plan == the df-join formulation " +
      "(rows and schema)") {
    import spark.implicits._
    // duplicate doc_ids (one doc split over two rows), a bigram repeated
    // inside one document, null text, empty and single-word docs
    val edges = Seq(
      (1L, "a b a b a b"), (1L, "a b c"), (2L, "a b"), (2L, "b c d"),
      (3L, null.asInstanceOf[String]), (4L, "solo"), (5L, ""),
      (6L, "b c b c"), (7L, "c d  e!")).toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text")
    Seq(edges, corpus, corpus.unionByName(edges)).foreach { d =>
      val got = TextAnalysis.bigramFluency(d)
      val ref = bigramFluencyJoinRef(d)
      assert(got.schema == ref.schema,
        s"${got.schema.treeString} vs ${ref.schema.treeString}")
      assert(got.collect().toSeq == ref.collect().toSeq)
    }
    // the repeated bigram: doc 1 has 'a b' x4 (df 2: docs 1, 2), 'b a'
    // x2 (df 1), 'b c' x1 (df 3: docs 1, 2, 6)
    val one = TextAnalysis.bigramFluency(edges).where(col("doc_id") === 1L)
      .head()
    assert(one.getAs[Long]("n_bigrams") == 7L)
    assert(one.getAs[Long]("sum_df") == 4L * 2 + 2L * 1 + 1L * 3)
  }

  test("KMV sample: sorted bottom-k, partition-invariant; overlap " +
      "estimators well-formed and exact when the sample covers the set") {
    import graft.functions.SketchAggregate.kmvSample
    val big = spark.range(20000)
      .select(((col("id") * 49979687L + 11L) % 1000000007L).as("hv"))
    def sample(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(kmvSample(col("hv"), 128).as("s")).head.getSeq[Long](0)
    val s = sample(big)
    assert(s.length == 128 && s == s.sorted && s.distinct == s)
    assert(sample(big.repartition(17)) == s)
    // the sample IS the k smallest distinct hashes
    val smallest = big.orderBy("hv").limit(128).collect().map(_.getLong(0)).toSeq
    assert(s == smallest)

    // overlap report on the fixture: bounds and internal consistency
    val r = TextAnalysis.sketchOverlap(docs).head
    assert(r.getAs[Long]("n_inter") <= math.min(r.getAs[Long]("n_a"),
      r.getAs[Long]("n_b")))
    assert(r.getAs[Long]("n_union") <=
      r.getAs[Long]("n_a") + r.getAs[Long]("n_b"))
    assert(r.getAs[Long]("n_both") <= 64L)
    val ej = r.getAs[Double]("est_jaccard")
    assert(ej >= 0.0 && ej <= 1.0)
    assert(r.getAs[Double]("est_union") > 0.0)

    // degenerate-exact case: identical tiny slices -> estimators exact
    import spark.implicits._
    val tiny = (0L until 40L).map(i => (i, s"alpha beta gamma delta w$i"))
      .toDF("doc_id", "text")
    val t = TextAnalysis.sketchOverlap(tiny).head
    assert(t.getAs[Long]("kth") == -1L) // under k: sample covers the union
    assert(t.getAs[Double]("est_union") ==
      t.getAs[Long]("n_union").toDouble)
  }

  /** The text index collection at `table`, every row kind. */
  private def indexRowsAt(table: String): DataFrame =
    spark.read.format("graft").option("path", table)
      .option("collection", TextAnalysis.TextIndexCollection).load()

  /** A fresh manifest text index under a new temp dir: init, one
    * commit per batch (tags "c0", "c1", …), optionally compacted. */
  private def committedIndex(prefix: String, batches: Seq[DataFrame],
      dfCap: Long = 0L, compact: Boolean = true): String = {
    val table = java.nio.file.Files.createTempDirectory(prefix).toString +
      "/t"
    TextAnalysis.initManifestTextIndex(spark, table)
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(TextAnalysis.refreshManifestTextIndex(b, table, s"c$i",
        dfCap = dfCap))
    }
    if (compact) TextAnalysis.compactManifestTextIndex(spark, table)
    table
  }

  private def dropIndex(table: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(table).getParentFile)

  private def ranked(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("dl"), r.getAs[Double]("score"),
      r.getAs[Int]("rnk"))).toSeq

  /** Every distinct file scan in `df`'s executed plan, AQE stages
    * included, deduped by identity (stage objects can be reached twice
    * through AQE references). */
  private def fileScans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .foldLeft(Seq.empty[FileSourceScanExec]) { (acc, s) =>
        if (acc.exists(_ eq s)) acc else acc :+ s
      }
  }

  test("manifest-backed index: one tagged commit per batch (replay " +
      "no-op), clustered compaction restores probe pruning, connector " +
      "search bitwise equals the scan face") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.ManifestStore
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val table = Files.createTempDirectory("graft_text_mfst").toString + "/t"
    val c = TextAnalysis.TextIndexCollection
    TextAnalysis.initManifestTextIndex(spark, table)
    assert(TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 =!= 1), table, "base"))
    def segs() = ManifestStore.currentSegments(spark, table, c).get
    def segFiles(ss: Seq[Long]) = ss.flatMap { g =>
      val d = new java.io.File(f"$table/collection=$c/seg=$g%06d")
      assert(d.isDirectory, s"segment dir $d is missing")
      d.listFiles().toSeq.map(f => (g, f.getName, f.length, f.lastModified))
    }.sorted
    val baseSegs = segs()
    val baseFiles = segFiles(baseSegs)
    assert(TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 === 1), table, "delta-1"))
    // the delta commit leaves the base segments in place: the old list
    // is a prefix of the new one, and every base file keeps its name,
    // length and mtime
    assert(segs().startsWith(baseSegs) && segs().size > baseSegs.size)
    assert(segFiles(baseSegs) == baseFiles)
    // exactly-once: a replayed tag is a no-op and changes nothing
    def ask() = ranked(TextAnalysis.bm25StoredTopK(spark, table,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK))
    val before = ask()
    assert(!TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 === 1), table, "delta-1"))
    assert(ask() == before)
    // bitwise the scan face's ranking
    val expect = ranked(TextAnalysis.bm25Multi(spark, sf))
    assert(before == expect)
    // the df-window invariant: every word's postings share ONE bucket,
    // and it is the driver-side twin's polyHash(word) % n_buckets
    val wordBkts = indexRowsAt(table).where(col("kind") === "p")
      .groupBy("word").agg(collect_set(col("bkt")).as("bs")).collect()
    assert(wordBkts.nonEmpty)
    wordBkts.foreach { r =>
      assert(r.getSeq[Long](1) == Seq(polyHashLocal(r.getString(0)) %
        TextAnalysis.TextIndexBuckets), r.toString)
    }
    // the summed additive 's' rows equal a from-scratch aggregate
    val st = indexRowsAt(table).where(col("kind") === "s")
      .agg(sum(col("doc_id")), sum(col("dl"))).head
    val full = docs
      .select(size(words(col("text"))).cast("long").as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1)), sum(col("dl"))).head
    assert(st.getLong(0) == full.getLong(0) &&
      st.getLong(1) == full.getLong(1))
    // clustered compaction restores bkt pruning: a one-term probe
    // reads fewer files than the post-append layout scanned, and fewer
    // than the whole index — the postings probe only; the stats scan
    // legitimately reads all segments (one tiny additive row each) and
    // would mask the prune
    def scannedFiles(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case sc: FileSourceScanExec => sc.metrics("numFiles").value
      }.sum
    }
    def probeFiles(): Long = scannedFiles(indexRowsAt(table).where(
      col("kind") === "p" &&
        col("bkt") === polyHashLocal("spark") % TextAnalysis.TextIndexBuckets))
    val loose = probeFiles()
    TextAnalysis.compactManifestTextIndex(spark, table, segments = 8)
    val clustered = probeFiles()
    assert(clustered < loose,
      s"clustered probe should scan fewer files ($clustered vs $loose)")
    val whole = scannedFiles(indexRowsAt(table))
    assert(clustered < whole,
      s"clustered probe should scan fewer files than the index " +
        s"($clustered vs $whole)")
    assert(ask() == expect) // compaction is reader-equivalent
    // ... and FOLDS the per-batch metadata: the two commits' additive
    // 's' rows collapse to ONE summed row, the identical 'b' layout
    // rows to ONE distinct row — stats scans bounded by compactions,
    // not commit count (scoring parity above already proves the folded
    // n_docs/sum_dl read back correctly)
    val meta = indexRowsAt(table).where(col("kind") =!= "p").collect()
    assert(meta.count(_.getString(0) == "s") == 1, meta.mkString(", "))
    assert(meta.count(_.getString(0) == "b") == 1, meta.mkString(", "))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(table).getParentFile)
  }

  test("phrase search: scan face == positional-index face == hand " +
      "count, incl. repeats, overlap, same-word phrases, and misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha merge group beta merge group"),     // tf 2
      (2L, "merge merge group"),                      // tf 1 (at pos 2)
      (3L, "group merge"),                            // reversed: miss
      (4L, "merge group"),                            // tf 1, shortest
      (5L, "nothing here"),                           // miss
      (6L, "merge")                                   // single word: miss
    ).toDF("doc_id", "text")
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Long]("phrase_tf"))).toSeq
    val scan = asTuples(TextAnalysis.phraseTopK(docs, "merge", "group", 10))
    assert(scan == Seq((1L, 6L, 2L), (2L, 3L, 1L), (4L, 2L, 1L)))
    // the stored positional face answers identically
    val table = committedIndex("graft_text_pos", Seq(docs))
    assert(asTuples(TextAnalysis.phraseStoredTopK(
      spark, table, "merge", "group", 10)) == scan)
    // same-word phrase: adjacency within one posting list
    assert(asTuples(TextAnalysis.phraseStoredTopK(
      spark, table, "merge", "merge", 10)) == Seq((2L, 3L, 1L)))
    assert(asTuples(TextAnalysis.phraseTopK(
      docs, "merge", "merge", 10)) == Seq((2L, 3L, 1L)))
    // a term the index never stored: empty, not a fault
    assert(TextAnalysis.phraseStoredTopK(
      spark, table, "zz", "merge", 10).count() == 0L)
    dropIndex(table)
  }

  test("n-word phrase search: scan face == positional-index face == " +
      "hand count; one pruned index scan per term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"),        // 'a b c' tf 3
      (2L, "x a b c y"),                // tf 1, interior
      (3L, "a b a b c"),                // tf 1 (prefix restart)
      (4L, "a b"),                      // too short for the trigram
      (5L, "c b a"),                    // reversed: miss
      (6L, "a a a a"),                  // same-word trigram fodder
      (7L, "q w e r t q w e r t")       // 5-gram tf 2
    ).toDF("doc_id", "text")
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Long]("phrase_tf"))).toSeq
    val table = committedIndex("graft_text_posn", Seq(docs))
    def both(terms: Seq[String]) = {
      val scan = asTuples(TextAnalysis.phraseTopKN(docs, terms, 10))
      val stored = TextAnalysis.phraseStoredTopKN(spark, table, terms, 10)
      assert(asTuples(stored) == scan, s"faces diverge for $terms")
      (scan, stored)
    }
    val (tri, triStored) = both(Seq("a", "b", "c"))
    assert(tri == Seq((1L, 9L, 3L), (2L, 5L, 1L), (3L, 5L, 1L)))
    // repeated-term trigram: overlapping starts count (positions 1,2)
    val (rep, _) = both(Seq("a", "a", "a"))
    assert(rep == Seq((6L, 4L, 2L)))
    // 5-gram
    val (five, _) = both(Seq("q", "w", "e", "r", "t"))
    assert(five == Seq((7L, 10L, 2L)))
    // miss: a valid prefix that never completes
    assert(both(Seq("a", "b", "c", "z"))._1.isEmpty)
    // one scan per term, each planning FEWER files than the whole
    // compacted index — the bkt sidecars exclude segments, never a
    // full-index read
    triStored.collect()
    val whole = indexRowsAt(table)
    whole.collect()
    val wholeFiles = fileScans(whole)
      .map(_.selectedPartitions.totalNumberOfFiles).sum
    val perTerm = fileScans(triStored)
    assert(perTerm.size == 3, s"expected 3 scans: $perTerm")
    perTerm.foreach { s =>
      val planned = s.selectedPartitions.totalNumberOfFiles
      assert(planned < wholeFiles,
        s"scan planned $planned files, the whole index holds $wholeFiles")
    }
    dropIndex(table)
  }

  /** The 'p' rows of an index, comparable across indexes. */
  private def postingsOf(table: String) = indexRowsAt(table)
    .where(col("kind") === "p")
    .select("doc_id", "dl", "word", "tf", "ps", "bkt").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
      r.getSeq[Int](4).mkString(","), r.getLong(5)))
    .sortBy(t => (t._1, t._3)).toSeq

  test("df-capped index: over-cap posting lists are never committed, " +
      "surviving terms answer bitwise like the uncapped index, the " +
      "hottest bucket sheds mass, stats stay full-corpus") {
    import spark.implicits._
    // crafted corpus: 'the' in every doc (df 40 > cap), content words
    // in a few docs each; cap at 50% = 20 docs
    val docs = (0L until 40L).map { i =>
      val extra = if (i % 8 == 0) " spark join" else ""
      (i, s"the quick w$i doc number x${i % 4}$extra")
    }.toDF("doc_id", "text")
    // uncompacted: the rows read back are exactly the committed ones
    val full = committedIndex("graft_text_uncapped", Seq(docs),
      compact = false)
    val capped = committedIndex("graft_text_capped", Seq(docs),
      dfCap = 20L, compact = false)
    val cw = postingsOf(capped).map(_._3).toSet
    // df('the') = df('quick') = df('doc') = 40 > 20: never committed
    assert(!cw.contains("the") && !cw.contains("quick"), cw.toString)
    // df('spark') = 5, df('x0') = 10: whole lists survive
    assert(cw.contains("spark") && cw.contains("x0"), cw.toString)
    // surviving-term probes are bitwise the uncapped index's
    val suite = Seq(1L -> "spark", 1L -> "join", 2L -> "x0")
    def ask(t: String) = ranked(TextAnalysis.bm25StoredTopK(spark, t,
      suite, 5))
    assert(ask(capped) == ask(full) && ask(capped).nonEmpty)
    // an over-cap term finds nothing (list never stored) — not a fault
    assert(TextAnalysis.bm25StoredTopK(spark, capped,
      Seq(9L -> "the"), 5).count() == 0L)
    // the hottest bucket sheds posting mass
    def hottest(t: String): Long = indexRowsAt(t).where(col("kind") === "p")
      .groupBy("bkt").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(hottest(capped) < hottest(full))
    // corpus stats stay FULL-corpus (BM25 normalization is about the
    // corpus, not the index); the layout carries the absolute cap
    def stats(t: String) = TextAnalysis.indexProbe(spark, t, Some(Nil))._2
      .head.toSeq
    assert(stats(capped) == stats(full) && stats(full).head == 40L)
    assert(TextAnalysis.manifestIndexLayout(spark, capped) ==
      (TextAnalysis.TextIndexBuckets, 20L))
    assert(TextAnalysis.manifestIndexLayout(spark, full) ==
      (TextAnalysis.TextIndexBuckets, 0L))
    Seq(full, capped).foreach(dropIndex)
  }

  test("capped-index incremental commits == capped rebuild: a word " +
      "pushed over the cap drops at the probe and is evicted by " +
      "compaction, surviving batch rows commit, a replayed tag commits " +
      "nothing") {
    import spark.implicits._
    // base: 'aa' df 4 (cap 5, near it), 'bb' df 8 (> cap since the
    // first commit), 'cc' df 2, per-doc unique words — batch pushes
    // 'aa' to 7 (> cap), leaves 'cc' at 4 (survives), adds fresh
    // words, and adds more 'bb' (stays out); batch2 pushes 'cc' over
    def doc(i: Long, ws: Seq[String]) = (i, ws.mkString(" "))
    val base = ((0L until 8L).map(i => doc(i, Seq("bb", s"u$i") ++
      (if (i < 4) Seq("aa") else Nil) ++
      (if (i < 2) Seq("cc") else Nil)))).toDF("doc_id", "text")
    val batch = ((100L until 103L).map(i => doc(i,
      Seq("aa", "bb", s"v$i") ++
      (if (i < 102L) Seq("cc") else Nil)))).toDF("doc_id", "text")
    val batch2 = ((200L until 203L).map(i =>
      doc(i, Seq("cc", s"w$i")))).toDF("doc_id", "text")
    val suite = Seq(1L -> "cc", 2L -> "v100", 3L -> "aa", 4L -> "w200")
    def ask(t: String) = ranked(TextAnalysis.bm25StoredTopK(spark, t,
      suite, 5))
    val inc = committedIndex("graft_capref_inc", Seq(base, batch),
      dfCap = 5L, compact = false)
    val reb = committedIndex("graft_capref_reb",
      Seq(base.unionByName(batch)), dfCap = 5L, compact = false)
    // 'aa' crossed the cap after its base postings were committed: they
    // are still stored, but the probe drops the word
    assert(postingsOf(inc).exists(_._3 == "aa"))
    assert(!postingsOf(reb).exists(_._3 == "aa"))
    assert(TextAnalysis.bm25StoredTopK(spark, inc, Seq(3L -> "aa"), 5)
      .count() == 0L)
    assert(ask(inc) == ask(reb) && ask(inc).nonEmpty)
    // the batch's surviving rows were committed; always-over 'bb' never
    assert(postingsOf(inc).exists(t => t._1 == 100L && t._3 == "cc"))
    assert(!postingsOf(inc).exists(_._3 == "bb"))
    // a second batch composes ('d' rows stay additive): 'cc' goes over
    assert(TextAnalysis.refreshManifestTextIndex(batch2, inc, "c2"))
    val reb2 = committedIndex("graft_capref_reb2",
      Seq(base.unionByName(batch).unionByName(batch2)), dfCap = 5L,
      compact = false)
    assert(ask(inc) == ask(reb2))
    // a replayed tag commits nothing
    val c = TextAnalysis.TextIndexCollection
    val segsBefore = graft.sources.ManifestStore
      .currentSegments(spark, inc, c).get
    assert(!TextAnalysis.refreshManifestTextIndex(batch2, inc, "c2"))
    assert(graft.sources.ManifestStore
      .currentSegments(spark, inc, c).get == segsBefore)
    // compaction evicts the over-cap words' postings: afterwards the
    // 'p' rows and the summed 'd' rows equal the rebuild's
    TextAnalysis.compactManifestTextIndex(spark, inc)
    assert(postingsOf(inc) == postingsOf(reb2))
    val words = postingsOf(inc).map(_._3).toSet
    assert(!words.contains("aa") && !words.contains("bb") &&
      !words.contains("cc") && words.contains("v100") &&
      words.contains("w200"), words.toString)
    def dfs(t: String) = indexRowsAt(t).where(col("kind") === "d")
      .groupBy("word").agg(sum(col("tf")).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(dfs(inc) == dfs(reb2) && dfs(inc).toMap.apply("aa") == 7L)
    def stats(t: String) = TextAnalysis.indexProbe(spark, t, Some(Nil))._2
      .head.toSeq
    assert(stats(inc) == stats(reb2))
    assert(ask(inc) == ask(reb2))
    Seq(inc, reb, reb2).foreach(dropIndex)
  }

  test("manifest index layout: the first commit establishes the bucket " +
      "count, later batches inherit it, a foreign-layout commit fails " +
      "the probe loud") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val table = Files.createTempDirectory("graft_text_mlay").toString + "/t"
    TextAnalysis.initManifestTextIndex(spark, table)
    // first commit at a NON-default count
    assert(TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 =!= 1), table, "base", nBuckets = 32L))
    // the second batch ASKS for the default but inherits the stored 32
    assert(TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 === 1), table, "delta-1"))
    assert(TextAnalysis.manifestIndexLayout(spark, table) == (32L, 0L))
    // probes resolve against the stored layout and match the scan face
    val got = TextAnalysis.bm25StoredTopK(spark, table,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    val expect = TextAnalysis.bm25Multi(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    assert(got == expect)
    // a commit hashed under a DIFFERENT layout (bypassing the refresh
    // face) corrupts the geometry — the probe must refuse, not return
    // silently wrong posting lists
    graft.sources.ManifestStore.storeBatch(
      TextAnalysis.indexRows(
        docs.where(col("doc_id") % 10 === 2), nBuckets = 16L),
      table, TextAnalysis.TextIndexCollection, "foreign")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25StoredTopK(spark, table,
        TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
    }
    assert(e.getMessage.contains("MULTIPLE bucket counts"), e.getMessage)
    // an index with no 'b' layout row (pre-versioning) is refused too:
    // its bucket count is unknowable
    val bare = Files.createTempDirectory("graft_text_bare").toString + "/t"
    TextAnalysis.initManifestTextIndex(spark, bare)
    graft.sources.ManifestStore.storeBatch(
      TextAnalysis.indexRows(docs).where(col("kind") =!= "b"),
      bare, TextAnalysis.TextIndexCollection, "bare")
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.bm25StoredTopK(spark, bare,
        TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
    }
    assert(e2.getMessage.contains("carries no 'b' layout row"),
      e2.getMessage)
    Seq(table, bare).foreach(dropIndex)
  }

  test("WAND impact prune: results bitwise == the unpruned stored " +
      "probe, and the prune actually drops candidates") {
    import spark.implicits._
    val path = TextAnalysis.textIndexFor(spark, sf)
    val plain = TextAnalysis.bm25StoredTopK(spark, path,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
      .collect().map(_.toSeq.toList).toList
    val wand = TextAnalysis.bm25WandStoredTopK(spark, path,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
      .collect().map(_.toSeq.toList).toList
    assert(wand == plain)
    // the prune engages: the suite's mixed rare+stopword queries must
    // shed candidates, and no query keeps fewer than its answer size
    val (tf, stats) = TextAnalysis.indexProbe(spark, path,
      Some(TextAnalysis.Bm25QuerySuite.map(_._2)))
    val ps = TextAnalysis.wandPruneStats(tf,
      TextAnalysis.Bm25QuerySuite.toDF("query_id", "term"), stats,
      TextAnalysis.Bm25TopK).collect()
    assert(ps.nonEmpty)
    val answered = plain.groupBy(_.head).view.mapValues(_.size).toMap
    ps.foreach { r =>
      val (q, cand, surv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(surv <= cand)
      assert(surv >= answered.getOrElse(q, 0).toLong,
        s"query $q pruned below its own answer set")
    }
    assert(ps.exists(r => r.getLong(2) < r.getLong(1)),
      "no query shed any candidate — the prune never engaged: " +
        ps.mkString(", "))
    // seed-width soundness (the any-width argument: the threshold is
    // a subset kth-best, so L <= the true kth at EVERY width): a wider
    // seed can only prune MORE, never a true top-k doc — width-3
    // results stay bitwise the width-1 (default) results, and the
    // audit's survivor counts are monotone non-increasing in width
    val wand3 = TextAnalysis.wandRank(tf,
      TextAnalysis.Bm25QuerySuite.toDF("query_id", "term"), stats,
      TextAnalysis.Bm25TopK, seedTerms = 3)
      .collect().map(_.toSeq.toList).toList
    assert(wand3 == plain)
    val ps3 = TextAnalysis.wandPruneStats(tf,
      TextAnalysis.Bm25QuerySuite.toDF("query_id", "term"), stats,
      TextAnalysis.Bm25TopK, seedTerms = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    ps.foreach { r =>
      assert(ps3(r.getLong(0)) <= r.getLong(2),
        s"width-3 seed pruned LESS than width-1 on query ${r.getLong(0)}")
    }
    // a suite whose term the index never stored: BOTH faces answer
    // empty (the checkpointed empty-hits path — no seed, no threshold,
    // no fault), still bitwise-equal
    val ghost = Seq((99L, "zzqqxxneverword"))
    assert(TextAnalysis.bm25WandStoredTopK(spark, path, ghost, 5)
      .count() == 0L)
    assert(TextAnalysis.bm25StoredTopK(spark, path, ghost, 5)
      .count() == 0L)
    TextAnalysis.releaseCaches()
  }
}
