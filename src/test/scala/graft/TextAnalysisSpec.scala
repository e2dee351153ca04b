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

  test("stored inverted index: probe is bkt partition pruning, result " +
      "bitwise equals the compute-on-scan bm25Multi, bucket holds " +
      "whole posting lists") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = Files.createTempDirectory("graft_text_index").toString
    TextAnalysis.buildTextIndex(docs, dir)

    // the probe's scan prunes directories on bkt (IN partition filter)
    val stored = TextAnalysis.bm25StoredTopK(spark, dir,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
    val plan = stored.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("bkt"),
      s"stored probe must prune on bkt:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*bkt[^\\]]*IN".r
      .findFirstIn(plan).nonEmpty,
      s"probe set must be an IN partition filter:\n$plan")

    // bitwise equality with the scan face (same bm25Rank tail)
    val got = stored.collect().map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
      r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    val expect = TextAnalysis.bm25Multi(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("dl"), r.getAs[Double]("score"),
        r.getAs[Int]("rnk"))).toSeq
    assert(got == expect)

    // the df-window invariant: every word's postings live in exactly
    // one bucket directory (partitioned by polyHash(word) % B)
    val spread = spark.read.parquet(dir + "/postings")
      .groupBy("word").agg(countDistinct(col("bkt")).as("nb"))
      .where(col("nb") > 1).count()
    assert(spread == 0L)

    // driver-side bucket twin agrees with the stored layout
    val bkts = spark.read.parquet(dir + "/postings")
      .select("word", "bkt").distinct().collect()
    bkts.foreach { r =>
      assert(polyHashLocal(r.getString(0)) % TextAnalysis.TextIndexBuckets
        == r.getAs[Int]("bkt").toLong, r.getString(0)) }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("incremental index refresh: delta-only append (base files " +
      "untouched), merged stats exact, answers bitwise like a " +
      "full-corpus build") {
    import java.nio.file.Files
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 10 =!= 1)
    val batch = docs.where(col("doc_id") % 10 === 1)
    val dir = Files.createTempDirectory("graft_text_refresh").toString
    TextAnalysis.buildTextIndex(corpus, dir)
    def postingFiles() = spark.read.parquet(dir + "/postings")
      .inputFiles.toSet
    val before = postingFiles()
    TextAnalysis.refreshTextIndex(batch, dir)
    val after = postingFiles()
    // append-only maintenance: every base file survives, new files add
    assert(before.subsetOf(after) && after.size > before.size)
    // merged stats equal a from-scratch aggregate
    val st = spark.read.parquet(dir + "/stats").head
    val full = docs
      .select(size(words(col("text"))).cast("long").as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1)), sum(col("dl"))).head
    assert(st.getLong(0) == full.getLong(0) &&
      st.getLong(1) == full.getLong(1))
    // refreshed index answers bitwise like the full build
    val fullDir = Files.createTempDirectory("graft_text_full").toString
    TextAnalysis.buildTextIndex(docs, fullDir)
    def ask(d: String) = TextAnalysis.bm25StoredTopK(spark, d,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    assert(ask(dir) == ask(fullDir))
    Seq(dir, fullDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("manifest-backed index: one tagged commit per batch (replay " +
      "no-op), clustered compaction restores probe pruning, connector " +
      "search bitwise equals the scan face") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val table = Files.createTempDirectory("graft_text_mfst").toString + "/t"
    TextAnalysis.initManifestTextIndex(spark, table)
    assert(TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 =!= 1), table, "base"))
    assert(TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 === 1), table, "delta-1"))
    // exactly-once: a replayed tag is a no-op and changes nothing
    def ask() = TextAnalysis.bm25ManifestTopK(spark, table,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    val before = ask()
    assert(!TextAnalysis.refreshManifestTextIndex(
      docs.where(col("doc_id") % 10 === 1), table, "delta-1"))
    assert(ask() == before)
    // bitwise the scan face's ranking
    val expect = TextAnalysis.bm25Multi(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    assert(before == expect)
    // clustered compaction restores bkt pruning: a one-term probe
    // reads fewer files than the post-append layout scanned
    // the postings probe only — the stats scan legitimately reads all
    // segments (one tiny additive row each) and would mask the prune
    def probeFiles(): Long = {
      val bkt = polyHashLocal("spark") % TextAnalysis.TextIndexBuckets
      val one = spark.read.format("graft").option("path", table)
        .option("collection", TextAnalysis.TextIndexCollection).load()
        .where(col("kind") === "p" && col("bkt") === bkt)
      one.collect()
      one.queryExecution.executedPlan.collect {
        case sc: FileSourceScanExec => sc.metrics("numFiles").value
      }.sum
    }
    val loose = probeFiles()
    TextAnalysis.compactManifestTextIndex(spark, table, segments = 8)
    val clustered = probeFiles()
    assert(clustered < loose,
      s"clustered probe should scan fewer files ($clustered vs $loose)")
    assert(ask() == expect) // compaction is reader-equivalent
    // ... and FOLDS the per-batch metadata: the two commits' additive
    // 's' rows collapse to ONE summed row, the identical 'b' layout
    // rows to ONE distinct row — stats scans bounded by compactions,
    // not commit count (scoring parity above already proves the folded
    // n_docs/sum_dl read back correctly)
    val meta = spark.read.format("graft").option("path", table)
      .option("collection", TextAnalysis.TextIndexCollection).load()
      .where(col("kind") =!= "p").collect()
    assert(meta.count(_.getString(0) == "s") == 1, meta.mkString(", "))
    assert(meta.count(_.getString(0) == "b") == 1, meta.mkString(", "))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(table).getParentFile)
  }

  test("phrase search: scan face == positional-index face == hand " +
      "count, incl. repeats, overlap, same-word phrases, and misses") {
    import java.nio.file.Files
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
    val dir = Files.createTempDirectory("graft_text_pos").toString
    TextAnalysis.buildTextIndex(docs, dir)
    assert(asTuples(TextAnalysis.phraseStoredTopK(
      spark, dir, "merge", "group", 10)) == scan)
    // same-word phrase: adjacency within one posting list
    assert(asTuples(TextAnalysis.phraseStoredTopK(
      spark, dir, "merge", "merge", 10)) == Seq((2L, 3L, 1L)))
    assert(asTuples(TextAnalysis.phraseTopK(
      docs, "merge", "merge", 10)) == Seq((2L, 3L, 1L)))
    // a term the index never stored: empty, not a fault
    assert(TextAnalysis.phraseStoredTopK(
      spark, dir, "zz", "merge", 10).count() == 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("n-word phrase search: scan face == positional-index face == " +
      "hand count; probe reads one bucket dir per DISTINCT term") {
    import java.nio.file.Files
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
    val dir = Files.createTempDirectory("graft_text_posn").toString
    TextAnalysis.buildTextIndex(docs, dir)
    def both(terms: Seq[String]) = {
      val scan = asTuples(TextAnalysis.phraseTopKN(docs, terms, 10))
      val stored = TextAnalysis.phraseStoredTopKN(spark, dir, terms, 10)
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
    // the stored probe plans one bucket directory per DISTINCT term
    triStored.collect()
    // descend through AQE wrappers: the joined probe is adaptive and
    // its scans live inside query stages
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    // stage objects can be reached twice through AQE references —
    // dedupe by identity, then pin each scan's PLANNED file set
    val distinctScans = scans(triStored.queryExecution.executedPlan)
      .foldLeft(Seq.empty[org.apache.spark.sql.execution
        .FileSourceScanExec]) { (acc, s) =>
        if (acc.exists(_ eq s)) acc else acc :+ s
      }
    val bktDirs = Seq("a", "b", "c")
      .map(t => graft.functions.TextFunctions.polyHashLocal(t)
        % TextAnalysis.TextIndexBuckets).distinct
    val fsDir = new java.io.File(dir + "/postings")
    val filesInProbedBkts = bktDirs.map { b =>
      Option(new java.io.File(fsDir, s"bkt=$b").listFiles())
        .fold(0)(_.count(f => f.getName.endsWith(".parquet")))
    }.sum
    val totalFiles = Option(fsDir.listFiles()).fold(0)(
      _.count(_.getName.startsWith("bkt=")))
    assert(totalFiles > bktDirs.size, "fixture must have unprobed dirs")
    // one scan per term, each planning ONLY the probed dirs' files —
    // never the whole index
    assert(distinctScans.size == 3, s"expected 3 scans: $distinctScans")
    distinctScans.foreach { s =>
      val planned = s.selectedPartitions.totalNumberOfFiles
      assert(planned == filesInProbedBkts,
        s"scan planned $planned files, probed dirs hold $filesInProbedBkts")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("bucket count is a property of the STORED index: a non-default " +
      "build probes correctly, refresh inherits the stored layout, a " +
      "pre-versioned index fails loud") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    def ask(d: String) = TextAnalysis.bm25StoredTopK(spark, d,
      TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    // built at 2× the constant: the probe must use the STORED count —
    // probing with the constant would look in the wrong directories
    // and silently answer empty
    val wide = Files.createTempDirectory("graft_text_b128").toString
    TextAnalysis.buildTextIndex(docs, wide,
      nBuckets = TextAnalysis.TextIndexBuckets * 2)
    val expect = TextAnalysis.bm25Multi(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    assert(ask(wide) == expect)
    assert(spark.read.parquet(wide + "/stats").head
      .getAs[Long]("n_buckets") == TextAnalysis.TextIndexBuckets * 2)
    // refresh buckets the BATCH with the stored layout, not the
    // constant: every word still lives in exactly one bucket dir
    val dir = Files.createTempDirectory("graft_text_b16").toString
    TextAnalysis.buildTextIndex(
      docs.where(col("doc_id") % 10 =!= 1), dir, nBuckets = 16L)
    TextAnalysis.refreshTextIndex(
      docs.where(col("doc_id") % 10 === 1), dir)
    val postings = spark.read.parquet(dir + "/postings")
    assert(postings.groupBy("word")
      .agg(countDistinct(col("bkt")).as("nb"))
      .where(col("nb") > 1).count() == 0L)
    assert(postings.agg(max(col("bkt"))).head.getInt(0) < 16)
    assert(ask(dir) == expect)
    // an index with no persisted layout (pre-versioning) is refused
    val bare = Files.createTempDirectory("graft_text_bare").toString
    import spark.implicits._
    spark.read.parquet(dir + "/postings").select("doc_id", "dl", "word",
      "tf", "bkt").write.partitionBy("bkt").parquet(bare + "/postings")
    Seq((1L, 1L)).toDF("n_docs", "sum_dl")
      .write.parquet(bare + "/stats")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25StoredTopK(spark, bare,
        TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
    }
    assert(e.getMessage.contains("no persisted n_buckets"), e.getMessage)
    Seq(wide, dir, bare).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("df-capped index: over-cap posting lists are never stored, " +
      "surviving terms answer bitwise like the uncapped store, the " +
      "hottest bucket sheds mass, a df-less capped store refuses " +
      "refresh") {
    import java.nio.file.Files
    import spark.implicits._
    // crafted corpus: 'the' in every doc (df 40 > cap), content words
    // in a few docs each; cap at 50% = 20 docs
    val docs = (0L until 40L).map { i =>
      val extra = if (i % 8 == 0) " spark join" else ""
      (i, s"the quick w$i doc number x${i % 4}$extra")
    }.toDF("doc_id", "text")
    val full = Files.createTempDirectory("graft_text_uncapped").toString
    val capped = Files.createTempDirectory("graft_text_capped").toString
    TextAnalysis.buildTextIndex(docs, full)
    TextAnalysis.buildTextIndex(docs, capped, dfCap = 20L)
    val cw = spark.read.parquet(capped + "/postings")
      .select("word").distinct().collect().map(_.getString(0)).toSet
    // df('the') = df('quick') = df('doc') = 40 > 20: never stored
    assert(!cw.contains("the") && !cw.contains("quick"), cw.toString)
    // df('spark') = 5, df('x0') = 10: whole lists survive
    assert(cw.contains("spark") && cw.contains("x0"), cw.toString)
    // surviving-term probes are bitwise the uncapped store's
    val suite = Seq(1L -> "spark", 1L -> "join", 2L -> "x0")
    def ask(d: String) = TextAnalysis.bm25StoredTopK(spark, d, suite, 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Int]("rnk"))).toSeq
    assert(ask(capped) == ask(full) && ask(capped).nonEmpty)
    // an over-cap term finds nothing (list never stored) — not a fault
    assert(TextAnalysis.bm25StoredTopK(spark, capped,
      Seq(9L -> "the"), 5).count() == 0L)
    // the hottest bucket sheds posting mass
    def hottest(d: String): Long = spark.read.parquet(d + "/postings")
      .groupBy("bkt").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(hottest(capped) < hottest(full))
    // corpus stats stay FULL-corpus (BM25 normalization is about the
    // corpus, not the index)
    val (sf_, sc_) = (spark.read.parquet(full + "/stats").head,
      spark.read.parquet(capped + "/stats").head)
    assert(sf_.getAs[Long]("n_docs") == sc_.getAs[Long]("n_docs") &&
      sf_.getAs[Long]("sum_dl") == sc_.getAs[Long]("sum_dl"))
    assert(sc_.getAs[Long]("df_cap") == 20L)
    // a capped build persists the per-word df store refresh needs
    assert(new java.io.File(capped + "/dfs").exists())
    // ...and a capped store WITHOUT it (pre-upgrade) refuses refresh
    // loud — exact incremental capping is impossible without the dfs
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(capped + "/dfs"))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.refreshTextIndex(
        Seq((99L, "fresh words")).toDF("doc_id", "text"), capped)
    }
    assert(e.getMessage.contains("df_cap"), e.getMessage)
    Seq(full, capped).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("capped-index incremental refresh == capped rebuild: newly " +
      "over-cap words evict (only their buckets rewrite), surviving " +
      "batch rows append, always-over words stay out") {
    import java.nio.file.Files
    import spark.implicits._
    // base: 'aa' df 4 (cap 5, near it), 'bb' df 8 (> cap since build),
    // 'cc' df 2, per-doc unique words — batch pushes 'aa' to 7 (> cap:
    // evict), leaves 'cc' at 4 (survives), adds fresh words, and adds
    // more 'bb' (stays out)
    def doc(i: Long, ws: Seq[String]) = (i, ws.mkString(" "))
    val base = ((0L until 8L).map(i => doc(i, Seq("bb", s"u$i") ++
      (if (i < 4) Seq("aa") else Nil) ++
      (if (i < 2) Seq("cc") else Nil)))).toDF("doc_id", "text")
    val batch = ((100L until 103L).map(i => doc(i,
      Seq("aa", "bb", s"v$i") ++
      (if (i < 102L) Seq("cc") else Nil)))).toDF("doc_id", "text")
    val inc = Files.createTempDirectory("graft_capref_inc").toString
    val reb = Files.createTempDirectory("graft_capref_reb").toString
    TextAnalysis.buildTextIndex(base, inc, dfCap = 5L)
    // fingerprint untouched bucket files before the refresh
    val evictBkt = (graft.functions.TextFunctions.polyHashLocal("aa")
      % TextAnalysis.TextIndexBuckets).toInt
    def bktFiles(d: String) = Option(new java.io.File(d + "/postings")
        .listFiles()).fold(Seq.empty[String])(_.toSeq
      .filter(f => f.getName.startsWith("bkt=") &&
        f.getName != s"bkt=$evictBkt")
      .flatMap(b => b.listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"${b.getName}/${f.getName}:${f.length}")))
      .sorted
    val before = bktFiles(inc)
    TextAnalysis.refreshTextIndex(batch, inc)
    // non-evicted base bucket files survive untouched (append-only
    // there; only the evicted word's bucket dir was rewritten)
    assert(before.forall(bktFiles(inc).contains), bktFiles(inc).toString)
    TextAnalysis.buildTextIndex(base.unionByName(batch), reb, dfCap = 5L)
    // postings relations identical
    def post(d: String) = spark.read
      .schema(TextAnalysis.PostingsSchema).parquet(d + "/postings")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getSeq[Int](4).mkString(","), r.getInt(5)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(post(inc) == post(reb))
    val words = post(inc).map(_._3).toSet
    assert(!words.contains("aa") && !words.contains("bb") &&
      words.contains("cc") && words.contains("v100"), words.toString)
    // stats identical (full-corpus normalization)
    assert(spark.read.parquet(inc + "/stats").head.toSeq ==
      spark.read.parquet(reb + "/stats").head.toSeq)
    // stored df totals identical (additive rows sum to the rebuild's)
    def dfs(d: String) = spark.read
      .schema(TextAnalysis.DfsSchema).parquet(d + "/dfs")
      .groupBy("word").agg(sum(col("df")).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(dfs(inc) == dfs(reb))
    // probes over both stores answer identically
    val suite = Seq(1L -> "cc", 2L -> "v100", 3L -> "aa")
    def ask(d: String) = TextAnalysis.bm25StoredTopK(spark, d, suite, 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Int]("rnk"))).toSeq
    assert(ask(inc) == ask(reb) && ask(inc).nonEmpty)
    // a SECOND refresh composes (dfs stay additive): push 'cc' over
    val batch2 = ((200L until 203L).map(i =>
      doc(i, Seq("cc", s"w$i")))).toDF("doc_id", "text")
    TextAnalysis.refreshTextIndex(batch2, inc)
    val reb2 = Files.createTempDirectory("graft_capref_reb2").toString
    TextAnalysis.buildTextIndex(
      base.unionByName(batch).unionByName(batch2), reb2, dfCap = 5L)
    assert(post(inc) == post(reb2))
    assert(!post(inc).map(_._3).toSet.contains("cc"))
    // a leftover staging dir marks a crashed rewrite that may hold the
    // only copy of a bucket's surviving postings — refresh refuses
    // loud instead of destroying it
    val staging = new java.io.File(inc + "/.postings-rewrite")
    assert(staging.mkdir())
    val crash = intercept[IllegalArgumentException] {
      TextAnalysis.refreshTextIndex(
        ((300L to 302L).map(i => doc(i, Seq("aa")))).toDF("doc_id", "text"),
        inc)
    }
    assert(crash.getMessage.contains("staging"), crash.getMessage)
    assert(staging.delete())
    // a leftover APPEND marker marks a crash between the postings and
    // dfs appends — stored per-word dfs no longer match the postings
    // (base_df permanently too low) — refresh refuses loud
    val marker = new java.io.File(inc + "/.dfs-append-inflight")
    assert(marker.createNewFile())
    val crash2 = intercept[IllegalArgumentException] {
      TextAnalysis.refreshTextIndex(
        ((310L to 312L).map(i => doc(i, Seq("aa")))).toDF("doc_id", "text"),
        inc)
    }
    assert(crash2.getMessage.contains("append marker"), crash2.getMessage)
    assert(marker.delete())
    // a clean refresh brackets its appends and removes the marker
    TextAnalysis.refreshTextIndex(
      ((320L to 321L).map(i => doc(i, Seq("dd")))).toDF("doc_id", "text"),
      inc)
    assert(!marker.exists())
    Seq(inc, reb, reb2).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
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
    assert(TextAnalysis.manifestIndexBuckets(spark, table) == 32L)
    // probes resolve against the stored layout and match the scan face
    val got = TextAnalysis.bm25ManifestTopK(spark, table,
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
      TextAnalysis.bm25ManifestTopK(spark, table,
        TextAnalysis.Bm25QuerySuite, TextAnalysis.Bm25TopK)
    }
    assert(e.getMessage.contains("MULTIPLE bucket counts"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(table).getParentFile)
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
    val tf = spark.read.schema(TextAnalysis.PostingsSchema)
      .parquet(path + "/postings")
      .select("doc_id", "dl", "word", "tf")
    val stats = spark.read.parquet(path + "/stats")
      .select("n_docs", "sum_dl")
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
