package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.operators._

/** Defined behavior on degenerate inputs — the reference panics or
  * returns nondeterministic shapes on most of these (SURVEY.md Q2/D5);
  * every operator here must return an empty/typed result instead. */
class EdgeCaseSpec extends SparkSpecBase {

  private def emptyLike(path: String) = {
    val schema = spark.read.parquet(path).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  test("top-k over an empty vector table returns empty, not an error") {
    val empty = emptyLike(s"$sf/embeddings.parquet")
    assert(VectorSearch.topK(empty).count() == 0)
    assert(VectorSearch.perCollectionTopK(empty, 3).count() == 0)
    assert(VectorSearch.perCollectionTopKAgg(empty, 3).count() == 0)
    assert(Ann.lshTopK(empty).count() == 0)
    // codebook-backed paths: no centroid rows exist → defined empty
    assert(Ann.ivfPqTopK(empty).count() == 0)
    assert(Dedup.semanticDedup(empty).count() == 0)
    assert(Dedup.semanticDedupRecall(empty).count() == 0)
  }

  test("k = 0 and k > n are well-defined") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(VectorSearch.topK(emb, 0).count() == 0)
    val n = emb.count()
    assert(VectorSearch.topK(emb, (n + 100).toInt).count() == n)
  }

  test("dedup over empty documents returns empty clusters and pairs") {
    val empty = emptyLike(s"$sf/documents.parquet")
    assert(Dedup.exact(empty).count() == 0)
    assert(Dedup.minhashPairs(empty).count() == 0)
    assert(Dedup.minhashClusters(empty).count() == 0)
  }

  test("documents with no shingles are excluded, never a crash") {
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "one two", "en", "s", 7L),   // < 3 words: no 3-shingles
        Row(2L, "", "en", "s", 0L),
        Row(3L, "a b c d e f g h", "en", "s", 15L))),
      spark.read.parquet(s"$sf/documents.parquet").schema)
    val sigs = Dedup.minhashSignatures(tiny).collect()
    assert(sigs.length == 3) // signatures exist for all (sentinel -1 bands)
    assert(Dedup.minhashPairs(tiny).count() == 0) // no shared shingles
    val clusters = Dedup.minhashClusters(tiny).collect()
    assert(clusters.map(_.getAs[Long]("doc_id")).toSet == Set(3L)) // only shingled doc
  }

  test("text analysis of empty strings yields zeros, not nulls/crashes") {
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "", "en", "s", 0L))),
      spark.read.parquet(s"$sf/documents.parquet").schema)
    val stats = TextAnalysis.tokenStats(tiny).head
    assert(stats.getAs[Long]("n_words") == 0)
    assert(stats.getAs[Long]("bpe_tokens") == 0)
    val q = TextAnalysis.qualityScore(tiny).head
    assert(q.getAs[Long]("n_chars") == 0) // ratios are null (0/0) but typed
  }

  test("streaming sessionize over an empty stream emits nothing") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("empty_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("empty_sessions").count() == 0)
    } finally q.stop()
  }

  test("multimodal decode of empty payload is defined") {
    assert(Multimodal.decodeFeatures(Array.emptyByteArray).toSeq ==
      Seq.fill(Multimodal.FeatureDim)(0.0))
    assert(Multimodal.sampleFrames(1L, Array.emptyByteArray, 4).isEmpty)
  }

  test("n-gram language ID: texts shorter than a trigram score zero, no crash") {
    // Spark's sequence(1, 0) counts DOWN — the length<3 guard is load-bearing
    val df = spark.sql(
      """SELECT * FROM VALUES (1L, 'x', ''), (2L, 'x', 'ab'),
        |(3L, 'x', 'the cat') AS t(doc_id, lang, text)""".stripMargin)
    val rows = TextAnalysis.languageIdNgram(df).collect()
    assert(rows.length == 3)
    rows.take(2).foreach { r =>
      Seq("s_en", "s_de", "s_es", "s_fr").foreach(c =>
        assert(r.getAs[Long](c) == 0L, s"doc ${r.getLong(0)} $c"))
      assert(r.getAs[String]("predicted") == "en") // all-zero tie -> en
    }
    assert(rows(2).getAs[Long]("s_en") > 0) // 'the' trigram present
  }

  test("embedding LSH dedup and recall are defined on empty input") {
    val empty = emptyLike(s"$sf/embeddings.parquet")
    assert(Dedup.embeddingNearDupLsh(empty).count() == 0)
    val r = Dedup.embeddingNearDupRecall(empty).head
    assert(r.getAs[Long]("n_exact") == 0L)
    assert(r.getAs[Long]("n_lsh") == 0L)
    assert(r.isNullAt(r.fieldIndex("recall"))) // 0/0 -> null, not a throw
  }

  test("int8 quantization drops zero vectors instead of dividing by zero") {
    import spark.implicits._
    val df = Seq(
      (1L, 0, Array(0.0f, 0.0f)),
      (2L, 0, Array(3.0f, -4.0f))
    ).toDF("vec_id", "label", "embedding")
    val rows = Ann.quantizeInt8(df).collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSeq == Seq(2L))
    assert(rows.head.getAs[Double]("scale") == 4.0)
  }

  test("round-6 operators are defined on empty/degenerate input") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    // mixture: no domains -> empty audit and empty resample (the
    // whole-relation windows and the n_star min see zero rows)
    assert(Pipeline.domainMixOn(emptyDocs).count() == 0)
    assert(Pipeline.domainMixDocsOn(emptyDocs).count() == 0)
    // pii scrub / span dedup: empty in, empty out
    assert(Pipeline.piiScrubOn(emptyDocs).count() == 0)
    assert(Pipeline.spanDedupOn(emptyDocs, 3, 3).count() == 0)
    // bm25: the WHERE dl > 0 gate also voids an all-empty-text corpus
    // (stats would be n_docs = 0; no score is ever evaluated on it)
    assert(TextAnalysis.bm25On(emptyDocs, Seq("a", "b"), 5).count() == 0)
    assert(TextAnalysis.bm25On(
      Seq((1L, ""), (2L, " ")).toDF("doc_id", "text"),
      Seq("a"), 5).count() == 0)
    // funnel over no events: the global aggregate still emits the
    // 3-step shape with zero users and NULL conversion (0/0 guarded)
    val emptyEv = Seq.empty[(Long, Long, Long, String)]
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val f = Events.funnelOn(emptyEv).collect()
    assert(f.map(r => (r.getAs[Int]("step"), r.getAs[Long]("n_users")))
      .toSeq == Seq((1, 0L), (2, 0L), (3, 0L)))
    assert(f.forall(r => r.isNullAt(r.fieldIndex("conversion"))))
    assert(Events.retentionCohortsOn(
      Seq.empty[(Long, Long)].toDF("user_id", "ts_us")).count() == 0)
  }

  test("round-7 operators are defined on empty/degenerate input") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "lang", "source", "text")
    assert(Dedup.canonical(emptyDocs).count() == 0)
    assert(Pipeline.oversampleDocsOn(emptyDocs).count() == 0)
    assert(Pipeline.oversampleAuditOn(emptyDocs).count() == 0)
    assert(Pipeline.corpusPipelineOn(emptyDocs).count() == 0)
    // anomaly over no events: no groups, no stats, no divisions
    val emptyEv = Seq.empty[(Long, String, Double)]
      .toDF("event_id", "event_type", "value")
    assert(Events.anomalyOn(emptyEv).count() == 0)
    // PQ search: an empty table has no codebook rows — defined empty
    val emptyEmb = emptyLike(s"$sf/embeddings.parquet")
    assert(Ann.pqTopK(emptyEmb).count() == 0)
    assert(VectorSearch.knnJoinAgg(emptyEmb, 0 until 8, 5).count() == 0)
    Pipeline.releaseCaches()
    Events.releaseCaches()
  }

  test("round-8 operators are defined on empty/degenerate input") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(Dedup.containmentPairs(emptyDocs).count() == 0)
    assert(TextAnalysis.oovRate(emptyDocs).count() == 0)
    // empty TEXT: zero words -> null rate (0/0 guarded), zero counts
    val r = TextAnalysis.oovRate(
      Seq((1L, "en", "")).toDF("doc_id", "lang", "text")).head
    assert(r.getAs[Long]("n_words") == 0L)
    assert(r.getAs[Long]("n_in_vocab") == 0L)
    assert(r.isNullAt(r.fieldIndex("oov_rate")))
    // heavy hitters over no events: empty, no division ever evaluated
    assert(Events.heavyHittersOn(
      Seq.empty[Long].toDF("user_id")).count() == 0)
    // trained-PQ codebook over an empty table: defined empty result,
    // not an MLlib fit error
    val emptyEmb = emptyLike(s"$sf/embeddings.parquet")
    assert(graft.operators.Ann.pqTopKWith(
      emptyEmb, MlIndex.pqKmeansCodebook(emptyEmb)).count() == 0)
    MlIndex.releaseCaches()
    Dedup.releaseCaches()
  }

  test("KMV sketch of an empty group / all-null input is exact zero") {
    import graft.functions.SketchAggregate.kmvSketch
    val r = spark.range(5).select(lit(null).cast("long").as("hv"))
      .agg(kmvSketch(col("hv"), 8).as("sk")).select(col("sk.est")).head
    assert(r.getDouble(0) == 0.0)
  }

  test("forward as-of with no purchases yields all-null matches, not errors") {
    import org.apache.spark.sql.functions.col
    // clicks only — the purchase side is genuinely empty
    val clicksOnly = Events.load(spark, sf)
      .where(col("event_type") === "click")
    val rows = Events.asofForwardOn(clicksOnly).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("purchase_id")))
      assert(r.isNullAt(r.fieldIndex("purchase_ts")))
      assert(r.isNullAt(r.fieldIndex("gap_us")))
    }
    // and the count equals the click count — no clicks lost
    assert(rows.length.toLong == clicksOnly.count())
  }

  test("pack_id integer div stays exact past 2^53 where double division rounds") {
    // doubles at 2^60 have spacing 256: +2047 rounds to +2048, so the
    // retired double-division formulation lands one pack too high
    val cum = (1L << 60) + 2047L
    val row = spark.range(1).select(
      Pipeline.packId(lit(cum), 2048L).as("exact"),
      (lit(cum) / lit(2048L)).cast("long").as("via_double")).head
    assert(row.getAs[Long]("exact") == cum / 2048L)
    assert(row.getAs[Long]("via_double") != cum / 2048L,
      "double division should be inexact here — exactness fix is load-bearing")
  }

  test("round-12 operators are defined on empty/degenerate input") {
    import spark.implicits._
    import graft.operators.{Events, TextAnalysis, VectorSearch}
    // exact quantiles: empty -> empty frame with the declared schema
    val noVals = Seq.empty[Long].toDF("v")
    assert(Events.exactQuantilesOn(noVals, "v").collect().isEmpty)
    assert(Events.groupQuantilesOn(
      Seq.empty[(String, Long)].toDF("g", "v"), "g", "v")
      .collect().isEmpty)
    // out-of-range percentile targets fail loud (quantileRank's
    // overflow guard assumes 1 <= p <= 99; p=0/100 would silently
    // produce no/wrong rows)
    for (bad <- Seq(Seq(0), Seq(100), Seq(50, 101)))
      intercept[IllegalArgumentException] {
        Events.exactQuantilesOn(Seq(1L).toDF("v"), "v", pcts = bad)
      }
    // single value: every percentile pinches to it in round one
    val one = Events.exactQuantilesOn(Seq(42L).toDF("v"), "v").collect()
    assert(one.length == Events.QuantilePcts.size &&
      one.forall(_.getLong(2) == 42L))
    // NULLs are invisible to rank arithmetic: padding a multiset with
    // nulls changes neither the exact values nor the sketch estimates
    // (count(col) discipline + the cells' null filter)
    val vals = (1L to 9L).map(java.lang.Long.valueOf)
    val padded = (vals ++ Seq.fill(5)(null.asInstanceOf[java.lang.Long]))
    def rows(xs: Seq[java.lang.Long]) = xs.toDF("v")
    assert(Events.exactQuantilesOn(rows(padded), "v").collect().toSeq ==
      Events.exactQuantilesOn(rows(vals), "v").collect().toSeq)
    assert(Events.quantileSketchOn(rows(padded), "v").collect().toSeq ==
      Events.quantileSketchOn(rows(vals), "v").collect().toSeq)
    // an all-null column is an empty distribution, not a fault
    assert(Events.quantileSketchOn(
      rows(Seq.fill(3)(null.asInstanceOf[java.lang.Long])), "v")
      .collect().isEmpty)
    // all-identical group + negative values (integer bucket arithmetic
    // must not assume non-negative lows)
    val gq = Events.groupQuantilesOn(
      (Seq.fill(10)("a" -> -5L) ++ Seq.tabulate(9)(i => "b" -> (i - 4L)))
        .toDF("g", "v"), "g", "v",
      selectCap = 1L, buckets = 4L).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(gq(("a", 50)) == -5L && gq(("a", 99)) == -5L)
    assert(gq(("b", 50)) == 0L) // k=5 of -4..4
    // RRF over an empty corpus: both rankings empty, fused empty
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noEmb = spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
    assert(VectorSearch.rrfFusion(noEmb, noDocs).collect().isEmpty)
    // stored index over an empty corpus: stats row exists (zeros),
    // probes return empty rather than failing
    val dir = java.nio.file.Files
      .createTempDirectory("graft_edge_tidx").toString
    TextAnalysis.initManifestTextIndex(spark, dir)
    assert(TextAnalysis.refreshManifestTextIndex(noDocs, dir, "empty"))
    assert(TextAnalysis.bm25StoredTopK(spark, dir,
      TextAnalysis.Bm25QuerySuite, 5).collect().isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("session_window of a single event is a gap-length session") {
    import spark.implicits._
    val one = Seq((7L, 1000000L)).toDF("user_id", "ts_us")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("sw.start")).as("s"),
        unix_micros(col("sw.end")).as("e")).head
    assert(one.getLong(1) - one.getLong(0) == 30L * 60 * 1000000)
  }
}
