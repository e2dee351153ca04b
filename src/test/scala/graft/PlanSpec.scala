package graft

import org.apache.spark.sql.DataFrame

import graft.operators._

/** Physical-plan assertions: the scale posture each operator's scaladoc
  * claims (pushdown, broadcasts, shuffle counts, shuffle-free top-k)
  * must be visible in the executed plan, so a regression that silently
  * introduces an extra shuffle or drops a pushed filter fails CI — at
  * sf0.001 every plan property here is exactly what decides whether the
  * same query survives 100 TB. */
class PlanSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** number of shuffle exchanges in the (initial) physical plan */
  private def nShuffles(df: DataFrame): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(plan(df)).length

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def withConf(key: String, value: String)(f: => Unit): Unit = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val BroadcastThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  test("heavy hitters: totals side broadcast, per-user agg partial+final") {
    val df = Events.heavyHitters(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row totals broadcast in:\n$p")
    // map-side combine on the user aggregate (partial + final)
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("media dedup: payload bytes never ride the exchange") {
    val df = Multimodal.mediaDedup(spark, sf)
    val p = plan(df)
    // exactly one hash shuffle (the content-hash window) + the output sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // the shuffle's projection carries the sha, not the payload column
    assert(!p.contains("payload#") ||
      !"Exchange hashpartitioning[^\\n]*payload".r.findFirstIn(p).isDefined)
  }

  test("oov rate: vocabulary side broadcast into the scoring join") {
    val df = TextAnalysis.oovRate(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = plan(df)
    assert(p.contains("BroadcastExchange"),
      s"expected the K-row vocabulary broadcast in:\n$p")
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("top-k plans as TakeOrderedAndProject with zero shuffles") {
    val p = plan(VectorSearch.topK(emb))
    assert(p.contains("TakeOrderedAndProject"))
    assert(nShuffles(VectorSearch.topK(emb)) == 0)
  }

  test("multi-collection search is ONE pruned scan, not a union of jobs") {
    val df = VectorSearch.multiSearch(emb, Seq(1, 3, 5))
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Union"))
    assert(nShuffles(df) == 0)
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan(Relational.pricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed filter in:\n$p")
    // partial + final aggregation (map-side combine before the shuffle)
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("revenue-by-nation broadcasts every dimension side") {
    val p = plan(Relational.revenueByNation(spark, sf))
    // at fixture scale, stats-based selection still broadcasts all
    // three joins (nation/region hinted; custDim under the threshold)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"expected >=3 broadcast joins in:\n$p")
    // the only shuffles: orders||lineitem join + final agg/sort
    assert(!p.contains("SortMergeJoin") ||
      "Exchange hashpartitioning".r.findAllIn(p).length <= 3)
  }

  test("revenue-by-nation: the customer-derived side is NOT force-broadcast") {
    // disable auto-broadcast: hints alone decide. The fact-sized
    // custDim must shuffle on custkey (the 100 TB regime); only the
    // true dims (nation, region — fixed 25/5 rows) stay hinted.
    withConf(BroadcastThresholdKey, "-1") {
      val p = plan(Relational.revenueByNation(spark, sf))
      assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
        s"only nation+region may broadcast when stats say 'big':\n$p")
      assert(p.contains("SortMergeJoin"),
        s"orders ⋈ customer must degrade to a shuffle join:\n$p")
    }
  }

  test("column pruning: token stats scan reads only the needed columns") {
    val p = plan(TextAnalysis.tokenStats(spark.read.parquet(s"$sf/documents.parquet")))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && read.contains("lang"))
    assert(!read.contains("source") && !read.contains("n_chars"),
      s"unused columns in scan: $read")
  }

  test("IVF assignment is a pure projection: zero shuffles, codegen'd") {
    val df = Ann.ivfAssign(emb)
    assert(nShuffles(df) == 0, plan(df))
    // "*(1)" prefix == WholeStageCodegen stage 1 in the simple plan string
    assert(plan(df).contains("*(1)"), plan(df))
  }

  test("bigram fluency: hash exchange on the bigram, hash exchange on " +
      "doc_id, the output range sort; no join, no broadcast") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
      RangePartitioning}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = TextAnalysis.bigramFluency(
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = DevPlanAudit.unwrap(df.queryExecution.executedPlan)
    val parts = p.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => s"hash(${a.name})"
        case _: RangePartitioning => "range"
        case other => other.toString
      }
    }
    assert(parts.sorted == Seq("hash(doc_id)", "hash(h)", "range"), p)
    assert(p.collect { case j: BaseJoinExec => j }.isEmpty, p)
    assert(p.collect { case b: BroadcastExchangeExec => b }.isEmpty, p)
  }

  test("LSH search: bucket filter + top-k, zero shuffles") {
    assert(nShuffles(Ann.lshTopK(emb)) == 0)
  }

  test("filtered search: metadata predicate pushed down, semi-join broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = VectorSearch.filteredTopK(emb, docs, "en", 200L)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(lang), IsNotNull(n_chars), " +
      "EqualTo(lang,en), GreaterThanOrEqual(n_chars,200)]") ||
      (p.contains("EqualTo(lang,en)") && p.contains("GreaterThanOrEqual(n_chars,200)")),
      s"metadata filter must reach the documents scan:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"))
    assert(nShuffles(df) == 0, "the vector side must never shuffle")
  }

  test("grouped top-k aggregate: partial heaps map-side, no sort before agg") {
    val df = VectorSearch.perCollectionTopKAgg(emb, 3)
    val p = plan(df)
    // partial + final ObjectHashAggregate (the heap merges map-side)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    // the only sort is the final output orderBy — nothing sorts below the agg
    val aggIdx = p.indexOf("ObjectHashAggregate")
    assert(!p.substring(aggIdx).contains("Sort ["), p)
    // results identical to the window formulation at several k
    for (k <- Seq(1, 3, 7)) {
      val viaAgg = VectorSearch.perCollectionTopKAgg(emb, k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSeq
      val viaWindow = VectorSearch.perCollectionTopK(emb, k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSeq
      assert(viaAgg == viaWindow, s"k=$k")
    }
  }

  test("KNN join (agg twin): broadcast queries, partial heaps map-side, " +
      "no sort before the aggregate") {
    val df = VectorSearch.knnJoinAgg(emb, 0 until 8, 5)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // ONE exchange on query_id with partial aggregation below it; the
    // window twin would SORT the whole scored relation instead
    assert(p.contains("partial_topk") || p.contains("ObjectHashAggregate"), p)
    assert(nShuffles(df) <= 2, p) // group-key hash + output sort
    assert(!p.contains("WindowExec"), p)
  }

  test("as-of join shuffles exactly once on the grouping key") {
    val df = Events.asofClickPurchase(spark, sf)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan(df)).length
    assert(hashEx == 1, s"expected 1 hash shuffle, plan:\n${plan(df)}")
  }

  test("sessionize reuses one user_id partitioning for both window passes") {
    val df = Events.sessionize(spark, sf)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan(df)).length
    assert(hashEx <= 2, s"windows must share the user_id exchange:\n${plan(df)}")
  }

  test("maxsim: all query cosines scan-side, per-doc maxima partial " +
      "aggregate, top-k is TakeOrderedAndProject") {
    val df = VectorSearch.maxSimSearch(emb)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    // ONE label shuffle (the partial+final max aggregate) and no joins
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("filtered IVF: metadata side broadcast semi-join, probe stays a " +
      "filter, vector side never hash-shuffled") {
    val df = Ann.filteredIvfTopK(emb,
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!"Exchange hashpartitioning\\(vec_id".r.findAllIn(p).hasNext, p)
  }

  test("transition matrix: one user_id shuffle, partial agg before the " +
      "tiny normalization window") {
    val df = Events.transitionMatrix(spark, sf)
    val p = plan(df)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"event-scale relation must shuffle once on user_id:\n$p")
    // partial+final aggregation: the (from,to) counts combine map-side
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("path top-k: both leads share one user window, top-k is " +
      "TakeOrderedAndProject") {
    val df = Events.pathTopK(spark, sf)
    val p = plan(df)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"both lead() steps must share the user_id exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("temperature resample: quota relation broadcast, corpus side " +
      "never hash-shuffled") {
    val df = Pipeline.temperatureMixDocsOn(
      spark.read.parquet(s"$sf/documents.parquet"))
    try {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), p)
      // the corpus branch is scan -> project -> broadcast join -> filter;
      // hash exchanges may exist only inside the (tiny) quota sub-plan,
      // which is persisted — so the live plan reads it as InMemory scan
      assert(!"Exchange hashpartitioning\\(doc_id".r.findAllIn(p).hasNext, p)
    } finally Pipeline.releaseCaches()
  }

  test("full-outer hourly join: both sides pre-aggregate below the join") {
    val df = Events.hourlyClicksVsPurchases(spark, sf)
    val p = plan(df)
    assert(p.contains("FullOuter"), p)
    // partial+final aggregation on BOTH sides before the join: the
    // full-outer shuffle carries one row per hour, not per event
    val joinIdx = p.indexOf("SortMergeJoin")
    val below = if (joinIdx >= 0) p.substring(joinIdx) else p
    assert("HashAggregate".r.findAllIn(below).length >= 4,
      s"sides must aggregate below the join:\n$p")
  }

  test("profile: one scan, one multi-distinct Expand — not a scan per column") {
    val df = Relational.profileCustomer(spark, sf)
    val p = plan(df)
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"expected exactly one scan:\n$p")
    assert(p.contains("Expand"), p)
  }

  test("array funcs and norm stats stay scan-side (pipeline-local)") {
    // array funcs: projection + global sort only — no hash shuffle
    assert("Exchange hashpartitioning".r
      .findAllIn(plan(Relational.arrayFuncs(spark, sf))).isEmpty)
    // norm stats: one partial+final aggregate over the scan projection
    val p = plan(VectorSearch.normStats(emb))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("quantization is a pure scan-side projection: zero hash shuffles") {
    // the only exchange allowed is the final output range sort
    val p = plan(Ann.quantizeInt8(emb))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("quantized top-k keeps the exact path's shape: shuffle-free TakeOrdered") {
    val df = Ann.quantizedTopK(emb)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nShuffles(df) == 0, p)
  }

  test("IVF-PQ search: scan-side assign/encode/ADC, zero shuffles end to end") {
    val df = Ann.ivfPqTopK(emb)
    val p = plan(df)
    // both stages are TakeOrdered heaps; the cell filter, residual,
    // codes, and lookup-table score are all projections on the scan
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nShuffles(df) == 0, p)
  }

  test("filtered IVF-PQ: the metadata semi-join broadcasts and the " +
      "composed pipeline still has zero shuffles end to end") {
    val df = Ann.filteredIvfPqTopK(emb,
      spark.read.parquet(s"$sf/documents.parquet"))
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("LeftSemi"), p)
    assert(nShuffles(df) == 0, p)
  }

  test("semantic dedup: cell-blocked equi-joins only, never a cross product") {
    val p = plan(Dedup.semanticDedup(emb))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"semantic dedup pair generation must stay an equi-join:\n$p")
  }

  test("curation funnel: single window shuffle on the content hash") {
    val df = operators.Pipeline.qualityFilter(spark, sf)
    val p = plan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("quality model trained-weights seam: a non-affine literal " +
      "weights table keeps the stand-in's exact plan shape") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // a deliberately NON-affine model (no single (a,b) reproduces it)
    val trained = (0 until Pipeline.QmBuckets)
      .map(b => ((b * b + 3 * b) % 97).toLong - 48L)
    val weighted = Pipeline.qualityModelWeightedOn(docs, trained)
    val standIn = Pipeline.qualityModelOn(docs)
    val (pw, ps) = (plan(weighted), plan(standIn))
    // identical shuffle shape: scan-side arithmetic + the one output
    // sort exchange — the literal lookup must not add a shuffle
    assert(nShuffles(weighted) == nShuffles(standIn),
      s"weighted:\n$pw\nstand-in:\n$ps")
    assert(!pw.contains("Exchange hashpartitioning"), pw)
    // the fused word-hash kernel (shingle_hashes at n=1) survives
    // under the element_at lookup, evaluated once in the projection,
    // never inside a Filter
    assert(pw.contains("shingle_hashes("), pw)
    assert(DevPlanAudit
      .filterKernelHits(weighted.queryExecution.executedPlan).isEmpty)
    // the weights travel as ONE plan literal (codebook-class metadata),
    // not a join against a weights relation
    assert(!pw.contains("Join"), pw)
    // gate semantics hold under the swapped model: pass ⇔ logit >= 0,
    // empty docs fail closed
    val rows = weighted.where(col("n_words") === 0L ||
      col("doc_id") < 50L).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = !r.isNullAt(r.fieldIndex("logit")) &&
        r.getAs[Double]("logit") >= Pipeline.QmThreshold
      assert(r.getAs[Boolean]("pass") == expect, r.toString)
    }
  }

  test("rank funcs: both window specs share one partition-key exchange") {
    val df = Relational.windowRankFuncs(spark, sf)
    val p = plan(df)
    // one hash exchange on o_orderpriority feeds both Window operators
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("sliding rates: Expand feeds PARTIAL aggregation below the shuffle") {
    val p = plan(Events.slidingRates(spark, sf))
    val expandIdx = p.indexOf("Expand")
    val partialIdx = p.indexOf("partial_count")
    assert(expandIdx >= 0 && partialIdx >= 0 && partialIdx < expandIdx,
      s"partial agg must sit above Expand (shuffle carries window partials, " +
        s"not x4 raw events):\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("string agg: WindowGroupLimit prunes to top-3 map-side, heap-aggregated") {
    val p = plan(Relational.stringAgg(spark, sf))
    // rank-limit pushdown: partial + final WindowGroupLimit bound the
    // sort input to k rows per group per partition
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("histogram median: one count aggregate, windows share one exchange") {
    val p = plan(Relational.histogramMedian(spark, sf))
    // (priority,bucket) agg exchange + one priority exchange for ALL
    // window passes (cum, total, rn) — not one per window
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(p.contains("partial_count"), p)
  }

  test("sequence packing: two-phase prefix sum parallelizes within a lang") {
    val df = operators.Pipeline.sequencePack(spark, sf, 2048L, 64L)
    val p0 = plan(df)
    // per-row work partitions by (lang_key, blk): many tasks per
    // language, not the one-core-per-lang single-window shape
    assert("hashpartitioning\\(lang_key#\\d+, blk".r.findAllIn(p0).nonEmpty, p0)
    // the only full-row hash shuffle is the shared (lang_key, blk)
    // repartition; the offsets window shuffles block TOTALS only
    assert("Exchange hashpartitioning\\(lang_key#\\d+, blk".r
      .findAllIn(p0).length == 2, p0) // one per branch pre-AQE...
    // ...and AQE's runtime stage reuse collapses them: both phases
    // must share ONE scan + shuffle, not re-scan/re-tokenize. AQE only
    // dedupes at execution, so run the frame and read the final plan.
    df.collect()
    val pf = plan(df)
    assert(pf.contains("isFinalPlan=true"), pf)
    assert(pf.contains("ReusedExchange") || pf.contains("reused"), pf)
  }

  test("LSH embedding dedup: scan-side bucket/norm projection, one bucket-key join") {
    val df = Dedup.embeddingNearDupLsh(emb)
    val p = plan(df)
    // per-row work (cast, bucket, norm) happens below the join; the only
    // hash exchanges are the two sides of the bucket equi-join
    assert("Exchange hashpartitioning\\(bucket".r.findAllIn(p).length <= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("audit regression: customer-table and vocabulary sides never force-broadcast") {
    withConf(BroadcastThresholdKey, "-1") {
      // topCustomersBySegment: orders ⋈ customer (fact-sized side)
      val top = plan(Relational.topCustomersBySegment(spark, sf))
      assert(!top.contains("BroadcastHashJoin"), top)
      assert(top.contains("SortMergeJoin"), top)
      // wordFreq: tf ⋈ df (vocabulary-sized side, gated)
      val wf = plan(TextAnalysis.wordFreq(
        spark.read.parquet(s"$sf/documents.parquet")))
      assert(!wf.contains("BroadcastHashJoin"), wf)
      assert(wf.contains("SortMergeJoin"), wf)
    }
  }

  test("bottom-k sample plans as a zero-shuffle TakeOrderedAndProject") {
    val df = operators.Pipeline.bottomKSample(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nShuffles(df) == 0, p)
  }

  test("PQ search: scan-side encode, zero shuffles through both stages") {
    val df = operators.Ann.pqTopK(emb)
    val p = plan(df)
    // the ADC stage is a pure projection (PqM argmin kernels + lut
    // reads) feeding a TakeOrdered shortlist; the exact re-rank tops a
    // shortlist-sized set — no exchange, no join anywhere
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nShuffles(df) == 0, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("nearest_centroid"), p)
  }

  test("hybrid search: small regime — lexical side broadcast, shuffle-free top-k") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = VectorSearch.hybridSearch(emb, docs)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("broadcast gates: corpus-sized build sides degrade to shuffle joins") {
    // the lexical relation (hybrid) and surviving-id set (filtered) are
    // corpus-cardinality: when the size estimate exceeds the broadcast
    // threshold the gate must NOT hint, and the join shuffles instead
    // of OOMing the driver. Simulated by disabling the threshold.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    withConf(BroadcastThresholdKey, "-1") {
      val hybrid = plan(VectorSearch.hybridSearch(emb, docs))
      assert(!hybrid.contains("BroadcastHashJoin"), hybrid)
      assert(hybrid.contains("SortMergeJoin"), hybrid)
      assert(hybrid.contains("TakeOrderedAndProject"), hybrid)
      val filtered = plan(VectorSearch.filteredTopK(emb, docs, "en", 200L))
      assert(!filtered.contains("BroadcastHashJoin"), filtered)
      assert(filtered.contains("SortMergeJoin") && filtered.contains("LeftSemi"),
        filtered)
    }
  }

  test("AQE splits a skewed shuffle join at runtime (the no-code-change " +
      "skew path next to the explicit salting of ev_salted_agg)") {
    import spark.implicits._
    // one hot key carrying ~99% of the left side — the shape a dedup
    // graph's hub or a null-ish join key produces at 100 TB
    val left = spark.range(0, 200000)
      .selectExpr("CASE WHEN id % 100 < 99 THEN 0L ELSE id END AS k",
        "id AS v")
    val right = (0L to 200L).map(k => (k, s"dim$k")).toDF("k", "name")
    withConf(BroadcastThresholdKey, "-1") {
      withConf("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2") {
        withConf(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB") {
          withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes",
              "64KB") {
            // no aggregate downstream: a consumer requiring the join
            // key's distribution would veto the skew split (AQE only
            // splits when it can't break a required distribution)
            val joined = left.join(right, "k")
            joined.collect() // AQE re-plans DURING execution
            val p = joined.queryExecution.executedPlan.toString()
            assert(p.contains("isFinalPlan=true"), p)
            // the hot partition was split: the final SMJ is marked skew
            assert(p.contains("skew=true"), p)
          }
        }
      }
    }
  }

  test("grouped CMS grid: ONE partial-aggregated shuffle on " +
      "(group, depth, pos) — the groups*d*w bounded-state claim") {
    val grid = Events.groupCmsGrid(Events.load(spark, sf))
    val pg = plan(grid)
    assert("Exchange hashpartitioning".r.findAllIn(pg).length == 1, pg)
    // map-side combine: partial + final aggregate around the one
    // exchange — every task reduces to <= groups*d*w cells before
    // anything moves
    assert("HashAggregate".r.findAllIn(pg).length == 2, pg)
  }

  test("salted dim join: dim replicates across the salt space, the " +
      "join shuffles on (key, salt), and salted == unsalted exactly") {
    val df = Events.saltedDimJoin(spark, sf)
    val p = plan(df)
    // the hot key must NOT broadcast (the demo's premise) — the hinted
    // shuffled hash join carries the salt in its keys
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    val joinLine = p.linesIterator
      .find(_.contains("ShuffledHashJoin")).getOrElse("")
    assert(joinLine.contains("event_type") && joinLine.contains("salt"),
      joinLine)
    // the dim side's fan-out: one explode of the 0..S-1 salt sequence
    assert(p.contains("Generate explode"), p)
    // salted ≡ unsalted, bitwise: the salt is execution strategy, not
    // semantics — recompute through the default (broadcast) join
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val clean = Events.load(spark, sf)
      .where(col("event_type").isNotNull && col("value").isNotNull)
    val dim = clean.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"),
        sum(col("value").cast(DecimalType(18, 6))).as("sum_type"))
    val direct = clean.join(dim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value").cast(DecimalType(18, 6)) * col("n_type") >
          col("sum_type"), 1L).otherwise(0L)).as("n_above_avg"))
      .orderBy("event_type")
    assert(df.collect().map(_.toSeq.toList).toList ==
      direct.collect().map(_.toSeq.toList).toList)
  }

  test("retrieve-rerank: quality kernels evaluate above the candidate semi-join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = VectorSearch.retrieveRerank(emb, docs)
    val p = plan(df)
    val semiIdx = p.indexOf("LeftSemi")
    assert(semiIdx >= 0, p)
    // everything printed from the semi-join down is its subtree (docs
    // scan + broadcast candidate ids): the expensive text kernels must
    // NOT be there — they run on the ≤ nCandidates survivors ABOVE the
    // join, so a rerank query never pays a corpus-wide quality pass
    assert(!p.substring(semiIdx).contains("marker_count"),
      s"quality kernel below the semi-join (full-corpus pass):\n$p")
    assert(p.substring(0, semiIdx).contains("marker_count"),
      s"quality kernel missing above the semi-join:\n$p")
  }

  test("decontamination: inverted-index join, bench side broadcast when small") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = Dedup.decontaminate(docs)
    val p = plan(df)
    // candidates exist only where a shingle is actually shared — the
    // join is hash-keyed, never a train x bench cartesian pass
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the (distinct) eval shingle set rides a broadcast at this size —
    // asserted on the hash-keyed join SPECIFICALLY (a bare
    // `contains(BroadcastHashJoin)` could be satisfied by the final
    // doc_id left join and miss a dropped gate); corpus-sized eval
    // sets degrade through the same size gate the other operators use
    // (broadcastIfSmall)
    assert("BroadcastHashJoin \\[hash#\\d+L?\\]".r.findFirstIn(p).isDefined, p)
    Dedup.releaseCaches()
  }

  test("domain-mix resample: quota side broadcast, corpus never " +
      "shuffled onto lang keys") {
    val df = Pipeline.domainMixDocs(spark, sf)
    val p = plan(df)
    // the quota relation (one row per language) must ride a broadcast:
    // a SortMergeJoin here would shuffle the WHOLE corpus onto a
    // handful of lang_key values — one task per language at 100 TB
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the quota side is materialized ONCE (memoized persist, populated
    // by the cardinality gate's count before the returned plan can
    // run) so the gate and the join share one derivation — the
    // corpus-side execution must read cached quota blocks, never
    // recompute the histogram
    assert(p.contains("InMemoryTableScan"), p)
    // the histogram aggregation may appear INSIDE the InMemoryRelation
    // printout (that is the cached derivation, populated before this
    // plan can run) but never above the cache boundary, where it would
    // mean a live recompute per query
    assert(!p.split("InMemoryRelation").head.contains("partial_count"), p)
    // the histogram aggregate (in the AUDIT query, where it stays in
    // plan) combines map-side before its (tiny, bucket-bounded)
    // exchange
    val ap = plan(Pipeline.domainMix(spark, sf))
    assert(ap.contains("partial_count") || ap.contains("partial"), ap)
  }

  test("oversample: explode is scan-side, no hash shuffle anywhere") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val d = operators.Pipeline.oversampleDocsOn(docs)
    val pd = plan(d)
    // copy generation pipelines into the scan (Generate over sequence);
    // the only exchange is the output sort's range partitioning
    assert(pd.contains("Generate"), pd)
    assert("Exchange hashpartitioning".r.findAllIn(pd).isEmpty, pd)
    // the audit counts WITHOUT exploding (no Generate), partial-aggregated
    val pa = plan(operators.Pipeline.oversampleAuditOn(docs))
    assert(!pa.contains("Generate"), pa)
    assert(pa.contains("partial"), pa)
  }

  test("anomaly: per-type stats ride broadcasts, the corpus is never " +
      "shuffled onto event_type") {
    val df = operators.Events.anomaly(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // final ranking is a bounded-heap TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    operators.Events.releaseCaches()
  }

  test("corpus pipeline: quality kernels scan-side, keeper aggregate " +
      "partial below its shuffle, quotas broadcast from cache") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = operators.Pipeline.corpusPipelineOn(docs)
    val p = plan(df)
    // mixture quotas and (at fixture scale) the keeper id set ride
    // broadcasts — never a corpus-wide SortMergeJoin; both joins are
    // unhinted, so a corpus-grown build side degrades to shuffle
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
    // canonical dedup is Dedup.canonicalKeepers — a groupBy-min whose
    // canon exchange ships MAP-SIDE PARTIAL minima, not full rows (the
    // window spelling shuffled and sorted every surviving row)
    assert(p.contains("partial_min(doc_id"), p)
    // live path (above the caches' printout): the quality gate and
    // shard assignment add no exchange of their own — the only live
    // corpus-sized exchange is the final training-order sort
    val live = p.split("InMemoryRelation").head
    assert("Exchange hashpartitioning".r.findAllIn(live).isEmpty, p)
    assert("Exchange rangepartitioning".r.findAllIn(live).length == 1, p)
    operators.Pipeline.releaseCaches()
  }

  test("funnel: one corpus shuffle, window passes and per-user agg " +
      "share it") {
    val p = plan(Events.funnel(spark, sf))
    // the ONLY corpus-sized exchange is the user_id hash — both
    // running-min windows sort once over it and the per-user aggregate
    // reuses the clustering (no exchange of its own); everything past
    // the global count is 1-3 rows
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
    assert("Window \\[".r.findAllIn(p).length == 2, p)
    // per-step self-joins would show up as joins; there are none
    assert(!p.contains("Join"), p)
  }

  test("retention cohorts: user shuffle is the only corpus-sized " +
      "exchange; distinct collapses before the cohort aggregate") {
    val p = plan(Events.retentionCohorts(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
    // the distinct's partial aggregate runs on the user-partitioned
    // side WITHOUT an exchange of its own (its keys start with
    // user_id), so the (cohort, offset) exchange ships collapsed
    // user-weeks, not raw events
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
  }

  test("bm25: zero corpus shuffles — 1-row stats broadcast + " +
      "shuffle-free top-k") {
    val df = TextAnalysis.bm25(spark, sf)
    val p = plan(df)
    // pass 1 collapses to one row (its SinglePartition exchange ships
    // partial aggregates, not rows); pass 2 is scan-side scoring into
    // TakeOrderedAndProject — no hash exchange anywhere
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("bm25 multi-query: suite rides broadcasts into the inverted " +
      "index; a corpus-sized query side degrades to a shuffle join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    // regime 1 — benchmark-suite query relation: BOTH query-side joins
    // (semi for df, inner for query_ids) broadcast; the corpus
    // shuffles only for its own aggregates/windows, never onto a
    // query-relation join key by SortMergeJoin
    val suite = TextAnalysis.Bm25QuerySuite.toDF("query_id", "term")
    val p = plan(TextAnalysis.bm25MultiOn(
      Tables(spark, sf, "documents"), suite, 10))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // regime 2 — a query side too big for the driver (forced via the
    // threshold, since at spec SF everything is genuinely small): the
    // size gate must refuse the broadcast, degrading to the shuffle
    // join that is the only correct plan at that size
    val big = Tables(spark, sf, "documents")
      .select((col("doc_id") % 50).as("query_id"),
        explode(graft.functions.TextFunctions.words(col("text")))
          .as("term"))
    withConf(BroadcastThresholdKey, "-1") {
      val p2 = plan(TextAnalysis.bm25MultiOn(
        Tables(spark, sf, "documents"), big, 10))
      assert(p2.contains("SortMergeJoin"), p2)
      assert(!p2.contains("BroadcastHashJoin"), p2)
    }
  }

  test("KNN join broadcasts the query side, never shuffles candidates") {
    val df = VectorSearch.knnJoin(emb, 0 until 8, 5)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"))
    // the single hash shuffle belongs to the ranking window (on the
    // joined, already-scored rows) — the join itself shuffles nothing
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("running distinct window: ONE hash exchange (the window key), " +
      "nothing else shuffles before the output sort") {
    val df = Relational.runningDistinct(spark, sf)
    val p = plan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("incremental corpus refresh: file scans touch ONLY the delta " +
      "segment; the old corpus enters via memoized relations") {
    // first call builds the manifest table, the corpus shingle index,
    // and the stored base partials
    Dedup.corpusRefresh(spark, sf).collect()
    // ... after which the refresh plan's ONLY file scans are the
    // change feed's delta segment: the corpus side is the memoized
    // index + partials, so refresh cost scales with the batch
    val df = Dedup.corpusRefresh(spark, sf)
    val files = df.inputFiles
    assert(files.nonEmpty, "expected delta-segment scans")
    assert(files.forall(_.contains("seg=000002")), files.mkString("\n"))
    val p = plan(df)
    assert(p.contains("InMemoryTableScan"),
      s"expected the memoized corpus relations in:\n$p")
    Dedup.releaseCaches()
  }

  test("RRF fusion: each modality retrieves via TakeOrderedAndProject; " +
      "the fusion join moves only the two n-row rankings") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = VectorSearch.rrfFusion(emb, docs)
    val p = plan(df)
    // two shuffle-free top-n retrievals (one per modality) + the
    // fused top-k — nothing else is ever globally ordered
    assert("TakeOrderedAndProject\\(limit=20".r.findAllIn(p).size == 2, p)
    assert("TakeOrderedAndProject\\(limit=10".r.findAllIn(p).size == 1, p)
    // the fusion join's BOTH inputs are the n-row rankings (full outer
    // plans as a sort-merge join, but of 2×n rows, never the corpus):
    // every join in the plan sits ABOVE the limit=20 retrievals
    val smjIdx = p.indexOf("SortMergeJoin")
    val firstRetrieval = p.indexOf("TakeOrderedAndProject(limit=20")
    assert(smjIdx < 0 || smjIdx < firstRetrieval, p)
  }

  test("sales opportunity (Q22 shape): recency filter pushed into the " +
      "orders scan under the anti join, 1-row stats broadcast, nation " +
      "broadcast") {
    val p = plan(Relational.salesOpportunity(spark, sf))
    // NOT EXISTS plans as a LEFT ANTI join whose orders side scans the
    // recency window only — the date predicate reaches the parquet scan
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate"), p)
    // the global-average threshold rides a 1-row broadcast, and the
    // nation dim broadcasts — two BroadcastExchanges minimum
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
  }

  test("min-cost supplier (Q2 shape): part filter pushed and broadcast " +
      "ahead of the fact, supplier/nation broadcast, fact shuffles " +
      "only on the part key") {
    val p = plan(Relational.minCostSupplier(spark, sf))
    // the size filter reaches the part scan; part/supplier/nation all
    // broadcast — the fact is never a build side
    assert(p.contains("LessThanOrEqual(p_size"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    // the decorrelated min joins back on the SAME key the aggregate
    // shuffled on: every fact exchange is an l_partkey partitioning
    val hashEx = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.startsWith("l_partkey")), p)
    // final top-k is a heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("small-qty revenue (Q17 shape): brand-filtered part dim " +
      "broadcast, per-part stats join back on the aggregate's own " +
      "key, one fact axis") {
    val p = plan(Relational.smallQtyRevenue(spark, sf))
    assert(p.contains("EqualTo(p_brand"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.forall(_.startsWith("l_partkey")), p)
  }

  test("excess suppliers (Q20 shape): ONE fact pass feeds both " +
      "correlated per-part aggregates; supplier keys semi-join the " +
      "dim; nation broadcast") {
    val p = plan(Relational.excessSuppliers(spark, sf))
    assert(p.contains("StringStartsWith(p_name"), p)
    // exactly one fact-scale exchange — the (suppkey, partkey) pair
    // aggregate; both correlated per-part aggregates ride one window
    // over its |pairs|-sized output, never a second fact pass
    val factEx = "Exchange hashpartitioning\\(l_suppkey#\\d+L?, l_partkey".r
      .findAllIn(p).length
    assert(factEx == 1, p)
    // ...and the fact is scanned ONCE (one lineitem file scan)
    assert("lineitem".r.findAllIn(p).length == 1, p)
    assert(p.contains("LeftSemi"), p)
    assert("BroadcastExchange".r.findAllIn(p).length >= 1, p)
  }

  test("forecast revenue (Q6 shape): pure scan-aggregate — every " +
      "predicate pushed, no join, one single-partition exchange") {
    val df = Relational.forecastRevenue(spark, sf)
    val p = plan(df)
    assert(!p.contains("Join"), p)
    assert(nShuffles(df) == 1, p) // the 1-row partial → final exchange
    // the date window, discount band and quantity cap all reach the
    // scan (PushedFilters renders truncated — assert via the scan-level
    // predicate text, which the pushdown list mirrors)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert("l_shipdate#\\d+ >= 1997-01-01".r.findFirstIn(p).nonEmpty, p)
    assert("l_discount#\\d+ >= 0.02".r.findFirstIn(p).nonEmpty, p)
    assert("l_quantity#\\d+ < 24".r.findFirstIn(p).nonEmpty, p)
  }

  test("disjunctive revenue (Q19 shape): per-side OR envelopes pushed " +
      "to BOTH scans, exact OR kept as the join residual") {
    val p = plan(Relational.disjunctiveRevenue(spark, sf))
    // part scan: the brand/size union-of-clauses envelope is pushed
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
    // fact scan: the quantity hull is pushed
    assert(p.contains("LessThanOrEqual(l_quantity,40.0)"), p)
    // the cross-side OR survives as the join residual (correctness),
    // and the join itself is the size-gated broadcast, not an SMJ
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
