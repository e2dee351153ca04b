package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Pipeline, VectorSearch}

class AnnSpec extends SparkSpecBase {

  test("curated search: every hit is a gate survivor AND a canonical " +
      "keeper, scored from probed cells only") {
    val rows = Ann.curatedSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    val hits = rows.map(_.getAs[Long]("vec_id")).toSet
    val gateIds = Pipeline.gopherFilter(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(hits.subsetOf(gateIds), "a hit failed the repetition gate")
    val gatedDocs = graft.Tables(spark, sf, "documents")
      .where(col("doc_id").isin(gateIds.toSeq: _*))
    val keeperIds = Dedup.canonical(gatedDocs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(hits.subsetOf(keeperIds), "a hit is a dropped duplicate")
    // cells: only the NProbe probed centroids appear
    assert(rows.map(_.getAs[Long]("cent_id")).distinct.length <= Ann.NProbe)
    Dedup.releaseCaches()
  }

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** The memoized fixture IVF index's `'v'` (assigned-vector) rows. */
  private def ivfIndexVectors =
    spark.read.format("graft")
      .option("path", Ann.manifestIvfIndexFor(spark, sf))
      .option("collection", Ann.IvfIndexCollection).load()
      .where(col("kind") === "v")

  /** (seg, name, length, mtime) of every file in a collection's
    * segment dirs — what "the commit left these segments in place"
    * means on disk. */
  private def segFiles(table: String, c: String,
      segs: Seq[Long]): Seq[(Long, String, Long, Long)] =
    segs.flatMap { g =>
      val d = new java.io.File(f"$table/collection=$c/seg=$g%06d")
      assert(d.isDirectory, s"segment dir $d is missing")
      d.listFiles().toSeq.map(f => (g, f.getName, f.length, f.lastModified))
    }.sorted

  /** `numFiles` of every file scan in `df`'s executed plan, AQE stages
    * included (runs `df`). */
  private def scanFileCounts(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) {
      case sc: FileSourceScanExec => sc.metrics("numFiles").value
    }
  }

  test("filtered IVF: every hit satisfies the metadata predicate AND " +
      "sits in a probed cell; recall measured against the filtered exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hits = Ann.filteredIvfTopK(emb, docs).collect()
    assert(hits.nonEmpty && hits.length <= 10)
    val allowed = docs
      .where(col("lang") === "en" && col("n_chars") >= 200L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.forall(h => allowed.contains(h.getAs[Long]("vec_id"))))
    assert(hits.map(_.getAs[Long]("cent_id")).distinct.length <= Ann.NProbe)
    val r = Ann.filteredIvfRecall(emb, docs).collect()(0)
    val rec = r.getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
    assert(r.getAs[Long]("n_common") <= r.getAs[Int]("k"))
  }

  test("filtered IVF-PQ: predicate ∧ probe ∧ ADC compose; exact re-rank " +
      "scores; composed recall bounded by the filtered-IVF recall") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hits = Ann.filteredIvfPqTopK(emb, docs).collect()
    assert(hits.nonEmpty && hits.length <= 10)
    val allowed = docs
      .where(col("lang") === "en" && col("n_chars") >= 200L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.forall(h => allowed.contains(h.getAs[Long]("vec_id"))))
    assert(hits.map(_.getAs[Long]("cent_id")).distinct.length <= Ann.NProbe)
    // stage-2 similarities are EXACT (re-ranked on the raw vectors)
    val exact = VectorSearch.topK(emb, emb.count().toInt).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("similarity"))
      .toMap
    hits.foreach { h =>
      assert(exact(h.getAs[Long]("vec_id")) == h.getAs[Double]("similarity"))
    }
    // the residual codes only lose candidates the cell filter kept, so
    // the composed recall can never exceed the filtered-IVF recall
    val fused = Ann.filteredIvfPqRecall(emb, docs).collect()(0)
    val fr = fused.getAs[Double]("recall")
    val ivfOnly = Ann.filteredIvfRecall(emb, docs)
      .collect()(0).getAs[Double]("recall")
    assert(fr >= 0.0 && fr <= ivfOnly,
      s"composed recall $fr exceeds filtered-IVF recall $ivfOnly")
    assert(fused.getAs[Long]("n_common") <= fused.getAs[Int]("k"))
  }

  test("LSH buckets partition the whole table") {
    val hist = Ann.lshBuckets(emb).collect()
    assert(hist.map(_.getAs[Long]("n_vectors")).sum == emb.count())
    assert(hist.forall { r =>
      val b = r.getAs[Int]("bucket"); b >= 0 && b < (1 << Ann.NPlanes)
    })
  }

  test("LSH top-k only returns vectors from probe buckets, ranked correctly") {
    val rows = Ann.lshTopK(emb).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Ann.ProbeBuckets.contains(r.getAs[Int]("bucket"))))
    val sims = rows.map(_.getAs[Double]("similarity")).toSeq
    assert(sims == sims.sortBy(-_))
  }

  test("LSH results are a subset of the brute-force ranking universe") {
    // every LSH hit must appear in the exact scores with the same similarity
    val exact = VectorSearch.topK(emb, emb.count().toInt).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("similarity")).toMap
    Ann.lshTopK(emb).collect().foreach { r =>
      assert(exact(r.getAs[Long]("vec_id")) == r.getAs[Double]("similarity"))
    }
  }

  test("IVF assignment: every vector lands in exactly one of the 16 cells") {
    val assigned = Ann.ivfAssign(emb)
    assert(assigned.count() == emb.count())
    assert(assigned.select("cent_id").distinct().count() <= Ann.NList)
    // a centroid is its own nearest centroid (distance 0)
    val self = assigned
      .where(col("vec_id").isin(Ann.CentroidIds: _*))
      .where(col("vec_id") === col("cent_id"))
    assert(self.count() == Ann.CentroidIds.size)
  }

  test("IVF stats: stored occupancy ≡ a from-scratch assignment " +
      "recompute; shares sum to one corpus") {
    val stats = Ann.ivfStats(ivfIndexVectors).collect()
    assert(stats.nonEmpty && stats.length <= Ann.NList)
    // the store holds every vector exactly once
    assert(stats.map(_.getAs[Long]("n_vectors")).sum == emb.count())
    // stored cells ≡ recomputed assignment histogram (the integrity
    // claim the DuckDB oracle re-derives independently)
    val recomputed = Ann.ivfAssign(emb)
      .groupBy("cent_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.map(r =>
      r.getAs[Long]("cent_id") -> r.getAs[Long]("n_vectors")).toMap
      == recomputed)
    // hot_share is the max share, on every row
    val shares = stats.map(_.getAs[Double]("share"))
    assert(stats.map(_.getAs[Double]("hot_share")).distinct.toSeq ==
      Seq(shares.max))
    // scale shape: the audit reads the kind and cent_id columns only,
    // never the `v` payload
    val p = Ann.ivfStats(ivfIndexVectors).queryExecution.executedPlan.toString
    val read = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1).split(',').map(_.takeWhile(_ != ':')).toSet).toSeq
    assert(read.nonEmpty && read.forall(_ == Set("kind", "cent_id")), p)
  }

  test("IVF top-k: results come from <= NProbe cells, ranked correctly") {
    val rows = Ann.ivfTopK(emb).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("cent_id")).distinct.length <= Ann.NProbe)
    val sims = rows.map(_.getAs[Double]("similarity")).toSeq
    assert(sims == sims.sortBy(-_))
  }

  test("ANN recall sanity: pruned searches overlap the exact top-k") {
    val exactTop = VectorSearch.topK(emb).collect().map(_.getAs[Long]("vec_id")).toSet
    val lsh = Ann.lshTopK(emb).collect().map(_.getAs[Long]("vec_id")).toSet
    val ivf = Ann.ivfTopK(emb).collect().map(_.getAs[Long]("vec_id")).toSet
    // approximate: require SOME overlap, not equality (recall < 1 by design)
    assert((exactTop & lsh).nonEmpty)
    assert((exactTop & ivf).nonEmpty)
  }

  test("PQ encode: every code in range, centroid rows encode to themselves") {
    val cb = Ann.pqCodebook(emb)
    assert(cb.length == Ann.PqKsub)
    val enc = Ann.pqEncode(emb, cb)
    assert(enc.count() == emb.count())
    (0 until Ann.PqM).foreach { m =>
      val codes = enc.select(col(s"c$m")).collect().map(_.getLong(0))
      assert(codes.forall(c => c >= 0 && c < Ann.PqKsub))
    }
    // the codebook rows themselves are distance-0 in every subspace, so
    // each must encode to its own codebook rank
    val ranks = Ann.PqCentroidIds.sorted.zipWithIndex.toMap
    enc.where(col("vec_id").isin(Ann.PqCentroidIds: _*)).collect()
      .foreach { r =>
        val want = ranks(r.getAs[Long]("vec_id")).toLong
        (0 until Ann.PqM).foreach(m => assert(r.getAs[Long](s"c$m") == want))
      }
  }

  test("PQ two-stage search: exact re-rank scores, high measured recall") {
    // stage-2 similarities are EXACT (re-ranked on the raw vectors): each
    // must equal the brute-force score for that vec_id bit-for-bit
    val exact = VectorSearch.topK(emb, emb.count().toInt).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("similarity")).toMap
    val rows = Ann.pqTopK(emb).collect()
    assert(rows.length == VectorSearch.K)
    rows.foreach { r =>
      assert(exact(r.getAs[Long]("vec_id")) == r.getAs[Double]("similarity"))
    }
    // the shortlist is wide enough on the fixture that the two-stage
    // path holds recall (measured, not assumed — ann_pq_recall is the
    // oracled version of this number)
    val recall = Ann.pqRecallAtK(emb).collect().head.getAs[Double]("recall")
    assert(recall >= 0.8, s"PQ recall@K degraded: $recall")
  }

  test("IVF-PQ search: exact re-rank scores, probed cells only, " +
      "fused recall bounded by IVF recall") {
    val rows = Ann.ivfPqTopK(emb).collect()
    assert(rows.length == VectorSearch.K)
    // stage-2 similarities are EXACT (re-ranked on the raw vectors)
    val exact = VectorSearch.topK(emb, emb.count().toInt).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("similarity")).toMap
    rows.foreach { r =>
      assert(exact(r.getAs[Long]("vec_id")) == r.getAs[Double]("similarity"))
    }
    // coarse pruning really prunes: only probed cells contribute
    assert(rows.map(_.getAs[Long]("cent_id")).distinct.length <= Ann.NProbe)
    // IVF-PQ candidates ⊆ the probed cells, so its recall can never
    // exceed the IVF-only recall (residual codes only lose more)
    val fused = Ann.ivfPqRecallAtK(emb).collect().head.getAs[Double]("recall")
    val ivfOnly = Ann.ivfRecallAtK(emb).collect().head.getAs[Double]("recall")
    assert(fused >= 0.0 && fused <= ivfOnly,
      s"fused recall $fused exceeds IVF recall $ivfOnly")
  }

  test("IVF-PQ residual codebook: driver assignment ≡ scan-kernel assignment") {
    val cb = Ann.codebook(emb)
    val rcb = Ann.ivfPqResidualCodebook(emb, cb)
    assert(rcb.length == Ann.PqKsub)
    assert(rcb.forall(_.length == VectorSearch.Dim))
    // the residual of each sample row must be sample − centroid for the
    // cell the SCAN kernel assigns it to — the driver-side sqrt-L2 fold
    // and NearestCentroidExpr must agree bitwise or the oracle drifts
    val cbMap = cb.toMap
    val asg = Ann.ivfAssign(
        emb.where(col("vec_id").isin(Ann.IvfPqSampleIds: _*)), cb)
      .select(col("vec_id"), col("cent_id"), col("v"))
      .collect().sortBy(_.getAs[Long]("vec_id"))
    assert(asg.length == rcb.length)
    asg.zip(rcb).foreach { case (r, res) =>
      val v = r.getSeq[Double](2).toArray
      val c = cbMap(r.getAs[Long]("cent_id"))
      v.indices.foreach(i => assert(res(i) == v(i) - c(i)))
    }
  }

  test("manifest IVF index: training commit carries the codebook, " +
      "deltas assign with the STORED codebook, replay no-ops, " +
      "compaction restores pruning, answers bitwise the scan face") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.FileSourceScanExec
    val table = Files.createTempDirectory("graft_ivf_mfst").toString + "/t"
    Ann.initManifestIvfIndex(spark, table)
    val batchPred = col("vec_id") % 10 === 1 &&
      !col("vec_id").isin(Ann.CentroidIds: _*)
    assert(Ann.refreshManifestIvfIndex(emb.where(!batchPred), table, "base"))
    def segs() = graft.sources.ManifestStore
      .currentSegments(spark, table, Ann.IvfIndexCollection).get
    val baseSegs = segs()
    val baseFiles = segFiles(table, Ann.IvfIndexCollection, baseSegs)
    assert(Ann.refreshManifestIvfIndex(emb.where(batchPred), table, "d1"))
    // the delta commit leaves the base segments in place: the old list
    // is a prefix of the new one, and every base file keeps its name,
    // length and mtime
    assert(segs().startsWith(baseSegs) && segs().size > baseSegs.size)
    assert(segFiles(table, Ann.IvfIndexCollection, baseSegs) == baseFiles)
    def ask() = Ann.ivfManifestTopK(spark, table).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id"),
        r.getAs[Double]("similarity"))).toSeq
    val before = ask()
    // exactly-once: the replayed tag commits nothing
    assert(!Ann.refreshManifestIvfIndex(emb.where(batchPred), table, "d1"))
    assert(ask() == before)
    // the stored codebook equals the full corpus's (centroids trained
    // in the base commit), so answers are bitwise the scan face's
    val expect = Ann.ivfTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id"),
        r.getAs[Double]("similarity"))).toSeq
    assert(before == expect)
    // clustered compaction: a one-cell probe scans fewer files
    def probeFiles(): Long = {
      val one = spark.read.format("graft").option("path", table)
        .option("collection", Ann.IvfIndexCollection).load()
        .where(col("kind") === "v" &&
          col("cent_id") === Ann.CentroidIds.head)
      one.collect()
      one.queryExecution.executedPlan.collect {
        case sc: FileSourceScanExec => sc.metrics("numFiles").value
      }.sum
    }
    val loose = probeFiles()
    Ann.compactManifestIvfIndex(spark, table, segments = 8)
    assert(probeFiles() < loose)
    assert(ask() == expect) // compaction is layout-only
    // an index without codebook rows is refused loud
    val bare = Files.createTempDirectory("graft_ivf_bare").toString + "/t"
    graft.sources.ManifestStore.storeBatch(
      emb.limit(5).select(lit("v").as("kind"), col("vec_id"),
        col("label"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"),
        lit(0L).as("cent_id")),
      bare, Ann.IvfIndexCollection, "b0")
    val e = intercept[IllegalArgumentException] {
      Ann.ivfManifestTopK(spark, bare)
    }
    assert(e.getMessage.contains("codebook"), e.getMessage)
    Seq(table, bare).foreach(t => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(t).getParentFile))
  }

  test("manifest PQ index: training commit carries the codebook, " +
      "deltas encode with the STORED codebook, replay no-ops, answers " +
      "bitwise the scan face; codebook-less and conflicting-codebook " +
      "stores refused loud") {
    import java.nio.file.Files
    val table = Files.createTempDirectory("graft_pq_mfst").toString + "/t"
    Ann.initManifestPqIndex(spark, table)
    val batchPred = col("vec_id") % 10 === 1 &&
      !col("vec_id").isin(Ann.PqCentroidIds: _*)
    assert(Ann.refreshManifestPqIndex(emb.where(!batchPred), table, "base"))
    assert(Ann.refreshManifestPqIndex(emb.where(batchPred), table, "d1"))
    def ask() = Ann.pqManifestTopK(spark, table, emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Double]("pq_sim"), r.getAs[Double]("similarity"))).toSeq
    val before = ask()
    // exactly-once: the replayed tag commits nothing
    assert(!Ann.refreshManifestPqIndex(emb.where(batchPred), table, "d1"))
    assert(ask() == before)
    // the stored codebook equals the full corpus's (the sample stride
    // is held in the base/train commit), so answers are bitwise the
    // scan face's — one codebook, one LUT, one fold order
    val expect = Ann.pqTopK(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Double]("pq_sim"), r.getAs[Double]("similarity"))).toSeq
    assert(before == expect)
    // a CONFLICTING codebook commit (duplicate position) refuses loud
    // at probe time — codes would be split across codebooks
    graft.sources.ManifestStore.storeBatch(
      spark.range(1).select(lit("c").as("kind"),
        lit(null).cast("long").as("vec_id"),
        lit(null).cast("long").as("label"),
        lit(null).cast("array<long>").as("codes"),
        lit(0L).as("cent_id"),
        array((0 until 64).map(_ => lit(0.0)): _*).as("v")),
      table, Ann.PqIndexCollection, "evil")
    val e2 = intercept[IllegalArgumentException] {
      Ann.pqManifestTopK(spark, table, emb)
    }
    assert(e2.getMessage.contains("CONFLICTING"), e2.getMessage)
    // an index without codebook rows is refused loud
    val bare = Files.createTempDirectory("graft_pq_bare").toString + "/t"
    graft.sources.ManifestStore.storeBatch(
      emb.limit(5).select(lit("v").as("kind"), col("vec_id"),
        col("label").cast("long").as("label"),
        array(lit(0L)).as("codes"),
        lit(null).cast("long").as("cent_id"),
        lit(null).cast("array<double>").as("v")),
      bare, Ann.PqIndexCollection, "b0")
    val e = intercept[IllegalArgumentException] {
      Ann.pqManifestTopK(spark, bare, emb)
    }
    assert(e.getMessage.contains("codebook"), e.getMessage)
    Seq(table, bare).foreach(t => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(t).getParentFile))
  }

  test("binary-sign search: engine result equals a driver-side " +
      "reimplementation (sig pack, Hamming shortlist, exact rerank); " +
      "recall measured") {
    val rows = Ann.binaryTopK(emb).collect()
    assert(rows.length == VectorSearch.K)
    // independent driver-side recomputation of the whole pipeline
    val all = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .collect().map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray))
    def sig(v: Array[Double]): Long = {
      var s = 0L; var j = 0
      while (j < v.length) { if (v(j) > 0.0) s |= (1L << j); j += 1 }; s
    }
    val qSig = sig(VectorSearch.Query)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }; acc
    }
    val shortlist = all
      .map { case (id, v) =>
        (java.lang.Long.bitCount(sig(v) ^ qSig), id, v) }
      .sortBy(t => (t._1, t._2)).take(Ann.BinaryShortlist)
    val expect = shortlist
      .map { case (h, id, v) => (id, h, dot(VectorSearch.QueryNorm, v)) }
      .sortBy(t => (-t._3, t._1)).take(VectorSearch.K).toSeq
    val got = rows.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Int]("hamming"), r.getAs[Double]("similarity"))).toSeq
    assert(got == expect)
    // the quality story ships with its measurement
    val rec = Ann.binaryRecallAtK(emb).collect()(0).getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
  }

  test("binary index refresh: a batch applies as a PURE APPEND (base " +
      "files untouched), refreshed store answers bitwise like a " +
      "full rebuild") {
    import java.nio.file.Files
    import graft.sources.ManifestStore
    val c = Ann.BinaryIndexCollection
    val path = Files.createTempDirectory("graft_bin_refresh").toString + "/t"
    val batchPred = col("vec_id") % 10 === 1
    Ann.initManifestBinaryIndex(spark, path)
    assert(Ann.refreshManifestBinaryIndex(emb.where(!batchPred), path, "base"))
    def segs(t: String) = ManifestStore.currentSegments(spark, t, c).get
    val baseSegs = segs(path)
    val baseFiles = segFiles(path, c, baseSegs)
    assert(Ann.refreshManifestBinaryIndex(emb.where(batchPred), path, "d1"))
    // every base segment file survives byte-identical; a new segment
    // is appended after them
    val after = segs(path)
    assert(after.startsWith(baseSegs) && after.size > baseSegs.size,
      s"refresh must append a segment: $baseSegs -> $after")
    assert(segFiles(path, c, baseSegs) == baseFiles,
      "a base segment file was rewritten by the refresh")
    // exactly-once: the replayed tag commits nothing
    assert(!Ann.refreshManifestBinaryIndex(emb.where(batchPred), path, "d1"))
    assert(segs(path) == after)
    // refreshed index == a one-commit full index, bitwise (same pack,
    // same ties)
    val full = Files.createTempDirectory("graft_bin_full").toString + "/t"
    Ann.initManifestBinaryIndex(spark, full)
    assert(Ann.refreshManifestBinaryIndex(emb, full, "all"))
    def ask(p: String) = Ann.binaryManifestTopK(spark, p, emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("hamming"),
        r.getAs[Double]("similarity"))).toSeq
    assert(ask(path) == ask(full))
    // ...and the signature SETS are identical relations
    def sigs(p: String) = spark.read.format("graft").option("path", p)
      .option("collection", c).load().select("vec_id", "sig").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(sigs(path) == sigs(full))
    Seq(path, full).foreach(p => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(p).getParentFile))
  }

  test("semanticDedupAssigned over the stored IVF index equals the " +
      "compute-on-scan semanticDedup; a per-cell maintenance pass reads " +
      "fewer files than the whole index") {
    val got = Dedup.semanticDedupAssigned(ivfIndexVectors).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id"),
        r.getAs[Boolean]("keep"))).toSeq
    val expect = Dedup.semanticDedup(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id"),
        r.getAs[Boolean]("keep"))).toSeq
    assert(got == expect)
    // the incremental shape over the compacted index: every scan of a
    // one-cell pass (both self-join sides and the keep join) is pruned
    // to the segments whose cent_id zone map holds the cell
    val all = scanFileCounts(ivfIndexVectors)
    assert(all.size == 1, s"one scan expected: $all")
    val c0 = expect.head._2
    val oneCell = scanFileCounts(Dedup.semanticDedupAssigned(
      ivfIndexVectors.where(col("cent_id") === c0)))
    assert(oneCell.nonEmpty && oneCell.forall(_ < all.head),
      s"per-cell pass must prune every scan below ${all.head} files: $oneCell")
  }
}
