package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Measurement discipline: TWO untimed WARMUP runs per query (codegen
  * compile, file-index and implicit-index caches, JIT — one warmup
  * left the first timed rep carrying several-second JIT tails, e.g. a
  * [0.59, 4.15] spread on a 0.6 s query) followed by
  * `SPARK_GRAFT_BENCH_REPS` timed runs (default 3); the reported number
  * is the per-query MEDIAN. Single-shot timings on this suite swing
  * several× on identical jars (JIT/GC/page-cache noise), which makes a
  * 2× regression in any one query invisible — the median of warmed runs
  * is stable enough to compare round over round.
  *
  * The artifact also carries `calib`: the median of a PINNED
  * data-independent probe run under the same protocol. Comparing
  * query/calib ratios across rounds divides out machine drift; the
  * probe's workload is frozen and must never be edited. */
object Bench {
  /** Committed idle-machine anchor for `calib`. Used ONLY by the noisy
    * flag's deviation test — the probe workload itself is pinned
    * separately and must never change. Re-based round 12: the fleet's
    * machines shifted speed regime between rounds 8 and 11 (round-8
    * idle probe 0.604; round-11 judge idle rerun 0.386; round-12 idle
    * capture 0.467 — 23-36% off the old constant), so the old anchor
    * made the calib guard a coin flip on a genuinely idle machine. The
    * value tracks the newest committed idle artifact's calib; it moves
    * ONLY together with a committed clean `bench_out.json`, and
    * BenchSpec pins it within 10% of that artifact's calib so it can
    * never silently drift from the capture it claims to track (it had:
    * rounds 16-17 committed clean anchors at 0.443/0.472 against a
    * stale 0.517 constant). Round 13: 0.467 → 0.517 (band center of a
    * 0.42-0.66 regime swing). Round 18: 0.517 → 0.450, that round's
    * first clean capture's calib. Round 19: 0.450 → 0.476 — the r18
    * round close committed a NEWER clean anchor (calib 0.476) without
    * retuning the constant, so the doc's "the committed clean anchor's
    * own calib" claim had silently gone false (r18 ADVICE low);
    * retuned so constant and committed artifact agree again. */
  val CalibAnchor = 0.476
  /** A query is "wide" when its timed reps spread beyond this
    * max/min ratio. */
  val NoisySpreadRatio = 3.0
  /** The run is flagged noisy at this many wide queries... */
  val NoisySpreadCount = 5
  /** ...or when calib deviates this fraction from [[CalibAnchor]]. */
  val NoisyCalibDev = 0.25

  /** Load-quality flag: two of the last three driver captures were
    * load-contaminated and only distinguishable by manual spread
    * inspection, so the artifact now carries the verdict mechanically.
    * Noisy ⟺ ≥ [[NoisySpreadCount]] queries spread wider than
    * [[NoisySpreadRatio]] across their timed reps, OR the pinned CPU
    * probe's median deviates more than [[NoisyCalibDev]] from the
    * committed idle anchor (either direction — a "faster" calib is
    * still a non-comparable environment). Pure arithmetic, spec-pinned. */
  def isNoisy(spreads: Seq[(Double, Double)], calib: Double,
      anchor: Double = CalibAnchor): Boolean = {
    val wide = spreads.count { case (lo, hi) =>
      lo > 0 && hi / lo > NoisySpreadRatio }
    wide >= NoisySpreadCount ||
      math.abs(calib - anchor) / anchor > NoisyCalibDev
  }

  /** The anchor rule flags when the common-query total exceeds the
    * committed total by this fraction... */
  val NoisyAnchorTotalDev = 0.15
  /** ...or when [[NoisyAnchorQueryCount]] common queries each exceed
    * their committed median by this ratio... */
  val NoisyAnchorQueryRatio = 1.5
  val NoisyAnchorQueryCount = 3
  /** ...or when ANY single common query exceeds its committed median
    * by this ratio. The round-10 builder capture is the fixture this
    * rule exists for: dedup_semantic at 4.6× its idle median with only
    * FOUR queries >1.5× and total +4.5% slipped past the old
    * (count ≥ 5, total > 15%) thresholds and got stamped
    * `noisy:false`. A lone 2.5× phantom is already "not comparable". */
  val NoisyAnchorSingleRatio = 2.5

  /** COMMITTED-ARTIFACT anchor rule — closes the uniform-slowdown
    * blind spot: a machine loaded CONSISTENTLY across all reps
    * produces tight-but-slow spreads (round 9's final capture: 95.5 s
    * vs 74.9 s committed, only 3 wide queries, calib 6.6% off — the
    * spread and calib rules both missed a 27% inflation). Comparing
    * the run's medians against the last committed `bench_out.json`
    * sees exactly that shape: noisy ⟺ the common-query total exceeds
    * the committed total by more than [[NoisyAnchorTotalDev]], OR
    * ≥ [[NoisyAnchorQueryCount]] common queries each exceed their
    * committed median by more than [[NoisyAnchorQueryRatio]]×, OR any
    * single common query exceeds [[NoisyAnchorSingleRatio]]× — load
    * contamination is often a few phantom multi-× queries, not a
    * uniform drift (the round-10 capture shape). Only
    * slowdowns flag — a faster run is a better environment (or a real
    * improvement), and committing its artifact moves the anchor. A
    * flagged run means "not comparable to the committed anchor":
    * either load contamination or a genuine regression — both need a
    * look before trusting the number. */
  def isNoisyVsCommitted(current: Map[String, Double],
      committed: Map[String, Double]): Boolean = {
    val common = current.keySet.intersect(committed.keySet)
      .filter(k => current(k) > 0 && committed(k) > 0)
    if (common.isEmpty) false
    else {
      val curTot = common.toSeq.map(current).sum
      val comTot = common.toSeq.map(committed).sum
      val slow = common.count(k =>
        current(k) > NoisyAnchorQueryRatio * committed(k))
      val spike = common.exists(k =>
        current(k) > NoisyAnchorSingleRatio * committed(k))
      curTot > (1 + NoisyAnchorTotalDev) * comTot ||
        slow >= NoisyAnchorQueryCount || spike
    }
  }

  /** Artifact routing: a NOISY capture must never replace the clean
    * committed anchor. Three rounds running (r16-r18), the driver's
    * round-close bench overwrote the committed clean `bench_out.json`
    * with a load-contaminated capture, costing each next round a
    * restore commit before any comparison was legitimate. The flag is
    * already computed before the write — route on it: clean captures
    * go to `outPath`, noisy ones to a `_noisy`-suffixed sibling (e.g.
    * `bench_out.json` → `bench_out_noisy.json`, same directory), so
    * the anchor at `outPath` can only ever be replaced by a capture
    * that is itself comparable. The noisy artifact is still written in
    * full (same line also goes to stdout, the driver contract) — it is
    * diagnostic, not discarded. */
  def routedOutPath(outPath: String, noisy: Boolean): String =
    if (!noisy) outPath
    else if (outPath.endsWith(".json"))
      outPath.stripSuffix(".json") + "_noisy.json"
    else outPath + "_noisy"

  /** Fingerprint of the bench fixture: FNV-1a over the sorted
    * (relative path, size, mtime) list of the parquet files under
    * `sfDir` — mtime because a regenerated fixture can preserve names
    * AND byte sizes (fixed row counts, fixed schemas) yet hold
    * different data; the regeneration always rewrites mtimes. Two
    * captures' per-query medians are comparable ONLY on identical
    * data — the driver REGENERATES `/root/testdata` each round, and a
    * regenerated table legitimately shifts medians with zero code
    * change (round 14: the text_index family +60% reproduced at the
    * anchor's own commit on the new data) — so the committed-artifact
    * anchor rule must compare nothing across fingerprints. */
  def dataFingerprint(sfDir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).fold(Seq.empty[java.io.File])(
          _.toSeq.sortBy(_.getName).flatMap(walk))
      else Seq(f)
    val base = new java.io.File(sfDir).toPath.toAbsolutePath.normalize
    val h = walk(new java.io.File(sfDir))
      .filter(_.getName.endsWith(".parquet"))
      .foldLeft(-3750763034362895579L) { (acc, f) => // FNV offset basis
        val rel = base.relativize(f.toPath.toAbsolutePath.normalize)
        (rel.toString + ":" + f.length + ":" + f.lastModified)
          .foldLeft(acc)((a, c) => (a ^ c.toLong) * 1099511628211L)
      }
    java.lang.Long.toHexString(h)
  }

  /** Minimal parser for our OWN artifact line: the trailing
    * `"queries":{...}` medians map (flat string→number, the map is
    * deliberately the line's last field) plus the `"noisy"` flag and
    * the `"data_fp"` fixture fingerprint (None on pre-fingerprint
    * artifacts). Anything malformed/truncated parses to None — the
    * anchor rule then simply does not fire, same advisory posture as
    * the zone-map sidecars. */
  def parseArtifact(line: String):
      Option[(Boolean, Option[String], Map[String, Double])] = {
    val marker = "\"queries\":{"
    val qIdx = line.lastIndexOf(marker)
    if (qIdx < 0) None
    else {
      val body = line.substring(qIdx + marker.length)
      val end = body.indexOf('}')
      if (end < 0) None
      else {
        val entries = body.substring(0, end).split(',').toSeq
          .filter(_.nonEmpty)
          .flatMap { e =>
            e.split(':') match {
              case Array(k, v) => v.trim.toDoubleOption
                .map(k.trim.stripPrefix("\"").stripSuffix("\"") -> _)
              case _ => None
            }
          }
        val fp = "\"data_fp\":\"([0-9a-f]+)\"".r
          .findFirstMatchIn(line).map(_.group(1))
        if (entries.isEmpty) None
        else Some((line.contains("\"noisy\":true"), fp, entries.toMap))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen session warmup so the first query's number measures the
    // query, not executor + codegen init (same as `Dev profile`).
    spark.range(1000).selectExpr("sum(id)").collect()
    // CALIBRATION ANCHOR — a pinned, data-independent probe (in-memory
    // range → shuffle agg → sort) measured with the same
    // 2-warmups + median protocol as the suite. Its workload must
    // NEVER change across rounds: query/calib ratios are what make
    // round-over-round deltas attributable when the machine itself
    // drifts (round 6's uniform ~1.25× environment shift muddied every
    // comparison). It reads no tables, so it moves with CPU/JIT/GC/
    // scheduler drift only — exactly the component to divide out.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 4096 AS k", "id AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"),
          org.apache.spark.sql.functions.count("v").as("c"))
        .orderBy("k")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce(); calibOnce() // warmup x2 (untimed)
    val calib = Array.fill(reps)(calibOnce()).sorted.apply(reps / 2)
    // SECOND ANCHOR — an I/O-bound probe (full-table parquet scan +
    // 1-row aggregate over the bench SF's largest table). The CPU
    // probe above cannot see page-cache/disk drift, which round 7
    // measured moving scan-heavy queries ±2× while `calib` held flat;
    // with both anchors a delta decomposes into CPU vs I/O drift.
    // Same protocol, same rule: NEVER edit the workload.
    def calibScanOnce(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(l_quantity) AS s", "count(*) AS c")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibScanOnce(); calibScanOnce() // warmup x2 (untimed)
    val calibScan = Array.fill(reps)(calibScanOnce()).sorted.apply(reps / 2)
    // dev/bisect knob: run ONLY the named queries (comma-separated) —
    // lets a round-over-round drift be attributed to suite pressure
    // (subset-alone fast) vs code drift (subset-alone slow) without
    // editing the suite. Unset = the full declared suite, the driver
    // contract.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")} — a misspelled " +
          "subset would emit a clean-looking partial artifact")
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // noop sink forces full materialization of every output column —
      // count() would let Catalyst prune the projection being measured.
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        once(); once() // warmup x2 (untimed)
        val timed = Array.fill(reps)(once()).sorted
        (name, timed(reps / 2), timed.head, timed.last, true)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          (name, -1.0, -1.0, -1.0, false)
      }
    }
    // failed queries report -1, never a near-zero "success"
    val qs = results.map { case (k, v, _, _, ok) => s"\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    // per-query [min, max] across the timed reps: the noise band around
    // each median, so a round-over-round delta can be judged against it
    val spread = results.map { case (k, _, lo, hi, ok) =>
      s"\"" + k + "\":" + (if (ok) s"[$lo,$hi]" else "[-1,-1]")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, _, false) => s"\"$k\"" }.mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, _, true) => v }.sum
    // Field order matters: the driver captures only a bounded TAIL of
    // stdout, which twice truncated the medians map away (r6, r7) when
    // it led the line — so the medians (`queries`, the actual signal)
    // go LAST, and the spread (diagnostic only) is the sacrificial
    // field ahead of them.
    // anchor comparison reads the COMMITTED artifact BEFORE this run
    // overwrites it; a missing/unparseable/itself-noisy anchor simply
    // does not fire the rule
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val medians = results.collect { case (k, v, _, _, true) => k -> v }.toMap
    val dataFp = dataFingerprint(sfDir)
    val anchorNoisy = (try {
      val f = new java.io.File(outPath)
      if (!f.isFile) None
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try parseArtifact(src.getLines().mkString) finally src.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }) match {
      // the committed medians are comparable ONLY when they were
      // measured on THIS fixture: regenerated testdata legitimately
      // moves per-query medians on identical code, and a cross-data
      // "regression" is a false positive, not load
      case Some((false, Some(fp), committed)) if fp == dataFp =>
        isNoisyVsCommitted(medians, committed)
      case _ => false
    }
    val noisy = anchorNoisy || isNoisy(
      results.collect { case (_, _, lo, hi, true) => (lo, hi) }, calib)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"calib":$calib,"calib_scan":$calibScan,"noisy":$noisy,"data_fp":"$dataFp","sf":"$sfDir","failed":$failed,"spread":$spread,"queries":$qs}"""
    // Loss-proof artifact: ALWAYS write the full line to a fixed
    // in-repo path too, so no driver/capture configuration can lose it
    // (SPARK_GRAFT_BENCH_OUT overrides the destination if set). Noisy
    // captures route to the _noisy sibling — see routedOutPath.
    val pw = new java.io.PrintWriter(routedOutPath(outPath, noisy), "UTF-8")
    try pw.println(line) finally pw.close()
    println(line)
    Caches.releaseAll()
    spark.stop()
  }
}
