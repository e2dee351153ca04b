package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/** The `format("graft")` connector: planning-time segment skipping
  * driven by the QUERY's own filters (zone maps + blooms + non-null
  * counts), Spark's native parquet scan doing the IO, snapshot
  * pinning, and the SQL `USING graft` surface. */
class GraftSourceSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft_src").toString

  /** Files actually scanned by the (already executed) frame — the
    * FileSourceScanExec's numFiles metric. Filter-only queries stay
    * un-wrapped by AQE, so the scan is directly collectible. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.metrics("numFiles").value).sum
  }

  /** Three one-file segments with disjoint long key ranges + a string
    * column, zone maps on both, blooms on the long key. */
  private def buildTable(): String = {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("k", "name"))
    ManifestStore.setBloomColumns(spark, table, Seq("k"))
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach { r =>
      ManifestStore.store(
        r.map(i => (i, s"n$i", i * 2.0)).toDF("k", "name", "v")
          .repartition(1),
        table, "m")
    }
    table
  }

  private def readSrc(table: String): DataFrame =
    spark.read.format("graft")
      .option("path", table).option("collection", "m").load()

  test("connector read matches the inferred manifest read; filters " +
      "prune segments at planning time") {
    val table = buildTable()
    val src = readSrc(table)
    // content parity with the API read (minus its collection literal)
    val api = ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .drop("collection")
    assert(src.orderBy("k").collect().toSeq ==
      api.select(src.columns.map(col): _*).orderBy("k").collect().toSeq)
    // no filter: all three segment files scanned
    assert(scannedFiles(readSrc(table)) == 3L)
    // long-kind zone maps: a range query plans only the middle segment
    assert(scannedFiles(
      readSrc(table).where(col("k") >= 100L && col("k") <= 109L)) == 1L)
    // literal-on-the-left flips the comparison, same proof
    assert(scannedFiles(
      readSrc(table).where(lit(199L) < col("k"))) == 1L)
    // a disjunction prunes only segments BOTH branches exclude
    assert(scannedFiles(readSrc(table)
      .where(col("k") === 5L || col("k") === 205L)) == 2L)
    // string-kind zone maps prune in UTF-8 byte order: "n105" falls
    // inside BOTH ["n0","n9"] and ["n100","n109"] byte-wise (the
    // lexicographic overlap short keys create), so exactly the third
    // segment ["n200","n209"] is proven out
    assert(scannedFiles(
      readSrc(table).where(col("name") === "n105")) == 2L)
    // ...while a probe below every range prunes all three
    assert(scannedFiles(
      readSrc(table).where(col("name") === "a")) == 0L)
    // the residual still filters INSIDE the surviving segment
    assert(readSrc(table).where(col("k") >= 100L && col("k") <= 104L)
      .count() == 5L)
  }

  test("bloom sidecars exclude point probes zone maps cannot; " +
      "unprovable shapes scan conservatively") {
    val table = buildTable()
    // k = 50 is inside no segment's range: zone maps alone exclude all
    assert(scannedFiles(readSrc(table).where(col("k") === 50L)) == 0L)
    // k = 105 range-intersects the middle segment only; its bloom
    // keeps it (present), the others' ranges exclude
    assert(scannedFiles(readSrc(table).where(col("k") === 105L)) == 1L)
    // IN-list: every value must be provably absent to drop a segment
    assert(scannedFiles(readSrc(table)
      .where(col("k").isin(5L, 50L))) == 1L)
    // a non-literal comparison proves nothing — full scan
    assert(scannedFiles(readSrc(table)
      .where(col("k") === col("v").cast("long"))) == 3L)
  }

  test("STRING bloom sidecars: uuid-key equality prunes interleaved " +
      "segments; an absent uuid plans ZERO files") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setBloomColumns(spark, table, Seq("id"), 1024)
    // two segments whose uuid-like key ranges fully interleave — no
    // zone maps at all: every prune below is the bloom's alone
    def rows(ks: Seq[Long]) = ks.toDF("n")
      .select(format_string("doc-%010d", col("n")).as("id"),
        col("n").as("v")).repartition(1)
    ManifestStore.store(rows((0L until 50L).map(_ * 10L)), table, "m")
    ManifestStore.store(rows((0L until 50L).map(_ * 10L + 5L)), table, "m")
    def key(n: Long) = f"doc-$n%010d"
    // present key: only its segment is planned
    assert(scannedFiles(readSrc(table)
      .where(col("id") === key(120L))) == 1L)
    // absent uuid: both blooms answer definitely-not — ZERO files
    assert(scannedFiles(readSrc(table)
      .where(col("id") === key(123L))) == 0L)
    // IN-list with one present key keeps exactly its segment
    assert(scannedFiles(readSrc(table)
      .where(col("id").isin(key(5L), key(123L)))) == 1L)
    assert(readSrc(table).where(col("id") === key(120L))
      .select("v").as[Long].collect().toSeq == Seq(120L))
  }

  test("prefix probes prune on string zone maps: hi below the prefix " +
      "or lo past it without carrying it proves the segment out") {
    val table = buildTable()
    // "n1" keeps seg1 (n100..n109, all prefixed) AND seg0 (its range
    // ["n0","n9"] straddles the prefix — "n1" itself is inside);
    // seg2's lo "n200" > "n1" without the prefix → proven out
    assert(scannedFiles(readSrc(table)
      .where(col("name").startsWith("n1"))) == 2L)
    // "n15": seg1's hi "n109" < "n15" excludes it; only seg0's broad
    // single-digit range cannot prove absence
    assert(scannedFiles(readSrc(table)
      .where(col("name").startsWith("n15"))) == 1L)
    // a prefix above every range prunes all three
    assert(scannedFiles(readSrc(table)
      .where(col("name").startsWith("z"))) == 0L)
    // ...and the residual still answers exactly
    assert(readSrc(table).where(col("name").startsWith("n1")).count()
      == 11L)
  }

  test("a recorded non-null count of zero excludes null-rejecting " +
      "predicates on that column") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("k"))
    ManifestStore.store(
      Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "txt")
        .repartition(1), table, "m")
    ManifestStore.store(
      Seq((Option.empty[Long], "c"), (Option.empty[Long], "d"))
        .toDF("k", "txt").repartition(1), table, "m")
    assert(scannedFiles(readSrc(table)) == 2L)
    assert(scannedFiles(readSrc(table).where(col("k").isNotNull)) == 1L)
    assert(scannedFiles(readSrc(table).where(col("k") > 0L)) == 1L)
    // the INVERSE proof: IS NULL (and its `<=> null` spelling) drops
    // the segment whose sidecar proves rows == non-null, keeps the
    // all-null one
    assert(scannedFiles(readSrc(table).where(col("k").isNull)) == 1L)
    assert(scannedFiles(readSrc(table).where(col("k") <=> lit(null))) == 1L)
    assert(readSrc(table).where(col("k").isNull).count() == 2L)
    // a column with NO cnt/rows coverage proves nothing — full scan
    assert(scannedFiles(readSrc(table).where(col("txt").isNull)) == 2L)
  }

  test("rows tokens serve bare COUNT(*) from metadata; segments " +
      "without them fall back to one batched scan") {
    import spark.implicits._
    val table = buildTable()
    // all three segments carry rows: tokens — zero scanned
    assert(ManifestStore.countRowsPlanned(spark, table, "m")
      == ((30L, 3, 0)))
    // a table configured with NO sidecar columns writes no sidecars:
    // every segment falls back to the scan path, same total
    val bare = tmp() + "/t"
    ManifestStore.store(
      (0L until 7L).map(i => (i, s"n$i")).toDF("k", "txt")
        .repartition(1), bare, "m")
    ManifestStore.store(
      (7L until 10L).map(i => (i, s"n$i")).toDF("k", "txt")
        .repartition(1), bare, "m")
    assert(ManifestStore.countRowsPlanned(spark, bare, "m")
      == ((10L, 0, 2)))
  }

  test("bloom probes prune point lookups independently of zone-map " +
      "coverage (blooms-only column, the event_id shape)") {
    import spark.implicits._
    val table = tmp() + "/t"
    // blooms on k, NO zone maps at all: before the independent probe,
    // point lookups through the connector scanned everything here
    ManifestStore.setBloomColumns(spark, table, Seq("k"))
    Seq(0L until 10L, 100L until 110L).foreach { r =>
      ManifestStore.store(
        r.map(i => (i, s"n$i")).toDF("k", "txt").repartition(1),
        table, "m")
    }
    // absent key: every bloom answers "definitely not here"
    assert(scannedFiles(readSrc(table).where(col("k") === 50L)) == 0L)
    // present key: its segment's bloom keeps it; the other segment may
    // only survive as a bloom false positive (deterministic hashes —
    // pin the exact count)
    assert(scannedFiles(readSrc(table).where(col("k") === 105L)) == 1L)
    assert(readSrc(table).where(col("k") === 105L).count() == 1L)
    // range predicates have no bounds to consult here — conservative
    assert(scannedFiles(readSrc(table).where(col("k") > 150L)) == 2L)
  }

  test("SQL surface (USING graft) and snapshot pinning") {
    import spark.implicits._
    val table = buildTable()
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_src_v
         |USING graft OPTIONS (path '$table', collection 'm')""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graft_src_v")
      .head.getLong(0) == 30L)
    assert(spark.sql(
      "SELECT sum(k) AS s FROM graft_src_v WHERE k >= 200")
      .head.getLong(0) == (200L until 210L).sum)
    // a frame loaded BEFORE an append keeps its pinned snapshot...
    val pinned = readSrc(table)
    assert(pinned.count() == 30L)
    ManifestStore.store(
      Seq((300L, "n300", 600.0)).toDF("k", "name", "v").repartition(1),
      table, "m")
    assert(pinned.count() == 30L)
    // ...a fresh load sees the new commit
    assert(readSrc(table).count() == 31L)
    // the timestamp coordinate rides the same OPTIONS pass-through:
    // a view pinned at commit 2's instant serves the 20-row snapshot
    val t2 = ManifestStore.history(spark, table, "m")
      .where(col("ptr_seq") === 2L).select("commit_ts_ms")
      .head.getLong(0)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_src_t2
         |USING graft OPTIONS (path '$table', collection 'm',
         |  timestampAsOf '$t2')""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graft_src_t2")
      .head.getLong(0) == 20L)
    spark.sql("DROP VIEW graft_src_t2")
    spark.sql("DROP VIEW graft_src_v")
  }

  test("on the time-sliced event log the connector plans exactly the " +
      "middle-quarter segments, residual pushed into their parquet") {
    val (path, lo, hi) = graft.operators.Events
      .manifestEventsTable(spark, sf)
    val w = (hi - lo) / graft.operators.Events.RangeSegs
    val src = spark.read.format("graft")
      .option("path", path).option("collection", "events").load()
      .where(col("ts_us") >= lo + 3 * w && col("ts_us") <= lo + 5 * w)
    // expected = files of exactly the segments whose TRUE ts_us
    // bounds intersect the range (the sidecars record actual min/max,
    // tighter than the slice arithmetic: a boundary slice with no
    // event at its first microsecond prunes too) — no false prunes,
    // no conservative over-reads
    val segDirs = new java.io.File(s"$path/collection=events")
      .listFiles.filter(_.getName.startsWith("seg=")).sortBy(_.getName)
    val surviving = segDirs.filter { d =>
      val mm = spark.read.parquet(d.toString)
        .agg(min("ts_us"), max("ts_us")).head
      mm.getLong(0) <= lo + 5 * w && mm.getLong(1) >= lo + 3 * w
    }
    assert(surviving.length < segDirs.length, "fixture degenerate: " +
      "every segment intersects the middle quarter")
    val expected = surviving.map(_.listFiles.count { f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
    }).sum
    assert(scannedFiles(src) == expected.toLong)
    // the residual predicate reaches the parquet scan of survivors
    val scan = src.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.metadata("PushedFilters").contains("ts_us"),
      scan.metadata("PushedFilters"))
    // and the declarative face answers exactly what the imperative
    // readRangeLong face answers
    // exact aggregates only — a double sum's add order may differ
    // between the two reads' partition layouts
    assert(src.agg(count(lit(1)), sum("ts_us"), sum("event_id"))
        .collect().toSeq ==
      ManifestStore.readRangeLong(spark, path, "events",
        lo + 3 * w, lo + 5 * w, "ts_us")
        .agg(count(lit(1)), sum("ts_us"), sum("event_id"))
        .collect().toSeq)
    // the blooms-only point shape (event_id is bloom-configured, NOT
    // zone-mapped): an absent id plans ZERO files through the
    // connector — the independent bloom probe at work on the fixture
    assert(scannedFiles(spark.read.format("graft")
      .option("path", path).option("collection", "events").load()
      .where(col("event_id") === -1L)) == 0L)
    graft.operators.Events.releaseCaches()
  }

  test("a schema-widened table reads through the connector with the " +
      "merged schema, old segments serving NULL for the new column") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.store(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "txt").repartition(1),
      table, "m")
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((3L, "c", 0.9, false)).toDF("doc_id", "txt", "score", "_deleted"),
      mergeSchema = true))
    val src = spark.read.format("graft")
      .option("path", table).option("collection", "m").load()
    assert(src.columns.toSet == Set("doc_id", "txt", "score"))
    val rows = src.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[Any]("score")))).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(0.9))))
  }

  test("the connector is FS-agnostic (graftfs scheme): pruning and " +
      "parquet IO both flow through the FileSystem API") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val table = s"graftfs://${tmp()}/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("k"))
    Seq(0L until 10L, 100L until 110L).foreach { r =>
      ManifestStore.store(
        r.map(i => (i, s"n$i")).toDF("k", "txt").repartition(1),
        table, "m")
    }
    val src = spark.read.format("graft")
      .option("path", table).option("collection", "m").load()
    assert(src.count() == 20L)
    assert(scannedFiles(src.where(col("k") >= 100L)) == 1L)
    assert(src.where(col("k") >= 100L).count() == 10L)
  }

  test("absent collection and missing options fail loud") {
    val table = buildTable()
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("path", table).option("collection", "nope").load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("path", table).load()
    }
  }

  test("a bare COUNT(*) over a graft relation is answered from rows: " +
      "tokens as a LocalRelation — zero tasks; null-sensitive, " +
      "filtered, and token-less shapes still scan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import spark.implicits._
    def metaServed(df: org.apache.spark.sql.DataFrame): Boolean = {
      val opt = df.queryExecution.optimizedPlan
      opt.collect { case l: LocalRelation => l }.nonEmpty &&
        opt.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty
    }
    val table = buildTable()
    spark.experimental.extraOptimizations ++=
      Seq(graft.plans.MetadataAggRule)
    try {
      val df = readSrc(table).groupBy().count()
      assert(metaServed(df))
      assert(df.head.getLong(0) == 30L)
      // the SQL face a BI tool hits
      spark.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW meta_cnt_v
           |USING graft OPTIONS (path '$table', collection 'm')"""
          .stripMargin)
      val sq = spark.sql(
        "SELECT count(*) AS n, count(1) AS n1 FROM meta_cnt_v")
      assert(metaServed(sq))
      assert(sq.head.getLong(0) == 30L && sq.head.getLong(1) == 30L)
      spark.sql("DROP VIEW meta_cnt_v")
      // count(col) is null-sensitive — never rewritten
      val cntCol = readSrc(table).agg(count(col("k")).as("n"))
      assert(!metaServed(cntCol))
      assert(cntCol.head.getLong(0) == 30L)
      // a filter disqualifies (even one pruning could prove total)
      val filt = readSrc(table).where(col("k") >= 100L).groupBy().count()
      assert(!metaServed(filt))
      assert(filt.head.getLong(0) == 20L)
      // grouped counts keep their scan
      val grouped = readSrc(table).groupBy("name").count()
      assert(!metaServed(grouped))
      // a table whose segments carry no rows: tokens is left alone
      val bare = tmp() + "/t"
      ManifestStore.store(
        (0L until 10L).map(i => (i, s"n$i")).toDF("k", "txt")
          .repartition(1), bare, "m")
      val noTok = readSrc(bare).groupBy().count()
      assert(!metaServed(noTok))
      assert(noTok.head.getLong(0) == 10L)
      // MIN/MAX serve from matching-kind zone-map bounds: numeric for
      // the long column, UTF-8 order for the genuine string column,
      // mixed freely with count(*)
      val mm = readSrc(table).agg(min(col("k")).as("lo"),
        max(col("k")).as("hi"), min(col("name")).as("slo"),
        max(col("name")).as("shi"), count(lit(1)).as("n"))
      assert(metaServed(mm))
      val r = mm.head
      assert(r.getLong(0) == 0L && r.getLong(1) == 209L &&
        r.getString(2) == "n0" && r.getString(3) == "n9" &&
        r.getLong(4) == 30L)
      // an UNMAPPED double column has no sidecar bounds — never served
      // (a zone-mapped one serves from its 'd' bounds; see the 'd'-kind
      // test below)
      val dbl = readSrc(table).agg(min(col("v")).as("lo"))
      assert(!metaServed(dbl))
      assert(dbl.head.getDouble(0) == 0.0)
      // an all-null segment provably contributes nothing (cnt == 0);
      // an all-null COLUMN serves NULL, matching the scan
      val nulls = tmp() + "/t"
      ManifestStore.setZoneMapColumns(spark, nulls, Seq("k"))
      ManifestStore.store(
        Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "txt")
          .repartition(1), nulls, "m")
      ManifestStore.store(
        Seq((Option.empty[Long], "c"), (Option.empty[Long], "d"))
          .toDF("k", "txt").repartition(1), nulls, "m")
      val nm = readSrc(nulls).agg(min(col("k")).as("lo"),
        max(col("k")).as("hi"))
      assert(metaServed(nm))
      assert(nm.head.getLong(0) == 1L && nm.head.getLong(1) == 2L)
      val allNull = tmp() + "/t"
      ManifestStore.setZoneMapColumns(spark, allNull, Seq("k"))
      ManifestStore.store(
        Seq((Option.empty[Long], "c"), (Option.empty[Long], "d"))
          .toDF("k", "txt").repartition(1), allNull, "m")
      val an = readSrc(allNull).agg(min(col("k")).as("lo"))
      assert(metaServed(an))
      assert(an.head.isNullAt(0))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ eq graft.plans.MetadataAggRule)
    }
  }

  test("'d'-kind zone maps: double probes prune at planning time under " +
      "Spark's float semantics (NaN greatest, -0.0 = 0.0), the " +
      "imperative range read agrees, and wrong-kind stats prune nothing") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("x"))
    ManifestStore.store((0 until 10).map(i => (i.toLong, i + 0.5))
      .toDF("id", "x").repartition(1), table, "m")
    ManifestStore.store((0 until 10).map(i => (100L + i, 100.25 + i))
      .toDF("id", "x").repartition(1), table, "m")
    // the edge segment: both zeros, a NaN, an infinity — bounds record
    // [-0.0 (or 0.0 — Spark's min treats them equal), NaN]
    ManifestStore.store(Seq((900L, -0.0), (901L, 0.0),
      (902L, Double.NaN), (903L, Double.PositiveInfinity))
      .toDF("id", "x").repartition(1), table, "m")
    def src = spark.read.format("graft").option("path", table)
      .option("collection", "m").load()
    // band probe: the low band is proven out; the edge segment's NaN
    // hi proves nothing upward (SOUND — its Inf/NaN rows do satisfy
    // x >= 100) so 2 of 3 scan, and the residual leaves the band only
    val band = src.where(col("x") >= 100.0 && col("x") <= 110.0)
    assert(scannedFiles(band) == 2L)
    assert(band.count() == 10L)
    // -0.0 = 0.0 under Spark float equality: either literal sign finds
    // BOTH zero rows, and prunes both numeric bands
    val z = src.where(col("x") === 0.0)
    assert(scannedFiles(z) == 1L)
    assert(z.count() == 2L)
    val nz = src.where(col("x") === -0.0)
    assert(scannedFiles(nz) == 1L)
    assert(nz.count() == 2L)
    // NaN = NaN is true and NaN is greatest: the equality probe plans
    // only the edge segment; a strictly-above probe excludes the middle
    // band at its exact hi yet still finds Inf AND NaN
    val nan = src.where(col("x") === Double.NaN)
    assert(scannedFiles(nan) == 1L)
    assert(nan.count() == 1L)
    val above = src.where(col("x") > 109.25)
    assert(scannedFiles(above) == 1L)
    assert(above.count() == 2L)
    // Or prunes only segments BOTH branches exclude; the NaN-topped
    // edge segment is never equality-pruned (its bounds cannot
    // disprove any value below NaN)
    assert(scannedFiles(
      src.where(col("x") === 0.0 || col("x") === 105.25)) == 2L)
    assert(scannedFiles(
      src.where(col("x") === 5.5 || col("x") === 105.25)) == 3L)
    // And needs ONE excluding conjunct
    assert(scannedFiles(
      src.where(col("x") < 0.25 && col("id") >= 0L)) == 1L)
    // a non-literal comparison proves nothing — full scan
    assert(scannedFiles(
      src.where(col("x") === col("id").cast("double"))) == 3L)
    // the residual double predicate reaches the surviving parquet scan
    // (row-group skipping inside kept segments)
    val bandScan = band.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(bandScan.metadata("PushedFilters").contains("x"),
      bandScan.metadata("PushedFilters"))
    // imperative face: same plan, same rows
    val rr = ManifestStore.readRangeDouble(
      spark, table, "m", 100.0, 110.0, "x").drop("collection")
    assert(rr.orderBy("id").collect().toSeq ==
      band.orderBy("id").collect().toSeq)
    assert(segsRead(rr).size == 2)
    assert(ManifestStore.currentSegments(spark, table, "m").get.size == 3)
    // metadata min/max serve from the 'd' bounds without a scan: the
    // min is a zero (sign order-dependent in Spark itself — the two
    // compare equal), the max is the NaN
    spark.experimental.extraOptimizations ++=
      Seq(graft.plans.MetadataAggRule)
    try {
      val mm = src.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      assert(mm.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }.nonEmpty)
      val r = mm.head
      assert(r.getDouble(0) == 0.0)
      assert(r.getDouble(1).isNaN)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ eq graft.plans.MetadataAggRule)
    }
    // FORWARD-COMPAT: a sidecar that recorded this column pre-'d'
    // (string-kind bounds) is wrong-kind for a double probe — prunes
    // nothing, scans conservatively
    val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(table))
    try {
      walked.filter(p => p.getFileName.toString.startsWith("stats-"))
        .forEach { p =>
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          java.nio.file.Files.write(p,
            txt.replace(":d=", ":s=").getBytes("UTF-8")): Unit
        }
    } finally walked.close()
    assert(scannedFiles(
      src.where(col("x") >= 100.0 && col("x") <= 110.0)) == 3L)
    assert(segsRead(ManifestStore.readRangeDouble(
      spark, table, "m", 100.0, 110.0, "x")).size == 3)
    assert(ManifestStore.currentSegments(spark, table, "m").get.size == 3)
  }

  test("one prover: the imperative range, point and count readers " +
      "plan exactly the connector's segments and return its rows " +
      "('l', 'd' with NaN/-0.0, bloomed 's', an all-null 'l' segment)") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("l", "d", "s"))
    ManifestStore.setBloomColumns(spark, table, Seq("l", "s"))
    def put(rows: Seq[(Long, Option[Long], Double, String)]): Unit =
      ManifestStore.store(rows.toDF("id", "l", "d", "s").repartition(1),
        table, "m")
    // seg 1 and 2: disjoint bands on every column
    put((0 until 10).map(i =>
      (i.toLong, Some(i.toLong), i + 0.5, f"k$i%03d")))
    put((0 until 10).map(i =>
      (100L + i, Some(100L + i), 100.25 + i, f"k${100 + i}%03d")))
    // seg 3: ranges spanning both bands (only blooms separate point
    // probes), both zeros, a NaN, an infinity, a null 'l'
    put(Seq((900L, Some(-5L), -0.0, "a"), (901L, Some(20L), 0.0, "z"),
      (902L, None, Double.NaN, "m"),
      (903L, Some(7L), Double.PositiveInfinity, "k005")))
    // seg 4: 'l' entirely null — its sidecar records a zero count
    put((0 until 5).map(i => (1000L + i, None, 50.0 + i, s"n$i")))
    def src = readSrc(table)
    /** The connector's planned segments: the index's own listing for
      * the scan's data filters (its file count cross-checks numFiles). */
    def planned(df: DataFrame): Seq[String] = {
      val n = scannedFiles(df)
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      val files = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString))
      assert(files.size.toLong == n)
      segsOf(files)
    }
    def same(label: String, imperative: DataFrame, connector: DataFrame,
        expectSegs: Option[Seq[String]] = None): Seq[String] = {
      val segs = planned(connector)
      assert(segsRead(imperative) == segs, label)
      expectSegs.foreach(e => assert(segs == e, label))
      val cols = connector.columns.map(col).toSeq
      assert(imperative.select(cols: _*).orderBy("id").collect().toSeq ==
        connector.orderBy("id").collect().toSeq, label)
      segs
    }
    val nullSeg = "seg=000004"
    // 'l' ranges: the all-null segment is planned by neither face, and
    // the metadata-served count equals the scan count
    Seq((0L, 9L), (5L, 105L), (10L, 99L), (-10L, -1L), (101L, 101L),
      (Long.MinValue, Long.MaxValue)).foreach { case (lo, hi) =>
      val segs = same(s"l in [$lo, $hi]",
        ManifestStore.readRangeLong(spark, table, "m", lo, hi, "l"),
        src.where(col("l").between(lo, hi)))
      assert(!segs.contains(nullSeg), s"l in [$lo, $hi]: $segs")
      assert(ManifestStore.countRangeLongPlanned(spark, table, "m", lo, hi,
        "l")._1 == src.where(col("l").between(lo, hi)).count())
    }
    // 'l' point probes: ranges and the 'l' blooms
    Seq(5L, 7L, 8L, 50L, 105L, -5L).foreach { v =>
      val segs = same(s"l = $v",
        ManifestStore.readPointLong(spark, table, "m", v, "l"),
        src.where(col("l") === v))
      assert(!segs.contains(nullSeg), s"l = $v: $segs")
    }
    // 'd' ranges, incl. point-width probes on both zeros and NaN
    Seq((100.0, 110.0), (0.0, 0.0), (-0.0, -0.0), (9.5, 100.25),
      (Double.NaN, Double.NaN), (200.0, Double.PositiveInfinity),
      (-1.0, 0.25), (50.0, 52.0)).foreach { case (lo, hi) =>
      same(s"d in [$lo, $hi]",
        ManifestStore.readRangeDouble(spark, table, "m", lo, hi, "d"),
        src.where(col("d").between(lo, hi)))
      assert(ManifestStore.countRangeDoublePlanned(spark, table, "m", lo,
        hi, "d")._1 == src.where(col("d").between(lo, hi)).count())
    }
    // 's' ranges (UTF-8 order) and bloomed point probes
    Seq(("k000", "k009"), ("k100", "k105"), ("a", "b"), ("l", "zz"),
      ("n", "n9")).foreach { case (lo, hi) =>
      same(s"s in [$lo, $hi]",
        ManifestStore.readRange(spark, table, "m", lo, hi, "s"),
        src.where(col("s").between(lo, hi)))
    }
    Seq("k005", "k050", "k105", "z", "m", "n0").foreach { v =>
      same(s"s = $v",
        ManifestStore.readPointString(spark, table, "m", v, "s"),
        src.where(col("s") === v))
    }
    // the pruning engaged on every column (not a vacuous parity)
    assert(segsRead(ManifestStore.readRangeLong(
      spark, table, "m", 0L, 9L, "l")) == Seq("seg=000001", "seg=000003"))
    assert(segsRead(ManifestStore.readRangeDouble(
      spark, table, "m", 100.0, 110.0, "d")) ==
      Seq("seg=000002", "seg=000003"))
    assert(segsRead(ManifestStore.readPointString(
      spark, table, "m", "k050", "s")).isEmpty)
  }

  test("segment listings are memoized per index instance: repeated " +
      "planner calls pay zero extra driver RPCs; refresh() re-lists") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[GraftCountingFs].getName)
    val table = s"graftcnt://${tmp()}/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("k"))
    Seq(0L until 10L, 100L until 110L).foreach { r =>
      ManifestStore.store(
        r.map(i => (i, s"n$i")).toDF("k", "txt").repartition(1),
        table, "m")
    }
    val idx = new graft.sources.GraftFileIndex(spark, table, "m")
    idx.sizeInBytes; idx.inputFiles; idx.listFiles(Nil, Nil)
    val afterFirst = GraftCountingFs.segListings.get()
    // every further planner call is served from the memo
    idx.sizeInBytes; idx.inputFiles; idx.listFiles(Nil, Nil)
    idx.listFiles(Nil, Nil)
    assert(GraftCountingFs.segListings.get() == afterFirst)
    // refresh() invalidates: the next call re-lists
    idx.refresh()
    idx.sizeInBytes
    assert(GraftCountingFs.segListings.get() > afterFirst)
  }

  test("a pinned segment whose directory is gone fails LOUD, not as " +
      "silently dropped rows") {
    import spark.implicits._
    val table = tmp() + "/t"
    Seq(0L until 10L, 100L until 110L).foreach { r =>
      ManifestStore.store(
        r.map(i => (i, s"n$i")).toDF("k", "txt").repartition(1),
        table, "m")
    }
    val pinned = readSrc(table)
    // vacuum racing the snapshot: remove a live segment dir under it
    val segDir = new java.io.File(s"$table/collection=m")
      .listFiles.filter(_.getName.startsWith("seg=")).head
    org.apache.commons.io.FileUtils.deleteDirectory(segDir)
    val e = intercept[Exception] { pinned.count() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("pinned in this snapshot")),
      e.toString)
  }

  test("write face: append routes through the commit protocol, tagged " +
      "appends are idempotent, Overwrite is rejected") {
    import spark.implicits._
    val table = tmp() + "/t"
    // default mode (ErrorIfExists) creates the collection...
    Seq((1L, "a"), (2L, "b")).toDF("k", "txt")
      .write.format("graft")
      .option("path", table).option("collection", "m").save()
    assert(readSrc(table).count() == 2L)
    // ...and refuses a second create
    intercept[IllegalStateException] {
      Seq((9L, "z")).toDF("k", "txt").write.format("graft")
        .option("path", table).option("collection", "m").save()
    }
    // Ignore silently skips an existing collection
    Seq((9L, "z")).toDF("k", "txt").write.format("graft")
      .mode("ignore")
      .option("path", table).option("collection", "m").save()
    assert(readSrc(table).count() == 2L)
    // append lands a new pointer-gated segment
    Seq((3L, "c")).toDF("k", "txt").write.format("graft")
      .mode("append")
      .option("path", table).option("collection", "m").save()
    assert(readSrc(table).orderBy("k").select("k").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L))
    // a TAGGED append is idempotent: the replay commits nothing
    def tagged(): Unit = Seq((4L, "d")).toDF("k", "txt")
      .write.format("graft").mode("append")
      .option("path", table).option("collection", "m")
      .option("tag", "batch-4").save()
    tagged(); tagged()
    assert(readSrc(table).where(col("k") === 4L).count() == 1L)
    // Overwrite must go through mergeCollection/restoreVersion
    intercept[UnsupportedOperationException] {
      Seq((5L, "e")).toDF("k", "txt").write.format("graft")
        .mode("overwrite")
        .option("path", table).option("collection", "m").save()
    }
    assert(readSrc(table).count() == 4L)
  }

  test("write face: racing tagged writers commit exactly one copy") {
    import spark.implicits._
    val table = tmp() + "/t"
    Seq((0L, "seed")).toDF("k", "txt").write.format("graft")
      .mode("append")
      .option("path", table).option("collection", "m").save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val races = (1 to 4).map { i =>
      scala.concurrent.Future {
        Seq((100L + i, s"w$i")).toDF("k", "txt")
          .write.format("graft").mode("append")
          .option("path", table).option("collection", "m")
          .option("tag", "same-batch").save()
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(races),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    // exactly ONE of the same-tag racers published; the rest were
    // replay no-ops (their orphan segments are unreferenced)
    assert(readSrc(table).where(col("k") >= 100L).count() == 1L)
  }

  test("write face: racing ErrorIfExists creators — exactly one wins " +
      "the atomic create-once marker; Ignore racers append exactly once") {
    import spark.implicits._
    val table = tmp() + "/t"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def awaitAll[T](fs: Seq[scala.concurrent.Future[T]]): Seq[T] =
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(120, "s"))
    // ErrorIfExists race on a FRESH collection: the exists() probe is
    // not the decider (both racers can pass it) — the O_EXCL `created`
    // marker is, so exactly one create succeeds and one commit lands
    val outcomes = awaitAll((1 to 4).map { i =>
      scala.concurrent.Future {
        try {
          Seq((i.toLong, s"w$i")).toDF("k", "txt")
            .write.format("graft")
            .option("path", table).option("collection", "race").save()
          true
        } catch { case _: IllegalStateException => false }
      }
    })
    assert(outcomes.count(identity) == 1, outcomes.toString)
    assert(spark.read.format("graft").option("path", table)
      .option("collection", "race").load().count() == 1L)
    // Ignore race on a fresh collection: every racer completes, but
    // only the marker winner appends
    awaitAll((1 to 4).map { i =>
      scala.concurrent.Future {
        Seq((100L + i, s"g$i")).toDF("k", "txt")
          .write.format("graft").mode("ignore")
          .option("path", table).option("collection", "race2").save()
      }
    })
    pool.shutdown()
    assert(spark.read.format("graft").option("path", table)
      .option("collection", "race2").load().count() == 1L)
  }

  test("write face: a tombstoned collection counts as EXISTING for the " +
      "create-once modes — no silent resurrection of a deliberate delete") {
    import spark.implicits._
    val table = tmp() + "/t"
    Seq((1L, "a")).toDF("k", "txt").write.format("graft")
      .mode("append")
      .option("path", table).option("collection", "m").save()
    ManifestStore.deleteCollection(spark, table, "m")
    // tombstone state: no live segments, but committed history exists
    assert(ManifestStore.currentSegments(spark, table, "m").isEmpty)
    val seqAfterDelete = ManifestStore.currentPtrSeq(spark, table, "m")
    assert(seqAfterDelete > 0L)
    // ErrorIfExists refuses: the collection was deliberately emptied
    intercept[IllegalStateException] {
      Seq((2L, "b")).toDF("k", "txt").write.format("graft")
        .option("path", table).option("collection", "m").save()
    }
    // Ignore no-ops: the tombstone stays the live state (no new commit)
    Seq((3L, "c")).toDF("k", "txt").write.format("graft")
      .mode("ignore")
      .option("path", table).option("collection", "m").save()
    assert(ManifestStore.currentSegments(spark, table, "m").isEmpty)
    assert(ManifestStore.currentPtrSeq(spark, table, "m") == seqAfterDelete)
    // the explicit paths back still work: append, or restoreVersion
    Seq((4L, "d")).toDF("k", "txt").write.format("graft")
      .mode("append")
      .option("path", table).option("collection", "m").save()
    assert(readSrc(table).select("k").as[Long].collect().toSeq == Seq(4L))
  }

  test("time travel: versionAsOf pins the connector to a commit, " +
      "agrees with readAsOfInferred, unresolvable versions fail loud") {
    import spark.implicits._
    val table = buildTable() // three commits: seqs 1, 2, 3
    def atv(v: Long): DataFrame = spark.read.format("graft")
      .option("path", table).option("collection", "m")
      .option("versionAsOf", v.toString).load()
    // commit 1 = first 10 keys; commit 2 adds the 100s; 3 the 200s
    assert(atv(1L).count() == 10L && atv(2L).count() == 20L)
    Seq(1L, 2L, 3L).foreach { v =>
      val via = ManifestStore.readAsOfInferred(spark, table, "m", v)
        .drop("collection")
      val got = atv(v)
      assert(got.exceptAll(via).isEmpty && via.exceptAll(got).isEmpty, s"v$v")
    }
    // pinned snapshot: filters still prune within the old version
    val plan1 = atv(1L).where(col("k") >= 200L)
    assert(plan1.count() == 0L) // keys 200.. don't exist at v1
    // a later append does not leak into a version-pinned frame
    val pinned = atv(2L)
    ManifestStore.store(Seq((400L, "n400", 800.0)).toDF("k", "name", "v")
      .repartition(1), table, "m")
    assert(pinned.count() == 20L)
    assert(readSrc(table).count() == 31L)
    // ceiling semantics, readAsOf parity: "as of commit 999" = the
    // state after the newest commit <= 999, i.e. latest
    assert(atv(999L).count() == 31L)
    // a vacuumed-away version is an ERROR, never an empty frame
    val pruned = ManifestStore.vacuum(spark, table,
      minAgeMs = -1000L, tagMinAgeMs = -1000L)
    assert(pruned.nonEmpty, "vacuum should prune superseded pointers")
    intercept[Exception] { atv(2L).count() }
    assert(readSrc(table).count() == 31L) // latest unaffected
    // non-numeric versions are errors too
    intercept[Exception] {
      spark.read.format("graft").option("path", table)
        .option("collection", "m").option("versionAsOf", "abc")
        .load().count()
    }
  }

  test("time travel: timestampAsOf resolves commit_ts_ms to a version " +
      "with versionAsOf's ceiling/horizon contract; tombstones read " +
      "as defined empty frames") {
    import spark.implicits._
    val table = buildTable() // three commits: seqs 1, 2, 3
    def tsOf(v: Long): Long = ManifestStore.history(spark, table, "m")
      .where(col("ptr_seq") === v).select("commit_ts_ms").head.getLong(0)
    def atTs(t: Long): DataFrame = spark.read.format("graft")
      .option("path", table).option("collection", "m")
      .option("timestampAsOf", t.toString).load()
    // durable instants: serialized commits stamp STRICTLY monotone
    // instants into their pointer bodies on ANY filesystem — what
    // makes "the version at timestamp t" well-defined at all
    val ts = Seq(1L, 2L, 3L).map(tsOf)
    assert(ts == ts.sorted && ts.distinct == ts, ts.toString)
    // a commit's own instant addresses exactly that commit; an instant
    // strictly inside (commit v, commit v+1) still addresses v
    assert(atTs(tsOf(1L)).count() == 10L)
    assert(atTs(tsOf(2L)).count() == 20L)
    assert(atTs(tsOf(3L) - 1L).count() == 20L)
    // timestamp face ≡ version face, bitwise, through both APIs
    val viaTs = ManifestStore.readAsOfTimeInferred(spark, table, "m",
      tsOf(2L))
    val viaV = ManifestStore.readAsOfInferred(spark, table, "m", 2L)
    assert(viaTs.exceptAll(viaV).isEmpty && viaV.exceptAll(viaTs).isEmpty)
    assert(ManifestStore.versionAtTime(spark, table, "m", tsOf(2L)) == 2L)
    // ceiling semantics: a far-future instant addresses the latest
    // version, not an error (readAsOf parity)
    assert(atTs(tsOf(3L) + 1000000L).count() == 30L)
    // horizon: an instant before the oldest retained commit fails loud
    intercept[Exception] { atTs(tsOf(1L) - 1L).count() }
    // the two snapshot coordinates are mutually exclusive
    intercept[Exception] {
      spark.read.format("graft").option("path", table)
        .option("collection", "m")
        .option("versionAsOf", "2").option("timestampAsOf", "0")
        .load().count()
    }
    // non-numeric timestamps are errors
    intercept[Exception] {
      spark.read.format("graft").option("path", table)
        .option("collection", "m").option("timestampAsOf", "yesterday")
        .load().count()
    }
    // the timestamped change feed: "what landed since instant t" is
    // readSince at the resolved version — commit 3's rows exactly
    val fed = ManifestStore.readSinceTimeInferred(spark, table, "m",
      tsOf(2L)).select("k").as[Long].collect().sorted.toSeq
    assert(fed == (200L until 210L).toSeq)
    // a resolvable TOMBSTONE instant is a defined empty frame — the
    // collection deliberately emptied, not an error and not latest
    ManifestStore.deleteCollection(spark, table, "m")
    val tDel = tsOf(4L)
    assert(ManifestStore.versionAtTime(spark, table, "m", tDel) == 4L)
    assert(ManifestStore.readAsOfTime(spark, table, "m", tDel).count() == 0L)
    // and the pre-delete instant still serves the pre-delete state
    assert(atTs(tsOf(3L)).count() == 30L)
    // RESTORE by instant: roll the tombstoned collection back to the
    // state it had at commit 2's instant — a NEW commit (history
    // preserved), live state = the 20 pre-delete rows
    val restored = ManifestStore.restoreToTime(spark, table, "m", tsOf(2L))
    assert(restored == 5L)
    assert(readSrc(table).count() == 20L)
    // restore to the tombstone's own instant = restore-to-deleted
    ManifestStore.restoreToTime(spark, table, "m", tDel)
    assert(ManifestStore.currentSegments(spark, table, "m").isEmpty)
    // the REAL vacuum horizon: with a live (non-tombstone) head,
    // pruning the superseded pointers makes an instant that used to
    // resolve (commit 2's own ts) fail loud — a vacuumed timestamp
    // must never silently serve a different snapshot
    ManifestStore.restoreToTime(spark, table, "m", tsOf(3L))
    assert(readSrc(table).count() == 30L)
    val t2 = tsOf(2L)
    assert(ManifestStore.versionAtTime(spark, table, "m", t2) == 2L)
    assert(ManifestStore.vacuum(spark, table,
      minAgeMs = -1000L, tagMinAgeMs = -1000L).nonEmpty)
    intercept[IllegalArgumentException] {
      ManifestStore.versionAtTime(spark, table, "m", t2)
    }
    // while the latest state stays addressable by a current instant
    assert(readSrc(table).count() == 30L)
    assert(ManifestStore.readAsOfTimeInferred(spark, table, "m",
      System.currentTimeMillis() + 1000000L).count() == 30L)
  }

  test("z-order with a STRING axis: after compaction BOTH the uuid " +
      "string axis and the long axis prune scanned files, losslessly") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("u", "y"))
    val n = 4096L
    // uuid-role string key: fixed-width hex of a multiplicative hash,
    // so string order ≡ hash order and u is decorrelated from the
    // ingest axis y
    def uuidOf(i: Long): String = f"${(i * 2654435761L) % n}%04x-doc"
    val rows = (0L until n).map(i => (uuidOf(i), i)).toDF("u", "y")
    (0 until 8).foreach { s =>
      ManifestStore.store(rows.where(col("y") >= s * 512L &&
        col("y") < (s + 1) * 512L).repartition(1), table, "ev")
    }
    def src = spark.read.format("graft")
      .option("path", table).option("collection", "ev").load()
    val uRange = col("u") >= lit("0100-doc") && col("u") <= lit("01ff-doc")
    // before: y (the ingest axis) prunes, the interleaved uuid doesn't
    assert(scannedFiles(src.where(col("y").between(100L, 200L))) == 1L)
    assert(scannedFiles(src.where(uRange)) == 8L)
    ManifestStore.zorderCompact(spark, table, "ev", Seq("u", "y"), 8)
    // after: BOTH axes prune — the string axis bucketed through its
    // packed-prefix proxy, the long axis through its quantile cuts;
    // y holds the higher interleave bits and prunes harder
    val ku = scannedFiles(src.where(uRange))
    val ky = scannedFiles(src.where(col("y").between(100L, 200L)))
    assert(ku < 8L, s"u kept $ku of 8")
    assert(ky <= 4L, s"y kept $ky of 8")
    // the rewrite is lossless and range answers are exact
    assert(src.count() == n)
    val got = src.where(uRange).select("u").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got == (0L until n).map(uuidOf)
      .filter(u => u >= "0100-doc" && u <= "01ff-doc").sorted)
  }

  test("incremental z-order maintenance: only the TAIL rewrites (base " +
      "segment dirs untouched on disk), answers lossless, both axes " +
      "still prune; the z-state is advisory — deleting it just " +
      "re-clusters everything") {
    import spark.implicits._
    val table = tmp() + "/t"
    ManifestStore.setZoneMapColumns(spark, table, Seq("u", "y"))
    val n = 4096L
    def uuidOf(i: Long): String = f"${(i * 2654435761L) % n}%04x-doc"
    val rows = (0L until n).map(i => (uuidOf(i), i)).toDF("u", "y")
    def slice(s: Int) = rows.where(col("y") >= s * 512L &&
      col("y") < (s + 1) * 512L).repartition(1)
    (0 until 6).foreach(s => ManifestStore.store(slice(s), table, "ev"))
    ManifestStore.zorderCompact(spark, table, "ev", Seq("u", "y"), 6)
    val base = ManifestStore.currentSegments(spark, table, "ev").get.toSet
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segMtimes(): Map[String, Long] = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$table/collection=ev")).toSeq
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val baseMtimes = segMtimes()
    // two fresh appends = the un-clustered tail
    (6 until 8).foreach(s => ManifestStore.store(slice(s), table, "ev"))
    assert(ManifestStore.zorderMaintain(spark, table, "ev",
      Seq("u", "y"), 2) == 2)
    val after = ManifestStore.currentSegments(spark, table, "ev").get.toSet
    // the base survived untouched: same segment ids, same dir mtimes
    assert(base.subsetOf(after), s"base $base after $after")
    val afterMtimes = segMtimes()
    baseMtimes.keys.foreach { d =>
      assert(afterMtimes(d) == baseMtimes(d), s"base dir $d rewritten") }
    // lossless, and BOTH axes prune across base + maintained tail
    def src = spark.read.format("graft")
      .option("path", table).option("collection", "ev").load()
    assert(src.count() == n)
    val uRange = col("u") >= lit("0100-doc") && col("u") <= lit("01ff-doc")
    val total = after.size.toLong
    assert(scannedFiles(src.where(uRange)) < total)
    // a key band entirely inside the BASE region proves the tail out
    assert(scannedFiles(src.where(col("y").between(100L, 200L))) <=
      base.size.toLong)
    val got = src.where(uRange).select("u").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got == (0L until n).map(uuidOf)
      .filter(u => u >= "0100-doc" && u <= "01ff-doc").sorted)
    // nothing left to do: maintain is a no-op without new appends
    assert(ManifestStore.zorderMaintain(spark, table, "ev",
      Seq("u", "y"), 2) == 0)
    // the state is ADVISORY: deleting it re-clusters everything (the
    // full-compact degenerate) and stays lossless — correctness never
    // depended on the sidecar
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$table/_manifest/ev/zstate"), false)
    assert(ManifestStore.zorderMaintain(spark, table, "ev",
      Seq("u", "y"), 8) == after.size)
    assert(src.count() == n)
    assert(ManifestStore.zorderMaintain(spark, table, "ev",
      Seq("u", "y"), 8) == 0)
    // a TOMBSTONE clears the z-state centrally: a log vacuumed to a
    // bare tombstone restarts segment NUMBERING, so stale state would
    // mark a recreated collection's reused ids "already clustered"
    // forever — the one way the advisory sidecar could cost more than
    // re-clustering. Delete, vacuum to the bare tombstone, recreate
    // with the SAME id space: maintain must see everything as tail.
    val zstate = new org.apache.hadoop.fs.Path(
      s"$table/_manifest/ev/zstate")
    assert(fs.exists(zstate))
    ManifestStore.deleteCollection(spark, table, "ev")
    assert(!fs.exists(zstate), "tombstone must drop the z-state")
    ManifestStore.vacuum(spark, table, minAgeMs = -1000L,
      tagMinAgeMs = -1000L)
    (0 until 2).foreach(s0 => ManifestStore.store(slice(s0), table, "ev"))
    assert(ManifestStore.zorderMaintain(spark, table, "ev",
      Seq("u", "y"), 2) == 2)
    assert(src.count() == 1024L)
  }

  test("the declared z-order split face (rel_zorder_split): answers " +
      "equal a raw recompute, BOTH axes scan under the segment count, " +
      "and a non-pruning layout would fail the query loud") {
    import graft.operators.Relational
    val out = Relational.zorderSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // raw recompute of both probe counts (the oracle's arithmetic)
    val part = Tables(spark, sf, "part")
    val r = part.agg(min("p_partkey"), max("p_partkey")).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val w = math.max(1L, (hi - lo) / Relational.ZOrderPartSegs)
    val nKey = part.where(col("p_partkey")
      .between(lo + 2 * w, lo + 4 * w)).count()
    val nName = part.where(col("p_name") >= "b" && col("p_name") < "e")
      .count()
    // the maintenance observables are the fixture's construction-
    // determined layout: 2 tail segments folded in by the incremental
    // maintain, 6 compacted + 2 maintained live
    assert(out == Map("key_band" -> nKey, "name_range" -> nName,
      "maint_tail" -> 2L,
      "segs_live" -> Relational.ZOrderPartSegs.toLong), out)
    assert(nKey > 0L && nName > 0L, "probes must select something")
    // the prune guard is LIVE: the declared face re-runs without
    // throwing (its internal requires assert scanned < total per axis
    // against the executed scans' own numFiles metrics) — and the
    // memoized fixture means this second call is pure probing
    assert(Relational.zorderSplit(spark, sf).count() == 4L)
  }

  test("exact quantiles compose with the connector: answers equal the " +
      "parquet face, and a narrowed interval predicate prunes segments") {
    import graft.operators.Events
    val (path, lo, hi) = Events.manifestEventsTable(spark, sf)
    val src = spark.read.format("graft")
      .option("path", path).option("collection", "events").load()
      .select(col("ts_us")).where(col("ts_us").isNotNull)
    val viaConnector = Events.exactQuantilesOn(src, "ts_us")
      .collect().toSeq
    val viaParquet = Events.exactQuantilesOn(
      Events.load(spark, sf).select(col("ts_us"))
        .where(col("ts_us").isNotNull), "ts_us").collect().toSeq
    assert(viaConnector == viaParquet && viaConnector.nonEmpty)
    // the narrowing protocol's interval predicates are plain between()
    // filters on the input frame, so on a graft relation every
    // histogram/selection round after the first plans only the
    // segments its interval intersects — demonstrated with a
    // round-2-shaped window around the median
    val med = viaConnector.find(_.getInt(0) == 50).get.getLong(2)
    val w = (hi - lo) / graft.operators.Events.RangeSegs
    val all = scannedFiles(src)
    val narrowed = scannedFiles(
      src.where(col("ts_us").between(med - w / 8, med + w / 8)))
    assert(narrowed < all,
      s"narrowed interval should prune segments ($narrowed vs $all)")
  }
}

/** [[GraftTestFs]] plus a static counter of `seg=` DIRECTORY listings
  * — the driver-RPC fan-out the index memoizes away. */
class GraftCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcnt:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (p.getName.startsWith("seg="))
      GraftCountingFs.segListings.incrementAndGet(): Unit
    super.listStatus(p)
  }
}

object GraftCountingFs {
  val segListings = new java.util.concurrent.atomic.AtomicLong(0L)
}
