package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DocumentStore, ManifestBackend, ManifestStore}

class DocumentStoreSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft_store").toString

  private val storeJson =
    """{"collection_name":"colA","documents":[
      |{"text":"doc one","metadata":{"source":"s1","name":"d1"},
      | "chunks":[
      |  {"text":"c1","embedding":{"vector":[1.0,0.0]},"metadata":{"source":"cs1","name":"cn1"},"semantic_score":0.5},
      |  {"text":"c2","embedding":{"vector":[0.0,1.0]},"metadata":{"source":"cs2","name":"cn2"},"semantic_score":0.9}]}
      |]}""".stripMargin.replaceAll("\n", "")

  test("merge: upserts replace by key, inserts append, deletes remove — " +
      "one atomic commit; time travel still serves the pre-merge state") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.store(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "txt"),
      table, "m")
    val before = ManifestStore.currentPtrSeq(spark, table, "m")
    val changes = Seq(
      (2L, "B", false),  // upsert: replaces key 2
      (4L, "d", false),  // insert: new key
      (3L, "", true))    // delete: removes key 3
      .toDF("doc_id", "txt", "_deleted")
    ManifestStore.mergeCollection(spark, table, "m", changes)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // merged state
    val now = ManifestStore.currentPtrSeq(spark, table, "m")
    assert(now == before + 1) // ONE commit for the whole batch
    assert(snap(ManifestStore.readSinceInferred(spark, table, "m", 0L)) ==
      Set((1L, "a"), (2L, "B"), (4L, "d")))
    // the pre-merge snapshot is still addressable
    assert(snap(ManifestStore.readAsOfInferred(spark, table, "m", before)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // merging into an absent collection is pure insert
    ManifestStore.mergeCollection(spark, table, "fresh",
      Seq((9L, "z", false)).toDF("doc_id", "txt", "_deleted"))
    assert(snap(ManifestStore.readSinceInferred(spark, table, "fresh", 0L)) ==
      Set((9L, "z")))
    // the version log answers "what changed": snapshot diff across the
    // merge commit classifies every key
    val diff = ManifestStore.diffVersions(spark, table, "m", before, now)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "updated"), (3L, "deleted"), (4L, "inserted")))
  }

  test("a merge on a key without a zone map warns once on the " +
      "graft.store logger (WARN, key=value fields) and still applies") {
    import spark.implicits._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("graft-store-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    capture.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("graft.store")
    logger.addAppender(capture)
    try {
      val table = tmp() + "/table" // no setZoneMapColumns for "k"
      ManifestStore.store(Seq((1L, "a"), (2L, "b")).toDF("k", "txt"),
        table, "m")
      assert(ManifestStore.mergeCollection(spark, table, "m",
        Seq((2L, "B", false)).toDF("k", "txt", "_deleted"), key = "k"))
      val seen = events.toArray(Array.empty[LogEvent]).toSeq
        .filter(_.getLoggerName == "graft.store")
      assert(seen.size == 1, seen.map(_.getMessage.getFormattedMessage))
      val msg = seen.head.getMessage.getFormattedMessage
      assert(seen.head.getLevel == Level.WARN, msg)
      Seq("event=merge_full_rewrite", "collection=m", "key=k",
        s"table=$table").foreach(f => assert(msg.contains(f), msg))
      assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
        .select("k", "txt").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a"), (2L, "B")))
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  test("zone-map-pruned merge: a 1-key upsert rewrites ONLY the " +
      "intersecting segment; untouched segment dirs stay byte-identical") {
    import spark.implicits._
    val table = tmp() + "/table"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    // three segments with disjoint numeric key ranges
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"),
        concat(lit("v"), col("id")).as("txt"))
    ManifestStore.store(rows(100, 199), table, "m") // seg1
    ManifestStore.store(rows(200, 299), table, "m") // seg2
    ManifestStore.store(rows(300, 399), table, "m") // seg3
    def segFiles(seg: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$table/collection=m/seg=$seg"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val seg1Before = segFiles("000001")
    val seg3Before = segFiles("000003")
    // a single-key upsert inside seg2's range
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((250L, "UPDATED", false)).toDF("doc_id", "txt", "_deleted")))
    // segments 1 and 3 were NOT rewritten: same files, same bytes,
    // same mtimes — the merge read and wrote only the intersecting one
    assert(segFiles("000001") == seg1Before)
    assert(segFiles("000003") == seg3Before)
    val nowLive = ManifestStore.currentSegments(spark, table, "m").get
    assert(nowLive.toSet.contains(1L) && nowLive.toSet.contains(3L))
    assert(!nowLive.contains(2L))
    // content is the merged state
    val got = ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .where(col("doc_id") === 250L).select("txt").collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq("UPDATED"))
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L).count() == 300)
    // the rewritten segment carries a FRESH sidecar: key-range pruning
    // still works post-merge (the #6 layout-preservation contract)
    val pruned = ManifestStore.readRangeLong(spark, table, "m",
      240L, 260L, "doc_id")
    assert(pruned.count() == 21)
    assert(pruned.inputFiles.nonEmpty &&
      !pruned.inputFiles.exists(_.contains("seg=000001")) &&
      !pruned.inputFiles.exists(_.contains("seg=000003")))
    // a multi-segment-straddling batch rewrites exactly the two
    // intersecting segments, RE-CLUSTERED into two key-ordered
    // segments (not collapsed into one)
    val live2 = ManifestStore.currentSegments(spark, table, "m").get
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((150L, "A", false), (350L, "", true))
        .toDF("doc_id", "txt", "_deleted")))
    val live3 = ManifestStore.currentSegments(spark, table, "m").get
    // seg2's rewrite survived untouched this time
    assert(live2.intersect(live3).nonEmpty)
    assert(live3.size == live2.size) // 2 rewritten -> 2 out
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L).count() == 299)
    // deletes of ABSENT keys are a pure no-op: no pointer bump
    val seqBefore = ManifestStore.currentPtrSeq(spark, table, "m")
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((9999L, "", true)).toDF("doc_id", "txt", "_deleted")))
    assert(ManifestStore.currentPtrSeq(spark, table, "m") == seqBefore)
    // out-of-range INSERTS rewrite nothing: every live segment carried
    val preIns = ManifestStore.currentSegments(spark, table, "m").get
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((9000L, "new", false)).toDF("doc_id", "txt", "_deleted")))
    val postIns = ManifestStore.currentSegments(spark, table, "m").get
    assert(preIns.forall(postIns.contains))
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L).count() == 300)
  }

  test("merge edge semantics: NULL _deleted upserts; merge-to-empty " +
      "tombstones; unmapped key falls back to full rewrite") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    ManifestStore.store(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "txt"), table, "m")
    // a NULL flag is an UPSERT, never a silent delete
    val nullFlag = Seq((1L, "A"), (3L, "c")).toDF("doc_id", "txt")
      .withColumn("_deleted",
        when(col("doc_id") < 0L, lit(true))) // always NULL
    assert(ManifestStore.mergeCollection(spark, table, "m", nullFlag))
    val snap = ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .select("doc_id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snap == Set((1L, "A"), (2L, "b"), (3L, "c")))
    // deleting EVERY key leaves a defined empty collection (an empty
    // segment list cannot be a pointer body - it tombstones)
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((1L, "", true), (2L, "", true), (3L, "", true))
        .toDF("doc_id", "txt", "_deleted")))
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L).count() == 0)
    // ... and a later merge re-creates it as pure insert
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((7L, "z", false)).toDF("doc_id", "txt", "_deleted")))
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L).count() == 1)
    // an UNMAPPED merge key still merges correctly (full rewrite path)
    val t2 = tmp() + "/table2" // no setZoneMapColumns for "k"
    ManifestStore.store(Seq((1L, "a"), (2L, "b")).toDF("k", "txt"),
      t2, "u")
    assert(ManifestStore.mergeCollection(spark, t2, "u",
      Seq((2L, "B", false), (3L, "c", false)).toDF("k", "txt", "_deleted"),
      key = "k"))
    assert(ManifestStore.readSinceInferred(spark, t2, "u", 0L)
      .select("k", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("incremental compaction: the metadata plan groups small " +
      "key-adjacent segments; compactSegments rewrites ONLY its group") {
    import spark.implicits._
    val table = tmp() + "/table"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(format_string("%06d", col("id")).as("doc_id"),
        lit("v").as("txt"))
    // four SMALL segments + one big one (10x the rows); small ones
    // deliberately stored out of key order to prove key-adjacency
    ManifestStore.store(rows(300, 320), table, "m") // seg1 small
    ManifestStore.store(rows(100, 120), table, "m") // seg2 small
    ManifestStore.store(rows(1000, 1300), table, "m") // seg3 BIG
    ManifestStore.store(rows(200, 220), table, "m") // seg4 small
    ManifestStore.store(rows(400, 420), table, "m") // seg5 small
    val info = ManifestStore.segmentInfo(spark, table, "m")
    assert(info.map(_.seg).sorted == Seq(1L, 2L, 3L, 4L, 5L))
    assert(info.forall(si => si.bytes > 0 && si.files > 0))
    val big = info.find(_.seg == 3L).get.bytes
    val smallMax = info.filter(_.seg != 3L).map(_.bytes).max
    assert(big > smallMax)
    // plan with the threshold between small and big: one group of the
    // four small segments, ordered by their key lower bounds
    val plan = ManifestStore.compactionPlan(spark, table, "m",
      targetBytes = big * 10, smallBytes = big)
    assert(plan == Seq(Seq(2L, 4L, 1L, 5L)), plan)
    // a tight target splits the group; singletons are dropped
    val tight = ManifestStore.compactionPlan(spark, table, "m",
      targetBytes = smallMax * 2, smallBytes = big)
    assert(tight.nonEmpty && tight.forall(_.size == 2), tight)
    // compact the full small group: the big segment's DIRECTORY is
    // byte-identical (never read or rewritten)
    def segFiles(seg: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$table/collection=m/seg=$seg"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val bigBefore = segFiles("000003")
    assert(ManifestStore.compactSegments(spark, table, "m", plan.head))
    assert(segFiles("000003") == bigBefore)
    val live = ManifestStore.currentSegments(spark, table, "m").get
    assert(live.contains(3L) && live.size == 2, live)
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 4 * 21 + 301)
    // the rewritten segment carries fresh bounds: key pruning works
    val pruned = ManifestStore.readRange(spark, table, "m",
      "000105", "000110")
    assert(pruned.count() == 6)
    assert(pruned.inputFiles.nonEmpty &&
      !pruned.inputFiles.exists(_.contains("seg=000003")))
    // a stale plan (inputs already rewritten) fails loud at the gate
    intercept[IllegalArgumentException] {
      ManifestStore.compactSegments(spark, table, "m", Seq(2L, 4L))
    }
  }

  test("merge lifecycle is FS-agnostic (graftfs scheme): pruned " +
      "rewrite, time travel, vacuum reclaiming replaced segments") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val table = s"graftfs://${tmp()}/mtable"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"), lit("v").as("txt"))
    ManifestStore.store(rows(1, 100), table, "m")   // seg1
    ManifestStore.store(rows(101, 200), table, "m") // seg2
    val preMerge = ManifestStore.currentPtrSeq(spark, table, "m")
    // the staged partitionBy write + renames must go through the
    // FileSystem API only — proven by the non-default scheme
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((150L, "U", false), (999L, "new", false))
        .toDF("doc_id", "txt", "_deleted")))
    val live = ManifestStore.currentSegments(spark, table, "m").get
    assert(live.contains(1L) && !live.contains(2L)) // pruned rewrite
    def snapCount() = ManifestStore
      .readSinceInferred(spark, table, "m", 0L).count()
    assert(snapCount() == 201)
    // pre-merge snapshot still addressable ...
    assert(ManifestStore.readAsOfInferred(spark, table, "m", preMerge)
      .count() == 200)
    // ... until vacuum reclaims the replaced segment and prunes history
    val removed = ManifestStore.vacuum(spark, table, 0L, 0L)
    assert(removed.exists(_.contains("seg=000002")), removed)
    assert(snapCount() == 201)
    intercept[IllegalArgumentException] {
      ManifestStore.readAsOfInferred(spark, table, "m", preMerge)
    }
    // post-vacuum the pruned merge still engages (sidecars survived)
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((150L, "U2", false)).toDF("doc_id", "txt", "_deleted")))
    assert(ManifestStore.currentSegments(spark, table, "m").get
      .contains(1L))
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .where(col("doc_id") === 150L).select("txt").collect()
      .map(_.getString(0)).toSeq == Seq("U2"))
  }

  test("mergeBatch: tagged merges are replay-idempotent — the " +
      "exactly-once CDC apply (a redelivered batch never rolls back " +
      "later batches)") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def snap() = ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .select("doc_id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // first delivery of batch 0: a pure tagged insert (absent
    // collection goes through storeBatch, keeping the replay window)
    val b0 = Seq((1L, "a", false), (2L, "b", false))
      .toDF("doc_id", "txt", "_deleted")
    assert(ManifestStore.mergeBatch(spark, table, "m", b0, "cdc-0"))
    assert(!ManifestStore.mergeBatch(spark, table, "m", b0, "cdc-0"))
    assert(snap() == Set((1L, "a"), (2L, "b")))
    // batches 1 and 2 advance the state ...
    val b1 = Seq((2L, "B", false), (3L, "c", false))
      .toDF("doc_id", "txt", "_deleted")
    assert(ManifestStore.mergeBatch(spark, table, "m", b1, "cdc-1"))
    assert(ManifestStore.mergeBatch(spark, table, "m",
      Seq((2L, "", true)).toDF("doc_id", "txt", "_deleted"), "cdc-2"))
    assert(snap() == Set((1L, "a"), (3L, "c")))
    // ... and the crashed stream's REDELIVERY of batch 1 must neither
    // resurrect the deleted key 2 nor duplicate key 3
    assert(!ManifestStore.mergeBatch(spark, table, "m", b1, "cdc-1"))
    assert(snap() == Set((1L, "a"), (3L, "c")))
    // an untagged merge still applies on top
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((4L, "d", false)).toDF("doc_id", "txt", "_deleted")))
    assert(snap() == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // a hostile tag is refused before touching anything
    intercept[IllegalArgumentException] {
      ManifestStore.mergeBatch(spark, table, "m", b1, "bad;end")
    }
  }

  test("mergeSchema widens the table: new change columns appear, " +
      "untouched segments serve NULLs through the inferred read, " +
      "strict mode keeps the old contract") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"), lit("t").as("txt"))
    ManifestStore.store(rows(1, 100), table, "m")   // seg1
    ManifestStore.store(rows(101, 200), table, "m") // seg2
    val widened = Seq((150L, "S", 0.9, false))
      .toDF("doc_id", "txt", "score", "_deleted")
    // STRICT (default): the unknown column is projected away
    assert(ManifestStore.mergeCollection(spark, table, "m", widened))
    assert(!ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .columns.contains("score"))
    // WIDENING: the column lands; only seg2 (the touched range) is
    // rewritten, and seg1's rows serve NULL score via mergeSchema
    assert(ManifestStore.mergeCollection(spark, table, "m", widened,
      mergeSchema = true))
    val got = ManifestStore.readSinceInferred(spark, table, "m", 0L)
    assert(got.columns.contains("score"))
    assert(got.where(col("doc_id") === 150L).select("score")
      .collect().map(_.getDouble(0)).toSeq == Seq(0.9))
    assert(got.where(col("score").isNull).count() == 199)
    assert(ManifestStore.currentSegments(spark, table, "m")
      .exists(_.contains(1L))) // seg1 carried forward, not rewritten
    // a widened UPSERT of an old-schema row nulls the columns it does
    // not carry — the row is the new truth (documented semantics)
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((150L, "S2", false)).toDF("doc_id", "txt", "_deleted"),
      mergeSchema = true))
    val r150 = ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .where(col("doc_id") === 150L).select("txt", "score").head
    assert(r150.getString(0) == "S2" && r150.isNullAt(1))
  }

  test("strict merge after a widening merge: a pruned rewrite set of " +
      "only OLD-schema segments still unions (survivor's missing " +
      "widened column reads as NULL, not AnalysisException)") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"), lit("t").as("txt"))
    ManifestStore.store(rows(1, 100), table, "m")   // seg1 (old schema)
    ManifestStore.store(rows(101, 200), table, "m") // seg2
    // widen ONLY seg2's key range: seg1 stays on the old schema
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((150L, "S", 0.9, false))
        .toDF("doc_id", "txt", "score", "_deleted"),
      mergeSchema = true))
    // STRICT merge carrying the FULL table schema but touching only
    // seg1: zone-map pruning selects just the old-schema segment, whose
    // inferred survivors lack `score` — the union must widen them with
    // NULLs (the inferred-read semantics), not crash
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((50L, "T", 0.5, false))
        .toDF("doc_id", "txt", "score", "_deleted")))
    val got = ManifestStore.readSinceInferred(spark, table, "m", 0L)
    val r50 = got.where(col("doc_id") === 50L)
      .select("txt", "score").head
    assert(r50.getString(0) == "T" && r50.getDouble(1) == 0.5)
    // untouched old-schema survivors in the rewritten segment read NULL
    val r49 = got.where(col("doc_id") === 49L)
      .select("txt", "score").head
    assert(r49.getString(0) == "t" && r49.isNullAt(1))
    assert(got.count() == 200)
  }

  test("bloom sidecars: point lookups and small-batch merges prune " +
      "range-OVERLAPPING segments that zone maps cannot separate") {
    import spark.implicits._
    val table = tmp() + "/btable"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    ManifestStore.setBloomColumns(spark, table, Seq("doc_id"), 1024)
    // two segments with INTERLEAVED keys: ranges overlap end to end,
    // so zone maps prune nothing between them
    def rows(ks: Seq[Long]) = ks.toDF("doc_id")
      .select(col("doc_id"), concat(lit("v"), col("doc_id")).as("txt"))
    ManifestStore.store(rows((0L until 100L).map(_ * 10L)), table, "m")
    ManifestStore.store(rows((0L until 100L).map(_ * 10L + 5L)), table, "m")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // both segments carry a bloom for the key
    Seq(1L, 2L).foreach { s =>
      assert(ManifestStore.readSidecar(fs, table, "m", s).blooms
        .contains("doc_id"), s"segment $s missing bloom")
    }
    // a key only in seg1: the lookup reads seg1 alone (bloom prunes
    // the range-overlapping seg2); result exact
    val hit = ManifestStore.readPointLong(spark, table, "m", 420L)
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.forall(_.contains("seg=000001")), hit.inputFiles.toSeq)
    assert(hit.select("txt").collect().map(_.getString(0)).toSeq ==
      Seq("v420"))
    // a key in NEITHER (inside both ranges): both blooms say absent —
    // nothing is read at all
    val miss = ManifestStore.readPointLong(spark, table, "m", 123L)
    assert(miss.inputFiles.isEmpty, miss.inputFiles.toSeq)
    assert(miss.isEmpty)
    // small-batch merge touching only seg1 keys: the bloom refinement
    // keeps seg2 out of the rewrite even though its RANGE overlaps
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((420L, "NEW", false)).toDF("doc_id", "txt", "_deleted")))
    val live = ManifestStore.currentSegments(spark, table, "m").get
    assert(live.contains(2L), s"seg2 was rewritten: $live")
    assert(!live.contains(1L), s"seg1 not rewritten: $live")
    val all = ManifestStore.readSinceInferred(spark, table, "m", 0L)
    assert(all.count() == 200)
    assert(all.where(col("doc_id") === 420L).select("txt")
      .head.getString(0) == "NEW")
    // rewritten segments carry fresh blooms (the clustered-write path)
    val newSeg = live.filterNot(Seq(1L, 2L).contains).head
    assert(ManifestStore.readSidecar(fs, table, "m", newSeg).blooms
      .contains("doc_id"))
  }

  test("STRING bloom sidecars: uuid-key point lookups and merges " +
      "prune interleaved segments on both faces") {
    import spark.implicits._
    val table = tmp() + "/stable"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_key"))
    ManifestStore.setBloomColumns(spark, table, Seq("doc_key"), 1024)
    // interleaved uuid-like string keys: both segments span the whole
    // key range, zone maps prune nothing between them
    def rows(ks: Seq[Long]) = ks.toDF("n")
      .select(format_string("doc-%010d", col("n")).as("doc_key"),
        concat(lit("v"), col("n")).as("txt"))
    ManifestStore.store(rows((0L until 100L).map(_ * 10L)), table, "m")
    ManifestStore.store(rows((0L until 100L).map(_ * 10L + 5L)), table, "m")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // both segments carry an 's'-kind bloom for the key
    Seq(1L, 2L).foreach { s =>
      assert(ManifestStore.readSidecar(fs, table, "m", s).blooms
        .get("doc_key").exists(_._1 == 's'), s"segment $s missing bloom")
    }
    def key(n: Long) = f"doc-$n%010d"
    // a key only in seg1: the lookup reads seg1 alone
    val hit = ManifestStore.readPointString(
      spark, table, "m", key(420L), "doc_key")
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.forall(_.contains("seg=000001")), hit.inputFiles.toSeq)
    assert(hit.select("txt").collect().map(_.getString(0)).toSeq ==
      Seq("v420"))
    // a key in NEITHER (inside both ranges, absent uuid): both blooms
    // say definitely-absent — ZERO files listed
    val miss = ManifestStore.readPointString(
      spark, table, "m", key(123L), "doc_key")
    assert(miss.inputFiles.isEmpty, miss.inputFiles.toSeq)
    assert(miss.isEmpty)
    // a wrong-KIND probe proves nothing: a LONG lookup on the string
    // column keeps every segment (conservative, never wrong)
    assert(ManifestStore.readPointLong(spark, table, "m", 123L, "doc_key")
      .inputFiles.length ==
      ManifestStore.readSinceInferred(spark, table, "m", 0L)
        .inputFiles.length)
    // small-batch merge on the STRING key: the bloom refinement keeps
    // seg2 out of the rewrite even though its range overlaps
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((key(420L), "NEW", false)).toDF("doc_key", "txt", "_deleted"),
      key = "doc_key"))
    val live = ManifestStore.currentSegments(spark, table, "m").get
    assert(live.contains(2L), s"seg2 was rewritten: $live")
    assert(!live.contains(1L), s"seg1 not rewritten: $live")
    val all = ManifestStore.readSinceInferred(spark, table, "m", 0L)
    assert(all.count() == 200)
    assert(all.where(col("doc_key") === key(420L)).select("txt")
      .head.getString(0) == "NEW")
    // rewritten segments carry fresh 's'-kind blooms
    val newSeg = live.filterNot(Seq(1L, 2L).contains).head
    assert(ManifestStore.readSidecar(fs, table, "m", newSeg).blooms
      .get("doc_key").exists(_._1 == 's'))
  }

  test("property: blooms NEVER false-negative — every stored key " +
      "passes mayContain across random segments and sizes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val table = tmp() + "/pbt"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    ManifestStore.setBloomColumns(spark, table, Seq("doc_id"), 512)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1 to 3).foreach { segi =>
      // random keys incl. negatives, zero, and wide magnitudes —
      // the long-hash path must cover the full domain
      val ks = Seq.fill(50 + rnd.nextInt(200))(
        rnd.nextLong() >> rnd.nextInt(40))
      ManifestStore.store(ks.toDF("doc_id"), table, "p")
      val (kind, m, bits) =
        ManifestStore.readSidecar(fs, table, "p", segi.toLong)
          .blooms("doc_id")
      assert(kind == 'l')
      ks.foreach { k =>
        assert(ManifestStore.bloomMayContain(m, bits, k),
          s"false negative for $k in segment $segi")
      }
    }
  }

  test("STRING bloom false-negative freedom over random UNICODE keys: " +
      "every stored key passes the driver probe (engine-write / " +
      "driver-read hash parity incl. multi-byte code points)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val table = tmp() + "/pbts"
    ManifestStore.setBloomColumns(spark, table, Seq("k"), 512)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // alphabet spans 1-4 byte UTF-8: ascii, latin-1, CJK, an
    // astral-plane emoji (surrogate pair) — the probe hashes the
    // UTF8String BYTES, so any engine/driver divergence shows here
    val alphabet = Seq("a", "b", "0", "-", "_", "é", "ß", "π", "漢",
      "字", "🚀") // the emoji is a surrogate PAIR (4-byte UTF-8)
    def key(): String =
      Seq.fill(1 + rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 3).foreach { segi =>
      val ks = Seq.fill(30 + rnd.nextInt(150))(key()).distinct
      ManifestStore.store(ks.toDF("k"), table, "p")
      val (kind, m, bits) =
        ManifestStore.readSidecar(fs, table, "p", segi.toLong)
          .blooms("k")
      assert(kind == 's')
      ks.foreach { k =>
        assert(ManifestStore.bloomMayContainStr(m, bits,
          org.apache.spark.unsafe.types.UTF8String.fromString(k)),
          s"false negative for '$k' in segment $segi")
      }
    }
  }

  test("claimSeg stale-from guard: a number committed and released " +
      "between a writer's resolve and its claim is never re-claimed") {
    val table = tmp() + "/mtable"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a slow writer resolves an EMPTY collection: its nextSeg is 1
    val staleFrom = 1L
    // meanwhile a fast writer claims 1, writes, commits, and RELEASES
    // its claim (the full store() lifecycle)
    ManifestStore.store(tenRows("c1"), table, "c1")
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(1L)))
    // the slow writer now claims with its stale from=1: without the
    // post-create verify it would re-take 1 (claim file gone) and
    // OVERWRITE the committed segment — the guard must re-target past
    // the committed max
    val got = ManifestStore.claimSeg(fs, table, "c1", staleFrom)
    assert(got >= 2L, s"re-claimed committed segment $got")
    // the committed data is untouched and the claim is usable: a
    // subsequent append lands beside it
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
    ManifestStore.store(tenRows("c1"), table, "c1")
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
  }

  test("claimSegs batch: N ascending distinct numbers, one guard " +
      "resolve; a stale batch re-targets every number past the " +
      "committed max") {
    val table = tmp() + "/btable"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stale from=1 after another writer committed segment 1 (the
    // claimSeg fixture, batched): EVERY number in the batch must land
    // past the committed max, ascending and distinct
    ManifestStore.store(tenRows("c1"), table, "c1")
    val got = ManifestStore.claimSegs(fs, table, "c1", 1L, 4)
    assert(got.size == 4 && got.distinct.size == 4)
    assert(got == got.sorted, s"not ascending: $got")
    assert(got.forall(_ >= 2L), s"re-claimed committed number in $got")
    // the claims are real: a concurrent claimer cannot take them
    got.foreach { s =>
      val other = ManifestStore.claimSegs(fs, table, "c1", s, 1)
      assert(other.head != s, s"double-claimed $s")
    }
  }

  test("property: pruned merge == driver-side model across random " +
      "overlapping segments and mixed change batches (scenario 1 adds " +
      "BLOOM refinement: the tighter prune must never lose a change)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 2).foreach { scenario =>
      val table = tmp() + s"/t$scenario"
      ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
      // scenario 1 exercises the bloom-refined merge prune on the
      // same randomized workload — segment ranges deliberately
      // overlap, so blooms actually discriminate; a small filter
      // (256 bits) raises the collision rate the model must survive
      if (scenario == 1)
        ManifestStore.setBloomColumns(spark, table, Seq("doc_id"), 256)
      // 4 segments with RANDOM, deliberately overlapping key ranges
      var model = Map.empty[Long, String]
      (0 until 4).foreach { s =>
        val lo = rnd.nextInt(400).toLong
        val hi = lo + 20 + rnd.nextInt(80)
        val rows = (lo to hi).map(k => (k, s"s$s-$k"))
        // later segments SHADOW earlier keys? No - append semantics:
        // the store holds duplicates across segments; seed the model
        // only with keys not yet present, and pre-dedup the batch so
        // the table state stays a map (merge semantics assume keyed
        // rows; ingest dedup is the pipeline's job)
        val fresh = rows.filterNot { case (k, _) => model.contains(k) }
        if (fresh.nonEmpty) {
          ManifestStore.store(fresh.toDF("doc_id", "txt"), table, "m")
          model ++= fresh
        }
      }
      (0 until 3).foreach { m =>
        // random change batch: upserts, inserts, deletes (some absent),
        // and an occasional NULL flag (= upsert)
        val changes = (0 until 30).map { _ =>
          val k = rnd.nextInt(600).toLong
          val op = rnd.nextInt(4)
          (k, s"m$m-$k",
            if (op == 3) null
            else java.lang.Boolean.valueOf(op == 0))
        }.groupBy(_._1).map(_._2.head).toSeq // one change per key
        val df = changes.toDF("doc_id", "txt", "_deleted")
        assert(ManifestStore.mergeCollection(spark, table, "m", df))
        changes.foreach { case (k, v, del) =>
          if (del != null && del.booleanValue()) model -= k
          else model += (k -> v)
        }
        val rows = ManifestStore.readSinceInferred(spark, table, "m", 0L)
          .select("doc_id", "txt").collect()
        assert(rows.length == model.size,
          s"scenario $scenario merge $m: duplicate or lost keys")
        val got = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == model, s"scenario $scenario merge $m diverged")
      }
    }
  }

  test("merge racing a concurrent compaction: the change batch is " +
      "never silently dropped (conflict-retry, not abandon)") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"), lit("x").as("txt"))
    ManifestStore.store(rows(1, 100), table, "m")
    ManifestStore.store(rows(101, 200), table, "m")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val changes = Seq((50L, "MERGED", false), (999L, "NEW", false))
      .toDF("doc_id", "txt", "_deleted")
    val tm = new Thread(() => {
      barrier.await()
      try results.put("merge",
        ManifestStore.mergeCollection(spark, table, "m", changes))
      catch { case e: Throwable => results.put("merge", e) }
    })
    val tc = new Thread(() => {
      barrier.await()
      try { ManifestStore.compactCollection(spark, table, "m")
        results.put("compact", true) }
      catch { case e: Throwable => results.put("compact", e) }
    })
    tm.start(); tc.start()
    tm.join(180000); tc.join(180000)
    // whichever rewrite lost the pointer race, the MERGE batch landed:
    // a lost merge race retries against the winner's snapshot instead
    // of abandoning (compaction may abandon - that is layout-only)
    assert(results.get("merge") == true, results.get("merge"))
    assert(results.get("compact") == true, results.get("compact"))
    val got = ManifestStore.readSinceInferred(spark, table, "m", 0L)
    assert(got.count() == 201)
    assert(got.where(col("doc_id") === 50L).select("txt").collect()
      .map(_.getString(0)).toSeq == Seq("MERGED"))
    assert(got.where(col("doc_id") === 999L).count() == 1)
  }

  test("z-order compaction: BOTH axes prune segments afterwards, data " +
      "survives bit-for-bit, racing-append protocol unchanged") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.setZoneMapColumns(spark, table, Seq("x", "y"))
    val n = 4096L
    val rows = (0L until n).map(i => (i, (i * 2654435761L) % n))
      .toDF("x", "y")
    // ingest order follows x; y is decorrelated (multiplicative hash)
    (0 until 8).foreach { s =>
      ManifestStore.store(rows.where(col("x") >= s * 512L &&
        col("x") < (s + 1) * 512L), table, "ev")
    }
    def kept(cn: String, lo: Long, hi: Long): (Int, Int) = (
      segsRead(ManifestStore.readRangeLong(spark, table, "ev", lo, hi, cn))
        .size,
      ManifestStore.currentSegments(spark, table, "ev").get.size)
    // before: x (the ingest axis) prunes hard, y keeps everything
    assert(kept("x", 100L, 200L) == ((1, 8)))
    assert(kept("y", 100L, 200L)._1 == 8)
    ManifestStore.zorderCompact(spark, table, "ev", Seq("x", "y"), 8)
    // after: BOTH axes prune — the z layout trades x's perfect
    // single-axis clustering (1 of 8) for useful clustering on EVERY
    // interleaved column: a narrow range on either axis fixes that
    // axis' bucket bits and only the curve segments crossing those
    // bits survive (y, holding the higher interleave bits, prunes
    // harder; x keeps a majority pruned instead of its old perfection)
    val (kx, tx) = kept("x", 100L, 200L)
    val (ky, ty) = kept("y", 100L, 200L)
    assert(tx == 8 && ty == 8)
    assert(kx < 8, s"x kept $kx of $tx")
    assert(ky <= 4, s"y kept $ky of $ty")
    // the rewrite is lossless
    val back = ManifestStore.readRangeLong(spark, table, "ev",
      Long.MinValue, Long.MaxValue, "x")
      .select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.sorted.toSeq == (0L until n).map(i =>
      (i, (i * 2654435761L) % n)).sorted)
    // and a range read returns exactly the matching rows
    val got = ManifestStore.readRangeLong(spark, table, "ev",
      100L, 200L, "y").select("y").collect().map(_.getLong(0))
    assert(got.sorted.toSeq ==
      (0L until n).map(i => (i * 2654435761L) % n)
        .filter(y => y >= 100L && y <= 200L).sorted)
    // MERGE vs the z layout: a wide merge re-clusters its rewritten
    // segments by the MERGE KEY, so the key axis keeps pruning, while
    // the OTHER interleaved axis degrades across the rewritten subset
    // (the documented trade) — and a zorderCompact restores it
    import spark.implicits._
    assert(ManifestStore.mergeCollection(spark, table, "ev",
      Seq((100L, 4200L), (3000L, 4201L)).toDF("x", "y"), key = "x"))
    assert(ManifestStore.readRangeLong(spark, table, "ev",
      Long.MinValue, Long.MaxValue, "x").count() == n)
    val (kx2, tx2) = kept("x", 100L, 200L)
    assert(kx2 < tx2, s"merge broke x pruning: kept $kx2 of $tx2")
    ManifestStore.zorderCompact(spark, table, "ev", Seq("x", "y"), 8)
    val (ky2, ty2) = kept("y", 100L, 200L)
    assert(ty2 == 8 && ky2 <= 4,
      s"post-merge compaction must restore y pruning: kept $ky2 of $ty2")
    // correctness through merge + recompaction: the upserted rows'
    // old y values (2340, 568) were outside [100, 200], so the range
    // answer is unchanged
    assert(ManifestStore.readRangeLong(spark, table, "ev",
      100L, 200L, "y").count() ==
      (0L until n).map(i => (i * 2654435761L) % n)
        .count(y => y >= 100L && y <= 200L))
  }

  test("JSON ingest -> flatten: 1-based chunk_idx, fields mapped (O3/O4, Q6)") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "req.json"), storeJson)
    val docs = DocumentStore.readStoreRequests(spark, dir)
    val chunks = DocumentStore.flattenChunks(docs)
      .orderBy("chunk_idx").collect()
    assert(chunks.length == 2)
    val first = chunks.head
    assert(first.getAs[String]("collection") == "colA")
    assert(first.getAs[String]("doc_name") == "d1")
    assert(first.getAs[Int]("chunk_idx") == 1) // 1-based (Q6)
    assert(chunks(1).getAs[Int]("chunk_idx") == 2)
    assert(first.getAs[String]("text") == "c1")
    assert(first.getAs[scala.collection.Seq[Double]]("embedding").toSeq
      == Seq(1.0, 0.0))
    // semantic_score kept in schema but dead in ranking (Q4)
    assert(chunks(1).getAs[Double]("semantic_score") == 0.9)
  }

  private def tenRows(collection: String) = {
    import org.apache.spark.sql.functions._
    spark.range(10).select(
      lit(collection).as("collection"), col("id").cast("string").as("doc_id"),
      lit("n").as("doc_name"), lit("s").as("doc_source"),
      lit(1).as("chunk_idx"), lit("t").as("text"),
      array(lit(1.0)).as("embedding"), lit("ms").as("meta_source"),
      lit("mn").as("meta_name"), lit(0.5).as("semantic_score"))
  }

  test("collection-scoped reads scan only the named collections' " +
      "segment dirs (ManifestBackend.read, Graft.multiSearch)") {
    val table = tmp() + "/table"
    val all = Seq("colA", "colB", "colC")
    for (c <- all; _ <- 0 until 2) ManifestStore.store(tenRows(c), table, c)
    val segFile = raw".*/collection=([^/]+)/seg=(\d+)/[^/]+\.parquet".r
    // every scanned file sits in a seg= dir of a NAMED collection, and
    // every live segment of each named collection is scanned
    def assertScans(df: org.apache.spark.sql.DataFrame,
        named: Seq[String]): Unit = {
      val segs = df.inputFiles.toSeq.map {
        case segFile(c, seg) => (c, seg)
        case f => fail(s"$f is not a segment file")
      }.distinct
      assert(segs.map(_._1).toSet == named.toSet, segs)
      assert(segs.size == 2 * named.size, segs)
    }
    assertScans(ManifestBackend.read(spark, table, Some(Seq("colB"))),
      Seq("colB"))
    assertScans(Graft.multiSearch(spark, table, Array(1.0),
      Seq("colA", "colC"), 5), Seq("colA", "colC"))
    assertScans(ManifestBackend.read(spark, table), all)
  }

  test("manifest store: pointer-committed lifecycle on the object-store scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val table = s"graftfs://${tmp()}/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1")
    ManifestStore.store(tenRows("c2"), table, "c2")
    assert(ManifestStore.read(spark, table).count() == 20)
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
    // every append is its OWN immutable segment, pointer-committed —
    // published segments are never mutated, so an append can never
    // tear a concurrent read
    (0 until 3).foreach(_ => ManifestStore.store(tenRows("c1"), table, "c1"))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 40)
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(1L, 2L, 3L, 4L)))

    // a reader resolved BEFORE the compaction keeps its snapshot: the
    // superseded segments' files outlive the pointer swap, so there
    // is no absent window (rename-swap's documented gap) at any instant
    val snapshot = ManifestStore.read(spark, table, Some("c1"))
    ManifestStore.compactCollection(spark, table, "c1")
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(5L)))
    assert(snapshot.count() == 40) // old snapshot still fully readable
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 40)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$table/collection=c1/seg=000005"))
      .count(_.getPath.getName.endsWith(".parquet")) == 1)
    // vacuum (age guard waived) reclaims exactly the superseded segments
    // AND compacts the pointer log down to the deciding commit, so
    // resolution cost tracks vacuum cadence, not total commit history
    val removed = ManifestStore.vacuum(spark, table, 0L)
    assert(removed.exists(_.contains("seg=000001")))
    assert(removed.exists(_.contains("seg=000004")))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 40)
    // what remains: the deciding pointer and the LIVE segment's
    // zone-map sidecar (superseded segments' sidecars went with them)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$table/_manifest/c1")).map(_.getPath.getName).toSeq.sorted
      == Seq("ptr-000005", "stats-000005"))
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(5L)))

    // delete = tombstone pointer (pure metadata); data lives to vacuum
    ManifestStore.deleteCollection(spark, table, "c2")
    assert(ManifestStore.read(spark, table, Some("c2")).count() == 0)
    assert(ManifestStore.read(spark, table).count() == 40)
    assert(ManifestStore.vacuum(spark, table, 0L)
      .exists(_.contains("collection=c2")))
    // re-store after the tombstone opens a fresh segment atomically
    ManifestStore.store(tenRows("c2"), table, "c2")
    assert(ManifestStore.read(spark, table, Some("c2")).count() == 10)
    assert(ManifestStore.currentSegments(spark, table, "c2")
      .exists(_.nonEmpty))
  }

  test("manifest store: crash artifacts never corrupt pointer resolution") {
    val table = tmp() + "/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash AFTER writing a segment, BEFORE its pointer: an orphan
    // seg dir — readers resolve through the pointer, unaffected
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$table/collection=c1/seg=000002"))
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(1L)))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
    // the age guard protects the young uncommitted segment (an
    // in-flight writer's dir looks exactly like this) ...
    assert(ManifestStore.vacuum(spark, table).isEmpty)
    // ... and only an explicit age waiver sweeps it
    assert(ManifestStore.vacuum(spark, table, 0L)
      .exists(_.contains("seg=000002")))
    // crash DURING a pointer create: an empty pointer file is invalid
    // content — skipped, resolution falls back to the previous commit
    fs.create(new org.apache.hadoop.fs.Path(
      s"$table/_manifest/c1/ptr-000002"), true).close()
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(1L)))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
    // no recovery sweep needed: the next append re-targets the crashed
    // segment number (Overwrite clears any leftovers) and commits past
    // the invalid pointer
    ManifestStore.store(tenRows("c1"), table, "c1")
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(1L, 2L)))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
    ManifestStore.compactCollection(spark, table, "c1")
    assert(ManifestStore.currentSegments(spark, table, "c1")
      .contains(Seq(3L)))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
    ManifestStore.vacuum(spark, table, 0L)
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
    // a store that never existed reads as a defined empty (Q7)
    assert(ManifestStore.read(spark, tmp() + "/never").count() == 0)
    // the optimistic-lock primitive the commit protocol rests on:
    // create-no-overwrite admits exactly one winner per pointer seq
    val claimed = new org.apache.hadoop.fs.Path(
      s"$table/_manifest/c1/ptr-000009")
    fs.create(claimed, false).close()
    intercept[java.io.IOException] { fs.create(claimed, false).close() }
  }

  private def idRows(c: String, lo: Int, hi: Int) = {
    import org.apache.spark.sql.functions._
    spark.range(lo, hi + 1).select(
      lit(c).as("collection"),
      format_string("%04d", col("id")).as("doc_id"),
      lit("n").as("doc_name"), lit("s").as("doc_source"),
      lit(1).as("chunk_idx"), lit("t").as("text"),
      array(lit(1.0)).as("embedding"), lit("ms").as("meta_source"),
      lit("mn").as("meta_name"), lit(0.5).as("semantic_score"))
  }

  test("one sidecar parse == the four per-field readers it replaced, " +
      "on written, torn, pre-kind, token-less and kind-rewritten bodies") {
    import spark.implicits._
    val table = tmp() + "/sidecar"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id", "x", "name"))
    ManifestStore.setBloomColumns(spark, table, Seq("doc_id", "name"), 1024)
    // a NaN and a -0.0 in the 'd' column, framing characters in the
    // 's' bounds, a null in 'name' (its non-null count is 2 of 3 rows)
    ManifestStore.store(Seq((1L, 0.5, Some("a b")), (7L, Double.NaN,
      Some("z;=,")), (3L, -0.0, Option.empty[String]))
      .toDF("doc_id", "x", "name").repartition(1), table, "m")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(s"$table/_manifest/m/stats-000001")
    def slurp(): String = {
      val in = fs.open(path)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val written = slurp()
    // spec-local reference: the per-field readers the one parse
    // replaced, over the body their shared pointer read returned
    // (trimmed; empty = absent)
    def body(raw: Option[String]): Option[String] =
      raw.map(_.trim).filter(_.nonEmpty)
      .filter(b => b.startsWith("zm:") && b.endsWith(";end"))
      .map(_.stripPrefix("zm:").stripSuffix(";end"))
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    def refStats(b: Option[String]): Map[String, (Char, String, String)] =
      b.toSeq.flatMap(_.split(';').toSeq.filter(_.nonEmpty).flatMap { e =>
        e.split('=') match {
          case Array(name, range) => range.split(',') match {
            case Array(lo, hi) =>
              val (n, kind) = name.split(':') match {
                case Array(n0, k) if k.length == 1 => (n0, k.head)
                case _ => (name, 's')
              }
              Some(dec(n) -> (kind, dec(lo), dec(hi)))
            case _ => None
          }
          case _ => None
        }
      }).toMap
    def refCount(b: Option[String], column: String): Option[Long] =
      b.flatMap(_.split(';').toSeq.collectFirst {
        case e if e.startsWith("cnt:") && (e.split(':') match {
            case Array(_, n, _) => dec(n) == column
            case _ => false
          }) => e.split(':')(2).toLongOption
      }.flatten)
    def refRows(b: Option[String]): Option[Long] =
      b.flatMap(_.split(';').toSeq.collectFirst {
        case e if e.startsWith("rows:") => e.stripPrefix("rows:").toLongOption
      }.flatten)
    def refBlooms(b: Option[String]): Map[String, (Char, Int, Seq[Byte])] =
      b.toSeq.flatMap(_.split(';').toSeq
        .filter(e => e.startsWith("bf:") || e.startsWith("bfs:"))
        .flatMap { e =>
          e.split(':') match {
            case Array(pfx, n, bits, b64) =>
              (bits.toIntOption, scala.util.Try(
                java.util.Base64.getUrlDecoder.decode(b64)).toOption) match {
                case (Some(m), Some(bytes))
                    if m > 0 && (m & (m - 1)) == 0 && bytes.length == m / 8 =>
                  Some(dec(n) -> ((if (pfx == "bfs") 's' else 'l', m,
                    bytes.toSeq)))
                case _ => None
              }
            case _ => None
          }
        }).toMap
    def parse(raw: Option[String]): ManifestStore.Sidecar = {
      fs.delete(path, false)
      raw.foreach { t =>
        val out = fs.create(path, true)
        try out.write(t.getBytes("UTF-8")) finally out.close()
      }
      val sc = ManifestStore.readSidecar(fs, table, "m", 1L)
      val b = body(raw)
      assert(sc.bounds == refStats(b), raw)
      Seq("doc_id", "x", "name", "absent").foreach { n =>
        assert(sc.counts.get(n) == refCount(b, n), s"$n in $raw")
      }
      assert(sc.rows == refRows(b), raw)
      assert(sc.blooms.map { case (n, (k, m, bs)) => n -> ((k, m, bs.toSeq)) }
        == refBlooms(b), raw)
      sc
    }
    def without(pfx: String): String =
      "zm:" + written.stripPrefix("zm:").stripSuffix(";end").split(';')
        .filterNot(_.startsWith(pfx)).mkString(";") + ";end"
    // the written body parses every field
    val full = parse(Some(written))
    assert(full.rows.contains(3L))
    assert(full.counts == Map("doc_id" -> 3L, "x" -> 3L, "name" -> 2L))
    assert(full.bounds("doc_id") == (('l', "1", "7")))
    assert(full.bounds("x")._1 == 'd' && full.bounds("x")._3 == "NaN")
    assert(full.bounds("name") == (('s', "a b", "z;=,")))
    assert(full.blooms("doc_id")._1 == 'l' && full.blooms("name")._1 == 's')
    // torn (no terminator), empty and missing: all-empty, proves nothing
    Seq(Some(written.dropRight(3)), Some("zm:doc_id=0100"), Some(""), None)
      .foreach { raw =>
        val sc = parse(raw)
        assert(sc.bounds.isEmpty && sc.counts.isEmpty && sc.rows.isEmpty &&
          sc.blooms.isEmpty, raw)
      }
    // pre-kind body (`name=lo,hi`): string-kind bounds, nothing else
    assert(parse(Some("zm:doc_id=1,7;end")).bounds ==
      Map("doc_id" -> (('s', "1", "7"))))
    // bodies written before a token existed lack only that field
    assert(parse(Some(without("cnt:"))).counts.isEmpty)
    assert(parse(Some(without("rows:"))).rows.isEmpty)
    val noBf = parse(Some(without("bf")))
    assert(noBf.blooms.isEmpty && noBf.bounds == full.bounds)
    // the pre-'d' forward-compat rewrite: the float column's bounds
    // read as string-kind (wrong kind for a double probe)
    assert(parse(Some(written.replace(":d=", ":s="))).bounds("x")._1 == 's')
  }

  test("manifest zone maps: range reads skip segments; sidecars are " +
      "advisory and vacuumed with their segments") {
    val table = tmp() + "/table"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // three segments with disjoint, zero-padded doc_id ranges (string
    // order == numeric order)
    ManifestStore.store(idRows("c1", 100, 199), table, "c1")
    ManifestStore.store(idRows("c1", 200, 299), table, "c1")
    ManifestStore.store(idRows("c1", 300, 399), table, "c1")
    // an in-range read touches ONLY the matching segment's files...
    val one = ManifestStore.readRange(spark, table, "c1", "0250", "0260")
    assert(one.count() == 11)
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("seg=000002")))
    // ...a straddling read touches exactly the two matching segments...
    val two = ManifestStore.readRange(spark, table, "c1", "0150", "0250")
    assert(two.count() == 101)
    assert(two.inputFiles.exists(_.contains("seg=000001")) &&
      two.inputFiles.exists(_.contains("seg=000002")) &&
      !two.inputFiles.exists(_.contains("seg=000003")))
    // ...and a miss reads nothing at all
    assert(ManifestStore.readRange(spark, table, "c1", "9000", "9999")
      .inputFiles.isEmpty)
    // sidecars are ADVISORY: a missing one degrades to reading the
    // segment (correct, just less lazy), never to wrong pruning
    val s2 = new org.apache.hadoop.fs.Path(
      s"$table/_manifest/c1/stats-000002")
    fs.delete(s2, false)
    val degraded = ManifestStore.readRange(spark, table, "c1", "0250", "0260")
    assert(degraded.count() == 11)
    assert(degraded.inputFiles.exists(_.contains("seg=000002")))
    // a TORN sidecar (crash artifact: prefix without terminator) reads
    // as no-stats, same conservative path
    val s1 = new org.apache.hadoop.fs.Path(
      s"$table/_manifest/c1/stats-000001")
    val out = fs.create(s1, true)
    try out.write("zm:doc_id=0100".getBytes("UTF-8")) finally out.close()
    val torn = ManifestStore.readRange(spark, table, "c1", "0350", "0360")
    assert(torn.count() == 11)
    assert(torn.inputFiles.exists(_.contains("seg=000001")) &&
      torn.inputFiles.exists(_.contains("seg=000003")))
    // compaction records a sidecar for the new segment too
    ManifestStore.compactCollection(spark, table, "c1")
    val post = ManifestStore.readRange(spark, table, "c1", "0250", "0260")
    assert(post.count() == 11)
    assert(post.inputFiles.nonEmpty &&
      post.inputFiles.forall(_.contains("seg=000004")))
    // vacuum sweeps superseded segments' sidecars with the segments;
    // the live segment's sidecar stays
    ManifestStore.vacuum(spark, table, 0L, 0L)
    val statsLeft = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$table/_manifest/c1")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("stats-"))
    assert(statsLeft == Seq("stats-000004"))
  }

  test("manifest zone maps: a crash-retry refreshes the failed " +
      "attempt's stale sidecar") {
    val table = tmp() + "/table"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestStore.store(idRows("c1", 100, 199), table, "c1") // seg 1
    // simulate an interrupted append at seg 2: its sidecar landed (for
    // bytes that will be OVERWRITTEN by the retry) but the pointer
    // never did
    val stale = new org.apache.hadoop.fs.Path(
      s"$table/_manifest/c1/stats-000002")
    val out = fs.create(stale, false)
    try out.write("zm:doc_id=0900,0999;end".getBytes("UTF-8"))
    finally out.close()
    // the retry re-targets seg 2 with DIFFERENT data; were the stale
    // bounds kept, this range read would wrongly prune the only
    // matching segment and silently return nothing
    ManifestStore.store(idRows("c1", 200, 299), table, "c1") // seg 2
    val got = ManifestStore.readRange(spark, table, "c1", "0250", "0260")
    assert(got.count() == 11)
    assert(got.inputFiles.exists(_.contains("seg=000002")))
  }

  test("generalized zone maps: time-series segment skipping on a " +
      "configured ts column (numeric bounds, native residual)") {
    // the dominant pruning axis at 100 TB is TIME — an events-style
    // table maps `ts` (epoch-micros long, the `events.ts` shape) and
    // gets segment skipping on it; `doc_id` stays mapped alongside,
    // with each stat kind serving only its own ordering
    val table = tmp() + "/evtable"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id", "ts"))
    def evRows(lo: Long, hi: Long) = spark.range(lo, hi + 1).select(
      lit("ev").as("collection"),
      format_string("%06d", col("id")).as("doc_id"),
      (col("id") * 1000000L).as("ts"),
      (col("id") % 7).as("val"))
    ManifestStore.store(evRows(100, 199), table, "ev") // seg1
    ManifestStore.store(evRows(200, 299), table, "ev") // seg2
    ManifestStore.store(evRows(300, 399), table, "ev") // seg3
    // numeric in-range read touches ONLY the matching segment...
    val one = ManifestStore.readRangeLong(spark, table, "ev",
      250000000L, 260000000L, "ts")
    assert(one.count() == 11)
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("seg=000002")))
    // ...a straddling read exactly the two matching ones...
    val two = ManifestStore.readRangeLong(spark, table, "ev",
      150000000L, 250000000L, "ts")
    assert(two.count() == 101)
    assert(two.inputFiles.exists(_.contains("seg=000001")) &&
      two.inputFiles.exists(_.contains("seg=000002")) &&
      !two.inputFiles.exists(_.contains("seg=000003")))
    // ...and a miss plans nothing, as a defined empty with the
    // table's own schema
    val miss = ManifestStore.readRangeLong(spark, table, "ev",
      900000000L, 990000000L, "ts")
    assert(miss.inputFiles.isEmpty && miss.count() == 0)
    assert(miss.columns.contains("ts"), miss.columns.toSeq)
    // NUMERIC order is what prunes: string order would misplace
    // 1000000xx between 100000000 and 400000000 — a string-kind prune
    // on this column is never consulted, so boundary rows survive
    assert(ManifestStore.readRangeLong(spark, table, "ev",
      100000000L, 100000000L, "ts").count() == 1)
    // the sidecar round-trips BOTH columns: the string axis still
    // prunes through readRange on the same segments
    val sOne = ManifestStore.readRange(spark, table, "ev",
      "000250", "000260", "doc_id")
    assert(sOne.count() == 11)
    assert(sOne.inputFiles.nonEmpty &&
      sOne.inputFiles.forall(_.contains("seg=000002")))
    // kind discipline: a STRING-order range read on the numeric
    // column cannot use the numeric stats — conservative (all
    // segments), never wrongly pruned
    val strOnTs = ManifestStore.readRange(spark, table, "ev",
      "150000000", "250000000", "ts")
    assert(strOnTs.count() == 101)
    // a typo'd column fails loud instead of returning unfiltered rows
    intercept[IllegalArgumentException] {
      ManifestStore.readRangeLong(spark, table, "ev", 0L, 1L, "tz")
        .count()
    }
    // vacuum/compaction lifecycle stays green on the generalized table
    ManifestStore.compactCollection(spark, table, "ev")
    assert(ManifestStore.readRangeLong(spark, table, "ev",
      250000000L, 260000000L, "ts").count() == 11)
    ManifestStore.vacuum(spark, table, 0L, 0L)
    assert(ManifestStore.readRangeLong(spark, table, "ev",
      250000000L, 260000000L, "ts").count() == 11)
    assert(ManifestStore.read(spark, table, Some("ev")).count() == 300)
  }

  test("manifest clustered compaction: output files cover disjoint " +
      "key ranges; round-robin does not") {
    val table = tmp() + "/table"
    // three ingest-ordered segments, interleaved enough that a
    // round-robin rewrite MUST scatter ranges across files
    ManifestStore.store(idRows("c1", 100, 199), table, "c1")
    ManifestStore.store(idRows("c1", 200, 299), table, "c1")
    ManifestStore.store(idRows("c1", 300, 399), table, "c1")
    ManifestStore.compactCollection(spark, table, "c1", targetFiles = 3,
      cluster = true)
    val files = ManifestStore.read(spark, table, Some("c1")).inputFiles
    assert(files.length == 3)
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("doc_id"),
          org.apache.spark.sql.functions.max("doc_id")).head
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    // every row survived, and the per-file ranges are DISJOINT — the
    // property that makes parquet footer stats (and any future
    // per-file zone map) actually prune after a compaction
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 300)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, ranges)
      case _ => ()
    }
    // a narrow range read post-compaction stays correct
    assert(ManifestStore.readRange(spark, table, "c1", "0250", "0260")
      .count() == 11)
  }

  test("manifest store: tagged commits are replay-idempotent") {
    val table = tmp() + "/mtable"
    // first delivery commits; the at-least-once REdelivery is a no-op
    assert(ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-0"))
    assert(!ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-0"))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
    // a NEW batch commits normally on top
    assert(ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-1"))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
    // crash window: segment written, pointer never published — the
    // retry sees no tag, rewrites the same segment, and commits once
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$table/collection=c1/seg=000003")) // the orphan a crash leaves
    assert(ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-2"))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 30)
    // untagged appends coexist (plain store never collides with tags)
    ManifestStore.store(tenRows("c1"), table, "c1")
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 40)
  }

  test("restoreVersion: rollback publishes the OLD list as a NEW " +
      "commit — history preserved, tombstone restorable, restored " +
      "segments survive vacuum") {
    import spark.implicits._
    val table = tmp() + "/rtable"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def batch(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"), lit("t").as("txt"))
    ManifestStore.store(batch(1, 10), table, "m")   // ptr1 -> [1]
    ManifestStore.store(batch(11, 20), table, "m")  // ptr2 -> [1,2]
    // a merge rewrites rows — the "bad deploy" restore undoes
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((5L, "BAD", false)).toDF("doc_id", "txt", "_deleted")))
    def txtOf(k: Long) = ManifestStore
      .readSinceInferred(spark, table, "m", 0L)
      .where(col("doc_id") === k).select("txt").head.getString(0)
    assert(txtOf(5L) == "BAD")
    // restore to ptr2: live reads roll back ...
    val restoredSeq = ManifestStore.restoreVersion(spark, table, "m", 2L)
    assert(restoredSeq == 4L)
    assert(txtOf(5L) == "t")
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 20)
    // ... the restored commit references EXACTLY ptr2's list, and the
    // rolled-back merge stays addressable as history
    val vs = ManifestStore.listVersions(spark, table, "m")
    assert(vs.map(_.ptrSeq) == Seq(1L, 2L, 3L, 4L))
    assert(vs(3).segs == vs(1).segs)
    assert(ManifestStore.readAsOfInferred(spark, table, "m", 3L)
      .where(col("doc_id") === 5L).select("txt").head.getString(0) == "BAD")
    // restoring a tombstoned version IS a delete; restoring forward
    // from it brings the data back — both as plain commits
    ManifestStore.deleteCollection(spark, table, "m") // ptr5 tombstone
    ManifestStore.store(batch(21, 30), table, "m")    // ptr6
    assert(ManifestStore.restoreVersion(spark, table, "m", 5L) == 7L)
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L).isEmpty)
    assert(ManifestStore.restoreVersion(spark, table, "m", 4L) == 8L)
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 20)
    // vacuum with zero retention keeps every segment the restored head
    // references (they are referenced by a retained pointer again)
    ManifestStore.vacuum(spark, table, 0L, 0L)
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 20)
    assert(txtOf(5L) == "t")
    // an unresolvable target (pre-history or vacuumed) throws
    intercept[IllegalArgumentException] {
      ManifestStore.restoreVersion(spark, table, "m", 0L)
    }
  }

  test("crash mid-clustered-write: claimed orphan segments never " +
      "surface in reads; vacuum sweeps their dirs and claims; the " +
      "store keeps working") {
    import spark.implicits._
    val table = tmp() + "/cw"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("doc_id"), lit("t").as("txt"))
    ManifestStore.store(rows(1, 10), table, "m") // seg1 committed
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a clustered writer batch-claims staging + two outputs, writes
    // bytes into the output dirs, then CRASHES before its pointer
    val claimed = ManifestStore.claimSegs(fs, table, "m", 2L, 3)
    def orphanDir(n: Long) =
      new org.apache.hadoop.fs.Path(
        s"$table/collection=m/" + f"seg=$n%06d")
    claimed.foreach { n =>
      fs.mkdirs(orphanDir(n))
      val out = fs.create(
        new org.apache.hadoop.fs.Path(orphanDir(n), "junk.parquet"), true)
      try out.write(Array.fill(16)('x'.toByte)) finally out.close()
    }
    // unreferenced orphans never surface in a read
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 10)
    // aged past the guard, vacuum sweeps the orphan dirs AND the
    // crashed writer's claims together (sleep rides out coarse local
    // mtime granularity; the cutoff is the store-observed clock)
    Thread.sleep(1200)
    // the DRY RUN reports exactly the pass's deletions, touching
    // nothing: same selection logic, deletes suppressed
    val planned = ManifestStore.vacuumPlan(spark, table, 0L, 0L)
    claimed.foreach { n =>
      assert(fs.exists(orphanDir(n)), s"dry run deleted seg $n")
      assert(planned.exists(_.endsWith(f"seg=$n%06d")),
        s"dry run missed seg $n: $planned")
    }
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 10)
    val removed = ManifestStore.vacuum(spark, table, 0L, 0L)
    assert(removed.toSet == planned.toSet,
      s"plan/apply diverged:\nplan=$planned\nreal=$removed")
    claimed.foreach { n =>
      assert(!fs.exists(orphanDir(n)),
        s"orphan seg $n survived vacuum: $removed")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$table/_manifest/m/claim-" + f"$n%06d")),
        s"stale claim $n survived vacuum")
    }
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 10)
    // the store keeps working after the sweep
    ManifestStore.store(rows(11, 20), table, "m")
    assert(ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .count() == 20)
  }

  test("restore vs tag idempotency: a rolled-back tagged merge stays " +
      "replay-refused (tags are history, not state); a fresh tag " +
      "re-applies the corrected batch") {
    import spark.implicits._
    val table = tmp() + "/rt"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    ManifestStore.store(Seq((1L, "a")).toDF("doc_id", "txt"), table, "m")
    val preSeq = ManifestStore.currentPtrSeq(spark, table, "m")
    // a bad CDC batch lands under tag cdc-7 ...
    val bad = Seq((1L, "CORRUPT", false)).toDF("doc_id", "txt", "_deleted")
    assert(ManifestStore.mergeBatch(spark, table, "m", bad, "cdc-7"))
    // ... and is rolled back
    ManifestStore.restoreVersion(spark, table, "m", preSeq)
    def txt1 = ManifestStore.readSinceInferred(spark, table, "m", 0L)
      .where(col("doc_id") === 1L).select("txt").head.getString(0)
    assert(txt1 == "a")
    // the tag is recorded in the RETAINED log, so a redelivery of the
    // bad batch is refused — restore undoes data, never idempotency
    // (an at-least-once source replaying the batch must not
    // resurrect it)
    assert(!ManifestStore.mergeBatch(spark, table, "m", bad, "cdc-7"))
    assert(txt1 == "a")
    // the corrected batch applies under its own tag
    assert(ManifestStore.mergeBatch(spark, table, "m",
      Seq((1L, "fixed", false)).toDF("doc_id", "txt", "_deleted"),
      "cdc-7-corrected"))
    assert(txt1 == "fixed")
  }

  test("manifest snapshot reads: version history, as-of, change feed, vacuum horizon") {
    val table = tmp() + "/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1") // ptr1 -> [seg1]
    val anchor = ManifestStore.currentPtrSeq(spark, table, "c1")
    assert(anchor == 1L)
    ManifestStore.store(tenRows("c1"), table, "c1") // ptr2 -> [seg1,seg2]
    ManifestStore.store(tenRows("c1"), table, "c1") // ptr3 -> [seg1..seg3]

    // change feed: exactly the rows appended after the anchor
    assert(ManifestStore.readSince(spark, table, "c1", anchor).count() == 20)
    assert(ManifestStore.readSince(spark, table, "c1",
      ManifestStore.currentPtrSeq(spark, table, "c1")).count() == 0)
    assert(ManifestStore.readSince(spark, table, "c1", 0L).count() == 30)

    // as-of reads resolve any retained commit
    assert(ManifestStore.readAsOf(spark, table, "c1", 1L).count() == 10)
    assert(ManifestStore.readAsOf(spark, table, "c1", 2L).count() == 20)

    // the PRE-COMPACTION snapshot stays addressable by sequence (the
    // superseded segments outlive the pointer swap until vacuum) ...
    ManifestStore.compactCollection(spark, table, "c1") // ptr4 -> [seg4]
    assert(ManifestStore.readAsOf(spark, table, "c1", 3L).count() == 30)
    assert(ManifestStore.readAsOf(spark, table, "c1", 2L).count() == 20)
    // ... and a feed spanning the compaction degrades to full replay
    // (segment lists, not row lineage — the documented caveat)
    assert(ManifestStore.readSince(spark, table, "c1", anchor).count() == 30)

    // the PRE-DELETE snapshot stays addressable; the tombstone itself
    // reads as a defined empty (Q7 extended through history)
    ManifestStore.deleteCollection(spark, table, "c1") // ptr5 tombstone
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 0)
    assert(ManifestStore.readAsOf(spark, table, "c1", 4L).count() == 30)
    assert(ManifestStore.readAsOf(spark, table, "c1", 5L).count() == 0)

    // the version log is the pointer log read back as data
    val vs = ManifestStore.listVersions(spark, table, "c1")
    assert(vs.map(_.ptrSeq) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(vs(2).segs == Seq(1L, 2L, 3L) && vs(3).segs == Seq(4L))
    assert(vs.last.tombstone)

    // an interrupted (invalid) pointer is not a version: as-of at its
    // sequence resolves to the predecessor, same rule as live reads
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$table/_manifest/c1/ptr-000006"), true).close()
    assert(ManifestStore.listVersions(spark, table, "c1")
      .map(_.ptrSeq) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ManifestStore.readAsOf(spark, table, "c1", 6L).count() == 0)

    // vacuum prunes history: below the retained horizon a versioned
    // read THROWS (Delta's time-travel retention contract) instead of
    // silently resolving to something else
    ManifestStore.store(tenRows("c1"), table, "c1") // ptr7 re-creates
    ManifestStore.vacuum(spark, table, 0L, 0L)
    val e = intercept[IllegalArgumentException] {
      ManifestStore.readAsOf(spark, table, "c1", 2L)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    intercept[IllegalArgumentException] {
      ManifestStore.readSince(spark, table, "c1", 2L)
    }
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
  }

  test("vacuum holds TAGGED commits under the longer idempotency floor") {
    val table = tmp() + "/mtable"
    assert(ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-0"))
    ManifestStore.store(tenRows("c1"), table, "c1") // plain superseding commit
    ManifestStore.store(tenRows("c1"), table, "c1")
    // an aggressive data vacuum (minAge 0) with the DEFAULT tag floor:
    // the tagged pointer stays — so a replay of batch-0 while the
    // stream was down is still a no-op — and retention is CONTIGUOUS:
    // the plain pointers NEWER than the held tagged one stay too (no
    // holes in the log), and every retained version keeps its
    // segments, so history remains exactly addressable
    ManifestStore.vacuum(spark, table, 0L)
    assert(!ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-0"))
    assert(ManifestStore.listVersions(spark, table, "c1")
      .map(_.ptrSeq) == Seq(1L, 2L, 3L))
    assert(ManifestStore.readAsOf(spark, table, "c1", 2L).count() == 20)
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 30)
    // only an explicit tag-floor waiver forgets the tag
    ManifestStore.vacuum(spark, table, 0L, 0L)
    assert(ManifestStore.storeBatch(tenRows("c1"), table, "c1", "batch-0"))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 40)
  }

  test("vacuum retires a fully-reclaimed tombstone: no manifest leak") {
    val table = tmp() + "/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1")
    ManifestStore.deleteCollection(spark, table, "c1")
    assert(ManifestStore.listCollections(spark, table) == Seq("c1"))
    // age waived: data swept AND the whole log (tombstone included) is
    // past the guard -> the manifest dir itself is retired, so
    // create/delete cycles do not leak listCollections entries
    ManifestStore.vacuum(spark, table, 0L, 0L)
    assert(ManifestStore.listCollections(spark, table).isEmpty)
    // a fresh create after retirement starts a clean history
    ManifestStore.store(tenRows("c1"), table, "c1")
    assert(ManifestStore.currentPtrSeq(spark, table, "c1") == 1L)
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 10)
    // a tombstone with RETAINED (young) history is NOT retired: its
    // pre-delete snapshots stay addressable inside the age guard
    ManifestStore.deleteCollection(spark, table, "c1")
    ManifestStore.vacuum(spark, table)
    assert(ManifestStore.listCollections(spark, table) == Seq("c1"))
    assert(ManifestStore.readAsOf(spark, table, "c1", 1L).count() == 10)
  }

  test("snapshot API edges: seq 0 throws, future seq reads live, missing collection empty") {
    val table = tmp() + "/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1")
    // 0 = "before any commit": not a state, never silently empty
    intercept[IllegalArgumentException] {
      ManifestStore.readAsOf(spark, table, "c1", 0L)
    }
    // a sequence beyond the log resolves to the newest commit at or
    // below it — i.e. the live state (same rule as a crashed top ptr)
    assert(ManifestStore.readAsOf(spark, table, "c1", 999L).count() == 10)
    assert(ManifestStore.readSince(spark, table, "c1", 999L).count() == 0)
    // versioned APIs on a collection that never existed
    assert(ManifestStore.listVersions(spark, table, "nope").isEmpty)
    intercept[IllegalArgumentException] {
      ManifestStore.readAsOf(spark, table, "nope", 1L)
    }
    assert(ManifestStore.currentPtrSeq(spark, table, "nope") == 0L)
  }

  test("change-feed anchors advance across repeated ingest cycles") {
    // the continuous-consumption loop: anchor -> ingest -> readSince
    // -> process -> advance anchor; each cycle sees exactly its new
    // batch, never a replayed or skipped row — including across a
    // tagged (streaming, at-least-once) commit whose redelivery is
    // a manifest no-op
    val table = tmp() + "/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1")
    var anchor = ManifestStore.currentPtrSeq(spark, table, "c1")
    (1 to 3).foreach { i =>
      assert(ManifestStore.storeBatch(tenRows("c1"), table, "c1", s"b-$i"))
      assert(!ManifestStore.storeBatch(tenRows("c1"), table, "c1", s"b-$i"))
      val feed = ManifestStore.readSince(spark, table, "c1", anchor)
      assert(feed.count() == 10, s"cycle $i")
      anchor = ManifestStore.currentPtrSeq(spark, table, "c1")
    }
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 40)
    assert(ManifestStore.readSince(spark, table, "c1", anchor).count() == 0)
  }

  test("snapshot-pinned deterministic split is reproducible under ongoing ingest") {
    // the pipeline-reproducibility use case time travel exists for: a
    // train/test split anchored to a pointer sequence re-derives
    // bit-identically while ingest and compaction move the live state
    val table = tmp() + "/mtable"
    ManifestStore.store(tenRows("c1"), table, "c1")
    val anchor = ManifestStore.currentPtrSeq(spark, table, "c1")
    def split(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        when(pmod(xxhash64(col("doc_id")), lit(10)) < 8, "train")
          .otherwise("test").as("split"))
      .orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val s1 = split(ManifestStore.readAsOf(spark, table, "c1", anchor))
    ManifestStore.store(tenRows("c1"), table, "c1") // ingest moves on
    ManifestStore.compactCollection(spark, table, "c1")
    val s2 = split(ManifestStore.readAsOf(spark, table, "c1", anchor))
    assert(s1 == s2 && s1.nonEmpty)
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
  }

  test("manifest read of a flat-layout table fails loud, not silently empty") {
    val ft = tmp() + "/flat"
    tenRows("c1").write.partitionBy("collection").parquet(ft)
    val e = intercept[IllegalArgumentException] {
      ManifestStore.read(spark, ft, Some("c1")).count()
    }
    assert(e.getMessage.contains("re-ingest it through ManifestStore"),
      e.getMessage)
    // a genuinely fresh path still reads as a defined empty (Q7)
    assert(ManifestStore.read(spark, tmp() + "/none").count() == 0)
  }

  test("change feed drives incremental near-dup detection end-to-end") {
    import org.apache.spark.sql.functions._
    val table = tmp() + "/mtable"
    def chunkRows(rows: Seq[(String, String)]) =
      spark.createDataFrame(rows).toDF("id", "txt").select(
        lit("docs").as("collection"), col("id").as("doc_id"),
        lit("n").as("doc_name"), lit("s").as("doc_source"),
        lit(1).as("chunk_idx"), col("txt").as("text"),
        array(lit(1.0)).as("embedding"), lit("ms").as("meta_source"),
        lit("mn").as("meta_name"), lit(0.5).as("semantic_score"))
    ManifestStore.store(chunkRows(Seq(
      "d1" -> "the quick brown fox jumps over the lazy dog today",
      "d2" -> "an entirely different set of words about spark engines")),
      table, "docs")
    val anchor = ManifestStore.currentPtrSeq(spark, table, "docs")
    ManifestStore.store(chunkRows(Seq(
      "d3" -> "the quick brown fox jumps over the lazy dog today", // ~d1
      "d4" -> "totally novel content mentioning manifest pointer commits")),
      table, "docs")
    // the feed is exactly the new batch ...
    val feed = ManifestStore.readSince(spark, table, "docs", anchor)
    assert(feed.select("doc_id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("d3", "d4"))
    // ... and incremental near-dup consumes the FEED against the
    // ANCHORED corpus snapshot — no full recompute, reproducible even
    // as ingest keeps moving the live pointer
    val corpus = ManifestStore.readAsOf(spark, table, "docs", anchor)
      .select(col("doc_id"), col("text"))
    val dups = graft.operators.Dedup.incrementalNearDups(
      corpus, feed.select(col("doc_id"), col("text"))).collect()
    assert(dups.map(r => (r.getAs[String]("new_id"),
      r.getAs[String]("corpus_id"))).toSeq == Seq(("d3", "d1")))
    graft.operators.Dedup.releaseCaches()
  }

  test("hostile collection names round-trip on both layouts (escaped paths)") {
    // names come from arbitrary ingest JSON (the reference's
    // collection_name): a percent-escape must not alias another
    // collection, and '/', ':', '=' must not corrupt the layout
    val names = Seq("a%41b", "x/y", "c:d=e", "sp ace")
    val mt = tmp() + "/mtable"
    names.foreach(n => ManifestStore.store(tenRows(n), mt, n))
    assert(ManifestStore.listCollections(spark, mt) == names.sorted)
    names.foreach { n =>
      val got = ManifestStore.read(spark, mt, Some(n))
      assert(got.count() == 10, n)
      assert(got.select("collection").distinct().collect()
        .map(_.getString(0)).toSeq == Seq(n))
    }
    ManifestStore.deleteCollection(spark, mt, "a%41b")
    assert(ManifestStore.read(spark, mt, Some("a%41b")).count() == 0)
    assert(ManifestStore.read(spark, mt, Some("x/y")).count() == 10)
    assert(ManifestStore.read(spark, mt).count() == 30)
    // flat layout: partitionBy escapes on write; the write guard's
    // hand-built collection path must escape identically, or flat data
    // appended under a hostile name slips past it and is shadowed
    val ft = tmp() + "/ftable"
    ManifestStore.store(tenRows("seed"), ft, "seed") // _manifest exists
    names.foreach(n => tenRows(n).write.mode("append")
      .partitionBy("collection").parquet(ft))
    names.foreach { n =>
      val e = intercept[IllegalArgumentException] {
        ManifestStore.store(tenRows(n), ft, n)
      }
      assert(e.getMessage.contains("re-ingest"), n)
    }
    assert(ManifestStore.read(spark, ft, Some("seed")).count() == 10)
  }

  test("two racing writers on one collection: both batches land exactly " +
      "once, pointer log dense, segments disjoint") {
    // the reference exercises its per-collection mutex with preforked
    // OS processes (main.go:113); the manifest protocol's equivalent
    // claim is that create-no-overwrite SERIALIZES concurrent commits
    // — demonstrated here, not just documented: two threads hit the
    // same collection through a shared barrier, and the loser's
    // re-resolve+retry must preserve the winner's commit
    val table = tmp() + "/mtable"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    def writer(name: String, rows: org.apache.spark.sql.DataFrame,
        tag: String): Thread = {
      val t = new Thread(() => {
        barrier.await()
        try results.put(name,
          ManifestStore.storeBatch(rows, table, "c1", tag))
        catch { case e: Throwable => results.put(name, e) }
      })
      t.start(); t
    }
    val ta = writer("a", idRows("c1", 1, 10), "batch-a")
    val tb = writer("b", idRows("c1", 11, 20), "batch-b")
    ta.join(120000); tb.join(120000)
    // neither writer crashed; both committed (distinct tags)
    assert(results.get("a") == true, results.get("a"))
    assert(results.get("b") == true, results.get("b"))
    // both batches are readable, each exactly once
    val ids = ManifestStore.read(spark, table, Some("c1"))
      .select("doc_id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == (1 to 20).map(i => f"$i%04d"), ids)
    // the two commits hold DISJOINT segments and the final live list
    // is their union
    val versions = ManifestStore.listVersions(spark, table, "c1")
    assert(versions.size == 2, versions)
    assert(versions.head.segs.size == 1 && versions.last.segs.size == 2,
      versions)
    assert(versions.last.segs.toSet.size == 2, versions)
    // the pointer log is DENSE (hole-free): seqs 1,2 — the loser
    // retried at the next sequence instead of skipping one
    assert(versions.map(_.ptrSeq) == Seq(1L, 2L), versions)
    // commit instants stay monotone under the race. The GENERAL
    // contract is non-decreasing (racers stamping over the prefix
    // each observed can TIE — versionAtTime's newest-seq rule then
    // resolves a tied instant to the newest commit, Delta's
    // same-timestamp rule); for THIS fixture strictness is
    // deterministic: the seq-2 loser re-stamps after re-resolving,
    // and its stamp reads the seq-1 winner's instant from the body
    val hist = ManifestStore.history(spark, table, "c1")
      .orderBy("ptr_seq").select("commit_ts_ms").collect()
      .map(_.getLong(0)).toSeq
    assert(hist == hist.sorted && hist.distinct == hist, hist)
    // idempotency survived the race: replaying either tag is a no-op
    assert(!ManifestStore.storeBatch(idRows("c1", 1, 10), table, "c1",
      "batch-a"))
    assert(!ManifestStore.storeBatch(idRows("c1", 11, 20), table, "c1",
      "batch-b"))
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)

    // SAME tag racing (two workers redeliver one batch concurrently):
    // exactly one commit wins, the other abandons; one copy readable
    val barrier2 = new java.util.concurrent.CyclicBarrier(2)
    val r2 = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    def dupWriter(name: String): Thread = {
      val t = new Thread(() => {
        barrier2.await()
        try r2.put(name,
          ManifestStore.storeBatch(idRows("c2", 1, 10), table, "c2",
            "dup-tag"))
        catch { case e: Throwable => r2.put(name, e) }
      })
      t.start(); t
    }
    val d1 = dupWriter("x"); val d2 = dupWriter("y")
    d1.join(120000); d2.join(120000)
    val wins = Seq(r2.get("x"), r2.get("y"))
    assert(wins.forall(w => w == true || w == false), wins)
    assert(wins.count(_ == true) == 1, wins)
    assert(ManifestStore.read(spark, table, Some("c2")).count() == 10)
    // the abandoned orphan segment is unreferenced and vacuumable
    val afterVac = ManifestStore.vacuum(spark, table, minAgeMs = 0L,
      tagMinAgeMs = 0L)
    assert(ManifestStore.read(spark, table, Some("c2")).count() == 10,
      afterVac)
    assert(ManifestStore.read(spark, table, Some("c1")).count() == 20)
  }

  test("claimSegs raced: concurrent batch claimers get DISJOINT number " +
      "sets from the same stale start") {
    val table = tmp() + "/ctable"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // seed a committed segment so the stale-from guard is live too
    ManifestStore.store(tenRows("c1"), table, "c1")
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val out = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    def claimer(name: String): Thread = {
      val t = new Thread(() => {
        barrier.await()
        try out.put(name, ManifestStore.claimSegs(fs, table, "c1", 1L, 5))
        catch { case e: Throwable => out.put(name, e) }
      })
      t.start(); t
    }
    val ts = Seq("a", "b", "c", "d").map(claimer)
    ts.foreach(_.join(120000))
    val sets = Seq("a", "b", "c", "d").map { n =>
      out.get(n) match {
        case s: Seq[_] => s.asInstanceOf[Seq[Long]]
        case e: Throwable => fail(s"claimer $n threw: $e")
      }
    }
    sets.foreach { s =>
      assert(s.size == 5 && s == s.sorted && s.distinct.size == 5, s)
      assert(s.forall(_ >= 2L), s"re-claimed committed number in $s")
    }
    // the four batches are pairwise disjoint: no number claimed twice
    val all = sets.flatten
    assert(all.distinct.size == all.size,
      s"overlapping claims: ${all.groupBy(identity).filter(_._2.size > 1)}")
  }

  test("traversal names ('.', '..', '') cannot escape the manifest tree") {
    // collection names come from arbitrary ingest JSON; escapePathName
    // passes '.' through, so without special encoding a collection
    // named '..' would resolve _manifest/.. to the TABLE ROOT and
    // plant pointer files there, and '.' would alias _manifest itself
    val mt = tmp() + "/mtable"
    val fs = new org.apache.hadoop.fs.Path(mt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(".", "..", "...").foreach(n => ManifestStore.store(tenRows(n), mt, n))
    // round-trip: encoded on disk, original names on the API
    assert(ManifestStore.listCollections(spark, mt) == Seq(".", "..", "..."))
    Seq(".", "..", "...").foreach { n =>
      val got = ManifestStore.read(spark, mt, Some(n))
      assert(got.count() == 10, n)
      assert(got.select("collection").distinct().collect()
        .map(_.getString(0)).toSeq == Seq(n))
    }
    // nothing landed at the table root ('..' traversal) ...
    val rootNames = fs.listStatus(new org.apache.hadoop.fs.Path(mt))
      .map(_.getPath.getName).toSet
    assert(!rootNames.exists(_.startsWith("ptr-")), rootNames)
    // ... and _manifest holds only ENCODED per-collection dirs — no
    // pointer files directly inside it ('.' aliasing)
    val mEntries = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$mt/_manifest")).toSeq
    assert(mEntries.forall(_.isDirectory), mEntries.map(_.getPath.getName))
    assert(mEntries.map(_.getPath.getName).toSet ==
      Set("%2E", "%2E%2E", "%2E%2E%2E"), mEntries.map(_.getPath.getName))
    // delete/vacuum round-trip on the hostile name
    ManifestStore.deleteCollection(spark, mt, "..")
    assert(ManifestStore.read(spark, mt, Some("..")).count() == 0)
    assert(ManifestStore.read(spark, mt).count() == 20)
    // the empty name — not a path segment at all — is rejected loud
    intercept[IllegalArgumentException] {
      ManifestStore.store(tenRows(""), mt, "")
    }
    intercept[IllegalArgumentException] {
      ManifestStore.read(spark, mt, Some("")).count()
    }
  }

  test("flat-layout table: vacuum plants no _manifest, manifest write refuses") {
    val ft = tmp() + "/flat"
    tenRows("c1").write.partitionBy("collection").parquet(ft)
    val fs = new org.apache.hadoop.fs.Path(ft)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a vacuum mistakenly pointed at the flat table must not create
    // _manifest as a probe side effect — that would permanently defeat
    // the read-side flat-layout loud-fail (which keys on its absence)
    assert(ManifestStore.vacuum(spark, ft, minAgeMs = 0L).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ft/_manifest")))
    intercept[IllegalArgumentException] {
      ManifestStore.read(spark, ft, Some("c1")).count()
    }
    // a manifest WRITE into the flat table refuses before touching
    // anything — otherwise seg= dirs + _manifest land next to the flat
    // parquet and every read silently shadows the pre-existing data
    val e = intercept[IllegalArgumentException] {
      ManifestStore.store(tenRows("c1"), ft, "c1")
    }
    assert(e.getMessage.contains("re-ingest it through ManifestStore"),
      e.getMessage)
    // ... even into a collection the flat table does NOT have (the
    // first-write sweep checks the whole root, because _manifest
    // appearing anywhere defeats the read-side check for every
    // collection)
    intercept[IllegalArgumentException] {
      ManifestStore.storeBatch(tenRows("cX"), ft, "cX", "b0")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ft/_manifest")))
    // flat data is intact and still readable as plain parquet
    assert(spark.read.parquet(ft).count() == 10)
  }

  test("history: the pointer log reads back as a DataFrame with " +
      "state-derived op classification") {
    import spark.implicits._
    val table = tmp() + "/table"
    ManifestStore.store(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "txt"), table, "m")
    ManifestStore.store(
      Seq((3L, "c")).toDF("doc_id", "txt"), table, "m")
    val beforeMerge = ManifestStore.currentPtrSeq(spark, table, "m")
    // upsert of an existing key = rewrite (adds the new segment,
    // removes the intersecting one)
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((2L, "B", false)).toDF("doc_id", "txt", "_deleted")))
    ManifestStore.restoreVersion(spark, table, "m", beforeMerge)
    // merge deleting every key publishes the tombstone
    assert(ManifestStore.mergeCollection(spark, table, "m",
      Seq((1L, "", true), (2L, "", true), (3L, "", true))
        .toDF("doc_id", "txt", "_deleted")))
    val h = ManifestStore.history(spark, table, "m")
      .orderBy("ptr_seq").collect()
    assert(h.map(_.getString(1)).toSeq ==
      Seq("create", "append", "rewrite", "restore", "tombstone"), h.toSeq)
    // per-row invariants: seqs dense from 1, mtimes stamped, and the
    // added/removed deltas replay to each version's full list
    assert(h.map(_.getLong(0)).toSeq == (1L to 5L), h.toSeq)
    assert(h.forall(_.getLong(6) > 0L))
    val versions = ManifestStore.listVersions(spark, table, "m")
    var live = Set.empty[Long]
    h.zip(versions).foreach { case (r, v) =>
      live = live ++ r.getSeq[Long](3) -- r.getSeq[Long](4)
      assert(live == v.segs.toSet, s"delta replay diverged at $r")
      assert(r.getInt(2) == v.segs.size)
    }
    // the restore row republishes beforeMerge's list: nothing added
    // that wasn't retained, and the merge's segment removed
    assert(h(3).getSeq[Long](3).toSet ==
      versions(1).segs.toSet -- versions(2).segs.toSet)
    // empty history for an absent collection is a defined empty frame
    assert(ManifestStore.history(spark, table, "absent").count() == 0)
  }

  test("durable commit instants: the axis survives mtime corruption, " +
      "a mixed pre-upgrade log stays monotone, and a truncated " +
      "instant invalidates the whole pointer") {
    import spark.implicits._
    val table = tmp() + "/dur"
    def put(lo: Long, hi: Long): Unit = ManifestStore.store(
      spark.range(lo, hi).select(col("id").as("doc_id"),
        lit("v").as("txt")), table, "d")
    put(0L, 10L); put(10L, 20L)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ptr(seq: Long) = new org.apache.hadoop.fs.Path(
      f"$table/_manifest/d/ptr-$seq%06d")
    def rawPtr(seq: Long): String = {
      val in = fs.open(ptr(seq))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def instants(): Map[Long, Long] =
      ManifestStore.history(spark, table, "d").collect()
        .map(r => r.getLong(0) -> r.getLong(6)).toMap
    // the instant is IN the body, strictly increasing across commits
    assert(rawPtr(1L).contains(";ts="), rawPtr(1L))
    val i0 = instants()
    assert(i0(1L) < i0(2L), i0.toString)
    // MIXED LOG: rewrite ptr-1 to the pre-upgrade grammar (no ts
    // field) with a controlled mtime below commit 2's instant — the
    // fallback axis for exactly that pointer
    val preUpgrade = rawPtr(1L).replaceAll(";ts=\\d+", "")
    val out = fs.create(ptr(1L), true)
    out.write(preUpgrade.getBytes("UTF-8")); out.close()
    val mt1 = i0(2L) - 60000L
    fs.setTimes(ptr(1L), mt1, -1L)
    val mixed = instants()
    assert(mixed(1L) == mt1 && mixed(2L) == i0(2L), mixed.toString)
    assert(ManifestStore.versionAtTime(spark, table, "d", mt1) == 1L)
    assert(ManifestStore.versionAtTime(spark, table, "d", i0(2L)) == 2L)
    intercept[IllegalArgumentException] {
      ManifestStore.versionAtTime(spark, table, "d", mt1 - 1L)
    }
    // a post-upgrade commit stamps ABOVE the mixed axis
    put(20L, 30L)
    val i3 = instants()
    assert(i3(3L) > i3(2L), i3.toString)
    // MTIME CORRUPTION (the S3 caveat, closed): garbage mtimes on the
    // instant-carrying pointers change NOTHING — the axis reads from
    // the bodies, not the store
    fs.setTimes(ptr(2L), 5L, -1L); fs.setTimes(ptr(3L), 3L, -1L)
    val corrupted = instants()
    assert(corrupted(2L) == i0(2L) && corrupted(3L) == i3(3L),
      corrupted.toString)
    assert(ManifestStore.versionAtTime(spark, table, "d", i0(2L)) == 2L)
    assert(ManifestStore.readAsOfTimeInferred(spark, table, "d",
      i0(2L)).count() == 20L)
    // TRUNCATED instant invalidates the POINTER, never misdates it:
    // a tombstone whose ts digits lost their terminator is not a
    // version — resolution falls back to commit 3's live state
    ManifestStore.deleteCollection(spark, table, "d")
    assert(ManifestStore.readSinceInferred(spark, table, "d", 0L).count() == 0L)
    val out4 = fs.create(ptr(4L), true)
    out4.write("tombstone;ts=1".getBytes("UTF-8")); out4.close()
    assert(ManifestStore.readSinceInferred(spark, table, "d", 0L).count() == 30L)
    assert(!instants().contains(4L))
    // same for a segs body whose ts field is garbled
    val out5 = fs.create(ptr(4L), true)
    out5.write("segs:000001;ts=12;garbage;end".getBytes("UTF-8"))
    out5.close()
    assert(ManifestStore.readSinceInferred(spark, table, "d", 0L).count() == 30L)
    assert(!instants().contains(4L))
    // FAR-FUTURE pre-upgrade mtime cannot poison the stamp: rewrite
    // the invalid ptr-4 slot as a pre-upgrade pointer (no ts field)
    // with a year-2036-class mtime — the next commit must stamp from
    // the WALL CLOCK (the fallback's contribution is capped at
    // now + MaxFallbackSkewMs), not bake bogus+1 into its body
    val out6 = fs.create(ptr(4L), true)
    out6.write("segs:000001;end".getBytes("UTF-8")); out6.close()
    val farFuture = System.currentTimeMillis() + 10L * 365 * 86400000L
    fs.setTimes(ptr(4L), farFuture, -1L)
    put(30L, 40L) // commit 5
    val i5 = instants()(5L)
    assert(i5 < farFuture, s"stamp $i5 chained off the bogus mtime")
    assert(i5 <= System.currentTimeMillis() +
      ManifestStore.MaxFallbackSkewMs + 60000L, i5)
    // the READ axis keeps the raw fallback for the odd pointer (a
    // non-monotone mixed log, addressable only at its own far instant)
    // while current instants resolve to the newest REAL commit
    assert(ManifestStore.versionAtTime(spark, table, "d", i5) == 5L)
  }

  test("pointer-grammar fields stay unambiguous: semicolon tags " +
      "refuse loud at the door (a ';ts=' or ';end' inside a tag could " +
      "misparse a truncated pointer), and a legit tag rides next to " +
      "the stamped instant untouched") {
    import spark.implicits._
    val table = tmp() + "/tags"
    // the door guard is what keeps ts=/src=/end parsing unambiguous
    Seq("evil;ts=9", "a;src=b", "x;end", "").foreach { bad =>
      intercept[IllegalArgumentException] {
        ManifestStore.storeBatch(
          Seq((1L, "v")).toDF("doc_id", "txt"), table, "c", bad)
      }
    }
    assert(ManifestStore.listVersions(spark, table, "c").isEmpty)
    // a legit tag round-trips NEXT TO the ts= field, instant sane
    assert(ManifestStore.storeBatch(
      Seq((1L, "v")).toDF("doc_id", "txt"), table, "c", "batch-1"))
    val v = ManifestStore.listVersions(spark, table, "c")
    assert(v.map(_.srcTag) == Seq(Some("batch-1")), v)
    val inst = ManifestStore.history(spark, table, "c")
      .select("commit_ts_ms").head.getLong(0)
    assert(inst > 1000000000000L, inst) // epoch-now class
    assert(!ManifestStore.storeBatch( // replay still a no-op
      Seq((1L, "v")).toDF("doc_id", "txt"), table, "c", "batch-1"))
  }

  test("versionAtTime racing a concurrent vacuum degrades " +
      "CONSERVATIVELY: a pointer pruned between the version listing " +
      "and the instant read fails loud, never serves another version") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.vacrace.impl", classOf[RacingVacuumFs].getName)
    val table = s"vacrace://${tmp()}/t"
    def put(lo: Long, hi: Long): Unit = ManifestStore.store(
      spark.range(lo, hi).select(col("id").as("doc_id"),
        lit("v").as("txt")), table, "r")
    put(0L, 10L); put(10L, 20L)
    val inst = ManifestStore.history(spark, table, "r").collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    // un-raced: commit 1's own instant resolves to commit 1
    assert(ManifestStore.versionAtTime(spark, table, "r", inst(1L)) == 1L)
    // raced: ptr-000001 is LISTED but its content read finds it gone
    // (exactly a vacuum landing between listVersions' directory
    // listing and its pointer read — the one race window the
    // single-pass resolution has left) — an instant addressing the
    // vacuumed version must FAIL LOUD, not silently serve commit 2
    def race[A](body: => A): A = {
      RacingVacuumFs.victim = "ptr-000001"
      // model a FRESH reader: the pointer cache is process-local, and
      // the list-then-open race window this spec pins exists exactly
      // for a reader that has not seen the pointer before — a reader
      // that HAS holds its immutable content, which is linearizable to
      // having read it at list time (before the vacuum landed)
      ManifestStore.clearPtrCache()
      try body finally RacingVacuumFs.victim = null
    }
    val e = intercept[IllegalArgumentException] { race {
      ManifestStore.versionAtTime(spark, table, "r", inst(1L))
    }}
    assert(e.getMessage.contains("before the oldest retained"), e)
    // ...and an instant inside (commit 1, commit 2) — which would
    // resolve to 1 un-raced — also fails loud rather than re-resolving
    // forward to 2
    assert(ManifestStore.versionAtTime(spark, table, "r",
      inst(2L) - 1L) == 1L)
    intercept[IllegalArgumentException] { race {
      ManifestStore.versionAtTime(spark, table, "r", inst(2L) - 1L)
    }}
    // an instant at-or-past the SURVIVING commit still resolves to it
    assert(race {
      ManifestStore.versionAtTime(spark, table, "r", inst(2L))
    } == 2L)
  }

  test("widen-only schema evolution is a CONTRACT: a retyped column " +
      "fails loud at store, storeBatch, and merge (both modes); " +
      "adding, omitting, and losslessly widening columns stay allowed") {
    import spark.implicits._
    val table = tmp() + "/widen"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    ManifestStore.store(
      Seq((1L, "a", 1.5)).toDF("doc_id", "txt", "score"), table, "w")
    // RETYPE (string -> bigint) must fail loud at EVERY write door,
    // not corrupt quietly as a union coercion downstream
    val retyped = Seq((2L, 7L, 2.5)).toDF("doc_id", "txt", "score")
    Seq[org.apache.spark.sql.DataFrame => Unit](
      df => ManifestStore.store(df, table, "w"),
      df => { ManifestStore.storeBatch(df, table, "w", "retype-b1"): Unit },
      df => { ManifestStore.mergeCollection(spark, table, "w", df): Unit },
      df => { ManifestStore.mergeCollection(spark, table, "w", df,
        mergeSchema = true): Unit },
      df => { ManifestStore.mergeBatch(spark, table, "w", df,
        "retype-m1"): Unit }
    ).foreach { door =>
      val e = intercept[IllegalArgumentException] { door(retyped) }
      assert(e.getMessage.contains("widen-only"), e.getMessage)
    }
    // cross-family float -> string is a retype too
    intercept[IllegalArgumentException] {
      ManifestStore.store(
        Seq((2L, "b", "high")).toDF("doc_id", "txt", "score"), table, "w")
    }
    // nothing leaked past a rejected door: the collection still serves
    // exactly its committed row, and the log carries exactly 1 version
    assert(ManifestStore.readSinceInferred(spark, table, "w", 0L)
      .count() == 1L)
    assert(ManifestStore.listVersions(spark, table, "w").size == 1)
    // even a LOSSLESS integral mix fails the APPEND doors: the batch's
    // own parquet type would land next to the existing segments' and
    // the footer-union read refuses INT vs BIGINT outright
    intercept[IllegalArgumentException] {
      ManifestStore.store(
        Seq((9, "i", 9.0)).toDF("doc_id", "txt", "score"), table, "w")
    }
    // ADDING a column widens; OMITTING a column serves NULL
    ManifestStore.store(
      Seq((3L, "c", 0.5, "en")).toDF("doc_id", "txt", "score", "lang"),
      table, "w")
    ManifestStore.store(Seq((4L, "d")).toDF("doc_id", "txt"), table, "w")
    // the MERGE door allows the integral mix (it rewrites through a
    // coercing union and conforms inserts to the TABLE's types — the
    // written segments stay uniformly BIGINT)
    assert(ManifestStore.mergeBatch(spark, table, "w",
      Seq((5, "e")).toDF("doc_id", "txt"), "int-key-merge",
      mergeSchema = true))
    val got = ManifestStore.readSinceInferred(spark, table, "w", 0L)
      .select("doc_id", "txt", "score", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(got == Set(
      (1L, "a", Some(1.5), None),
      (3L, "c", Some(0.5), Some("en")),
      (4L, "d", None, None),
      (5L, "e", None, None)), got)
  }

  test("widen-only door closes the review-pass holes: omitted-column " +
      "retype, case-variant retype, same-family NARROWING at merge, " +
      "and a retire/recreate cycle validating against a dead schema") {
    import spark.implicits._
    val table = tmp() + "/widen2"
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    // lineage: (doc_id, txt, score) then an OMITTING append — the
    // newest segment no longer carries score
    ManifestStore.store(
      Seq((1L, "a", 1.5)).toDF("doc_id", "txt", "score"), table, "w")
    ManifestStore.store(Seq((2L, "b")).toDF("doc_id", "txt"), table, "w")
    // a retype of the OMITTED column must still fail: the door checks
    // the UNION of live footers, not just the newest segment (a pass
    // here would commit a segment that breaks every inferred read)
    val e1 = intercept[IllegalArgumentException] {
      ManifestStore.store(
        Seq((3L, "c", "high")).toDF("doc_id", "txt", "score"), table, "w")
    }
    assert(e1.getMessage.contains("'score'"), e1.getMessage)
    // case-variant retype: Spark resolves names case-insensitively by
    // default, so TXT BIGINT is a retype of txt STRING, not a new column
    val e2 = intercept[IllegalArgumentException] {
      ManifestStore.store(
        Seq((3L, 7L)).toDF("doc_id", "TXT"), table, "w")
    }
    assert(e2.getMessage.contains("TXT"), e2.getMessage)
    intercept[IllegalArgumentException] {
      ManifestStore.mergeCollection(spark, table, "w",
        Seq((3L, 7L)).toDF("doc_id", "TXT"), mergeSchema = true)
    }
    // same-family NARROWING fails the merge door: a DOUBLE batch into
    // the (implied float) table... model directly: long batch into an
    // int-typed column
    val t2 = tmp() + "/narrow"
    ManifestStore.store(Seq((1L, 5)).toDF("doc_id", "n"), t2, "w")
    val e3 = intercept[IllegalArgumentException] {
      ManifestStore.mergeCollection(spark, t2, "w",
        Seq((2L, 1L << 40)).toDF("doc_id", "n"), mergeSchema = true)
    }
    assert(e3.getMessage.contains("'n'"), e3.getMessage)
    // ...while the widening direction (int batch into a long column)
    // stays allowed (pinned in the sibling test via the int-key merge)
    // RETIRE + RECREATE: segment paths are reused after a
    // vacuumed-to-tombstone manifest retirement — the door must
    // validate the NEW lineage's schema, not the dead one's cached
    val t3 = tmp() + "/cycle"
    ManifestStore.store(Seq((1L, "x")).toDF("doc_id", "txt"), t3, "w")
    ManifestStore.deleteCollection(spark, t3, "w")
    ManifestStore.vacuum(spark, t3, minAgeMs = -1000L,
      tagMinAgeMs = -1000L)
    // recreate with a DIFFERENT (retyped) schema: legal — the old
    // lineage is gone; a stale cached seg-1 schema would false-reject
    ManifestStore.store(Seq((1L, 42L)).toDF("doc_id", "txt"), t3, "w")
    ManifestStore.store(Seq((2L, 43L)).toDF("doc_id", "txt"), t3, "w")
    assert(ManifestStore.readSinceInferred(spark, t3, "w", 0L)
      .select("txt").collect().map(_.getLong(0)).toSet == Set(42L, 43L))
  }

  test("pointer-log read amplification is BOUNDED: after one cold " +
      "pass, versionAtTime/history/resolve open only pointers they " +
      "have not seen — repeated time-travel resolution is O(new " +
      "pointers), not O(retained versions) per call") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.ptrcount.impl", classOf[CountingPtrFs].getName)
    val table = s"ptrcount://${tmp()}/t"
    def put(lo: Long, hi: Long): Unit = ManifestStore.store(
      spark.range(lo, hi).select(col("id").as("doc_id"),
        lit("v").as("txt")), table, "p")
    (0 until 5).foreach(i => put(i * 10L, i * 10L + 10L))
    ManifestStore.clearPtrCache() // start as a cold reader
    def counted[A](body: => A): (A, Long) = {
      CountingPtrFs.opens.set(0L)
      val a = body
      (a, CountingPtrFs.opens.get())
    }
    // the cold pass pays the 5 retained pointer bodies once
    val (inst, nCold) = counted(
      ManifestStore.history(spark, table, "p").collect()
        .map(r => r.getLong(0) -> r.getLong(6)).toMap)
    assert(nCold == 5L, s"cold history opened $nCold of 5 pointers")
    // every later resolution against the same log opens ZERO
    val (v1, n1) = counted(
      ManifestStore.versionAtTime(spark, table, "p", inst(3L)))
    assert(v1 == 3L && n1 == 0L, s"warm versionAtTime opened $n1")
    val (nH, n2) = counted(
      ManifestStore.history(spark, table, "p").count())
    assert(nH == 5L && n2 == 0L, s"warm history opened $n2")
    val (rows, n3) = counted(
      ManifestStore.readAsOfInferred(spark, table, "p", 2L).count())
    assert(rows == 20L && n3 == 0L, s"warm readAsOf opened $n3 pointers")
    // one NEW commit costs exactly the one new pointer body
    put(50L, 60L) // commit 6 — its own resolve reads only cached bodies
    val (v4, n4) = counted(
      ManifestStore.versionAtTime(spark, table, "p", Long.MaxValue / 2))
    assert(v4 == 6L && n4 == 1L,
      s"post-append resolution should read exactly the new pointer, got $n4")
    val (_, n5) = counted(
      ManifestStore.versionAtTime(spark, table, "p", inst(2L)))
    assert(n5 == 0L, s"the new pointer did not cache: $n5")
  }
}

/** [[GraftTestFs]] twin that lists one named file but fails its
  * content read — the exact observable state of a
  * [[graft.sources.ManifestStore.vacuum]] pruning the pointer between
  * a reader's directory listing and its pointer read (the one race
  * window single-pass resolution has). */
object RacingVacuumFs {
  @volatile var victim: String = _
}
class RacingVacuumFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vacrace:///")
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val v = RacingVacuumFs.victim
    if (v != null && p.getName == v)
      throw new java.io.FileNotFoundException(
        s"$p (vacuumed between listing and read)")
    super.open(p, bufferSize)
  }
}

/** [[GraftTestFs]] twin that counts pointer-body content opens — the
  * observable the pointer cache bounds (each open models one
  * small-object GET on an S3-class store). */
object CountingPtrFs {
  val opens = new java.util.concurrent.atomic.AtomicLong(0L)
}
class CountingPtrFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("ptrcount:///")
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (p.getName.startsWith("ptr-")) CountingPtrFs.opens.incrementAndGet()
    super.open(p, bufferSize)
  }
}

/** A local filesystem surfaced under a NON-default URI scheme
  * (`graftfs://`) — the standard Hadoop-test stand-in for an object
  * store: everything flows through the `FileSystem` API exactly as an
  * `s3a://` path would, with none of the default-scheme shortcuts. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
