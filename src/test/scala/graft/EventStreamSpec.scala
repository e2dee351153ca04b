package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Events, Pipeline}
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

/** Streaming transforms replayed over the fixture events must agree with
  * their batch faces — the streaming analogue of the DuckDB oracle. */
class EventStreamSpec extends SparkSpecBase {

  /** The durable-instant contract pinned on the STREAMING commit
    * paths: every streaming maintenance face commits through the
    * tagged storeBatch/mergeBatch door, so its pointer bodies must
    * carry strictly monotone `ts=` instants that survive mtime
    * corruption (the S3-class posture where mtimes are garbage or
    * frozen). Asserts both, then returns the per-collection version
    * lists so callers can additionally assert replay-stability around
    * a redelivery (same tag ⇒ no new version, no new instant). */
  private def durableInstantsOf(table: String)
      : Map[String, Seq[graft.sources.ManifestStore.VersionInfo]] = {
    import graft.sources.ManifestStore
    val colls = ManifestStore.listCollections(spark, table)
    assert(colls.nonEmpty, s"no collections under $table")
    val all = colls.map(c =>
      c -> ManifestStore.listVersions(spark, table, c)).toMap
    all.foreach { case (c, vs) =>
      assert(vs.nonEmpty, c)
      vs.sliding(2).foreach {
        case Seq(a, b) => assert(a.instantMs < b.instantMs,
          s"collection '$c': serialized streaming commits must stamp " +
            s"strictly monotone instants: $vs")
        case _ => ()
      }
    }
    // garbage EVERY pointer mtime, drop the process-local pointer
    // cache (mtime change forces re-reads anyway), re-list: the
    // instant axis must not move — it lives in the bodies, not the
    // store
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(s"$table/_manifest")
    fs.listStatus(manifest).filter(_.isDirectory).foreach { d =>
      fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith("ptr-"))
        .foreach(st => fs.setTimes(st.getPath, 7L, -1L))
    }
    ManifestStore.clearPtrCache()
    val after = colls.map(c =>
      c -> ManifestStore.listVersions(spark, table, c)).toMap
    assert(after == all,
      "streaming commit instants moved under mtime corruption — the " +
        "axis is reading the store, not the durable pointer bodies")
    all
  }

  private def fixtureEvents: Seq[Event] = {
    import org.apache.spark.sql.Row
    Events.load(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .collect()
      .map { r: Row =>
        Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))
      }.toSeq
  }

  test("streaming hourly counts == batch hourly windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      input.addData(fixtureEvents)
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select("ws_us", "event_type", "n_events", "sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val want = Events.hourlyWindows(spark, sf)
        .select("ws_us", "event_type", "n_events", "sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got == want) // incl. sum_value: decimal partials are exact
    } finally q.stop()
  }

  test("streaming sessionization closes the same sessions as batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents
    val sentinelUser = 999999L
    val maxTs = events.map(_.ts_us).max
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // sentinel far past every session's end + gap advances the watermark
      // so every real session times out and is emitted
      input.addData(Event(-1L, maxTs + 10L * EventStream.GapUs, sentinelUser, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions").as[Session].collect()
        .filter(_.user_id != sentinelUser)
        .map(s => (s.user_id, s.start_us, s.end_us, s.n_events))
        .toSet
      val want = Events.sessionize(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("native streaming session_window replay == batch sessionWindows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents
    val maxTs = events.map(_.ts_us).max
    val input = MemoryStream[Event]
    val q = EventStream.sessionWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      input.addData(Event(-1L, maxTs + 10L * EventStream.GapUs, 999999L, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("native_sessions")
        .where(col("user_id") =!= 999999L)
        .select("user_id", "ws_us", "we_us", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = Events.sessionWindows(spark, sf)
        .select("user_id", "ws_us", "we_us", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("sessionization is micro-batch-split invariant") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same fixture, but delivered as FOUR time-contiguous micro-batches
    // (so no event is beyond-watermark) — sessions spanning a batch
    // boundary must carry state across, yielding exactly the
    // single-batch replay's (== the batch face's) sessions
    val events = fixtureEvents.sortBy(e => (e.ts_us, e.event_id))
    val chunks = events.grouped((events.length + 3) / 4).toSeq
    val sentinelUser = 999999L
    val maxTs = events.map(_.ts_us).max
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("split_sessions")
      .outputMode("append").start()
    try {
      chunks.foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      input.addData(Event(-1L, maxTs + 10L * EventStream.GapUs, sentinelUser, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("split_sessions").as[Session].collect()
        .filter(_.user_id != sentinelUser)
        .map(s => (s.user_id, s.start_us, s.end_us, s.n_events))
        .toSet
      val want = Events.sessionize(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming exactly-gap separation merges in BOTH session faces") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1000L * 1000000
    // stateful sessionizer: <= gap merges (batch sessionize's > rule)
    val in1 = MemoryStream[Event]
    val q1 = EventStream.sessionize(in1.toDS())
      .writeStream.format("memory").queryName("gap_sessions")
      .outputMode("append").start()
    try {
      in1.addData(Event(1L, t0, 7L, "click", 0.0),
        Event(2L, t0 + EventStream.GapUs, 7L, "click", 0.0))
      q1.processAllAvailable()
      in1.addData(Event(-1L, t0 + 100L * EventStream.GapUs, 99L, "x", 0.0))
      q1.processAllAvailable()
      val s = spark.table("gap_sessions").as[Session].collect()
        .filter(_.user_id == 7L)
      assert(s.length == 1, "stateful sessionizer must merge at exactly-gap")
      assert(s.head.n_events == 2)
    } finally q1.stop()
    // native session_window: merge-on-touch gives the same single session
    val in2 = MemoryStream[Event]
    val q2 = EventStream.sessionWindowCounts(in2.toDF())
      .writeStream.format("memory").queryName("gap_native")
      .outputMode("append").start()
    try {
      in2.addData(Event(1L, t0, 7L, "click", 0.0),
        Event(2L, t0 + EventStream.GapUs, 7L, "click", 0.0))
      q2.processAllAvailable()
      in2.addData(Event(-1L, t0 + 100L * EventStream.GapUs, 99L, "x", 0.0))
      q2.processAllAvailable()
      val rows = spark.table("gap_native")
        .where(col("user_id") === 7L).collect()
      assert(rows.length == 1, "native session_window must merge at exactly-gap")
      assert(rows.head.getAs[Long]("n_events") == 2L)
      assert(rows.head.getAs[Long]("we_us") ==
        t0 + EventStream.GapUs + EventStream.GapUs) // end = last + gap
    } finally q2.stop()
  }

  test("out-of-order event within the watermark extends a session backwards") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    try {
      val t0 = 1000L * 1000000
      input.addData(Event(1L, t0, 7L, "click", 0.0))
      q.processAllAvailable()
      // arrives later but is OLDER than the session start (not late vs
      // the watermark): must merge and pull start_us back
      input.addData(Event(2L, t0 - 600L * 1000000, 7L, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(-1L, t0 + 100L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("ooo_sessions").as[Session].collect()
        .filter(_.user_id == 7L)
      assert(sessions.length == 1)
      assert(sessions.head.start_us == t0 - 600L * 1000000)
      assert(sessions.head.end_us == t0)
      assert(sessions.head.n_events == 2)
    } finally q.stop()
  }

  test("beyond-watermark event is dropped, never extends or opens a session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      val t0 = 5000000L * 1000000
      input.addData(Event(1L, t0, 7L, "click", 0.0))
      q.processAllAvailable()
      // advances the watermark far past t0 (and times out user 7's session)
      input.addData(Event(-1L, t0 + 100L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      // a straggler MILES behind the watermark: flatMapGroupsWithState
      // would happily hand it to the function — the function must drop it
      input.addData(Event(2L, t0 - 50L * EventStream.GapUs, 8L, "view", 0.0))
      q.processAllAvailable()
      // flush any state that (incorrectly) formed for user 8
      input.addData(Event(-2L, t0 + 300L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      val byUser = spark.table("late_sessions").as[Session].collect()
        .groupBy(_.user_id)
      assert(byUser.get(7L).map(_.length) == Some(1))
      assert(!byUser.contains(8L)) // dropped, not sessionized
    } finally q.stop()
  }

  test("straggler for an already-expired session neither crashes nor re-arms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("stale_sessions")
      .outputMode("append").start()
    try {
      val t0 = 8000000L * 1000000
      input.addData(Event(1L, t0, 7L, "click", 0.0))
      q.processAllAvailable()
      // sentinel pushes the watermark FAR past user 7's timeout
      input.addData(Event(-1L, t0 + 100L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      // straggler for user 7, beyond the watermark, while 7's armed
      // timeout is already in the past: must not re-arm the stale
      // timeout (setTimeoutTimestamp below the watermark throws and
      // kills the query) and must not resurrect the session
      input.addData(Event(2L, t0 + 1, 7L, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(-2L, t0 + 300L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val sevens = spark.table("stale_sessions").as[Session].collect()
        .filter(_.user_id == 7L)
      assert(sevens.length == 1)
      assert(sevens.head.n_events == 1) // the straggler was dropped
    } finally q.stop()
  }

  test("streaming anomaly scoring replay == batch ev_anomaly flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stats = Events.anomalyStatsOn(Events.load(spark, sf))
    val input = MemoryStream[Event]
    val q = EventStream.scoreAnomalies(input.toDF(), stats)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      input.addData(fixtureEvents)
      q.processAllAvailable()
      val all = spark.table("anomalies")
        .select("event_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val want = Events.anomaly(spark, sf)
        .select("event_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      // the stream emits EVERY flag; the batch report is its top-50
      // worst — the stream's top-50 must be exactly that set
      val top50 = all.sortBy { case (id, s) => (-math.abs(s), id) }
        .take(50).toSet
      assert(top50 == want)
      assert(want.subsetOf(all.toSet))
      assert(all.nonEmpty)
    } finally q.stop()
  }

  test("streaming transitions replay == batch transitionsOn (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents
    val sentinelUser = 999999L
    val maxTs = events.map(_.ts_us).max
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = EventStream.transitions(input.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      // shuffled arrival order: the seal-side sort must restore the
      // batch (ts_us, event_id) total order
      input.addData(new scala.util.Random(7).shuffle(events))
      q.processAllAvailable()
      // sentinel far in the future drives the watermark past every
      // buffered event so the whole path flushes
      input.addData(Event(-1L, maxTs + 100L * EventStream.GapUs,
        sentinelUser, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("transitions").as[EventStream.Transition]
        .collect().filter(_.user_id != sentinelUser)
        .map(t => (t.user_id, t.from_type, t.to_type, t.from_us, t.to_us))
        .sorted.toSeq
      val want = graft.operators.Events
        .transitionsOn(Events.load(spark, sf)).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("from_type"),
          r.getAs[String]("to_type"), r.getAs[Long]("from_us"),
          r.getAs[Long]("to_us")))
        .sorted.toSeq
      assert(got == want)
    } finally {
      q.stop()
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming transitions: beyond-watermark straggler is dropped, " +
      "within-watermark disorder is re-ordered before sealing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.transitions(input.toDS())
      .writeStream.format("memory").queryName("ooo_transitions")
      .outputMode("append").start()
    try {
      val t0 = 5000000L * 1000000
      // user 7's events arrive out of order, within the watermark
      input.addData(Event(2L, t0 + 1000000L, 7L, "cart", 0.0))
      input.addData(Event(1L, t0, 7L, "view", 0.0))
      q.processAllAvailable()
      // advance the watermark far past t0: seals (view -> cart)
      input.addData(Event(-1L, t0 + 100L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      // a straggler behind the watermark must NOT create an edge
      input.addData(Event(3L, t0 - 50L * EventStream.GapUs, 7L, "click", 0.0))
      input.addData(Event(-2L, t0 + 300L * EventStream.GapUs, 99L, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("ooo_transitions")
        .as[EventStream.Transition].collect().filter(_.user_id == 7L)
        .map(t => (t.from_type, t.to_type)).toSeq
      assert(got == Seq(("view", "cart")))
    } finally q.stop()
  }

  test("stream-stream join matches the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStream.clickToPurchaseWithin1h(
      clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData(events.filter(_.event_type == "click"))
      purchases.addData(events.filter(_.event_type == "purchase"))
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch reference: plain interval join on the same data
      val c = events.filter(_.event_type == "click")
      val p = events.filter(_.event_type == "purchase")
        .groupBy(_.user_id).withDefaultValue(Seq.empty[Event])
      val want = (for {
        click <- c
        purch <- p(click.user_id)
        if purch.ts_us >= click.ts_us &&
          purch.ts_us <= click.ts_us + 3600L * 1000000
      } yield (click.event_id, purch.event_id)).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched clicks after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStream.clickToPurchaseLeftOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("lo_join")
      .outputMode("append").start()
    try {
      val cEv = events.filter(_.event_type == "click")
      val pEv = events.filter(_.event_type == "purchase")
      clicks.addData(cEv)
      purchases.addData(pEv)
      q.processAllAvailable()
      // advance both watermarks far past every click + 1h so every
      // unmatched click's state expires and its null row is emitted
      val far = events.map(_.ts_us).max + 100L * EventStream.GapUs
      clicks.addData(Event(-1L, far, 999999L, "click", 0.0))
      purchases.addData(Event(-2L, far, 999999L, "purchase", 0.0))
      q.processAllAvailable()
      val got = spark.table("lo_join")
        .where(col("user_id") =!= 999999L)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // batch reference
      val pByUser = pEv.groupBy(_.user_id).withDefaultValue(Seq.empty)
      cEv.foreach { c =>
        val matches = pByUser(c.user_id).filter(p =>
          p.ts_us >= c.ts_us && p.ts_us <= c.ts_us + 3600L * 1000000)
          .map(p => Option(p.event_id)).toSet
        val want: Set[Option[Long]] = if (matches.isEmpty) Set(None) else matches
        assert(got.getOrElse(c.event_id, Set.empty) == want, s"click ${c.event_id}")
      }
    } finally q.stop()
  }

  test("streaming dedup drops replayed events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents.take(500)
    val input = MemoryStream[Event]
    val q = EventStream.dedupEvents(input.toDS().toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(events)
      input.addData(events.take(100)) // at-least-once replay
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.length == events.length)
      assert(ids.distinct.length == ids.length)
    } finally q.stop()
  }

  test("streaming curation: quality gate + canonical dedup ≡ batch " +
      "when arrival follows doc_id; replays and variants drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000L
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away to find some more interesting things to do today " +
      "with all of its many good friends in the warm green forest"
    val docs = Seq(
      EventStream.DocEvent(1L, t0, "en", good),
      EventStream.DocEvent(2L, t0 + 1, "en", "too short"),
      EventStream.DocEvent(3L, t0 + 2, "en", good.toUpperCase + "  extra"),
      EventStream.DocEvent(4L, t0 + 3, "en", good + " " + good))
    val input = MemoryStream[EventStream.DocEvent]
    val q = EventStream.curateDocuments(input.toDF())
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData(docs)
      input.addData(docs) // at-least-once replay of the whole feed
      q.processAllAvailable()
      val got = spark.table("curated").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      // 2 fails the gate; 3 collapses onto 1 (same 128-char canonical
      // prefix after case/space folding — and ALSO matches 4's, whose
      // doubled text shares the prefix); replays add nothing
      assert(got == Set(1L))
      // ≡ batch: same survivors as the batch gate + canonical keeper
      // (arrival order followed doc_id here, so first-wins = min-wins)
      val batchDocs = docs.toDF().select(col("doc_id"), col("lang"),
        col("text"))
      val ws = graft.functions.TextFunctions.words(col("text"))
      val gated = batchDocs.where(
        graft.functions.TextHashExpressions.wordStats(ws)
          .getField("n_words") >= 30L)
      val batch = Dedup.canonical(gated).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming curation + domain mix ≡ batch pipeline under RocksDB " +
      "(batch-derived quotas, stream-static broadcast join)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the real fixture corpus as an ordered feed (arrival follows
    // doc_id, so stream first-wins = batch min-wins)
    val t0 = 1700000000000000L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .sortBy(_.getAs[Long]("doc_id"))
      .map(r => EventStream.DocEvent(r.getAs[Long]("doc_id"),
        t0 + r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text"))).toSeq
    val minWords = 5L
    // batch side: gate -> canonical keepers -> quotas from SURVIVORS
    val batchDocs = docs.toDF()
    val ws = graft.functions.TextFunctions.words(col("text"))
    val gated = batchDocs.where(
      graft.functions.TextHashExpressions.wordStats(ws)
        .getField("n_words") >= minWords)
    val keepers = Dedup.canonical(gated).select("doc_id")
    val survivors = gated.join(keepers, "doc_id")
    val quotas = Pipeline.mixQuotasFor(survivors)
    val want = Pipeline.domainMixDocsOn(survivors).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(want.nonEmpty && want.size < docs.size) // the mix actually cut
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventStream.DocEvent]
    val q = EventStream.curateDocumentsMixed(input.toDF(), quotas, minWords)
      .writeStream.format("memory").queryName("curated_mixed")
      .outputMode("append").start()
    try {
      input.addData(docs)
      input.addData(docs.take(50)) // at-least-once replay adds nothing
      q.processAllAvailable()
      val got = spark.table("curated_mixed").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(got == want)
    } finally {
      q.stop()
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      Pipeline.releaseCaches()
    }
  }

  test("streaming gate+dedup+mix+shard ≡ batch pipeline under RocksDB " +
      "(shard coords are row properties — identical under replay)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .sortBy(_.getAs[Long]("doc_id"))
      .map(r => EventStream.DocEvent(r.getAs[Long]("doc_id"),
        t0 + r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text"))).toSeq
    val minWords = 5L
    // batch side: the full pipeline tail over the same gate
    val ws = graft.functions.TextFunctions.words(col("text"))
    val gated = docs.toDF().where(
      graft.functions.TextHashExpressions.wordStats(ws)
        .getField("n_words") >= minWords)
    val survivors = gated.join(Dedup.canonical(gated).select("doc_id"),
      "doc_id")
    val quotas = Pipeline.mixQuotasFor(survivors)
    val want = Pipeline.shuffleShardsOn(Pipeline.domainMixDocsOn(survivors))
      .select("doc_id", "shard", "skey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(want.map(_._2).size > 1) // more than one shard actually hit
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventStream.DocEvent]
    val q = EventStream.curateDocumentsSharded(input.toDF(), quotas, minWords)
      .writeStream.format("memory").queryName("curated_sharded")
      .outputMode("append").start()
    try {
      input.addData(docs)
      input.addData(docs.take(50)) // at-least-once replay adds nothing
      q.processAllAvailable()
      val got = spark.table("curated_sharded")
        .select("doc_id", "shard", "skey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == want)
    } finally {
      q.stop()
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      Pipeline.releaseCaches()
    }
  }

  test("streaming near-dup vs corpus index ≡ batch incrementalNearDups " +
      "under RocksDB (bitwise jaccard, replays collapse)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000L
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text")
    val corpus = all.where(col("doc_id") % 10 =!= 1)
    val feedRows = all.where(col("doc_id") % 10 === 1).collect()
      .sortBy(_.getAs[Long]("doc_id"))
      .map(r => EventStream.DocEvent(r.getAs[Long]("doc_id"),
        t0 + r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text"))).toSeq
    val want = Dedup.incrementalNearDups(corpus, feedRows.toDF()).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(want.nonEmpty, "fixture must contain cross-decile near-dups")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventStream.DocEvent]
    val q = EventStream.nearDupDocuments(input.toDF(), corpus)
      .writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").start()
    try {
      input.addData(feedRows)
      input.addData(feedRows) // full at-least-once replay adds nothing
      q.processAllAvailable()
      val got = spark.table("stream_neardup").collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("jaccard"))).toSet
      assert(got == want)
    } finally {
      q.stop()
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      Dedup.releaseCaches()
    }
  }

  test("transformWithState running KMV sketch converges to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = fixtureEvents
    val input = MemoryStream[Event]
    // transformWithState needs the RocksDB provider (multiple column
    // families); restore the default after the test
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // k = 8 << the fixture's distinct users, so the trim + (k-1)P/kth
    // estimate path runs for real (not just the exact-below-k branch)
    val k = 8
    val q = EventStream.runningDistinctUsers(input.toDS(), k)
      .toDF()
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    try {
      // feed in two micro-batches: the final update must equal the batch
      // sketch over ALL events (merge path exercised for real)
      val (first, rest) = events.splitAt(events.length / 2)
      input.addData(first)
      q.processAllAvailable()
      input.addData(rest)
      q.processAllAvailable()
      // latest update per key = max n_seen (strictly increasing), no
      // sink-order assumption
      val lastUpdate = spark.table("kmv_stream").collect()
        .groupBy(_.getAs[String]("event_type"))
        .view.mapValues(_.maxBy(_.getAs[Long]("n_seen")).getAs[Double]("est"))
        .toMap
      // batch reference: KmvSketchAgg over the SAME userHash values,
      // computed driver-side via the shared function
      import graft.functions.SketchAggregate.kmvSketch
      val batch = events.map(e => (e.event_type, EventStream.userHash(e.user_id)))
        .toDF("event_type", "hv")
        .groupBy("event_type")
        .agg(kmvSketch(col("hv"), k).as("sk"))
        .select(col("event_type"), col("sk.est"))
        .collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(lastUpdate == batch)
      // the estimate path genuinely engaged: below-k would equal n_mins
      assert(spark.table("kmv_stream").collect()
        .exists(r => r.getAs[Int]("n_mins") == k))
    } finally {
      q.stop()
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("stateful replay == batch under the RocksDB state-store provider") {
    // the scale state-store config (EventStream.runningDistinctUsers'
    // scaladoc): transformWithState already runs under RocksDB above —
    // this pins the OTHER stateful operators (flatMapGroupsWithState
    // sessionization, dedup-within-watermark) to the same provider, so
    // the replay≡batch contract is proven on the store a 100 TB
    // deployment would run, not just the default in-memory one
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = fixtureEvents
      val maxTs = events.map(_.ts_us).max
      // flatMapGroupsWithState sessionization: replay == batch
      val input = MemoryStream[Event]
      val q = EventStream.sessionize(input.toDS())
        .writeStream.format("memory").queryName("rocksdb_sessions")
        .outputMode("append").start()
      try {
        input.addData(events)
        q.processAllAvailable()
        input.addData(Event(-1L, maxTs + 10L * EventStream.GapUs, 999999L, "x", 0.0))
        q.processAllAvailable()
        val got = spark.table("rocksdb_sessions").as[Session].collect()
          .filter(_.user_id != 999999L)
          .map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet
        val want = Events.sessionize(spark, sf).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
            r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
        assert(got == want)
      } finally q.stop()
      // dedup-within-watermark: replayed events still dropped exactly
      val dedupIn = MemoryStream[Event]
      val dq = EventStream.dedupEvents(dedupIn.toDS().toDF())
        .writeStream.format("memory").queryName("rocksdb_dedup")
        .outputMode("append").start()
      try {
        val evs = events.take(500)
        dedupIn.addData(evs)
        dedupIn.addData(evs.take(100))
        dq.processAllAvailable()
        val ids = spark.table("rocksdb_dedup").select("event_id")
          .collect().map(_.getLong(0)).toSeq
        assert(ids.length == evs.length)
        assert(ids.distinct.length == ids.length)
      } finally dq.stop()
    } finally oldProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming ingest into the manifest store: committed, exactly-once shape") {
    import graft.sources.ManifestStore
    val drop = Files.createTempDirectory("graft_mdrop").toString
    val table = Files.createTempDirectory("graft_mstream").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_mckpt").toString
    val json =
      """{"collection_name":"s1","documents":[
        |{"text":"d","metadata":{"source":"s","name":"doc1"},
        | "chunks":[{"text":"c1","embedding":{"vector":[1.0,0.0]},
        |   "metadata":{"source":"cs","name":"cn"},"semantic_score":0.5},
        |  {"text":"c2","embedding":{"vector":[0.0,1.0]},
        |   "metadata":{"source":"cs","name":"cn"},"semantic_score":0.1}]}]}"""
        .stripMargin.replace("\n", "")
    Files.writeString(java.nio.file.Paths.get(s"$drop/req1.json"), json)
    val q = EventStream.ingestStoreRequests(spark, drop, table, ckpt)
    try q.processAllAvailable() finally q.stop()
    val stored = ManifestStore.read(spark, table)
    assert(stored.count() == 2)
    assert(stored.select("collection").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("s1"))
    assert(stored.where(col("chunk_idx") === 1).count() == 1)
    // the commit is pointer-gated and tagged with the checkpoint-scoped
    // ingest id: a manual redelivery of the same (id, batch) tag is a
    // no-op (the foreachBatch replay path), while a DIFFERENT ingest
    // id — a fresh checkpoint lineage — commits normally
    val id = {
      val p = java.nio.file.Paths.get(s"$ckpt/graft-ingest-id")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    }
    val chunks = ManifestStore.read(spark, table, Some("s1"))
    assert(!ManifestStore.storeBatch(chunks, table, "s1", s"$id-0"))
    assert(ManifestStore.read(spark, table).count() == 2)
    assert(ManifestStore.storeBatch(chunks, table, "s1", "other-lineage-0"))
    assert(ManifestStore.read(spark, table).count() == 4)
  }

  test("streaming CDC apply: per-batch latest-change merge, " +
      "exactly-once under the checkpoint-scoped tags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.ManifestStore
    val table = Files.createTempDirectory("graft_cdc").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_cdc_ckpt").toString
    ManifestStore.setZoneMapColumns(spark, table, Seq("doc_id"))
    def snap() = ManifestStore.readSinceInferred(spark, table, "docs", 0L)
      .select("doc_id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val input = MemoryStream[EventStream.Change]
    val q = EventStream.applyChanges(input.toDF(), table, "docs", ckpt)
    try {
      // one micro-batch carrying TWO versions of key 2: the apply must
      // rank-and-take-latest before merging, never upsert both
      input.addData(Seq(
        EventStream.Change(1L, "a", 1L, _deleted = false),
        EventStream.Change(2L, "b0", 1L, _deleted = false),
        EventStream.Change(2L, "b1", 2L, _deleted = false)))
      q.processAllAvailable()
      assert(snap() == Set((1L, "a"), (2L, "b1")))
      // next batch: upsert, delete, insert
      input.addData(Seq(
        EventStream.Change(1L, "A", 3L, _deleted = false),
        EventStream.Change(2L, "x", 3L, _deleted = true),
        EventStream.Change(3L, "c", 3L, _deleted = false)))
      q.processAllAvailable()
      assert(snap() == Set((1L, "A"), (3L, "c")))
    } finally q.stop()
    // streaming CDC merges inherit the DURABLE instant axis: strictly
    // monotone body stamps, mtime-independent
    val vsBefore = durableInstantsOf(table)
    // the foreachBatch replay path: redelivering under a recorded
    // lineage tag is a manifest no-op — the deleted key stays deleted
    val id = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/graft-ingest-id")), "UTF-8").trim
    assert(!ManifestStore.mergeBatch(spark, table, "docs",
      Seq((2L, "zombie", false)).toDF("doc_id", "txt", "_deleted"),
      s"$id-1"))
    assert(snap() == Set((1L, "A"), (3L, "c")))
    // replay-stable: the redelivered tag minted no version, no instant
    assert(durableInstantsOf(table) == vsBefore)
    // a fresh lineage applies normally — and stamps ABOVE the axis
    assert(ManifestStore.mergeBatch(spark, table, "docs",
      Seq((4L, "d", false)).toDF("doc_id", "txt", "_deleted"),
      "other-lineage-0"))
    assert(snap() == Set((1L, "A"), (3L, "c"), (4L, "d")))
    durableInstantsOf(table): Unit
  }

  test("streaming count-min grid across micro-batches == batch grid " +
      "cell-for-cell (bounded d*w state, no watermark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq.tabulate(40)(i => CmsEv(i.toLong % 7))
    val b2 = Seq.tabulate(25)(i => CmsEv(i.toLong % 3 + 100L))
    val input = MemoryStream[CmsEv]
    val q = EventStream.cmsCells(input.toDF())
      .writeStream.format("memory").queryName("cms_grid")
      .outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // cells are monotone counters: latest state = max n per cell
    val got = spark.table("cms_grid").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val want = graft.operators.Events.cmsGrid((b1 ++ b2).toDF()).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(want.nonEmpty && want.keySet.size <=
      graft.operators.Events.CmsDepth * graft.operators.Events.CmsWidth)
  }

  test("streaming per-group count-min grid across micro-batches == " +
      "batch grid cell-for-cell; out-of-configuration groups clamp " +
      "into the catch-all (bounded (allowed+1)*d*w state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val allowed = Seq("a", "b")
    // the "zz" tenant is NOT configured — it must fold into __other,
    // never mint its own state rows
    val b1 = Seq.tabulate(30)(i => GCmsEv("a", i.toLong % 5)) ++
      Seq.tabulate(12)(i => GCmsEv("zz", i.toLong % 2))
    val b2 = Seq.tabulate(20)(i => GCmsEv("b", i.toLong % 3 + 50L)) ++
      Seq.tabulate(8)(i => GCmsEv("zz", 7L))
    val input = MemoryStream[GCmsEv]
    val q = EventStream.groupCmsCells(input.toDF(), allowed)
      .writeStream.format("memory").queryName("gcms_grid")
      .outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // cells are monotone counters: latest state = max n per cell
    val got = spark.table("gcms_grid").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) ->
        r.getLong(3))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val want = Events.groupCmsCellsConfigured((b1 ++ b2).toDF(), allowed)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) ->
        r.getLong(3)).toMap
    assert(got == want && want.nonEmpty)
    val groups = want.keySet.map(_._1)
    assert(groups == Set("a", "b", Events.CmsOtherGroup))
    // a probed key's estimate from the streamed cells equals the batch
    // face's min-of-d-cells within its group, and never undercounts
    val posOf = Seq.tabulate(Events.CmsDepth)(j =>
      (((7L % graft.functions.TextFunctions.HashMod) * Events.CmsMult(j)
        + (j * 97L + 13L)) % graft.functions.TextFunctions.HashMod)
        & (Events.CmsWidth - 1L))
    val est = posOf.zipWithIndex
      .map { case (p, j) => want((Events.CmsOtherGroup, j, p)) }.min
    assert(est >= 8L) // true count of ("zz", 7) is 8
  }

  test("streaming quantile-sketch grid across micro-batches == batch " +
      "grid cell-for-cell (bounded <=B state, no watermark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq.tabulate(60)(i => CmsEv((i * 37L) % 500L))
    val b2 = Seq.tabulate(45)(i => CmsEv((i * 91L) % 500L + 200L))
    val (lo, w) = (0L, 50L) // configured domain, 14 live cells max
    val input = MemoryStream[CmsEv]
    val q = EventStream.quantileSketchCells(
        input.toDF().select(col("user_id").as("v")), "v", lo, w)
      .writeStream.format("memory").queryName("qs_grid")
      .outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // cells are monotone counters: latest state = max bn per cell
    val got = spark.table("qs_grid").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val all = (b1 ++ b2).map(_.user_id)
    val want = graft.operators.Events
      .quantileSketchCells(all.toDF("v"), "v", lo, w).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
    // ...and the percentile a consumer interpolates from the streamed
    // cells equals the batch sketch's estimate
    val cells = got.toSeq.sortBy(_._1)
    val k50 = (all.size.toLong * 50 + 99) / 100
    assert(graft.operators.Events.sketchEstimate(cells, lo, w, k50) ==
      graft.operators.Events.sketchEstimate(
        want.toSeq.sortBy(_._1), lo, w, k50))
  }

  test("streaming drift-histogram cells across micro-batches == batch " +
      "cells cell-for-cell; out-of-domain clamps; composed tvd bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // values straddle the configured domain [0, 16*10) on both sides
    val b1 = Seq.tabulate(50)(i => DriftEv("a", (i * 7.3) - 20.0)) ++
      Seq.tabulate(30)(i => DriftEv("b", i * 3.1))
    val b2 = Seq.tabulate(40)(i => DriftEv("a", (i * 11.7) % 250.0)) ++
      Seq.tabulate(20)(i => DriftEv("b", 170.0 + i))
    val (vlo, w) = (0.0, 10.0)
    val input = MemoryStream[DriftEv]
    val q = EventStream.driftCells(input.toDF(), "value", vlo, w)
      .writeStream.format("memory").queryName("drift_grid")
      .outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // cells are monotone counters: latest state = max n per cell
    val got = spark.table("drift_grid").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val want = Events.driftCells((b1 ++ b2).toDF(), "value", vlo, w)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == want && want.nonEmpty)
    // bounded state: every cell inside [0, B); clamped edges populated
    assert(want.keySet.forall { case (_, b) =>
      b >= 0 && b < Events.DriftBuckets })
    assert(want.keySet.exists(_._2 == 0L) &&
      want.keySet.exists(_._2 == Events.DriftBuckets - 1))
    // the consumer composition: live cells vs a base version's cells
    // through the shared exact-TVD tail — bounded, zero for identical
    val base = Events.driftCells(b1.toDF(), "value", vlo, w,
      countName = "n_b")
    val cur = Events.driftCells((b1 ++ b2).toDF(), "value", vlo, w,
      countName = "n_c")
    val tvd = Events.tvdOfHists(base, cur).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("tvd")).toMap
    assert(tvd.values.forall(v => v >= 0.0 && v <= 1.0))
    val same = Events.tvdOfHists(
      Events.driftCells(b1.toDF(), "value", vlo, w, countName = "n_b"),
      Events.driftCells(b1.toDF(), "value", vlo, w, countName = "n_c"))
      .collect().map(_.getAs[Double]("tvd"))
    assert(same.forall(_ == 0.0))
  }

  test("streaming quarantine (dead-letter split) == batch row-local " +
      "quarantine over the fixture corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = graft.Tables(spark, sf, "documents")
      .select("doc_id", "text", "lang", "n_chars")
    val rows = docsDf.collect().map(r => QDoc(
      Option(r.getAs[java.lang.Long]("doc_id")).map(_.toLong),
      r.getAs[String]("text"), r.getAs[String]("lang"),
      r.getAs[Long]("n_chars"))).toSeq
    val input = MemoryStream[QDoc]
    val q = EventStream.quarantineDocuments(input.toDF())
      .writeStream.format("memory").queryName("quar")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    def shape(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getString(3))).toSet
    val got = shape(spark.table("quar").collect())
    // fixture keys are unique, so the batch face's key_duplicate rule
    // never fires and the two faces must agree exactly
    val want = shape(graft.operators.Pipeline.quarantineOn(docsDf)
      .collect())
    assert(got == want)
    assert(got.nonEmpty) // the declared expectations catch real drift
  }

  test("streaming text-index maintenance: per-batch tagged commits, " +
      "replay no-op, search equals the batch-built ranking") {
    import graft.operators.TextAnalysis
    val drop = Files.createTempDirectory("graft_tidx_drop").toString
    val table = Files.createTempDirectory("graft_tidx_str").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_tidx_ckpt").toString
    def dropDocs(name: String, docs: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$drop/$name"),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n"))
    dropDocs("b1.json", Seq(
      1L -> "spark join merge engines", 2L -> "the quick brown fox",
      3L -> "spark spark spark"))
    val q = EventStream.maintainTextIndex(spark, drop, table, ckpt)
    try {
      q.processAllAvailable()
      dropDocs("b2.json", Seq(
        4L -> "merge strategies and join order", 5L -> "nothing relevant"))
      q.processAllAvailable()
    } finally q.stop()
    val suite = Seq(1L -> "spark", 1L -> "join", 2L -> "merge")
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rnk"))).toSeq
    val streamed = asTuples(
      TextAnalysis.bm25StoredTopK(spark, table, suite, 5))
    // equals a from-scratch batch index over the union of both drops
    import spark.implicits._
    val all = Seq(
      1L -> "spark join merge engines", 2L -> "the quick brown fox",
      3L -> "spark spark spark", 4L -> "merge strategies and join order",
      5L -> "nothing relevant").toDF("doc_id", "text")
    val expect = asTuples(TextAnalysis.bm25MultiOn(
      all, suite.toDF("query_id", "term"), 5))
    assert(streamed == expect)
    // streaming commits inherit the DURABLE instant axis: strictly
    // monotone body stamps, mtime-independent
    val vsBefore = durableInstantsOf(table)
    // replay of a committed (ingest-id, batch) tag is a no-op
    val id = {
      val p = java.nio.file.Paths.get(s"$ckpt/graft-ingest-id")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    }
    assert(!TextAnalysis.refreshManifestTextIndex(
      all.where(col("doc_id") <= 3), table, s"$id-0"))
    assert(asTuples(TextAnalysis.bm25StoredTopK(
      spark, table, suite, 5)) == expect)
    // replay-stable: the redelivered tag minted no version, no instant
    assert(durableInstantsOf(table) == vsBefore)
  }

  test("streaming IVF-index maintenance: the first batch trains, " +
      "deltas assign with the stored codebook, replay no-op, search " +
      "equals the scan face") {
    import graft.operators.Ann
    val drop = Files.createTempDirectory("graft_vidx_drop").toString
    val table = Files.createTempDirectory("graft_vidx_str").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vidx_ckpt").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val batchPred = col("vec_id") % 10 === 1 &&
      !col("vec_id").isin(Ann.CentroidIds: _*)
    // JSON float round-trip is exact: Jackson emits the shortest
    // representation that parses back to the identical float
    def dropJson(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$drop/$name"),
        df.toJSON.collect().mkString("\n")): Unit
    dropJson("b1.json", emb.where(!batchPred)) // training set: centroids
    val q = EventStream.maintainIvfIndex(spark, drop, table, ckpt)
    try {
      q.processAllAvailable()
      dropJson("b2.json", emb.where(batchPred))
      q.processAllAvailable()
    } finally q.stop()
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id"),
        r.getAs[Double]("similarity"))).toSeq
    val streamed = asTuples(Ann.ivfManifestTopK(spark, table))
    assert(streamed == asTuples(Ann.ivfTopK(emb)))
    // streaming commits inherit the DURABLE instant axis: strictly
    // monotone body stamps, mtime-independent
    val vsBefore = durableInstantsOf(table)
    // replay of a committed (ingest-id, batch) tag is a no-op
    val id = {
      val p = java.nio.file.Paths.get(s"$ckpt/graft-ingest-id")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    }
    assert(!Ann.refreshManifestIvfIndex(
      emb.where(!batchPred), table, s"$id-0"))
    assert(asTuples(Ann.ivfManifestTopK(spark, table)) == streamed)
    // replay-stable: the redelivered tag minted no version, no instant
    assert(durableInstantsOf(table) == vsBefore)
  }

  test("streaming PQ-index maintenance: the first batch trains, " +
      "deltas encode with the stored codebook, replay no-op, search " +
      "equals the scan face") {
    import graft.operators.Ann
    val drop = Files.createTempDirectory("graft_pidx_drop").toString
    val table = Files.createTempDirectory("graft_pidx_str").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_pidx_ckpt").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val batchPred = col("vec_id") % 10 === 1 &&
      !col("vec_id").isin(Ann.PqCentroidIds: _*)
    def dropJson(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$drop/$name"),
        df.toJSON.collect().mkString("\n")): Unit
    dropJson("b1.json", emb.where(!batchPred)) // training set: samples
    val q = EventStream.maintainPqIndex(spark, drop, table, ckpt)
    try {
      q.processAllAvailable()
      dropJson("b2.json", emb.where(batchPred))
      q.processAllAvailable()
    } finally q.stop()
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("pq_sim"),
        r.getAs[Double]("similarity"))).toSeq
    val streamed = asTuples(Ann.pqManifestTopK(spark, table, emb))
    assert(streamed == asTuples(Ann.pqTopK(emb)))
    // replay of a committed (ingest-id, batch) tag is a no-op
    val id = {
      val p = java.nio.file.Paths.get(s"$ckpt/graft-ingest-id")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    }
    assert(!Ann.refreshManifestPqIndex(
      emb.where(!batchPred), table, s"$id-0"))
    assert(asTuples(Ann.pqManifestTopK(spark, table, emb)) == streamed)
  }

  test("streaming binary-index maintenance: pure-append tagged " +
      "commits, replay no-op, search equals the scan face") {
    import graft.operators.Ann
    val drop = Files.createTempDirectory("graft_bidx_drop").toString
    val table = Files.createTempDirectory("graft_bidx_str").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_bidx_ckpt").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val batchPred = col("vec_id") % 10 === 1
    def dropJson(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$drop/$name"),
        df.select("vec_id", "embedding").toJSON.collect().mkString("\n")): Unit
    dropJson("b1.json", emb.where(!batchPred))
    val q = EventStream.maintainBinaryIndex(spark, drop, table, ckpt)
    try {
      q.processAllAvailable()
      dropJson("b2.json", emb.where(batchPred))
      q.processAllAvailable()
    } finally q.stop()
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("hamming"),
        r.getAs[Double]("similarity"))).toSeq
    val streamed = asTuples(Ann.binaryManifestTopK(spark, table, emb))
    assert(streamed == asTuples(Ann.binaryTopK(emb)))
    // two tagged commits landed (one pointer per micro-batch)
    assert(graft.sources.ManifestStore
      .currentSegments(spark, table, Ann.BinaryIndexCollection)
      .get.size == 2)
    // replay of a committed (ingest-id, batch) tag is a no-op
    val id = {
      val p = java.nio.file.Paths.get(s"$ckpt/graft-ingest-id")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    }
    assert(!Ann.refreshManifestBinaryIndex(
      emb.where(!batchPred), table, s"$id-0"))
    assert(asTuples(Ann.binaryManifestTopK(spark, table, emb)) == streamed)
  }
}

/** Typed quarantine-stream row (Option key: NULL keys must flow). */
case class QDoc(doc_id: Option[Long], text: String, lang: String,
    n_chars: Long)
/** Minimal typed row for the streaming count-min grid spec. */
case class CmsEv(user_id: Long)
case class GCmsEv(event_type: String, user_id: Long)
/** Typed row for the streaming drift-histogram spec. */
case class DriftEv(event_type: String, value: Double)
