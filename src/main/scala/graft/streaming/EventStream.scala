package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming faces of the engine's event operators.
  *
  * The reference has no streaming model at all — its "async" store is a
  * fire-and-forget goroutine with no ordering, delivery or status
  * guarantees (reference main.go:294-326). Here the same needs are
  * expressed as Structured Streaming jobs: exactly-once sinks, event-time
  * watermarks for bounded state, and typed stateful processing.
  *
  * Each streaming transform mirrors a batch operator in
  * [[graft.operators.Events]] (same grouping keys, same session gap), so
  * unit tests can replay a stream and hash-compare against the batch
  * answer — the streaming analogue of the DuckDB oracle.
  *
  * Scale posture: a windowed-aggregate stream shuffles once on
  * (window, key) with partial aggregation before the exchange;
  * watermarking bounds state to (windows in flight) x (keys); the
  * sessionizer keeps ONE small state object per active user and drops it
  * on timeout — at 100 TB/day the state store holds only live sessions,
  * not history.
  */
object EventStream {

  /** Typed event row — ts_us is event time in epoch micros (the engine's
    * cross-engine-stable timestamp representation, see operators.Events). */
  case class Event(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, value: Double)

  /** A live document-feed row for [[curateDocuments]]. */
  case class DocEvent(doc_id: Long, ts_us: Long, lang: String, text: String)

  /** Typed CDC change row for [[applyChanges]]: `seq` is the change
    * sequence (source LSN / commit timestamp), `_deleted` the delete
    * flag. */
  case class Change(doc_id: Long, txt: String, seq: Long,
      _deleted: Boolean)

  case class SessionState(start_us: Long, end_us: Long, n_events: Long)

  case class Session(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, duration_us: Long)

  val GapUs: Long = 30L * 60 * 1000000

  // ------------------------------------------------------------------
  // Windowed aggregation with watermark
  // ------------------------------------------------------------------

  /** Hourly tumbling-window counts per event type. With a 2-hour
    * watermark, state for a window is dropped once event time passes its
    * end + 2h; late events beyond that are discarded (defined behavior —
    * the reference would just interleave them arbitrarily). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // decimal partials, like the batch face: the sum is exact and
        // therefore identical regardless of micro-batch arrival order
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sessionization via the NATIVE streaming `session_window` aggregate —
    * the built-in face of [[sessionize]]: Spark's session-window state
    * store merges touching-or-overlapping windows and emits a session
    * when the watermark passes its end. Same boundary semantics as the
    * batch [[graft.operators.Events.sessionWindows]] (merge-on-touch:
    * an exactly-gap separation still MERGES; only strictly-greater
    * splits — pinned by the exactly-gap tests), so a replay
    * hash-compares against it. */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "30 minutes")
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("ws_us"),
        unix_micros(col("sw.end")).as("we_us"),
        col("n_events"))

  // ------------------------------------------------------------------
  // Stateful sessionization (flatMapGroupsWithState)
  // ------------------------------------------------------------------

  /** Gap-based sessionization over a stream: one state object per user;
    * a session closes (and is emitted) when the event-time watermark
    * passes its end + gap, which is exactly when no in-order event can
    * extend it. Mirrors operators.Events.sessionize. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "30 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed session end + gap: emit and drop
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start_us, s.end_us, s.n_events,
              s.end_us - s.start_us))
          } else {
            // flatMapGroupsWithState does NOT auto-drop rows behind the
            // watermark. Without this filter a beyond-watermark straggler
            // could extend a session backwards across a gap the batch face
            // would split — so drop them here, making "late events beyond
            // the watermark are discarded" actually true and batch-consistent.
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            // micro-batch arrival order is not event order: fold sorted
            val events = batch.filter(_.ts_us >= wmUs)
              .toSeq.sortBy(e => (e.ts_us, e.event_id))
            if (events.isEmpty) {
              // every event in this batch was beyond-watermark: leave the
              // state and its ALREADY-ARMED timeout untouched. Re-arming
              // here would call setTimeoutTimestamp with a stale end+gap
              // that the watermark may have passed — an
              // IllegalArgumentException that kills the query.
              Iterator.empty
            } else {
              var cur = state.getOption
              val closed = Seq.newBuilder[Session]
              events.foreach { e =>
                cur match {
                  case Some(s) if e.ts_us - s.end_us <= GapUs =>
                    // min on start too: a late-but-within-watermark event
                    // can extend the session BACKWARDS (batch parity)
                    cur = Some(SessionState(math.min(s.start_us, e.ts_us),
                      math.max(s.end_us, e.ts_us), s.n_events + 1))
                  case Some(s) =>
                    closed += Session(userId, s.start_us, s.end_us, s.n_events,
                      s.end_us - s.start_us)
                    cur = Some(SessionState(e.ts_us, e.ts_us, 1))
                  case None =>
                    cur = Some(SessionState(e.ts_us, e.ts_us, 1))
                }
              }
              cur.foreach { s =>
                state.update(s)
                // close when event time passes session end + gap; safe to
                // arm: events here are >= watermark, so end+gap > watermark
                state.setTimeoutTimestamp((s.end_us + GapUs) / 1000)
              }
              closed.result().iterator
            }
          }
      }
  }

  // ------------------------------------------------------------------
  // Streaming anomaly scoring (batch-derived robust stats)
  // ------------------------------------------------------------------

  /** Live robust-z anomaly flags over an event stream — the streaming
    * face of `ev_anomaly`: the per-type (median, MAD) relation is
    * BATCH-derived (`operators.Events.anomalyStatsOn` — rank
    * statistics need the corpus; a one-pass stream cannot compute a
    * median, the same batch-owns-state boundary as the domain-mix
    * quotas) and joins stream-static; scoring is the batch face's OWN
    * predicate (`Events.anomalyScore`), so the two can never drift.
    * STATELESS: no watermark, no state store — each event scores on
    * arrival, which is exactly what a monitoring alert wants. */
  def scoreAnomalies(events: DataFrame, stats: DataFrame,
      threshold: Double = graft.operators.Events.AnomalyThreshold): DataFrame = {
    val statsH =
      if (stats.count() <= graft.operators.Events.MaxAnomalyStatsRows)
        broadcast(stats) else stats
    events.join(statsH, "event_type")
      .withColumn("score", graft.operators.Events.anomalyScore)
      .where(abs(col("score")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("score"))
  }

  // ------------------------------------------------------------------
  // Stateful transition extraction (streaming face of ev_transition_matrix)
  // ------------------------------------------------------------------

  /** An emitted (from → to) step of one user's event path. */
  case class Transition(user_id: Long, from_type: String, to_type: String,
      from_us: Long, to_us: Long)

  /** Per-user transition state: the not-yet-sealed event buffer (event
    * time ≥ the watermark as of the last seal — only rows the watermark
    * still allows a predecessor to slip in front of) and the last
    * SEALED event, which is the `from` side of the next transition.
    * O(watermark-depth) buffer + O(1) tail per user. */
  case class TransBuf(ts_us: Long, event_id: Long, event_type: String)
  case class TransState(pending: Seq[TransBuf], last_ts: Long,
      last_id: Long, last_type: String, has_last: Boolean)

  /** Per-user event-path transitions over a live stream — the exact
    * streaming face of `operators.Events.transitionsOn` (replay ≡
    * batch, spec-pinned): downstream `groupBy(from_type, to_type)` is
    * the live transition matrix.
    *
    * Correctness under disorder: an event `e` is SEALED — its
    * (predecessor → e) transition emitted — only once the watermark
    * passes e's event time, because until then an in-watermark
    * straggler may still order between e and its predecessor and the
    * emitted edge would be wrong. Arrivals beyond the watermark are
    * dropped (the [[sessionize]] contract); buffered events are sorted
    * by the batch face's (ts_us, event_id) total order at every seal,
    * so micro-batch arrival order never shows. An event-time timeout
    * armed past the newest buffered row flushes the buffer as the
    * watermark advances; the sealed tail (one tiny row per user) stays
    * resident as the `from` of the user's next transition. */
  def transitions(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "30 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[TransState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(
            TransState(Seq.empty, 0L, 0L, "", has_last = false))
          val arrivals = batch.filter(_.ts_us >= wmUs)
            .map(e => TransBuf(e.ts_us, e.event_id, e.event_type)).toSeq
          val all = (prior.pending ++ arrivals)
            .sortBy(e => (e.ts_us, e.event_id))
          val (toSeal, keep) = all.partition(_.ts_us < wmUs)
          val out = Seq.newBuilder[Transition]
          var last = prior
          toSeal.foreach { e =>
            if (last.has_last)
              out += Transition(userId, last.last_type, e.event_type,
                last.last_ts, e.ts_us)
            last = TransState(Seq.empty, e.ts_us, e.event_id,
              e.event_type, has_last = true)
          }
          state.update(TransState(keep, last.last_ts, last.last_id,
            last.last_type, last.has_last))
          if (keep.nonEmpty)
            // strictly past the newest buffered row's event time (and
            // therefore past the current watermark, so arming is legal):
            // fires once the watermark clears the whole buffer
            state.setTimeoutTimestamp(keep.map(_.ts_us).max / 1000 + 1)
          out.result().iterator
      }
  }

  // ------------------------------------------------------------------
  // Stream-stream join with watermark-bounded state
  // ------------------------------------------------------------------

  /** Clicks joined to the purchase that followed within one hour, as two
    * live streams. Both sides carry watermarks and the join condition
    * bounds purchase time to [click, click + 1h], so Spark can expire
    * click state one hour past the watermark — without the bound the
    * join state grows forever. The batch analogue is an interval join. */
  def clickToPurchaseWithin1h(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withColumn("click_time", timestamp_micros(col("ts_us")))
      .withWatermark("click_time", "30 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("click_us"), col("click_time"))
    val p = purchases
      .withColumn("purchase_time", timestamp_micros(col("ts_us")))
      .withWatermark("purchase_time", "30 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_us").as("purchase_us"), col("purchase_time"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <= col("click_time") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("click_us"), col("purchase_us"))
  }

  /** LEFT OUTER stream-stream join: every click, with its within-1h
    * purchase when one exists, or nulls once the watermark proves none
    * can arrive. The outer side is exactly why the time bound + both
    * watermarks are mandatory here (not just an optimization): Spark
    * emits the null-extended row only when the click's join state
    * expires — an unbounded join could never prove absence. */
  def clickToPurchaseLeftOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withColumn("click_time", timestamp_micros(col("ts_us")))
      .withWatermark("click_time", "30 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("click_us"), col("click_time"))
    val p = purchases
      .withColumn("purchase_time", timestamp_micros(col("ts_us")))
      .withWatermark("purchase_time", "30 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_us").as("purchase_us"), col("purchase_time"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <= col("click_time") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("c_user").as("user_id"),
        col("click_us"), col("purchase_id"), col("purchase_us"))
  }

  // ------------------------------------------------------------------
  // Arbitrary state via transformWithState (Spark 4's successor to
  // flatMapGroupsWithState): a live distinct-cardinality sketch
  // ------------------------------------------------------------------

  /** One running-sketch update: `n_seen` (cumulative events for the
    * key) is strictly increasing, so the row with the max n_seen per
    * key IS the latest state — consumers need no sink-order assumption. */
  case class TypeDistinct(event_type: String, n_seen: Long, n_mins: Int,
      est: Double)

  /** Per-event-type RUNNING distinct-user estimate as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]]: state is the
    * KMV sketch's k smallest distinct user hashes — the SAME
    * [[graft.functions.SketchAggregate.push]]/
    * [[graft.functions.SketchAggregate.estimate]] primitives as the
    * batch aggregate, so batch/stream parity is structural. Updated per
    * micro-batch, current estimate emitted in Update mode — the live
    * dashboard twin of the batch sketch. State is O(k) longs per key
    * forever; an exact running distinct would grow with users. */
  class RunningKmvProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, TypeDistinct] {
    import org.apache.spark.sql.streaming.{TTLConfig, ValueState}
    @transient private var mins: ValueState[Array[Long]] = _
    @transient private var nSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      // native array/long encoders: compact fixed layout in the state
      // store, no java-serialization header per update
      mins = getHandle.getValueState[Array[Long]]("mins",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
      nSeen = getHandle.getValueState[Long]("n_seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeDistinct] = {
      import graft.functions.SketchAggregate
      val set = new java.util.TreeSet[java.lang.Long]()
      if (mins.exists()) mins.get().foreach(v => set.add(v))
      var n = if (nSeen.exists()) nSeen.get() else 0L
      rows.foreach { e =>
        SketchAggregate.push(set, EventStream.userHash(e.user_id), k)
        n += 1
      }
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      mins.update(out)
      nSeen.update(n)
      Iterator.single(TypeDistinct(key, n, set.size,
        SketchAggregate.estimate(set, k)))
    }
  }

  /** Deterministic user-id hash onto [0, P) for the KMV sketch (ids are
    * sequential; the sketch needs a uniform-ish key). */
  def userHash(userId: Long): Long = {
    val p = graft.functions.TextFunctions.HashMod
    (userId * 2654435761L % p + p) % p
  }

  /** Running distinct users per event type over a live stream — emits
    * the updated sketch estimate each micro-batch. Requires the RocksDB
    * state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`): transformWithState keeps
    * each state variable in its own column family, which the default
    * HDFS-backed provider does not support. */
  def runningDistinctUsers(events: Dataset[Event], k: Int = 128): Dataset[TypeDistinct] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new RunningKmvProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** LIVE count-min grid — the streaming face of
    * [[graft.operators.Events.cmsGrid]], and the degenerate-best case
    * of streaming-aggregate state: the aggregation key space is the
    * sketch's FIXED d×w cell grid, so the state store holds at most
    * d·w rows forever — no watermark, no TTL, no growth with the key
    * universe (the reason to sketch in the first place). Update-mode
    * emissions carry the current cell counts; a consumer estimates any
    * key as the min of its d cells, and because cells are
    * monotonically increasing counts, the max-n row per cell IS the
    * latest state regardless of sink order. Replay ≡ batch grid is
    * spec-pinned (cell-wise — the count-min merge algebra makes the
    * micro-batch cut invisible). */
  def cmsCells(events: DataFrame): DataFrame =
    graft.operators.Events.cmsGrid(events)

  /** Streaming PER-GROUP count-min grid — the live face of the batch
    * `ev_group_cms_topk` monitor: (group, depth, pos) counter cells
    * over a CONFIGURED group set, out-of-set groups clamped into the
    * `__other` catch-all ([[driftCells]]'s bounded-grid contract on
    * the group axis — a stream cannot budget-guard a data-dependent
    * group list, so the deployment configures its tenants). State is
    * ≤ (allowed+1)·d·w rows forever, no watermark; cells are monotone
    * counters merging by addition, so replay ≡ batch cell-for-cell
    * (spec-pinned). A consumer probes any key's estimate as the min
    * of its d cells within its group, exactly the batch face. */
  def groupCmsCells(events: DataFrame,
      allowed: Seq[String]): DataFrame =
    graft.operators.Events.groupCmsCellsConfigured(events, allowed)

  /** Streaming QUANTILE-SKETCH cells — [[cmsCells]]'s bounded-state
    * discipline applied to rank statistics: the aggregation key space
    * is the fixed grid over a CONFIGURED domain [lo, lo + B·w) (a
    * stream cannot derive min/max up front — production takes the
    * domain from the metric's spec, exactly as monitoring histograms
    * do; out-of-domain values CLAMP into the edge cells — below-lo
    * into bucket 0, at-or-above lo + B·w into bucket B−1 — rather
    * than being dropped or minting unbounded out-of-grid cells;
    * spec-pinned). State is ≤ B rows forever; cells are monotone counts
    * merging by addition, so the latest state per cell is the max-n
    * row regardless of sink order, replay ≡ batch grid
    * (spec-pinned), and a consumer interpolates any percentile from
    * the current cells ([[graft.operators.Events.sketchEstimate]]) —
    * the live p50/p99 dashboard the batch `ev_quantile_sketch`
    * validates offline. */
  def quantileSketchCells(values: DataFrame, c: String, lo: Long,
      w: Long,
      buckets: Long = graft.operators.Events.SketchBuckets): DataFrame =
    graft.operators.Events.quantileSketchCells(values, c, lo, w, buckets)

  /** Streaming DRIFT-HISTOGRAM cells — the live face of the batch
    * `ev_snapshot_drift` monitor: per-(event_type, bucket) value
    * counts on a CONFIGURED grid [vlo, vlo + B·w), out-of-domain
    * values clamped into the edge cells ([[quantileSketchCells]]'s
    * bounded-state contract — state is ≤ types×B rows forever, no
    * watermark, cells merge by addition so replay ≡ batch cell-for-
    * cell, spec-pinned). A consumer joins the live cells against a
    * persisted base version's cells through
    * [[graft.operators.Events.tvdOfHists]] to read the current
    * total-variation drift score — the alert a training-data ingest
    * watches continuously and validates offline against the
    * versioned-manifest batch face. */
  def driftCells(events: DataFrame, c: String, vlo: Double, w: Double,
      buckets: Long = graft.operators.Events.DriftBuckets): DataFrame =
    graft.operators.Events.driftCells(events, c, vlo, w, buckets)

  // ------------------------------------------------------------------
  // Streaming deduplication
  // ------------------------------------------------------------------

  /** Exactly-once event feed from an at-least-once source: duplicate
    * event_ids are dropped, and `dropDuplicatesWithinWatermark` lets the
    * dedup state expire once the watermark passes — bounded memory where
    * a plain dropDuplicates would hold every id ever seen. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CURATION — the corpus pipeline's first two stages run
    * against a live document feed instead of a parquet corpus:
    *
    *   1. the Gopher-style quality gate (all scan-side kernels —
    *      STATELESS on a stream, so it adds zero state store);
    *   2. canonical-key dedup: [[graft.operators.Dedup.canonicalKey]]
    *      + `dropDuplicatesWithinWatermark`, keeping the FIRST arrival
    *      per normalized key with state that EXPIRES at the watermark
    *      (bounded memory; a plain dropDuplicates would pin every key
    *      ever seen — the same trade as [[dedupEvents]]).
    *
    * Semantic note, documented deliberately: batch
    * [[graft.operators.Dedup.canonical]] keeps the MINIMUM doc_id per
    * key; the stream keeps the EARLIEST ARRIVAL. They agree whenever
    * arrival order follows doc_id (the replay≡batch spec pins exactly
    * that case); under out-of-order arrival first-wins is the only
    * semantics a one-pass stream can offer. */
  def curateDocuments(docs: DataFrame,
      minWords: Long = graft.operators.Pipeline.GateMinWords): DataFrame = {
    val ws = graft.functions.TextFunctions.words(col("text"))
    val st = graft.functions.TextHashExpressions.wordStats(ws)
    docs
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withColumn("n_words", st.getField("n_words"))
      .where(col("n_words") >= minWords)
      .withColumn("canon", graft.operators.Dedup.canonicalKey)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("canon")
      .select(col("doc_id"), col("lang"), col("n_words"), col("canon"))
  }

  /** [[curateDocuments]] with the domain-mixture acceptance stage
    * appended — the batch corpus pipeline's third stage
    * ([[graft.operators.Pipeline.domainMixDocsOn]]) run against a live
    * feed.
    *
    * BOUNDARY, documented deliberately: the per-domain quota histogram
    * is CORPUS-LEVEL state — it needs the complete per-domain counts —
    * which a one-pass stream cannot derive (any running estimate would
    * change earlier rows' acceptance retroactively). So quotas arrive
    * as a BATCH-derived static relation
    * ([[graft.operators.Pipeline.mixQuotasFor]] over the reference
    * corpus), joined stream-static into the feed — broadcast under the
    * same realized-cardinality gate as the batch resample (`lang` is
    * data; a dirty corpus can make the quota relation corpus-growing).
    * Acceptance itself is the SAME pure row predicate
    * ([[graft.operators.Pipeline.mixAccept]]), so for identical inputs
    * the stream and the batch pipeline keep identical doc sets — the
    * replay≡batch spec pins it. The stage is STATELESS on the stream
    * (the join is to a static side): no new state store beyond
    * [[curateDocuments]]'s dedup state. */
  def curateDocumentsMixed(docs: DataFrame, quotas: DataFrame,
      minWords: Long = graft.operators.Pipeline.GateMinWords): DataFrame = {
    import graft.operators.Pipeline
    val quotasHinted =
      if (quotas.count() <= Pipeline.MaxMixQuotaRows) broadcast(quotas)
      else quotas
    curateDocuments(docs, minWords)
      .withColumn("lang_key",
        coalesce(col("lang"), lit(Pipeline.LangNullSentinel)))
      .withColumn("hb", Pipeline.mixHashBucket)
      .join(quotasHinted, Seq("lang_key"))
      .where(Pipeline.mixAccept)
      .select(col("doc_id"), col("lang"), col("n_words"), col("canon"))
  }

  /** The COMPLETE streaming curation: [[curateDocumentsMixed]] (gate →
    * canonical dedup → domain mix) with the training-order shard
    * assignment appended — every stage of the batch
    * [[graft.operators.Pipeline.corpusPipelineOn]] that can run on a
    * one-pass stream, in the same order.
    *
    * The shard stage costs the stream NOTHING in state or shuffle:
    * (skey, shard) are [[graft.operators.Pipeline.shardCoords]] — pure
    * row properties of doc_id, the same single definition the batch
    * pipeline and the shard writer use — so a document's placement is
    * identical whether it arrived by replay, by batch, or by a later
    * backfill. What the stream deliberately does NOT do is the batch
    * output's global (shard, skey) ORDER: training order is a property
    * of the rows (sort-on-read / range-clustered shard write, see
    * [[graft.operators.Pipeline.shuffleShardsOn]]), not of arrival —
    * a stream sink appends each shard's rows and the order
    * materializes at read time. Quota derivation stays batch-owned
    * ([[curateDocumentsMixed]]'s documented corpus-state boundary). */
  def curateDocumentsSharded(docs: DataFrame, quotas: DataFrame,
      minWords: Long = graft.operators.Pipeline.GateMinWords): DataFrame =
    graft.operators.Pipeline
      .shardCoords(curateDocumentsMixed(docs, quotas, minWords))
      .select(col("doc_id"), col("lang"), col("shard"), col("skey"))

  /** Streaming NEAR-dup detection against the batch-built corpus index
    * — the streaming face of
    * [[graft.operators.Dedup.incrementalNearDups]], the check every
    * continuously-ingesting pipeline runs per arriving document:
    * "is this a near-duplicate of something already indexed?"
    * Emits one (new_id, corpus_id, jaccard) row per verified hit.
    *
    * Same boundary as the mix quotas: the corpus index (shingle sets +
    * MinHash band hashes, [[graft.operators.Dedup]]'s memoized
    * persisted relation) is BATCH-owned — at 100 TB it is a prebuilt
    * bucket-partitioned index, not something a stream can derive — and
    * joins in stream-static. The stream side is all pure projections
    * (the shingle/signature kernels), so the only state is the
    * watermark-expiring (new_id, corpus_id) dedup that collapses
    * multi-band collisions and at-least-once replays into exactly-once
    * pair emission. Jaccard verification is row-local on the candidate
    * (identical arithmetic to the batch operator, so replay ≡ batch is
    * bitwise on the jaccard column — the spec pins it). */
  def nearDupDocuments(docs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val c = Dedup.shingled(corpus)
    val cBands = c.select(col("doc_id").as("corpus_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cSets = c.select(col("doc_id").as("corpus_id"),
      col("shingle_hashes").as("sh_c"))
    val n = Dedup.shingledPlan(
        docs.withColumn("event_time", timestamp_micros(col("ts_us"))),
        keep = Seq("event_time"))
      .withWatermark("event_time", "1 hour")
    val cand = n
      .select(col("doc_id").as("new_id"), col("event_time"),
        col("shingle_hashes").as("sh_n"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
      .join(cBands, Seq("band_idx", "band_hash")) // stream-static
      .select(col("new_id"), col("corpus_id"), col("event_time"),
        col("sh_n"))
      .dropDuplicatesWithinWatermark("new_id", "corpus_id")
    val inter = size(array_intersect(col("sh_n"), col("sh_c"))).cast("long")
    cand.join(cSets, Seq("corpus_id")) // stream-static set fetch
      .select(col("new_id"), col("corpus_id"),
        (inter.cast("double") /
          (size(col("sh_n")) + size(col("sh_c")) - inter).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // Streaming ingest (the reference's async /store, made exactly-once)
  // ------------------------------------------------------------------

  /** Stream reference-format JSON store requests from a drop directory
    * into the [[graft.sources.ManifestStore]] chunk table — the streaming
    * analogue of the reference's async POST /store (main.go:294-326),
    * with the guarantees it lacks: checkpointed source offsets give
    * at-least-once delivery into foreachBatch, and each micro-batch
    * commits one pointer-gated segment per collection, tagged
    * `<ingest-id>-<batchId>` — on an at-least-once redelivery the tag
    * is already in the pointer log and the commit is skipped.
    * At-least-once + idempotent = effective exactly-once; completion is
    * observable via the query status instead of silently assumed.
    *
    * The ingest id lives IN the checkpoint directory (the Delta
    * txn-appId discipline): batch ids only identify a batch relative
    * to one checkpoint lineage, so a fresh checkpoint — whose batch 0
    * may carry entirely new input — must get a fresh id or its commits
    * would silently dedup against a dead stream's tags; restarting
    * from the SAME checkpoint reuses the id and replays dedup exactly.
    *
    * NULL collection_name rows land under the Hive default-partition
    * name (what Spark's partitionBy writes for a null partition value)
    * instead of NPE-ing the per-collection loop. The driver-side loop is
    * metadata-cardinality (the reference's /store is one collection
    * per request, main.go:25-29); the batch is pinned while both jobs
    * (distinct + per-collection writes) read it. */
  def ingestStoreRequests(spark: SparkSession, dropDir: String,
      tablePath: String, checkpoint: String): StreamingQuery = {
    import graft.sources.{DocumentStore, ManifestStore}
    val ingestId = ingestIdentity(spark, checkpoint)
    val docs = spark.readStream
      .schema(DocumentStore.storeRequestSchema)
      .json(dropDir)
      .select(
        coalesce(col("collection_name"), lit("__HIVE_DEFAULT_PARTITION__"))
          .as("collection"),
        explode(col("documents")).as("doc"))
      .withColumn("doc_id", expr("uuid()"))
    DocumentStore.flattenChunks(docs)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val colls = batch.select("collection").distinct()
            .collect().map(_.getString(0)).sorted
          colls.foreach { c =>
            ManifestStore.storeBatch(
              batch.where(col("collection") === c), tablePath, c,
              s"$ingestId-$batchId")
          }
        } finally batch.unpersist()
      }
      .start()
  }

  /** Streaming maintenance of the VERSIONED text index — documents
    * dropped as JSON become one tagged index commit per micro-batch
    * ([[graft.operators.TextAnalysis.refreshManifestTextIndex]]):
    * positional postings + the batch's additive stats and layout rows
    * land atomically, and an at-least-once redelivery finds its
    * `<ingest-id>-<batchId>` tag already in the pointer log and no-ops
    * — the [[ingestStoreRequests]] exactly-once contract applied to
    * index maintenance. Searches ([[graft.operators.TextAnalysis
    * .bm25StoredTopK]], the same probe the memoized faces use) run
    * against committed versions only; run
    * [[graft.operators.TextAnalysis.compactManifestTextIndex]] on a
    * maintenance cadence to restore bkt-clustered probe pruning over
    * the appended batch segments. */
  def maintainTextIndex(spark: SparkSession, dropDir: String,
      tablePath: String, checkpoint: String): StreamingQuery = {
    val ingestId = ingestIdentity(spark, checkpoint)
    graft.operators.TextAnalysis.initManifestTextIndex(spark, tablePath)
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .json(dropDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.TextAnalysis.refreshManifestTextIndex(
          batch, tablePath, s"$ingestId-$batchId"): Unit
      }
      .start()
  }

  /** Streaming maintenance of the VERSIONED IVF index — embedding rows
    * dropped as JSON become one tagged index commit per micro-batch
    * ([[graft.operators.Ann.refreshManifestIvfIndex]]): the FIRST
    * batch trains (its codebook rows land atomically with its assigned
    * vectors), every later batch is assigned by the STORED codebook —
    * faiss's train-then-add as a stream. An at-least-once redelivery
    * finds its `<ingest-id>-<batchId>` tag in the pointer log and
    * no-ops; run [[graft.operators.Ann.compactManifestIvfIndex]] on a
    * maintenance cadence to restore cent_id-clustered probe pruning.
    * The [[maintainTextIndex]] contract, applied to vectors. */
  def maintainIvfIndex(spark: SparkSession, dropDir: String,
      tablePath: String, checkpoint: String): StreamingQuery = {
    val ingestId = ingestIdentity(spark, checkpoint)
    graft.operators.Ann.initManifestIvfIndex(spark, tablePath)
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType))))
      .json(dropDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Ann.refreshManifestIvfIndex(
          batch, tablePath, s"$ingestId-$batchId"): Unit
      }
      .start()
  }

  /** Streaming maintenance of the VERSIONED binary-signature index —
    * embedding rows dropped as JSON become one tagged pure-append
    * commit per micro-batch ([[graft.operators.Ann
    * .refreshManifestBinaryIndex]]): signatures are per-row and
    * position-independent, so there is no training commit and no
    * layout row — the simplest instance of the
    * [[maintainTextIndex]]/[[maintainIvfIndex]] exactly-once contract.
    * An at-least-once redelivery finds its `<ingest-id>-<batchId>` tag
    * in the pointer log and no-ops. */
  def maintainBinaryIndex(spark: SparkSession, dropDir: String,
      tablePath: String, checkpoint: String): StreamingQuery = {
    val ingestId = ingestIdentity(spark, checkpoint)
    graft.operators.Ann.initManifestBinaryIndex(spark, tablePath)
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .json(dropDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Ann.refreshManifestBinaryIndex(
          batch, tablePath, s"$ingestId-$batchId"): Unit
      }
      .start()
  }

  /** Streaming maintenance of the VERSIONED PQ index — embedding rows
    * dropped as JSON become one tagged index commit per micro-batch
    * ([[graft.operators.Ann.refreshManifestPqIndex]]): the FIRST batch
    * trains (its codebook rows land atomically with its encoded
    * 80-bit codes), every later batch is encoded by the STORED
    * codebook — [[maintainIvfIndex]]'s faiss train-then-add contract
    * for the compressed tier. An at-least-once redelivery finds its
    * `<ingest-id>-<batchId>` tag in the pointer log and no-ops. */
  def maintainPqIndex(spark: SparkSession, dropDir: String,
      tablePath: String, checkpoint: String): StreamingQuery = {
    val ingestId = ingestIdentity(spark, checkpoint)
    graft.operators.Ann.initManifestPqIndex(spark, tablePath)
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType))))
      .json(dropDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Ann.refreshManifestPqIndex(
          batch, tablePath, s"$ingestId-$batchId"): Unit
      }
      .start()
  }

  /** Streaming DEAD-LETTER split of the data-quality gate
    * ([[graft.operators.Pipeline.quarantineOn]]'s stream face): every
    * arriving document violating a ROW-LOCAL rule is emitted with its
    * sorted pipe-joined reason string (the batch face's scalar output
    * shape) — the quarantine stream an ingest pipeline
    * writes aside instead of silently dropping. All rules here are
    * pure row projections (stateless, stream-safe, zero state-store
    * cost; replay ≡ batch trivially); the one batch rule that needs
    * retrospection — `key_duplicate` — is deliberately absent, because
    * duplicate handling on a stream is the stateful dedup stage
    * (`curateDocuments`), not a quality predicate. */
  def quarantineDocuments(docs: DataFrame): DataFrame = {
    val reasons = graft.operators.Pipeline.rowQualityReasons(None)
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        reasons.as("reason_list"))
      .where(size(col("reason_list")) > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_join(col("reason_list"), "|").as("reasons"))
  }

  /** Reduce a CDC change batch to the LATEST change per key — the
    * rank-and-take-latest step every change-capture apply needs before
    * merging (a batch may carry several versions of one key; applying
    * them all would upsert duplicates). Latest = max `seqCol`, ties
    * broken deletes-last-wins (a delete and an upsert sharing a
    * sequence resolve to the delete — the conservative reading of an
    * ambiguous feed), then the row itself is deterministic as long as
    * (key, seq, deleted) is unique in the feed. */
  def latestChangePerKey(batch: DataFrame, key: String, seqCol: String,
      deletedCol: String = "_deleted"): DataFrame = {
    val ord =
      if (batch.columns.contains(deletedCol))
        Seq(col(seqCol).desc_nulls_last,
          coalesce(col(deletedCol), lit(false)).desc)
      else Seq(col(seqCol).desc_nulls_last)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(ord: _*)
    batch.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", seqCol)
  }

  /** STREAMING CDC APPLY — the continuous `MERGE INTO` every
    * change-capture pipeline ends in: a stream of change rows (key,
    * payload, `seqCol` change sequence, optional `deletedCol` flag) is
    * applied to a manifest collection one atomic merge per
    * micro-batch. Each batch is first reduced to its latest change per
    * key ([[latestChangePerKey]]), then applied through
    * [[graft.sources.ManifestStore.mergeBatch]] under the
    * checkpoint-scoped tag `<ingest-id>-<batchId>` — an at-least-once
    * foreachBatch redelivery finds its tag in the pointer log and
    * skips, so the apply is effectively exactly-once; the zone-map
    * pruning inside the merge keeps each micro-batch's cost
    * proportional to its touched key range, not the table (the
    * 100 TB continuously-updated-corpus shape). */
  def applyChanges(changes: DataFrame, tablePath: String, c: String,
      checkpoint: String, key: String = "doc_id",
      seqCol: String = "seq", deletedCol: String = "_deleted",
      mergeSchema: Boolean = false): StreamingQuery = {
    import graft.sources.ManifestStore
    val spark = changes.sparkSession
    val ingestId = ingestIdentity(spark, checkpoint)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val latest = latestChangePerKey(batch, key, seqCol, deletedCol)
        ManifestStore.mergeBatch(latest.sparkSession, tablePath, c,
          latest, s"$ingestId-$batchId", key, deletedCol,
          mergeSchema): Unit
      }
      .start()
  }

  /** Read-or-create the stable ingest identity under the checkpoint
    * dir — same lifetime as the batch-id sequence it scopes. */
  private def ingestIdentity(spark: SparkSession, checkpoint: String): String = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idFile = new org.apache.hadoop.fs.Path(dir, "graft-ingest-id")
    if (fs.exists(idFile)) {
      val in = fs.open(idFile)
      try {
        val out = new java.io.ByteArrayOutputStream(64)
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, "UTF-8").trim
      } finally in.close()
    } else {
      val id = java.util.UUID.randomUUID().toString
      fs.mkdirs(dir)
      val out = fs.create(idFile, false)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      id
    }
  }
}
