package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.operators.Events

class EventsSpec extends SparkSpecBase {

  test("events load: ts normalizes to epoch-micros ts_us under any " +
      "physical layout") {
    val ev = Events.load(spark, sf)
    // contract 1: event_time is exactly timestamp_micros(ts_us)
    assert(ev.where(expr("unix_micros(event_time) != ts_us")).count() == 0)
    // contract 2: ts_us equals the epoch micros of ts for whatever
    // physical type the fixture ships. The LongType arm of Events.load
    // is now only reachable on legacy raw-nanos fixtures; current
    // fixtures carry timestamp[us] NTZ.
    val mismatched = ev.schema("ts").dataType match {
      case LongType => ev.where(expr("ts div 1000 != ts_us"))
      case TimestampNTZType | TimestampType =>
        ev.where(expr("unix_micros(cast(ts as timestamp)) != ts_us"))
      case other => fail(s"unsupported events.ts parquet type: $other")
    }
    assert(mismatched.count() == 0)
  }

  test("range scan: zone maps prune most segments, result equals the " +
      "raw filter") {
    val (path, lo, hi) = Events.manifestEventsTable(spark, sf)
    val w = (hi - lo) / Events.RangeSegs
    val kept = segsRead(graft.sources.ManifestStore.readRangeLong(
      spark, path, "events", lo + 3 * w, lo + 5 * w, "ts_us")).size
    val total = graft.sources.ManifestStore
      .currentSegments(spark, path, "events").get.size
    assert(total == Events.RangeSegs)
    // time-contiguous segments 3..4 intersect the range fully and 5
    // touches its upper bound; 0-2 and 6-7 must be SKIPPED
    assert(kept <= 3, s"kept=$kept of $total — zone maps did not prune")
    assert(kept >= 1)
    // end-to-end: the manifest-served aggregate equals the same
    // aggregate over the raw parquet filtered driver-side
    val got = Events.rangeScan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = Events.load(spark, sf)
      .where(col("ts_us").between(lo + 3 * w, lo + 5 * w))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    Events.releaseCaches()
  }

  test("point lookup: an absent id's blooms prune EVERY segment " +
      "(nothing listed or planned); present probes read a strict " +
      "subset and match the raw filter") {
    val (path, _, _) = Events.manifestEventsTable(spark, sf)
    val ids = Events.load(spark, sf)
      .agg(min("event_id"), max("event_id")).head
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    // definitely-absent key: every segment's bloom answers "not here"
    val absent = graft.sources.ManifestStore
      .readPointLong(spark, path, "events", -1L, "event_id")
    assert(absent.inputFiles.isEmpty,
      s"absent-key lookup planned files: ${absent.inputFiles.toSeq}")
    assert(absent.isEmpty)
    // a present key reads fewer segments than the log holds (the
    // fixture's ids correlate with time, so blooms discriminate)
    val seg = (f: Array[String]) =>
      f.flatMap(_.split('/').find(_.startsWith("seg="))).distinct
    val first = graft.sources.ManifestStore
      .readPointLong(spark, path, "events", lo, "event_id")
    assert(seg(first.inputFiles).length < Events.RangeSegs)
    assert(first.select("event_id").collect().map(_.getLong(0)).toSeq ==
      Seq(lo))
    // end-to-end vs the raw table
    val got = Events.pointLookup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val mid = lo + (hi - lo) / 2
    val want = Events.load(spark, sf)
      .where(col("event_id").isin(lo, hi, mid, -1L))
      .select(col("event_id"), col("user_id")).orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want && got.nonEmpty)
    Events.releaseCaches()
  }

  test("heavy hitters: exact relative cut at 1.25x the mean") {
    import spark.implicits._
    // users 1..9 at 10 events, user 10 at 110: mean 20, cut at 25
    val ev = ((1L to 9L).flatMap(u => Seq.fill(10)(u)) ++ Seq.fill(110)(10L))
      .toDF("user_id")
    val rows = Events.heavyHittersOn(ev).collect()
    assert(rows.map(_.getAs[Long]("user_id")).toSeq == Seq(10L))
    assert(rows.head.getAs[Long]("n_events") == 110L)
    assert(rows.head.getAs[Long]("n_total") == 200L)
    assert(rows.head.getAs[Double]("share") == 110.0 / 200.0)
  }

  test("heavy hitters: the cut survives count magnitudes that " +
      "overflow int64 (ANSI would abort the narrow product)") {
    import spark.implicits._
    // one bot owning 10^18 events: n_events · n_users · HeavyDen =
    // 1.6·10^19 > Long.MaxValue ≈ 9.2·10^18 — the pre-fix narrow
    // product aborts under ANSI; the decimal(38,0) path must not
    val perUser = Seq(
      (1L, 1000000000000000000L), // the bot
      (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("user_id", "n_events")
    val rows = Events.heavyCutOn(perUser).collect()
    assert(rows.map(_.getAs[Long]("user_id")).toSeq == Seq(1L))
    assert(rows.head.getAs[Long]("n_users") == 4L)
  }

  test("anomaly: robust z-scores find planted outliers, constant " +
      "streams yield none (mad=0 never divides)") {
    import spark.implicits._
    // metric stream: values 0..99 around median 49.5 (mad 25), two
    // planted spikes; a second type that never varies
    val ev = ((1L to 100L).map(i => (i, "m", (i - 1).toDouble)) ++
      Seq((101L, "m", 100000.0), (102L, "m", -100000.0)) ++
      (201L to 260L).map(i => (i, "flat", 7.0)))
      .toDF("event_id", "event_type", "value")
    val rows = Events.anomalyOn(ev).collect()
    // exactly the spikes: |0..99 − 49.5| / 25.25 ≤ 1.97 < 3.5
    assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(101L, 102L))
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("score")) > Events.AnomalyThreshold)
      assert(r.getAs[String]("event_type") == "m")
    }
    // worst-first output order
    val scores = rows.map(r => math.abs(r.getAs[Double]("score"))).toSeq
    assert(scores == scores.sortBy(-_))
    Events.releaseCaches()
  }

  test("hourly windows partition all events") {
    val agg = Events.hourlyWindows(spark, sf)
    val total = agg.agg(sum("n_events")).head.getLong(0)
    assert(total == Events.load(spark, sf).count())
    // window starts are hour-aligned epoch micros
    assert(agg.where(expr("ws_us % 3600000000 != 0")).count() == 0)
  }

  test("sessionization: gaps within session <= 30min, across sessions > 30min") {
    val sess = Events.sessionize(spark, sf).collect()
    sess.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("session_seq"))
      ordered.zip(ordered.drop(1)).foreach { case (a, b) =>
        // next session starts > 30 min after previous session's last event
        assert(b.getAs[Long]("start_us") - a.getAs[Long]("end_us") > 30L * 60 * 1000000)
      }
    }
    val total = sess.map(_.getAs[Long]("n_events")).sum
    assert(total == Events.load(spark, sf).count())
  }

  test("range count: interior segments served from sidecar counts, only " +
      "boundaries scanned, total exact") {
    val (path, lo, hi) = Events.manifestEventsTable(spark, sf)
    val w = (hi - lo) / 8
    val (n, nMeta, nScan, nPruned) = graft.sources.ManifestStore
      .countRangeLongPlanned(spark, path, "events",
        lo + 2 * w, lo + 6 * w, "ts_us")
    val exact = Events.load(spark, sf)
      .where(col("ts_us") >= lo + 2 * w && col("ts_us") <= lo + 6 * w)
      .count()
    assert(n == exact)
    // the interior segments never hit the scan path
    assert(nMeta >= 3, s"meta $nMeta scan $nScan pruned $nPruned")
    assert(nScan <= 2)
    assert(nMeta + nScan + nPruned == 8)
    // degenerate range: nothing intersects -> zero, zero scans
    val (z, zm, zs, zp) = graft.sources.ManifestStore
      .countRangeLongPlanned(spark, path, "events", hi + 10, hi + 20, "ts_us")
    assert(z == 0L && zm == 0 && zs == 0 && zp == 8)
  }

  test("incremental agg: base snapshot + change feed partition the log; " +
      "merged result equals the full recompute") {
    val full = Events.load(spark, sf)
    val got = Events.incrementalAgg(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    val want = full.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("s"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("s"))).toMap
    assert(got == want)
    // the change feed is a strict subset: the delta rows plus the
    // anchored snapshot partition the log (nothing dropped, nothing
    // double-counted)
    val (path, _, _) = Events.manifestEventsTable(spark, sf)
    val versions = graft.sources.ManifestStore
      .listVersions(spark, path, "events")
    val anchor = versions(versions.size / 2 - 1).ptrSeq
    val nBase = graft.sources.ManifestStore
      .readAsOfInferred(spark, path, "events", anchor).count()
    val nDelta = graft.sources.ManifestStore
      .readSinceInferred(spark, path, "events", anchor).count()
    assert(nBase > 0 && nDelta > 0)
    assert(nBase + nDelta == full.count())
  }

  test("transition matrix: rows normalize, mass equals per-user path steps") {
    val m = Events.transitionMatrix(spark, sf).collect()
    // per-from_type: counts sum to the row total and p is the exact ratio
    m.groupBy(_.getAs[String]("from_type")).foreach { case (_, rows) =>
      val nFrom = rows.head.getAs[Long]("n_from")
      assert(rows.map(_.getAs[Long]("n_trans")).sum == nFrom)
      rows.foreach { r =>
        assert(r.getAs[Double]("p") ==
          r.getAs[Long]("n_trans").toDouble / nFrom.toDouble)
      }
    }
    // total transition mass = sum over users of (events - 1)
    val expected = Events.load(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n")).agg(sum(col("n") - 1)).collect()(0).getLong(0)
    assert(m.map(_.getAs[Long]("n_trans")).sum == expected)
  }

  test("dau/wau: wau bounds dau, stickiness in (0,1], trailing window " +
      "equals an independent check on one day") {
    val rows = Events.dauWau(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("wau") >= r.getAs[Long]("dau"))
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
    // independent check of one day's trailing-7 distinct
    val d = rows.last.getAs[Long]("day")
    val want = Events.load(spark, sf)
      .where(expr("ts_us div 86400000000").between(d - 6, d))
      .select("user_id").distinct().count()
    assert(rows.last.getAs[Long]("wau") == want)
  }

  test("session transitions: mass equals per-session path steps, a " +
      "strict subset of the unbounded matrix") {
    val m = Events.sessionTransitionMatrix(spark, sf).collect()
    val total = m.map(_.getAs[Long]("n_trans")).sum
    // per-session steps: each session of n events contributes n-1 edges
    val expected = Events.sessionize(spark, sf)
      .agg(sum(col("n_events") - 1)).collect()(0).getLong(0)
    assert(total == expected)
    // bounded by the session-blind matrix (gap-crossing edges removed)
    val unbounded = Events.transitionMatrix(spark, sf).collect()
      .map(_.getAs[Long]("n_trans")).sum
    assert(total <= unbounded)
  }

  test("path top-k: descending counts, deterministic tiebreak, k rows") {
    val rows = Events.pathTopK(spark, sf).collect()
    assert(rows.length == 10)
    val keys = rows.map(r => (r.getAs[Long]("n"), r.getAs[String]("t0"),
      r.getAs[String]("t1"), r.getAs[String]("t2")))
    // (n desc, path asc) total order holds
    keys.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 > b._1 || (a._1 == b._1 &&
        (a._2, a._3, a._4).toString < (b._2, b._3, b._4).toString))
    }
    // the top path's count is bounded by the total trigram mass
    val total = Events.load(spark, sf).groupBy("user_id")
      .agg(greatest(count(lit(1)) - 2, lit(0L)).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(keys.map(_._1).sum <= total)
  }

  test("as-of join: purchase is latest at-or-before the click") {
    val ev = Events.load(spark, sf)
      .where(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "ts_us", "event_type").collect()
    val purchByUser = ev.filter(_.getAs[String]("event_type") == "purchase")
      .groupBy(_.getAs[Long]("user_id"))
    val rows = Events.asofClickPurchase(spark, sf).collect()
    assert(rows.length == ev.count(_.getAs[String]("event_type") == "click"))
    rows.foreach { r =>
      val user = r.getAs[Long]("user_id")
      val clickTs = r.getAs[Long]("click_ts")
      val best = purchByUser.getOrElse(user, Array.empty)
        .filter(_.getAs[Long]("ts_us") <= clickTs)
        .sortBy(p => (p.getAs[Long]("ts_us"), p.getAs[Long]("event_id")))
        .lastOption
      best match {
        case Some(p) =>
          assert(r.getAs[Long]("purchase_ts") == p.getAs[Long]("ts_us"))
          assert(r.getAs[Long]("gap_us") == clickTs - p.getAs[Long]("ts_us"))
        case None => assert(r.isNullAt(r.fieldIndex("purchase_id")))
      }
    }
  }

  test("bounded as-of: match kept iff within the window, else all-null") {
    val bound = 24L * 3600 * 1000000
    val base = Events.asofClickPurchase(spark, sf).collect()
      .map(r => r.getAs[Long]("click_id") ->
        (if (r.isNullAt(r.fieldIndex("gap_us"))) None
         else Some(r.getAs[Long]("gap_us")))).toMap
    val rows = Events.asofClickPurchaseBounded(spark, sf).collect()
    assert(rows.length == base.size)
    rows.foreach { r =>
      val inWindow = base(r.getAs[Long]("click_id")).exists(_ <= bound)
      assert(r.isNullAt(r.fieldIndex("purchase_id")) == !inWindow)
      assert(r.isNullAt(r.fieldIndex("purchase_ts")) == !inWindow)
      if (inWindow) assert(r.getAs[Long]("gap_us") <= bound)
    }
    // the fixture exercises BOTH branches
    assert(rows.exists(_.isNullAt(rows.head.fieldIndex("purchase_id"))))
    assert(rows.exists(!_.isNullAt(rows.head.fieldIndex("purchase_id"))))
  }

  test("funnel: strictly-ordered steps, window cap, pre-view clicks " +
      "never convert") {
    import spark.implicits._
    val W = Events.WeekUs
    val ev = Seq(
      // user 1: clean view -> click -> purchase = converts all 3 steps
      (1L, 10L, 101L, "view"), (1L, 20L, 102L, "click"),
      (1L, 30L, 103L, "purchase"),
      // user 2: click BEFORE the first view never counts; the purchase
      // then has no qualifying click to follow
      (2L, 10L, 201L, "click"), (2L, 20L, 202L, "view"),
      (2L, 30L, 203L, "purchase"),
      // user 3: purchase(15) sits before the click(20) -> steps 1-2 only
      (3L, 10L, 301L, "view"), (3L, 20L, 302L, "click"),
      (3L, 15L, 303L, "purchase"),
      // user 4: click past the one-week window -> step 1 only
      (4L, 10L, 401L, "view"), (4L, 10L + W + 1L, 402L, "click"),
      // user 5: click at the SAME microsecond as the view -> strict
      // "after" fails -> step 1 only
      (5L, 10L, 501L, "view"), (5L, 10L, 502L, "click"),
      // user 6: never viewed -> in no step's count
      (6L, 10L, 601L, "click"), (6L, 20L, 602L, "purchase")
    ).toDF("user_id", "ts_us", "event_id", "event_type")
    val got = Events.funnelOn(ev).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("step_name"),
        r.getAs[Long]("n_users"), r.getAs[Double]("conversion"))).toSeq
    assert(got == Seq((1, "view", 5L, 1.0), (2, "click", 2L, 0.4),
      (3, "purchase", 1L, 0.2)))
  }

  test("retention cohorts: first-week anchoring, distinct user-weeks, " +
      "offset-0 row defines the cohort size") {
    import spark.implicits._
    val W = Events.WeekUs
    def at(wk: Long, off: Long = 5L) = wk * W + off
    val ev = Seq(
      // user 1, cohort week 0, active weeks 0/1/3 — week 1 TWICE (the
      // distinct must collapse it)
      (1L, at(0)), (1L, at(1)), (1L, at(1, 99L)), (1L, at(3)),
      // user 2, cohort 0, active weeks 0/1
      (2L, at(0)), (2L, at(1)),
      // user 3, cohort 1, active weeks 1/3 (offset 2)
      (3L, at(1)), (3L, at(3))
    ).toDF("user_id", "ts_us")
    val got = Events.retentionCohortsOn(ev).collect()
      .map(r => (r.getAs[Long]("cohort_wk"), r.getAs[Long]("offset_wk"),
        r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"),
        r.getAs[Double]("retention"))).toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 2L, 2L, 1.0), (0L, 3L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0), (1L, 2L, 1L, 1L, 1.0)))
  }

  test("json props: k extracted for every event") {
    val rows = Events.jsonProps(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum == Events.load(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Int]("min_k") <= r.getAs[Int]("max_k"))
    }
  }

  test("count-min: estimates never undercount, are exact without " +
      "collisions, and the grid merges by cell-wise addition") {
    import spark.implicits._
    val rows = Events.cmsTopK(spark, sf).collect()
    assert(rows.length == Events.CmsTopK)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cms") >= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("n_cms") - r.getAs[Long]("n_exact"))
    }
    // few distinct keys vs 4096 cells: no collisions, estimate exact
    val tiny = Seq.tabulate(60)(i => i.toLong % 3)
      .toDF("user_id")
    val t = Events.cmsTopKOn(tiny).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_cms"))).toMap
    assert(t == Map(0L -> ((20L, 20L)), 1L -> ((20L, 20L)),
      2L -> ((20L, 20L))))
    // MERGEABILITY (the 100 TB contract): the grid over a union equals
    // the cell-wise SUM of per-slice grids — estimates from merged
    // partial sketches are identical to the single-pass sketch
    val half1 = Seq.fill(30)(7L).toDF("user_id")
    val half2 = (Seq.fill(12)(7L) ++ Seq.fill(40)(9L)).toDF("user_id")
    val whole = Events.cmsTopKOn(half1.union(half2)).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_cms")).toMap
    assert(whole(7L) == 42L && whole(9L) == 40L)
  }

  test("grouped count-min: per-group report is bounded and never " +
      "undercounts, grids merge by cell-wise addition, and the budget " +
      "guard fails loud before materializing") {
    import spark.implicits._
    val rows = Events.groupCmsTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.length <= Events.GroupCmsTopK)
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq ==
        (1 to rs.length).toSeq)
      // rank order = exact-count order (ties by user_id)
      val byRnk = rs.sortBy(_.getAs[Int]("rnk"))
        .map(r => (r.getAs[Long]("n_exact"), r.getAs[Long]("user_id")))
      assert(byRnk.sortBy { case (n, u) => (-n, u) }.toSeq == byRnk.toSeq)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cms") >= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("n_cms") - r.getAs[Long]("n_exact"))
    }
    // MERGEABILITY per group: the grouped grid over a union equals the
    // cell-wise SUM of per-slice grouped grids
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      Events.groupCmsGrid(df).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) ->
          r.getAs[Long]("n")).toMap
    val s1 = (Seq.fill(5)(("a", 7L)) ++ Seq.fill(3)(("b", 9L)))
      .toDF("event_type", "user_id")
    val s2 = (Seq.fill(2)(("a", 7L)) ++ Seq.fill(4)(("a", 9L)))
      .toDF("event_type", "user_id")
    val (c1, c2, cu) = (cellsOf(s1), cellsOf(s2), cellsOf(s1.union(s2)))
    assert(cu == (c1.keySet ++ c2.keySet).map(k =>
      k -> (c1.getOrElse(k, 0L) + c2.getOrElse(k, 0L))).toMap)
    // budget guard: more groups than budget/(d·w) allows must fail
    // loud (LIMITed fetch — the driver never holds the overage)
    val many = (0 until 8).map(i => (s"g$i", i.toLong))
      .toDF("event_type", "user_id")
    val e = intercept[IllegalArgumentException] {
      Events.groupCmsTopKOn(many,
        budget = Events.CmsDepth.toLong * Events.CmsWidth * 4)
    }
    assert(e.getMessage.contains("over budget"), e.getMessage)
  }

  test("salted dim join: negative and null event_ids keep their dim " +
      "partner (pmod salts, coalesced null) — salted == unsalted") {
    import spark.implicits._
    val ev = Seq(
      (Some(-3L), "a", Some(10.0)), (Some(-11L), "a", Some(2.0)),
      (Option.empty[Long], "a", Some(30.0)), (Some(5L), "b", Some(4.0)),
      (Some(7L), "b", Some(6.0)), (Some(-1L), "b", Some(20.0)))
      .toDF("event_id", "event_type", "value")
    val got = Events.saltedDimJoinOn(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // unsalted truth: a: 3 events, 1 above mean 14; b: 3 events, 1
    // above mean 10
    assert(got == Seq(("a", 3L, 1L), ("b", 3L, 1L)), got.toString)
  }

  test("value-range scan: 'd' zone maps prune the out-of-band value " +
      "segments and the connector face equals the imperative read") {
    val (path, lo, hi) = Events.valueEventsTable(spark, sf)
    val w = (hi - lo) / Events.ValueSegs
    val kept = segsRead(graft.sources.ManifestStore
      .readRangeDouble(spark, path, "events",
        lo + w * 2, lo + w * 4, "value")).size
    val total = graft.sources.ManifestStore
      .currentSegments(spark, path, "events").get.size
    // both middle bands survive (they hold the matches); the inclusive
    // probe may also touch band 4's exact floor — never more
    assert(kept >= 2 && kept <= 3 && kept < total, s"$kept/$total")
    val got = Events.valueRangeScan(spark, sf).collect()
    assert(got.nonEmpty)
    val viaApi = graft.sources.ManifestStore
      .readRangeDouble(spark, path, "events",
        lo + w * 2, lo + w * 4, "value")
      .where(col("value") < lo + w * 4)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .orderBy("event_type").collect()
    assert(got.map(_.toSeq.toList).toList ==
      viaApi.map(_.toSeq.toList).toList)
    // the count twin's serving split: the two fully-covered middle
    // bands serve from metadata, the out-of-band segments prune, and
    // the total equals a direct recompute
    val (n, nMeta, nScan, nPruned) = graft.sources.ManifestStore
      .countRangeDoublePlanned(spark, path, "events",
        lo + w * 2, lo + w * 4, "value")
    assert(nMeta >= 2, s"meta=$nMeta scan=$nScan pruned=$nPruned")
    assert(nPruned >= 2, s"meta=$nMeta scan=$nScan pruned=$nPruned")
    assert(nMeta + nScan + nPruned == total)
    val direct = Events.load(spark, sf)
      .where(col("value").between(lo + w * 2, lo + w * 4)).count()
    assert(n == direct)
  }

  test("version-diff scenario: the pointer log reads back as " +
      "create/rewrite/restore, and the two diffs are exact inverses") {
    val (path, v1, v2, v3) = Events.diffScenarioTable(spark, sf)
    val ops = graft.sources.ManifestStore.history(spark, path, "diff")
      .orderBy("ptr_seq").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(ops.toSeq == Seq(v1 -> "create", v2 -> "rewrite",
      v3 -> "restore"), ops.toSeq)
    val d12 = Events.versionDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val d23 = Events.restoreDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d12.keySet == d23.keySet)
    val inverse = Map("inserted" -> "deleted", "deleted" -> "inserted",
      "updated" -> "updated")
    assert(d12.forall { case (k, ct) => d23(k) == inverse(ct) })
    // and the restore leaves the live state bit-equal to v1
    val now = graft.sources.ManifestStore
      .readSinceInferred(spark, path, "diff", 0L).drop("collection")
    val at1 = graft.sources.ManifestStore
      .readAsOfInferred(spark, path, "diff", v1).drop("collection")
    assert(now.exceptAll(at1).isEmpty && at1.exceptAll(now).isEmpty)
  }

  test("the declared DESCRIBE HISTORY face (ev_history_ops): ops and " +
      "cumulative counts equal a raw recompute; the durable-instant " +
      "monotonicity require is live") {
    val got = Events.historyOps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSeq
    assert(got.size == Events.RangeSegs)
    assert(got.head._2 == "create" && got.tail.forall(_._2 == "append"))
    assert(got.map(_._3) == (1 to Events.RangeSegs))
    // cumulative counts equal the slice-prefix recompute on raw data
    val (_, lo, hi) = Events.manifestEventsTable(spark, sf)
    val w = (hi - lo) / Events.RangeSegs
    val ev = Events.load(spark, sf).where(col("ts_us").isNotNull)
    val expect = (1 to Events.RangeSegs).map { k =>
      if (k == Events.RangeSegs) ev.count()
      else ev.where(col("ts_us") <= lo + k * w - 1).count()
    }
    assert(got.map(_._4) == expect, got.toString)
    // counts strictly grow (every fixture slice is non-empty) and the
    // face did not throw — the in-query strict-instant require passed
    // on this filesystem's pointer log
    assert(got.map(_._4) == got.map(_._4).sorted &&
      got.map(_._4).distinct == got.map(_._4))
  }

  test("historyOps' pre-upgrade fallback: stripping every rows: " +
      "sidecar token degrades to per-version snapshot scans with " +
      "IDENTICAL rows (bounded by retained versions)") {
    import spark.implicits._
    val table = java.nio.file.Files
      .createTempDirectory("graft_hops").toString + "/t"
    graft.sources.ManifestStore.setZoneMapColumns(spark, table,
      Seq("doc_id"))
    def put(lo: Long, hi: Long): Unit = graft.sources.ManifestStore.store(
      spark.range(lo, hi).select(col("id").as("doc_id"),
        lit("v").as("txt")), table, "h")
    put(0L, 10L); put(10L, 25L); put(25L, 30L)
    def face() = Events.historyOpsOn(spark, table, "h").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSeq
    val served = face()
    assert(served.map(_._4) == Seq(10L, 25L, 30L), served)
    // strip the rows: token from EVERY sidecar — the pre-token shape
    // (zone-map entries survive; only the total-row token is gone)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$table/_manifest/h")
    val stats = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("stats-"))
    assert(stats.size == 3, stats.map(_.getPath.getName))
    stats.foreach { st =>
      val in = fs.open(st.getPath)
      val content = try scala.io.Source
        .fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(content.contains("rows:"), content)
      val stripped = content.replaceAll("rows:\\d+;", "")
      assert(!stripped.contains("rows:") && stripped.startsWith("zm:") &&
        stripped.endsWith(";end"), stripped)
      val out = fs.create(st.getPath, true)
      try out.write(stripped.getBytes("UTF-8")) finally out.close()
    }
    // the fallback path returns the SAME rows — per-version snapshot
    // scans instead of sidecar sums, one scan per retained version
    assert(face() == served)
  }

  test("exact quantiles: histogram-narrowing loop forced by a tiny " +
      "selection cap is bit-identical to the direct-selection fast path") {
    import spark.implicits._
    val vals = Events.load(spark, sf)
      .select(col("ts_us")).where(col("ts_us").isNotNull)
    val fast = Events.exactQuantilesOn(vals, "ts_us").collect().toSeq
    // cap=1 and a narrow histogram make EVERY resolution go through
    // repeated interval narrowing (the fixtures are all under the
    // production cap, so nothing else exercises the loop)
    val loop = Events.exactQuantilesOn(vals, "ts_us",
      selectCap = 1L, buckets = 16L).collect().toSeq
    assert(fast == loop)
    assert(fast.size == Events.QuantilePcts.size)
    // sanity of the order-statistic contract: exactly k-1 values below
    // the answer is not required (ties), but AT LEAST n-k at-or-above
    // and k at-or-below always hold
    val n = vals.count()
    fast.foreach { r =>
      val (k, v) = (r.getLong(1), r.getLong(2))
      assert(vals.where(col("ts_us") <= v).count() >= k)
      assert(vals.where(col("ts_us") < v).count() < k)
    }
  }

  test("grouped exact quantiles: loop ≡ fast path, all-identical " +
      "groups pinch, and duplicate-heavy data resolves") {
    import spark.implicits._
    val df = Seq.tabulate(500)(i => ("a", (i % 7).toLong)) // heavy ties
      .++(Seq.fill(40)(("b", 42L)))                        // constant group
      .++(Seq.tabulate(100)(i => ("c", i.toLong * 1000001L))) // wide range
      .toDF("g", "v")
    val fast = Events.groupQuantilesOn(df, "g", "v").collect().toSeq
    val loop = Events.groupQuantilesOn(df, "g", "v",
      selectCap = 1L, buckets = 4L).collect().toSeq
    assert(fast == loop)
    // group b: every pct answers 42 via the pinch arm
    assert(fast.filter(_.getString(0) == "b").forall(_.getLong(3) == 42L))
    // group a: p50 of 500 values cycling 0..6 → k=250 → value 3
    val a50 = fast.find(r => r.getString(0) == "a" && r.getInt(1) == 50).get
    assert(a50.getLong(3) == 3L)
    // the real-fixture grouped face agrees with per-group scalar runs
    val ev = Events.load(spark, sf)
      .select(col("event_type"), col("ts_us"))
      .where(col("ts_us").isNotNull && col("event_type").isNotNull)
    val grouped = Events.groupQuantilesOn(ev, "event_type", "ts_us")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    val types = ev.select("event_type").distinct().as[String].collect()
    types.foreach { t =>
      val one = Events.exactQuantilesOn(
        ev.where(col("event_type") === t).select("ts_us"), "ts_us")
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      Events.QuantilePcts.foreach { p =>
        assert(grouped((t, p)) == one(p), s"group $t p$p") }
    }
  }

  test("grouped exact quantiles budget-guard the SEED collect: a " +
      "high-cardinality group column fails loud through the LIMITed " +
      "bounds fetch, never a full per-group materialize") {
    import spark.implicits._
    // 8 groups at 3 targets each over budget 9 (maxGroups = 3) —
    // must fail BEFORE the driver holds 8 bound rows
    val many = Seq.tabulate(8)(i => (s"g$i", i.toLong)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Events.groupQuantilesOn(many, "g", "v",
        cellBudget = 3L * Events.QuantilePcts.size)
    }
    assert(e.getMessage.contains("over budget"), e.getMessage)
    // the weighted face shares the guard (same core)
    val ew = intercept[IllegalArgumentException] {
      Events.groupWeightedQuantilesOn(
        many.withColumn("w", lit(1L)), "g", "v", "w",
        cellBudget = 3L * Events.QuantilePcts.size)
    }
    assert(ew.getMessage.contains("over budget"), ew.getMessage)
    // ...and on the real fixture: every ts its own group trips the
    // budget (the sketch face's spec, applied to the exact protocol)
    val hi = Events.load(spark, sf)
      .select(col("ts_us").cast("string").as("g"), col("ts_us"))
      .where(col("ts_us").isNotNull)
    val eh = intercept[IllegalArgumentException] {
      Events.groupQuantilesOn(hi, "g", "ts_us", cellBudget = 64L)
    }
    assert(eh.getMessage.contains("over budget"), eh.getMessage)
    // under-budget runs are untouched by the guard
    val ok = Events.groupQuantilesOn(many, "g", "v",
      cellBudget = 8L * Events.QuantilePcts.size).collect()
    assert(ok.length == 8 * Events.QuantilePcts.size)
    assert(ok.forall(r => r.getLong(3) == r.getString(0).drop(1).toLong))
  }

  test("grouped quantile sketch == per-group scalar sketch, bitwise " +
      "(each group grids its own domain)") {
    val ev = Events.load(spark, sf)
      .select(col("event_type"), col("ts_us"))
      .where(col("ts_us").isNotNull && col("event_type").isNotNull)
    val grouped = Events.groupQuantileSketchOn(ev, "event_type", "ts_us")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val types = grouped.keys.map(_._1).toSeq.distinct
    assert(types.size > 1, "fixture must have several event types")
    types.foreach { t =>
      val one = Events.quantileSketchOn(
        ev.where(col("event_type") === t).select("ts_us"), "ts_us")
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toMap
      Events.QuantilePcts.foreach { p =>
        assert(grouped((t, p)) == one(p), s"group $t p$p") }
    }
    // the budget guard fails loud instead of collecting unboundedly
    intercept[IllegalArgumentException] {
      Events.groupQuantileSketchOn(ev, "event_type", "ts_us",
        buckets = Events.QuantileDriverCellBudget)
    }
    // ...and it fires BEFORE any unbounded driver collect: a
    // high-cardinality group column (every ts a group) trips the
    // budget through the LIMITed bounds fetch (budget/buckets + 1
    // rows max on the driver), never a full per-group materialize
    val hi = Events.load(spark, sf)
      .select(col("ts_us").cast("string").as("g"), col("ts_us"))
      .where(col("ts_us").isNotNull)
    val e = intercept[IllegalArgumentException] {
      Events.groupQuantileSketchOn(hi, "g", "ts_us",
        buckets = 16, budget = 64)
    }
    assert(e.getMessage.contains("over budget"))
  }

  test("quantile-sketch cells clamp out-of-domain values into edge " +
      "cells: bounded <=B state on a CONFIGURED domain (streaming " +
      "face contract)") {
    import spark.implicits._
    val (lo, w, b) = (0L, 10L, 4L) // configured domain [0, 40)
    val vs = Seq(-100L, -1L, 0L, 9L, 10L, 39L, 40L, 400L)
    val got = Events.quantileSketchCells(vs.toDF("v"), "v", lo, w, b)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // below-lo values (-100, -1) fold into bucket 0 with [0, 10);
    // at-or-above hi values (40, 400) fold into bucket B-1 — the
    // grid never mints a cell outside [0, B)
    assert(got == Map(0L -> 4L, 1L -> 1L, 3L -> 3L))
  }

  test("incremental distinct: merged base+delta KMV sketch ≡ the " +
      "from-scratch sketch bit-for-bit (bottom-k union identity)") {
    val inc = Events.incrementalDistinct(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val scratch = Events.load(spark, sf)
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), Events.userIdHash.as("hv"))
      .groupBy("event_type")
      .agg(graft.functions.SketchAggregate.kmvSketch(col("hv"), 64).as("sk"))
      .select(col("event_type"), col("sk.kth_hash").as("kth_hash"),
        col("sk.est").as("n_users_est"))
      .orderBy("event_type")
      .collect().map(_.toSeq.toList).toList
    assert(inc == scratch)
  }

  test("snapshot drift: the anchor VERSION reads exactly the first " +
      "half of the time slices (the oracle's cutoff predicate), tvd " +
      "bounded in [0, 1]") {
    val out = Events.snapshotDrift(spark, sf).collect()
    assert(out.nonEmpty)
    val (_, lo, hi) = Events.manifestEventsTable(spark, sf)
    val w = (hi - lo) / Events.RangeSegs
    val cut = lo + (Events.RangeSegs / 2) * w - 1
    val raw = Events.load(spark, sf)
      .where(col("ts_us") <= cut && col("event_type").isNotNull &&
        col("value").isNotNull)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_base") ==
        raw.getOrElse(r.getAs[String]("event_type"), 0L),
        "time-travel base ≡ time-slice cutoff")
      val tvd = r.getAs[Double]("tvd")
      assert(tvd >= 0.0 && tvd <= 1.0)
    }
  }

  test("window distinct sketch: merged daily samples ≡ each window's " +
      "from-scratch sketch (bottom-k union identity per window)") {
    val out = Events.windowDistinctSketch(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("n_days") >= 1 &&
      r.getAs[Long]("n_days") <= Events.DistinctWindowDays))
    val f = Events.load(spark, sf)
      .where(col("ts_us").isNotNull && col("user_id").isNotNull)
      .select(expr("ts_us div 86400000000").as("d"),
        Events.userIdHash.as("hv"))
    val days = f.select(col("d").as("day")).distinct()
    val scratch = days.join(f, col("d").between(
        col("day") - (Events.DistinctWindowDays - 1), col("day")))
      .groupBy("day")
      .agg(graft.functions.SketchAggregate.kmvSketch(col("hv"), 64)
        .as("sk"))
      .select(col("day"), col("sk.kth_hash").as("kth_hash"),
        col("sk.est").as("n_users_est"))
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(out.map(r => (r.getAs[Long]("day"), r.getAs[Long]("kth_hash"),
      r.getAs[Double]("n_users_est"))).toList == scratch)
  }

  test("hourly trend: slope/avg equal the exact integer-arithmetic " +
      "recompute, n_hours complete") {
    val out = Events.hourlyTrend(spark, sf).collect()
    assert(out.nonEmpty)
    val pts = Events.load(spark, sf)
      .where(col("ts_us").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("y")).collect()
    val hr0 = pts.map(_.getAs[Long]("hr")).min
    val byType = pts.groupBy(_.getAs[String]("event_type"))
    assert(out.map(_.getAs[String]("event_type")).toSet == byType.keySet)
    out.foreach { r =>
      val xs = byType(r.getAs[String]("event_type"))
        .map(p => (p.getAs[Long]("hr") - hr0, p.getAs[Long]("y")))
      val n = xs.length.toLong
      val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
      val sxx = xs.map(p => p._1 * p._1).sum
      val sxy = xs.map(p => p._1 * p._2).sum
      assert(r.getAs[Long]("n_hours") == n)
      assert(r.getAs[Double]("avg_per_hour") == sy.toDouble / n.toDouble)
      val den = n * sxx - sx * sx
      if (den != 0L)
        assert(r.getAs[Double]("slope_per_hour") ==
          (n * sxy - sx * sy).toDouble / den.toDouble)
      else assert(r.isNullAt(r.fieldIndex("slope_per_hour")))
    }
  }
}
