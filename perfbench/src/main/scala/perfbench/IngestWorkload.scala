package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.Graft
import graft.functions.{VectorFunctions => VF}
import graft.sources.{DocumentStore, ManifestStore}

/** `/store` beside reads: tagged batch appends, each followed by a
  * read-after-write search, with periodic merges, compactions and
  * redelivered batches, and a vacuum at the end. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  val primaryKinds: Seq[String] = Seq("commit", "raw_search")

  private var table: String = _
  private var step = 0L
  /** The generator's model of each collection: live row -> version. */
  private val live = Array.fill(NColl)(mutable.LinkedHashMap.empty[Long, Int])
  private val nextRow = Array.fill(NColl)(0L)
  /** Committed batches (collection, batch number, first row). */
  private val batches = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private var redelivered, redeliveryNoops = 0

  def setup(dir: String): Unit = {
    table = s"$dir/chunks"
    live.foreach(_.clear())
    java.util.Arrays.fill(nextRow, 0L)
    batches.clear()
    (0 until NColl).foreach { c =>
      ManifestStore.storeBatch(Gen.chunkFrame(spark, ctx.seed, c, name(c), 0L, InitRows, Dim),
        table, name(c), s"init-$c")
      (0L until InitRows).foreach(live(c)(_) = 0)
      nextRow(c) = InitRows
    }
  }

  def warmUp(rec: Recorder): Unit = (0 until 2 * NColl).foreach(_ => runStep(rec))

  /** As many rounds of [[RoundSteps]] steps as the window holds at
    * [[RoundNs]] each, at least one: the collections' state after a run
    * then depends on the run's length only, not on the engine's speed. */
  def drive(rec: Recorder, deadlineNs: Long): Unit = {
    val rounds = math.max(1L, math.round((deadlineNs - System.nanoTime()).toDouble / RoundNs))
    (0L until rounds).foreach { _ =>
      (0 until RoundSteps).foreach(_ => runStep(rec))
      val r = Gen.rng(ctx.seed, 31L, step)
      merge(rec, r.nextInt(NColl), r)
      compact(rec)
    }
  }

  /** Step `s` appends to collection s mod 4, then searches it; about 5%
    * of steps instead redeliver an earlier batch. */
  private def runStep(rec: Recorder): Unit = {
    val s = step
    step += 1
    val c = (s % NColl).toInt
    val r = Gen.rng(ctx.seed, 30L, s)
    if (batches.nonEmpty && r.nextDouble() < RedeliverP)
      redeliver(rec, batches(r.nextInt(batches.size)))
    else commitAndSearch(rec, c)
  }

  /** Batch `b` of collection `c`: rows [from, from + BatchRows); its
    * first row is a beacon whose vector points along the batch's query
    * with norm 1000, so a search with that query must rank it first. */
  private def batchRows(c: Int, b: Long, from: Long): Seq[Chunk] = {
    val beacon = VF.normalize(batchQuery(c, b)).map(_ * 1000.0)
    (from until from + BatchRows).map { row =>
      Chunk(Gen.chunkRow(ctx.seed, c, name(c), row, Dim,
        embedding = if (row == from) Some(beacon) else None))
    }
  }

  private def batchQuery(c: Int, b: Long): Array[Double] =
    Gen.query(ctx.seed, 20L + c, b, Dim)

  private def frameOf(rows: Seq[Chunk]): DataFrame = {
    import spark.implicits._
    rows.toDS().toDF()
  }

  private def commitAndSearch(rec: Recorder, c: Int): Unit = {
    val b = batches.count(_._1 == c).toLong
    val from = nextRow(c)
    val rows = batchRows(c, b, from)
    val df = frameOf(rows)
    val committed = rec.op(tracer, "commit", work = BatchRows) {
      tracer.span("sources.commit")(ManifestStore.storeBatch(df, table, name(c), tag(c, b)))
    }(ok => if (ok) None else Some(s"batch ${tag(c, b)} published nothing"))
    if (committed.isDefined) {
      batches += ((c, b, from))
      nextRow(c) = from + BatchRows
      (from until from + BatchRows).foreach(live(c)(_) = 0)
      ctx.note("sources.user_bytes", rows.map(payload).sum.toDouble)
      val beaconId = Gen.docId(ctx.seed, c, from)
      val res = rec.op(tracer, "raw_search", work = 0) {
        ctx.read(Graft.search(spark, table, batchQuery(c, b), name(c), K))
      } { case (_, rows) =>
        if (rows.headOption.exists(_.getAs[String]("doc_id") == beaconId) &&
            rows.length == math.min(K, live(c).size)) None
        else Some(s"read-after-write search on ${name(c)} missed batch $b")
      }
      res.foreach { case (frame, _) => ctx.noteRead(frame, liveSegments(c)) }
    }
  }

  /** Re-sending a committed batch under its tag must publish nothing. */
  private def redeliver(rec: Recorder, batch: (Int, Long, Long)): Unit = {
    val (c, b, from) = batch
    val df = frameOf(batchRows(c, b, from))
    val before = ctx.quietly(ManifestStore.currentSegments(spark, table, name(c)))
    redelivered += 1
    rec.op(tracer, "redeliver", work = 0) {
      tracer.span("sources.redeliver")(ManifestStore.storeBatch(df, table, name(c), tag(c, b)))
    } { published =>
      val after = ctx.quietly(ManifestStore.currentSegments(spark, table, name(c)))
      if (!published && before == after) { redeliveryNoops += 1; None }
      else Some(s"redelivered ${tag(c, b)} changed the collection")
    }
  }

  /** A change batch over a window of [[MergeUpserts]] + [[MergeDeletes]]
    * live keys adjacent in doc_id order (a CDC batch with key locality):
    * the window's rows are upserted to a new version or deleted. */
  private def merge(rec: Recorder, c: Int, r: java.util.SplittableRandom): Unit = {
    val byId = live(c).keys.toIndexedSeq.sortBy(Gen.docId(ctx.seed, c, _))
    val n = MergeUpserts + MergeDeletes
    val at = r.nextInt(byId.size - n)
    val (ups, dels) = new scala.util.Random(r.nextLong())
      .shuffle(byId.slice(at, at + n)).splitAt(MergeUpserts)
    def row(rowId: Long, version: Int, deleted: Boolean) =
      Row.fromSeq(Gen.chunkRow(ctx.seed, c, name(c), rowId, Dim, version).toSeq :+ deleted)
    val changes = ups.map(k => row(k, live(c)(k) + 1, deleted = false)) ++
      dels.map(k => row(k, live(c)(k), deleted = true))
    val df = spark.createDataFrame(java.util.Arrays.asList(changes: _*), MergeSchema)
    val ok = rec.op(tracer, "merge", work = changes.size) {
      tracer.span("sources.merge")(ManifestStore.mergeCollection(spark, table, name(c), df))
    }(landed => if (landed) None else Some(s"merge on ${name(c)} did not land"))
    if (ok.isDefined) {
      ups.foreach(k => live(c)(k) += 1)
      dels.foreach(live(c).remove)
      ctx.note("sources.user_bytes",
        changes.filterNot(_.getBoolean(10)).map(payload).sum.toDouble)
    }
    rec.check("merge_model")(modelMismatch(c))
  }

  private def liveSegments(c: Int): Int = ctx.quietly(
    ManifestStore.currentSegments(spark, table, name(c)).fold(0)(_.size))

  /** Compact the small segments of the collection with the most. */
  private def compact(rec: Recorder): Unit = {
    val segs = (0 until NColl).map(liveSegments)
    val c = segs.indexOf(segs.max)
    rec.op(tracer, "compact", work = 0) {
      tracer.span("sources.compact") {
        ManifestStore.compactionPlan(spark, table, name(c), TargetBytes, SmallBytes)
          .map(g => ManifestStore.compactSegments(spark, table, name(c), g))
      }
    } { won =>
      val now = liveSegments(c)
      if (won.nonEmpty && won.forall(identity) && now < segs(c)) None
      else Some(s"compaction of ${name(c)} left ${segs(c)} -> $now segments")
    }
    rec.check("compact_model")(modelMismatch(c))
  }

  /** Live doc ids of collection `c` against the generator's model. */
  private def modelMismatch(c: Int): Option[String] = ctx.quietly {
    val got = ManifestStore.read(spark, table, Some(name(c))).select("doc_id")
      .collect().map(_.getString(0))
    val want = live(c).keys.map(Gen.docId(ctx.seed, c, _)).toSet
    if (got.length == want.size && got.toSet == want) None
    else Some(s"${name(c)} holds ${got.length} rows (${got.toSet.size} keys), model ${want.size}")
  }

  def finish(rec: Recorder): Unit = {
    rec.op(tracer, "vacuum", work = 0) {
      tracer.span("sources.vacuum")(ManifestStore.vacuum(spark, table, minAgeMs = 0L, tagMinAgeMs = 0L))
    }(_ => None)
    (0 until NColl).foreach(c => rec.check("final_model")(modelMismatch(c)))
    rec.check("redelivery")(
      if (redeliveryNoops == redelivered) None
      else Some(s"$redeliveryNoops of $redelivered redeliveries published nothing"))
  }

  val exercised: Seq[String] = Seq(
    "sources.read_frame_ms", "sources.live_segments", "sources.commit_ms",
    "sources.commit_job_ms", "sources.commit_protocol_ms", "sources.merge_ms",
    "sources.compact_ms", "sources.vacuum_ms", "sources.fs.create", "sources.fs.open",
    "sources.fs.bytes_written", "sources.fs.create_per_commit", "sources.write_amp",
    "plans.plan_ms", "exec.jobs", "exec.tasks", "jvm.heap_peak_mb")

  def report(rec: Recorder): Unit = {
    ctx.reportLatency(rec, Seq("commit", "raw_search", "merge", "compact"))
    val userBytes = (0 until NColl).map { c =>
      live(c).toSeq.map { case (k, v) => payload(Chunk(Gen.chunkRow(ctx.seed, c, name(c), k, Dim, v))) }.sum
    }.sum
    ctx.report("stored_bytes_per_user_byte",
      Files.treeBytes(new java.io.File(table)).toDouble / userBytes, "ratio")
    ctx.report("ingest_rows_per_s", rec.workPerS, "1/s")
    ctx.report("redeliveries", redelivered, "count")
  }

  def probes(): Map[String, Double] = Map(
    "sources.redelivery_noop_frac" ->
      (if (redelivered == 0) 0.0 else redeliveryNoops.toDouble / redelivered))
}

object IngestWorkload {
  val NColl = 4
  val Dim = 384
  val K = 10
  val InitRows = 2000
  val BatchRows = 500
  /** Appends per round; each round ends with one merge and one compaction. */
  val RoundSteps = 8
  /** Nominal length of one round (a little under what one takes on 4 cores). */
  val RoundNs = 4000000000L
  val RedeliverP = 0.05
  val MergeUpserts = 80
  val MergeDeletes = 20
  /** A segment under [[SmallBytes]] is a compaction candidate. */
  val SmallBytes: Long = 4L << 20
  val TargetBytes: Long = 64L << 20

  def name(c: Int): String = s"ingest$c"
  def tag(c: Int, b: Long): String = s"${name(c)}-b$b"

  val MergeSchema: StructType =
    StructType(DocumentStore.chunkTableSchema.fields :+ StructField("_deleted", BooleanType))

  /** Caller payload bytes of one row: its strings, 8 bytes per vector
    * element and 12 for the scalar fields. */
  def payload(ch: Chunk): Long =
    Seq(ch.doc_id, ch.doc_name, ch.doc_source, ch.text, ch.meta_source,
      ch.meta_name, ch.collection).map(_.length.toLong).sum +
      8L * ch.embedding.length + 12L

  def payload(r: Row): Long = payload(Chunk(r))
}
