package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Size}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Graft
import graft.functions.{DotProductExpr, TopKAgg, VectorExpressions => V, VectorFunctions => VF}
import graft.sources.{ManifestBackend, ManifestStore}

/** The reference's read path: single-collection search and 4-collection
  * multi-search over a stored chunk table, one request at a time. */
final class SearchWorkload(ctx: Ctx) extends Workload {
  import SearchWorkload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  val primaryKinds: Seq[String] = Seq("search", "multi_search")

  private var table: String = _
  private var request = 0L
  /** The brute-force reference: every collection's vectors and doc ids,
    * regenerated from the seed in [[warmUp]] and dropped in [[finish]],
    * so that `live_heap_mb` counts what the engine retains, not this. */
  private var vectors: IndexedSeq[Array[Array[Double]]] = _
  private var docIds: IndexedSeq[Array[String]] = _

  def setup(dir: String): Unit = {
    table = s"$dir/chunks"
    Sizes.indices.foreach(c => ManifestStore.store(
      Gen.chunkFrame(spark, ctx.seed, c, name(c), 0L, Sizes(c), Dim), table, name(c)))
  }

  /** Live segments of each collection (the table is read-only here). */
  private lazy val liveSegs: IndexedSeq[Int] = Sizes.indices.map(c =>
    ManifestStore.currentSegments(spark, table, name(c)).fold(0)(_.size))

  def warmUp(rec: Recorder): Unit = {
    vectors = Sizes.indices.map(c => Array.tabulate(Sizes(c))(r => Gen.vector(ctx.seed, c, r, Dim)))
    docIds = Sizes.indices.map(c => Array.tabulate(Sizes(c))(r => Gen.docId(ctx.seed, c, r.toLong)))
    liveSegs
    drive(rec, System.nanoTime() + WarmUpNs)
  }

  def drive(rec: Recorder, deadlineNs: Long): Unit =
    do step(rec) while (System.nanoTime() < deadlineNs)

  /** Request `i`: even ones search one Zipf-chosen collection, odd ones
    * multi-search 4 distinct Zipf-chosen collections. */
  private def step(rec: Recorder): Unit = {
    val i = request
    request += 1
    val r = Gen.rng(ctx.seed, 10L, i)
    val q = Gen.query(ctx.seed, 0L, i, Dim)
    val (kind, colls) =
      if (i % 2 == 0) ("search", Seq(Gen.zipf(r, Sizes.size, ZipfS)))
      else {
        val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (picked.size < MultiColls) picked += Gen.zipf(r, Sizes.size, ZipfS)
        ("multi_search", picked.toSeq)
      }
    val res = rec.op(tracer, kind) {
      ctx.read {
        if (colls.size == 1) Graft.search(spark, table, q, name(colls.head), K)
        else Graft.multiSearch(spark, table, q, colls.map(name), K)
      }
    } { case (_, rows) => check(rows, q, colls) }
    res.foreach { case (frame, _) => ctx.noteRead(frame, colls.map(liveSegs).sum) }
  }

  /** The engine's rows must equal, bitwise, a driver-side brute force
    * over the regenerated vectors: same normalized query, same
    * sequential left-fold dot, same (score desc, doc_id, position) order. */
  private def check(rows: Array[Row], q: Array[Double], colls: Seq[Int]): Option[String] = {
    val want = bruteForce(VF.normalize(q), colls.map(c => (vectors(c), docIds(c))), K)
    val got = rows.toSeq.map(r => (r.getAs[Double]("similarity"),
      r.getAs[String]("doc_id"), r.getAs[Int]("position")))
    if (got.size == want.size && got.zip(want).forall { case (a, b) =>
        java.lang.Double.doubleToLongBits(a._1) == java.lang.Double.doubleToLongBits(b._1) &&
          a._2 == b._2 && a._3 == b._3 })
      None
    else Some(s"top-$K mismatch on ${colls.map(name).mkString(",")}: got ${got.take(3)} want ${want.take(3)}")
  }

  def finish(rec: Recorder): Unit = {
    vectors = null
    docIds = null
  }

  val exercised: Seq[String] = Seq(
    "sources.read_frame_ms", "sources.files_per_read", "sources.live_segments",
    "sources.fs.open", "sources.fs.list", "sources.fs.status", "sources.fs.open_per_read",
    "plans.plan_ms", "functions.dot_ns_per_value", "functions.topk_ns_per_row",
    "exec.jobs", "exec.tasks", "exec.task_cpu_s", "exec.result_bytes", "jvm.heap_peak_mb")

  def report(rec: Recorder): Unit = {
    ctx.reportLatency(rec, primaryKinds)
    ctx.report("search_requests_per_s", rec.workPerS, "1/s")
  }

  /** Kernel probes on the stored vectors: the dot of a normalized query
    * with each of one collection's, and the top-k heap over the scores
    * of all collections. */
  def probes(): Map[String, Double] = {
    val emb = ManifestBackend.read(spark, table, Some(Seq(name(0)))).select("embedding")
    val vecs = Probe.rows(emb)
    val vt = emb.schema("embedding").dataType
    val qn = VF.normalize(Gen.query(ctx.seed, 99L, 0L, Dim))
    val ref = BoundReference(0, vt, nullable = true)
    val dot = Probe.diffNs("dot", Probe.projection(Size(ref), vecs),
      Probe.projection(DotProductExpr(Literal(new GenericArrayData(qn), vt), ref), vecs))
    val scored = Probe.rows(ManifestBackend.read(spark, table, None)
      .select(V.dot(VF.vecLit(qn), col("embedding")).as("s"), monotonically_increasing_id().as("id")))
    val agg = TopKAgg(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), K)
    // the same pass over the scored rows, reading each row's fields or
    // feeding it to a fresh top-k buffer
    def passes(perPass: () => (InternalRow => Unit), result: () => Long): () => Long = () => {
      var s = 0L
      var k = 0
      while (k < Probe.Inner) {
        val f = perPass()
        var i = 0
        while (i < scored.length) { f(scored(i)); i += 1 }
        s += result()
        k += 1
      }
      s
    }
    var acc = 0.0
    var buf = agg.createAggregationBuffer()
    val topk = Probe.diffNs("topk",
      passes(() => r => acc += r.getDouble(0) + r.getLong(1), () => acc.toLong),
      passes(() => { buf = agg.createAggregationBuffer(); r => agg.update(buf, r) },
        () => buf.size.toLong))
    Map("functions.dot_ns_per_value" -> dot / (vecs.length * Dim),
      "functions.topk_ns_per_row" -> topk / scored.length)
  }
}

object SearchWorkload {
  val Dim = 384
  val K = 10
  val MultiColls = 4
  val ZipfS = 1.0
  /** Requests before the measured loop; the planner and scan paths take
    * a few dozen requests to reach their steady JIT state. */
  val WarmUpNs = 3000000000L
  /** 8 collections of 5,000 chunks, 40k in total: equal sizes keep a
    * request's work independent of which collections the seed draws,
    * and 8 stores keep the three set-ups of a run short. */
  val Sizes: IndexedSeq[Int] = IndexedSeq.fill(8)(5000)

  def name(c: Int): String = f"coll$c%02d"

  /** Top-k of (score, doc_id, position) by the engine's order. */
  def bruteForce(qn: Array[Double], colls: Seq[(Array[Array[Double]], Array[String])],
      k: Int): Seq[(Double, String, Int)] = {
    val all = colls.flatMap { case (vs, ids) =>
      vs.indices.map { r =>
        val v = vs(r)
        var acc = 0.0
        var j = 0
        while (j < v.length) { acc = acc + qn(j) * v(j); j += 1 }
        (acc, ids(r), r % 4 + 1)
      }
    }
    all.sortWith { (a, b) =>
      if (a._1 != b._1) a._1 > b._1
      else if (a._2 != b._2) a._2 < b._2
      else a._3 < b._3
    }.take(k)
  }
}
