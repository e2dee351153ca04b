package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Length, Size}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

import graft.functions.{CountReplaceExpr, MinHashSigExpr, RepetitionSignalsExpr, SimHashExpr,
  TextHashExpressions => TH, TokenizeExpr}
import graft.operators.{Dedup, Events, Pipeline, TextAnalysis}

/** One corpus-curation pass after another over the same seeded corpus,
  * each starting from released caches, as a fresh curation job would. */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import CurationWorkload._

  private val spark = ctx.spark
  private val tracer = ctx.tracer
  /** Each stage's median latency, so the measure does not hinge on
    * how many whole passes fit in a run. */
  val primaryKinds: Seq[String] = Stages.map(_._1)

  private var corpus: String = _
  private lazy val docs: DataFrame = spark.read.parquet(corpus)
  /** Digest of each stage's output in the first pass. */
  private val digests = mutable.LinkedHashMap.empty[String, Int]
  private var coldConstruct = Map.empty[String, Double]
  private var coldPassS = Double.NaN

  /** Writing the corpus is the harness's work, not the engine's: it is
    * done once, and the cold first pass stands for `setup_s`. */
  override def setupReps: Int = 1
  override def coldSetupS: Option[Double] = Some(coldPassS)

  def setup(dir: String): Unit = {
    corpus = s"$dir/documents.parquet"
    Gen.corpusFrame(spark, ctx.seed, NDocs).write.parquet(corpus)
  }

  /** The first pass is cold: its wall time is `setup_s`, its construct
    * times are the modules' cold construct times, and its digests the
    * reference for every later pass. */
  def warmUp(rec: Recorder): Unit = {
    val construct = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val (_, ms) = ctx.timed(pass(rec, (module, ms) => construct(module) += ms))
    coldConstruct = construct.toMap
    coldPassS = ms / 1e3
  }

  /** As many passes as the window holds at [[PassNs]] each, at least
    * one: whole passes, the same number on every run of a given length. */
  def drive(rec: Recorder, deadlineNs: Long): Unit = {
    val passes = math.max(1L, math.round((deadlineNs - System.nanoTime()).toDouble / PassNs))
    (0L until passes).foreach(_ => pass(rec, (_, _) => ()))
  }

  private def pass(rec: Recorder, onConstruct: (String, Double) => Unit): Unit = {
    val ms = mutable.ArrayBuffer.empty[(String, Double)]
    val ok = rec.op(tracer, "pass", work = NDocs.toDouble) {
      graft.Caches.releaseAll()
      Stages.map { case (stage, module, build) =>
        val t0 = System.nanoTime()
        val df = tracer.span(s"operators.$module.construct")(build(docs))
        val t1 = System.nanoTime()
        val rows = tracer.span(s"operators.$module.exec")(df.collect())
        val t2 = System.nanoTime()
        onConstruct(module, (t1 - t0) / 1e6)
        ms += ((stage, (t2 - t0) / 1e6))
        ctx.note(s"stage.$stage", (t2 - t0) / 1e6)
        stage -> rows
      }
    }(outputs => outputs.flatMap { case (stage, rows) => check(stage, rows) }.headOption)
    if (ok.isDefined) ms.foreach { case (stage, t) => rec.sample(stage, t) }
  }

  /** Every output id exists in the input, every near-duplicate cluster
    * keeps exactly one doc, scrubbed text holds no e-mail or IPv4
    * match, and each stage's output digest matches the first pass. */
  private def check(stage: String, rows: Array[Row]): Option[String] = {
    def inInput(id: Long) = id >= 1 && id <= NDocs
    val idCols = rows.headOption.toSeq.flatMap(_.schema.fieldNames.filter(_.startsWith("doc_id")))
    val badId = rows.iterator.flatMap(r => idCols.map(r.getAs[Long](_))).find(!inInput(_))
    val digest = scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))
    val first = digests.getOrElseUpdate(stage, digest)
    lazy val stageSpecific: Option[String] = stage match {
      case "minhash_clusters" =>
        rows.groupBy(_.getAs[Long]("cluster_id")).collectFirst {
          case (cid, members) if members.count(_.getAs[Long]("doc_id") == cid) != 1 =>
            s"cluster $cid has ${members.count(_.getAs[Long]("doc_id") == cid)} keepers"
        }
      case "pii_scrub" =>
        rows.collectFirst {
          case r if Scrubbed.exists(_.matcher(r.getAs[String]("clean_text")).find()) =>
            s"doc ${r.getAs[Long]("doc_id")} still holds a PII match"
        }.orElse(if (rows.map(_.getAs[Long]("n_emails")).sum > 0) None
          else Some("no e-mail was scrubbed"))
      case _ => None
    }
    if (rows.isEmpty) Some(s"$stage returned no rows")
    else badId.map(id => s"$stage returned doc_id $id not in the input")
      .orElse(stageSpecific)
      .orElse(if (digest == first) None else Some(s"$stage digest differs from the first pass"))
  }

  def finish(rec: Recorder): Unit = ()

  val exercised: Seq[String] =
    Layers.CurationModules.flatMap(m => Seq("construct_ms", "exec_ms", "cold_construct_ms")
      .map(x => s"operators.$m.$x")) ++
      Layers.CurationStages.map(st => s"operators.curation.${st}_s") ++
      Seq("functions.tokenize_ns_per_byte", "functions.count_replace_ns_per_byte",
        "functions.minhash_ns_per_doc", "functions.simhash_ns_per_doc",
        "functions.repetition_ns_per_doc", "exec.jobs", "exec.tasks", "exec.task_cpu_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "jvm.heap_peak_mb")

  def report(rec: Recorder): Unit = {
    ctx.reportLatency(rec, "pass" +: primaryKinds)
    ctx.report("curation_docs_per_s", rec.workPerS, "1/s")
  }

  /** Text-kernel probes on the corpus's first [[ProbeDocs]] documents:
    * their text, words, 3-shingle hashes and word hashes, each kernel
    * against the input's size. */
  def probes(): Map[String, Double] = {
    val ws = TH.tokenize(col("text"))
    val in = Probe.rows(docs.limit(ProbeDocs).select(col("text"), ws.as("ws"),
      TH.shingleHashes(ws, 3).as("h"), TH.wordHashes(ws).as("wh")))
    val Seq(text, words, h, wh) = Seq(StringType, ArrayType(StringType, containsNull = false),
      ArrayType(LongType, containsNull = false), ArrayType(LongType, containsNull = false))
      .zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }
    val bytes = in.map(_.getUTF8String(0).numBytes().toDouble).sum
    val n = in.length.toDouble
    def probe(name: String, base: Expression, kernel: Expression): Double =
      Probe.diffNs(name, Probe.projection(base, in), Probe.projection(kernel, in))
    Map(
      "functions.tokenize_ns_per_byte" ->
        probe("tokenize", Length(text), TokenizeExpr(text)) / bytes,
      "functions.count_replace_ns_per_byte" ->
        probe("count_replace", Length(text), CountReplaceExpr(text, Pipeline.EmailPat, "<EMAIL>")) / bytes,
      "functions.minhash_ns_per_doc" ->
        probe("minhash", Size(h), MinHashSigExpr(h, Dedup.NumHashes)) / n,
      "functions.simhash_ns_per_doc" -> probe("simhash", Size(wh), SimHashExpr(wh)) / n,
      "functions.repetition_ns_per_doc" ->
        probe("repetition", Size(words), RepetitionSignalsExpr(words)) / n) ++
      coldConstruct.map { case (m, ms) => s"operators.$m.cold_construct_ms" -> ms }
  }
}

object CurationWorkload {
  val NDocs = 2000L
  /** Nominal length of one pass (a little under what one takes on 4
    * cores): a run of 8 s makes one pass after the cold one. */
  val PassNs = 8000000000L
  /** Documents the kernel probes run over (the regex kernel alone takes
    * tens of microseconds a document on one thread). */
  val ProbeDocs = 500

  private val Scrubbed = Seq(Pipeline.EmailPat, Pipeline.Ipv4Pat).map(java.util.regex.Pattern.compile)

  /** (stage, module, frame builder), in pass order. */
  val Stages: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("corpus_pipeline", "Pipeline", d => Pipeline.corpusPipelineOn(d)),
    ("pii_scrub", "Pipeline", d => Pipeline.piiScrubOn(d.select("doc_id", "text"))),
    ("minhash_clusters", "Dedup", d => Dedup.minhashClusters(d)),
    ("simhash_pairs", "Dedup", d => Dedup.simhashPairs(d)),
    ("langid_ngram", "TextAnalysis", d => TextAnalysis.languageIdNgram(d)),
    ("bigram_fluency", "TextAnalysis", d => TextAnalysis.bigramFluency(d)),
    ("length_quantiles", "Events", d => Events.exactQuantilesOn(d.select("n_chars"), "n_chars")))
}
