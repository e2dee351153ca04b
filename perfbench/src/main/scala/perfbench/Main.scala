package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Latencies, failures and work of the client ops of one phase. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Samples of the untraced ops of an alternating traced phase. */
  val untraced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var lastTraced = true
  var attempted = 0L
  var failed = 0L
  var work = 0.0
  var busyMs = 0.0

  /** Runs one client op of `kind`: times `body`, then `check`s its
    * result. A failed check or an exception counts the op as failed and
    * keeps its latency out of the samples. Returns the result if the
    * op succeeded. */
  def op[T](tracer: Tracer, kind: String, work: Double = 1.0)(body: => T)(
      check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(kind)(body))
      catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    lastTraced = !tracer.alternate || tracer.lastOpTraced
    res.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) =>
        sample(kind, ms)
        this.work += work
        busyMs += ms
        Some(v)
      case Left(why) =>
        fail(kind, why)
        None
    }
  }

  /** A latency sample of `kind` that is not an op of its own. */
  def sample(kind: String, ms: Double): Unit =
    (if (lastTraced) samples else untraced)
      .getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** A failed run-level check (not tied to one timed op). */
  def fail(kind: String, why: String): Unit = {
    failed += 1
    System.err.println(s"perfbench: FAILED $kind: $why")
  }

  /** A run-level check: counts as one attempted op. */
  def check(kind: String)(result: Option[String]): Unit = {
    attempted += 1
    result.foreach(fail(kind, _))
  }

  /** Work units completed per second of op time. */
  def workPerS: Double = work / (busyMs / 1e3)

  /** `op_p50_ms`: geometric mean of the kinds' median latencies; NaN
    * when a kind has no successful op (the run then reads incorrect). */
  def opP50(kinds: Seq[String], from: mutable.Map[String, mutable.ArrayBuffer[Double]] = samples): Double =
    if (kinds.exists(k => from.get(k).forall(_.isEmpty))) Double.NaN
    else Stats.geomean(kinds.map(k => Stats.median(from(k).toSeq)))
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val trace: Boolean,
    val workDir: File) {
  val tracer = new Tracer(spark.sparkContext)
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Values the workload notes for per-layer metrics, by name. */
  val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def note(name: String, v: Double): Unit =
    if (tracer.enabled) notes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Workload-specific end-to-end figures, printed by name. */
  val detail = mutable.ArrayBuffer.empty[(String, Double, String)]
  def report(name: String, v: Double, unit: String): Unit = detail += ((name, v, unit))

  /** Median, supported tail percentile and sample count of each kind. */
  def reportLatency(rec: Recorder, kinds: Seq[String]): Unit =
    kinds.foreach { k =>
      rec.samples.get(k).filter(_.nonEmpty).foreach { xs =>
        report(s"${k}_p50_ms", Stats.median(xs.toSeq), "ms")
        Stats.tailPercentile(xs.size).foreach(p =>
          report(s"${k}_${Stats.label(p)}_ms", Stats.percentile(xs.toSeq, p), "ms"))
        report(s"${k}_samples", xs.size, "count")
      }
    }

  /** One search through the facade: build the frame, plan it, collect
    * it, each inside its layer's span. */
  def read(build: => DataFrame): (DataFrame, Array[Row]) = {
    val frame = tracer.span("sources.read_frame")(build)
    tracer.span("plans.plan")(frame.queryExecution.executedPlan)
    (frame, tracer.span("exec.collect")(frame.collect()))
  }

  /** Per-layer notes of a traced read, taken after its op has been timed. */
  def noteRead(frame: DataFrame, liveSegments: => Int): Unit =
    if (tracer.enabled && frame != null) quietly {
      val ph = frame.queryExecution.tracker.phases
      Seq("analysis" -> "plans.analysis_ms", "optimization" -> "plans.optimization_ms",
        "planning" -> "plans.physical_ms").foreach { case (p, n) =>
        ph.get(p).foreach(s => note(n, s.durationMs.toDouble))
      }
      note("sources.files_per_read", frame.inputFiles.length.toDouble)
      note("sources.live_segments", liveSegments.toDouble)
    }

  def path(name: String): String = new File(workDir, name).getAbsolutePath

  /** Runs `body` with filesystem counting paused: the benchmark's own
    * bookkeeping reads are not the engine's work. */
  def quietly[T](body: => T): T = {
    val was = CountingFs.enabled
    CountingFs.enabled = false
    try body finally CountingFs.enabled = was
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** Request kinds whose medians make up `op_p50_ms`. */
  def primaryKinds: Seq[String]
  /** Builds the workload's inputs under `dir`. Timed as set-up and run
    * several times, each into a fresh directory; the last one is kept. */
  def setup(dir: String): Unit
  /** Untimed requests that let JIT, codegen and file caches settle;
    * their checks still count. */
  def warmUp(rec: Recorder): Unit
  /** Runs client ops until `deadlineNs`, at least one round of them. */
  def drive(rec: Recorder, deadlineNs: Long): Unit
  /** Checks that span the whole run, and closing ops (ingest's vacuum). */
  def finish(rec: Recorder): Unit
  /** Workload-specific lines of the report. */
  def report(rec: Recorder): Unit
  /** Per-layer kernel probes, run after the traced phase. */
  def probes(): Map[String, Double]
  /** Per-layer metrics the workload's ops always exercise: a traced run
    * in which one of them reads 0 measured nothing, and fails. */
  def exercised: Seq[String]
  /** Set-ups whose median is `setup_s`. */
  def setupReps: Int = Main.SetupReps
  /** `setup_s` when the engine's set-up cost is not the timed set-up
    * (curation: its cold first pass); read after [[warmUp]]. */
  def coldSetupS: Option[Double] = None
}

object Main {
  val SetupReps = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <search|ingest|curation> " +
      "--seed <n> --seconds <s> --trace <0|1> --work-dir <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k, usage(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val workDir = new File(arg("--work-dir")).getAbsoluteFile
    if (!Workloads.names.contains(workload)) usage(s"unknown workload '$workload'")

    val spark = Session.create(workDir, trace)
    val out =
      try {
        val ctx = new Ctx(spark, seed, trace, workDir)
        run(ctx, Workloads(workload, ctx), seconds)
      } catch {
        case e: Throwable =>
          graft.Caches.releaseAll()
          spark.stop()
          throw e
      }
    println(out)
    System.out.flush()
    // everything the run wrote lives under the work dir, which the
    // caller deletes: skip the orderly Spark shutdown
    Runtime.getRuntime.halt(0)
  }

  /** Set-up, warm-up, the measured loop and the checks; returns the
    * result line. */
  def run(ctx: Ctx, w: Workload, seconds: Double): String = {
    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val setupS = (0 until w.setupReps).map { i =>
      val dir = ctx.path(s"setup-$i")
      Files.deleteTree(new File(dir))
      val (_, ms) = ctx.timed(w.setup(dir))
      if (i > 0) Files.deleteTree(new File(ctx.path(s"setup-${i - 1}")))
      ms / 1e3
    }
    phase(s"set-up done (${setupS.map(x => f"$x%.2f").mkString(", ")} s)")
    val warm = new Recorder
    w.warmUp(warm)
    phase("warm-up done")
    val setupMetric = w.coldSetupS.getOrElse(Stats.median(setupS))

    val rec = new Recorder
    val metrics: Map[String, Double] =
      if (!ctx.trace) {
        w.drive(rec, System.nanoTime() + (seconds * 1e9).toLong)
        w.finish(rec)
        w.report(rec)
        Map(
          "setup_s" -> setupMetric,
          "op_p50_ms" -> rec.opP50(w.primaryKinds),
          "live_heap_mb" -> Jvm.liveHeapBytes / 1048576.0)
      } else {
        val layers = Layers.traced(ctx, w, rec, (seconds * 1e9).toLong)
        w.report(rec)
        val overhead = rec.opP50(w.primaryKinds) / rec.opP50(w.primaryKinds, rec.untraced) - 1.0
        val all = layers ++ w.probes() + ("trace.overhead_frac" -> overhead)
        Layers.check(rec, all, w.exercised)
        all
      }
    phase("measured")
    rec.attempted += warm.attempted
    rec.failed += warm.failed
    ctx.detail.foreach { case (k, v, u) => println(f"perfbench: $k%-40s $v%.6g $u") }
    Layers.resultLine(rec, metrics, ctx.trace)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of all regular files under `f`. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(treeBytes).sum)
    else f.length()
}

object Session {
  def create(workDir: File, trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val tmp = new File(workDir, "tmp")
    tmp.mkdirs()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }
}

object Workloads {
  val names: Seq[String] = Seq("search", "ingest", "curation")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "search" => new SearchWorkload(ctx)
    case "ingest" => new IngestWorkload(ctx)
    case "curation" => new CurationWorkload(ctx)
  }
}
