package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.perfbenchshim.BusShim

/** The traced phase and the per-layer metrics read from it. */
object Layers {

  val CurationModules: Seq[String] = CurationWorkload.Stages.map(_._2).distinct
  val CurationStages: Seq[String] = CurationWorkload.Stages.map(_._1)
  val ReadKinds: Seq[String] = Seq("search", "multi_search", "raw_search")
  /** Rounds a traced phase may add to see every kind traced and untraced. */
  val MaxExtraRounds = 8

  /** Every per-layer metric with its unit, in report order. A metric a
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_frame_ms" -> "ms", "sources.files_per_read" -> "count",
    "sources.live_segments" -> "count", "sources.commit_ms" -> "ms",
    "sources.commit_job_ms" -> "ms", "sources.commit_protocol_ms" -> "ms",
    "sources.merge_ms" -> "ms", "sources.compact_ms" -> "ms",
    "sources.vacuum_ms" -> "ms") ++
    CountingFs.Ops.map(o => s"sources.fs.$o" -> "count") ++ Seq(
    "sources.fs.bytes_written" -> "bytes", "sources.fs.bytes_read" -> "bytes",
    "sources.fs.open_per_read" -> "count", "sources.fs.list_per_read" -> "count",
    "sources.fs.create_per_commit" -> "count", "sources.write_amp" -> "ratio",
    "sources.redelivery_noop_frac" -> "ratio",
    "plans.plan_ms" -> "ms", "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms", "plans.physical_ms" -> "ms") ++
    CurationModules.flatMap(m => Seq(
      s"operators.$m.construct_ms" -> "ms", s"operators.$m.construct_jobs" -> "count",
      s"operators.$m.exec_ms" -> "ms", s"operators.$m.cold_construct_ms" -> "ms")) ++
    CurationStages.map(s => s"operators.curation.${s}_s" -> "s") ++ Seq(
    "functions.dot_ns_per_value" -> "ns", "functions.tokenize_ns_per_byte" -> "ns",
    "functions.minhash_ns_per_doc" -> "ns", "functions.simhash_ns_per_doc" -> "ns",
    "functions.count_replace_ns_per_byte" -> "ns",
    "functions.repetition_ns_per_doc" -> "ns", "functions.topk_ns_per_row" -> "ns",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.task_wait_ms" -> "ms",
    "exec.gc_s" -> "s", "exec.input_bytes" -> "bytes", "exec.input_rows" -> "count",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.result_bytes" -> "bytes",
    "exec.failed_tasks" -> "count", "exec.busy_frac" -> "ratio",
    "jvm.gc_pause_s" -> "s", "jvm.jit_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_frac" -> "ratio", "trace.self_sum_over_wall" -> "ratio")

  /** Every end-to-end metric with its unit; the same three on every
    * workload, each defined by the workload's own ops (see README). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "live_heap_mb" -> "MB")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** For readings in whole milliseconds, where a median would repeat
    * the same integer run after run. */
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Drives `w` for `durNs` with every other op of each kind traced
    * (until every primary kind has a traced and an untraced sample),
    * runs its closing ops traced, and returns the per-layer metrics of
    * the traced ops. */
  def traced(ctx: Ctx, w: Workload, rec: Recorder, durNs: Long): Map[String, Double] = {
    val sc = ctx.spark.sparkContext
    val listener = new ExecListener(ctx.tracer)
    sc.addSparkListener(listener)
    BusShim.drain(sc)
    listener.reset()
    CountingFs.reset()
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    Jvm.resetHeapPeak()
    ctx.tracer.clear()
    ctx.tracer.alternate = true
    try {
      w.drive(rec, System.nanoTime() + durNs)
      def covered(m: collection.Map[String, _]) = w.primaryKinds.forall(m.contains)
      var extra = 0
      while ((!covered(rec.samples) || !covered(rec.untraced)) && extra < MaxExtraRounds) {
        w.drive(rec, 0L)
        extra += 1
      }
      ctx.tracer.alternate = false
      ctx.tracer.enabled = true
      CountingFs.enabled = true
      w.finish(rec)
    } finally {
      ctx.tracer.alternate = false
      ctx.tracer.enabled = false
      CountingFs.enabled = false
    }
    BusShim.drain(sc)
    sc.removeSparkListener(listener)
    val (read, written) = CountingFs.tracedBytes
    val spans = ctx.tracer.spans
    writeSpans(new File(ctx.workDir, "spans.jsonl"), spans)

    val self = SpanMath.selfTimes(spans)
    def named(n: String) = spans.filter(_.name == n)
    def durs(n: String) = named(n).map(_.durMs)
    def nOps(kind: String) = named("op." + kind).size
    def notes(n: String) = ctx.notes.get(n).map(_.toSeq).getOrElse(Nil)
    def perOp(kinds: Seq[String], op: String) = {
      val n = kinds.map(nOps).sum
      if (n == 0) 0.0 else kinds.map(k => CountingFs.count(op, Some(k))).sum.toDouble / n
    }
    val commits = named("sources.commit")
    val userBytes = notes("sources.user_bytes").sum

    // per-pass sums of each curation module's spans
    val passes = named("op.pass")
    def perPass(spanName: String)(f: Span => Double): Double =
      med(passes.map(p => spans.filter(s => s.op == p.id && s.name == spanName).map(f).sum))
    val constructJobs: Span => Double = s => spans.count(j => j.parent == s.id && j.name == "exec.job").toDouble

    val exec = new ExecCounters
    val byKind = listener.snapshot()
    byKind.foreach { case (k, c) =>
      if (k != "other" && k != Tracer.Untraced) exec += c
      ctx.report(s"exec.$k.jobs", c.jobs.toDouble, "count")
      ctx.report(s"exec.$k.tasks", c.tasks.toDouble, "count")
      ctx.report(s"exec.$k.task_cpu_s", c.cpuNs / 1e9, "s")
      ctx.report(s"exec.$k.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes")
    }
    // Each span's self time plus the union of the jobs it submitted
    // (jobs of one span may overlap each other) should add up to its
    // op's wall time; more than 1 means overlap the tree cannot place.
    val roots = spans.filter(_.parent == 0)
    val tracedS = roots.map(_.durMs).sum / 1e3
    val selfSum = roots.map { r =>
      spans.filter(s => s.op == r.id && s.name != "exec.job").map { s =>
        self(s.id) + SpanMath.coverage(s.startMs, s.endMs,
          spans.filter(j => j.parent == s.id && j.name == "exec.job").map(j => (j.startMs, j.endMs)))
      }.sum / math.max(r.durMs, 1e-9)
    }

    val m = Map[String, Double](
      "sources.read_frame_ms" -> med(durs("sources.read_frame")),
      "sources.files_per_read" -> med(notes("sources.files_per_read")),
      "sources.live_segments" -> med(notes("sources.live_segments")),
      "sources.commit_ms" -> med(commits.map(_.durMs)),
      "sources.commit_job_ms" -> mean(commits.map(SpanMath.childCoverage(_, spans))),
      "sources.commit_protocol_ms" -> med(commits.map(s => self(s.id))),
      "sources.merge_ms" -> med(durs("sources.merge")),
      "sources.compact_ms" -> med(durs("sources.compact")),
      "sources.vacuum_ms" -> med(durs("sources.vacuum")),
      "sources.fs.bytes_written" -> written.toDouble,
      "sources.fs.bytes_read" -> read.toDouble,
      "sources.fs.open_per_read" -> perOp(ReadKinds, "open"),
      "sources.fs.list_per_read" -> perOp(ReadKinds, "list"),
      "sources.fs.create_per_commit" -> perOp(Seq("commit"), "create"),
      "sources.write_amp" -> (if (userBytes > 0) written / userBytes else 0.0),
      "plans.plan_ms" -> med(durs("plans.plan")),
      "plans.analysis_ms" -> mean(notes("plans.analysis_ms")),
      "plans.optimization_ms" -> mean(notes("plans.optimization_ms")),
      "plans.physical_ms" -> mean(notes("plans.physical_ms")),
      "exec.jobs" -> exec.jobs.toDouble, "exec.stages" -> exec.stages.toDouble,
      "exec.tasks" -> exec.tasks.toDouble, "exec.task_cpu_s" -> exec.cpuNs / 1e9,
      "exec.task_run_s" -> exec.runMs / 1e3,
      "exec.task_wait_ms" -> (if (exec.tasks > 0) exec.waitMs.toDouble / exec.tasks else 0.0),
      "exec.gc_s" -> exec.gcMs / 1e3, "exec.input_bytes" -> exec.inputBytes.toDouble,
      "exec.input_rows" -> exec.inputRows.toDouble,
      "exec.shuffle_write_bytes" -> exec.shuffleWriteBytes.toDouble,
      "exec.shuffle_read_bytes" -> exec.shuffleReadBytes.toDouble,
      "exec.spill_bytes" -> exec.spillBytes.toDouble, "exec.result_bytes" -> exec.resultBytes.toDouble,
      "exec.failed_tasks" -> exec.failedTasks.toDouble,
      "exec.busy_frac" -> exec.runMs / 1e3 / (tracedS * ctx.cores),
      "jvm.gc_pause_s" -> (Jvm.gcMs - gc0) / 1e3,
      "jvm.jit_ms" -> (Jvm.jitMs - jit0).toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakBytes / 1048576.0,
      "trace.self_sum_over_wall" -> med(selfSum)) ++
      CountingFs.Ops.map(o => s"sources.fs.$o" -> CountingFs.count(o).toDouble) ++
      CurationModules.flatMap { mod =>
        val c = s"operators.$mod.construct"
        Seq(s"$c" + "_ms" -> perPass(c)(_.durMs),
          s"$c" + "_jobs" -> perPass(c)(constructJobs),
          s"operators.$mod.exec_ms" -> perPass(s"operators.$mod.exec")(_.durMs))
      } ++
      CurationStages.map(st => s"operators.curation.${st}_s" -> med(notes(s"stage.$st")) / 1e3)
    m
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      pw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally pw.close()
  }

  /** How far the spans' self times may be from their ops' wall time. */
  val SelfSumTolerance = 0.05

  /** The traced run's own checks, each counted as one op: every metric
    * is a finite number, each metric the workload exercises is above 0,
    * and the spans account for the ops' wall time. */
  def check(rec: Recorder, m: Map[String, Double], exercised: Seq[String]): Unit = {
    rec.check("trace.metrics")(
      m.collectFirst { case (n, v) if v.isNaN || v.isInfinite => s"$n reads $v" }
        .orElse(exercised.find(n => !m.get(n).exists(_ > 0))
          .map(n => s"$n reads ${m.getOrElse(n, "nothing")}, but the workload exercises it")))
    val selfSum = m.getOrElse("trace.self_sum_over_wall", Double.NaN)
    rec.check("trace.self_sum_over_wall")(
      if (math.abs(selfSum - 1.0) <= SelfSumTolerance) None
      else Some(s"spans account for $selfSum of their ops' wall time"))
  }

  /** The result line: every metric of the mode, in declaration order;
    * a metric the workload does not exercise reads 0. */
  def resultLine(rec: Recorder, metrics: Map[String, Double], trace: Boolean): String = {
    val names = if (trace) PerLayer else EndToEnd
    val body = names.map { case (n, u) =>
      val v = metrics.get(n).filter(x => !x.isNaN && !x.isInfinite).getOrElse(0.0)
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    val correct = rec.failed == 0 && rec.attempted > 0
    s"""{"correct": $correct, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": {$body}}"""
  }
}
