package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` is the id of the root
  * span of the client op the interval belongs to; `parent` is 0 for a
  * root. Times are wall-clock milliseconds, so spans the benchmark opens
  * and Spark job intervals reported by the listener share one axis. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object SpanMath {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coverage(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - coverage(s.startMs, s.endMs, cs))
    }.toMap
  }

  /** Time inside `s` covered by its direct children. */
  def childCoverage(s: Span, spans: Seq[Span]): Double =
    coverage(s.startMs, s.endMs,
      spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)))
}

/** In-memory span recorder for the single client thread. Spans open
  * only while [[enabled]]; the op kind and the innermost span id ride
  * on Spark local properties so the listener can file each job under
  * the span that submitted it. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false

  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseWall + (System.nanoTime() - baseNano) / 1e6

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var lastId = 0L
  private var stack: List[(Long, Long)] = Nil // (span id, op id)

  def spans: Seq[Span] = synchronized(recorded.toList)
  def clear(): Unit = synchronized(recorded.clear())

  private def newId(): Long = synchronized { lastId += 1; lastId }

  def record(s: Span): Unit = synchronized(recorded += s)

  def newSpanId(): Long = newId()

  /** When set, successive ops of each kind are traced and untraced in
    * turn, so the two halves see the same JIT and cache state and their
    * medians give the tracing overhead. */
  @volatile var alternate = false
  private val traceNext = mutable.Map.empty[String, Boolean].withDefaultValue(true)
  /** Whether the last op began with tracing on. */
  var lastOpTraced = false

  /** A client op of `kind`: the root span of everything inside it.
    * Jobs of untraced ops in an alternating phase are filed as
    * "untraced". */
  def op[T](kind: String)(body: => T): T = {
    if (alternate) {
      enabled = traceNext(kind)
      traceNext(kind) = !enabled
      CountingFs.enabled = enabled
    }
    lastOpTraced = enabled
    sc.setLocalProperty(Tracer.OpKey, if (enabled || !alternate) kind else Tracer.Untraced)
    CountingFs.currentKind = kind
    val bytes0 = if (enabled) CountingFs.bytes else (0L, 0L)
    try span("op." + kind)(body)
    finally {
      if (enabled) CountingFs.addTracedBytes(bytes0, CountingFs.bytes)
      sc.setLocalProperty(Tracer.OpKey, null)
      CountingFs.currentKind = "other"
    }
  }

  /** A call into one layer, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val (parent, opId) = stack.headOption.getOrElse((0L, id))
      stack = (id, opId) :: stack
      setProps()
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        setProps()
        record(Span(id, parent, opId, name, start, end))
      }
    }

  private def setProps(): Unit = stack.headOption match {
    case Some((id, opId)) =>
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.OpIdKey, opId.toString)
    case None =>
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.setLocalProperty(Tracer.OpIdKey, null)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val OpIdKey = "perfbench.opid"
  val Untraced = "untraced"
}

/** Spark execution counters of one op kind. */
final class ExecCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, waitMs, gcMs = 0L
  var inputBytes, inputRows, shuffleWriteBytes, shuffleReadBytes = 0L
  var spillBytes, resultBytes = 0L

  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
    waitMs += o.waitMs; gcMs += o.gcMs; inputBytes += o.inputBytes
    inputRows += o.inputRows; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes
  }
}

/** Reads Spark execution from the listener bus: per-op-kind counters,
  * and one `exec.job` span per job, filed under the span that
  * submitted it. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val byKind = mutable.LinkedHashMap.empty[String, ExecCounters]
  private val stageKind = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val jobOpen = mutable.HashMap.empty[Int, (Long, Long, Double)]

  private def counters(kind: String): ExecCounters =
    byKind.getOrElseUpdate(kind, new ExecCounters)

  def snapshot(): Map[String, ExecCounters] = synchronized {
    byKind.map { case (k, v) => val c = new ExecCounters; c += v; k -> c }.toMap
  }

  def reset(): Unit = synchronized(byKind.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val kind = prop(Tracer.OpKey).getOrElse("other")
    counters(kind).jobs += 1
    e.stageIds.foreach(stageKind(_) = kind)
    for (span <- prop(Tracer.SpanKey); op <- prop(Tracer.OpIdKey))
      jobOpen(e.jobId) = (span.toLong, op.toLong, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (parent, op, start) =>
      tracer.record(Span(tracer.newSpanId(), parent, op, "exec.job",
        start, math.max(start, e.time.toDouble)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageKind.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageKind.getOrElse(e.stageId, "other"))
    c.tasks += 1
    if (e.taskInfo.failed) c.failedTasks += 1
    stageSubmit.get(e.stageId).foreach(s =>
      c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
    }
  }
}

/** JVM-wide counters read from the platform MX beans. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Heap still in use after a full collection: what the process
    * retains (engine caches, persisted frames, the harness's reference
    * state), without the garbage whose amount depends on GC timing. */
  def liveHeapBytes: Long = {
    // Spark's ContextCleaner frees blocks of collected frames on its own
    // thread: collect, give it time, and collect what it released
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
