package graft

import org.apache.spark.sql.functions._

/** CI face of the kernel-in-filter audit (the CLAUDE.md "keep it at
  * zero" invariant): gate predicates on kernel-computed columns get
  * SUBSTITUTED below the projection by PushPredicateThroughNonJoin,
  * and CASE WHEN-guarded terms are exempt from codegen subexpression
  * elimination — an un-barriered gate then re-runs the kernel 4-6×
  * per row inside the Filter. [[DevPlanAudit.filterKernelHits]] scans
  * every DECLARED query's physical plan for kernel CALLS inside
  * FilterExec; this suite keeps that count at zero so a future query
  * can't silently reintroduce the pathology. */
class PlanAuditSpec extends SparkSpecBase {

  test("the scanner flags a deliberately un-barriered kernel gate " +
      "and passes its optBarrier'd twin") {
    import graft.functions.TextHashExpressions._
    // a FILE source, not a local relation — ConvertToLocalRelation
    // would eagerly evaluate a projected local frame and leave no
    // FilterExec to scan
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("words", split(col("text"), " "))
    // the pathology: a filter on a field of the kernel struct — the
    // optimizer substitutes the CALL into FilterExec
    val bare = docs
      .withColumn("ws", wordStats(col("words")))
      .where(col("ws.n_words") > 2)
    assert(DevPlanAudit
      .filterKernelHits(bare.queryExecution.executedPlan).nonEmpty,
      "negative control failed: the scanner no longer sees the " +
        "substituted kernel call")
    // the discipline: the same gate through the optimization barrier
    val barriered = docs
      .withColumn("ws", optBarrier(wordStats(col("words"))))
      .where(col("ws.n_words") > 2)
    assert(DevPlanAudit
      .filterKernelHits(barriered.queryExecution.executedPlan).isEmpty)
    // the string-input kernel's marker matches its plan rendering too
    val bareNgram = docs
      .withColumn("cnt", charNgramCounts(col("text"), 3, Seq(Seq("the"))))
      .where(col("cnt")(0) > 0)
    assert(DevPlanAudit.filterKernelHits(
      bareNgram.queryExecution.executedPlan) == Seq("char_ngram_counts( x1"))
  }

  test("every declared query plans with ZERO kernel calls inside " +
      "FilterExec") {
    // what planning every query leaves behind must be exactly what the
    // one teardown list frees: no persisted RDD and no graft-* temp
    // directory may outlive Caches.releaseAll()
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def graftTempDirs: Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir"))
          .listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
        .map(_.getName).toSet
    val (rddsBefore, dirsBefore) = (persisted, graftTempDirs)
    val dirty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        val hits = DevPlanAudit
          .filterKernelHits(f(spark, sf).queryExecution.executedPlan)
        if (hits.isEmpty) None else Some(s"$name: ${hits.mkString(", ")}")
    }
    Caches.releaseAll()
    assert(dirty.isEmpty,
      s"kernel re-evals inside Filter:\n${dirty.mkString("\n")}")
    val leakedRdds = persisted -- rddsBefore
    assert(leakedRdds.isEmpty, "persisted RDDs survive releaseAll: " +
      leakedRdds.toSeq.sorted.map(spark.sparkContext.getPersistentRDDs(_))
        .mkString(", "))
    val leakedDirs = graftTempDirs -- dirsBefore
    assert(leakedDirs.isEmpty, "temp directories survive releaseAll: " +
      leakedDirs.toSeq.sorted.mkString(", "))
  }
}
