package graft
import org.apache.spark.sql.execution.SparkPlan
/** Flag declared queries whose physical Filter conditions re-evaluate
  * expensive text kernels (the substituted-gate pathology the
  * `optBarrier` discipline exists to prevent); `graft.Dev audit` runs
  * it over every declared query. The scan itself is pure and CI-pinned
  * (`PlanAuditSpec` keeps the suite-wide hit count at zero). */
object DevPlanAudit {
  /** Kernel CALL markers — name + paren, so attributes named after a
    * kernel column (shingle_hashes#12) don't match: those are cheap
    * references, not re-evals. */
  val Kernels: Seq[String] = Seq("word_stats(", "repetition_signals(",
    "shingle_hashes(", "shingle_strings(", "marker_count(",
    "char_class_stats(", "poly_hash(", "minhash_sig(", "band_hashes(",
    "simhash(", "tokenize(", "count_replace(", "char_ngram_counts(")

  /** AQE wrapping hides the initial plan — unwrap it. */
  def unwrap(plan: SparkPlan): SparkPlan = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.initialPlan
    case p => p
  }

  /** Every kernel CALL found inside a FilterExec condition of `plan`,
    * as "marker xN" strings; empty = the plan is clean. */
  def filterKernelHits(plan: SparkPlan): Seq[String] = {
    var hits = List.empty[String]
    unwrap(plan).foreach {
      case flt: org.apache.spark.sql.execution.FilterExec =>
        val cond = flt.condition.toString
        Kernels.filter(cond.contains).foreach { k =>
          hits ::= s"$k x${cond.sliding(k.length).count(_ == k)}"
        }
      case _ =>
    }
    hits
  }
}
