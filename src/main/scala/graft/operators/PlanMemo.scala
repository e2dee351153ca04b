package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The repo's memoize-by-canonicalized-plan discipline (the CLAUDE.md
  * invariant behind the Dedup shingle cache, the Pipeline quota/
  * histogram/gate caches, the MlIndex BRP tiers and the WAND hits
  * materialization): a materialized DataFrame keyed by (session,
  * canonicalized input plans [, extra]), living until [[release]]. The
  * race and drain policy is [[Memo]]'s; this class only computes the
  * key ([[PlanMemo.key]]), which the driver-value memos keyed the same
  * way reuse.
  *
  * The caller's `build` owns HOW to materialize — `.persist()` for
  * cached relations, repartition + `localCheckpoint()` for lineage
  * cuts — and [[release]] frees EITHER storage kind eagerly: a
  * cache-manager entry unpersists, a localCheckpoint's blocks are
  * dropped through its captured RDD. A losing racer never unpersists
  * a cache-manager entry whose canonicalized plan equals the winner's
  * (the cache manager dedups by plan, so it IS the winner's entry);
  * its localCheckpoint RDD is always dropped ([[Memo.ofFrames]]).
  *
  * SNAPSHOT semantics, by design and shared by every user: an entry
  * reflects its inputs AS OF first use — rewriting the underlying
  * files does NOT invalidate it (the canonicalized plan compares
  * equal). Writers call their module's releaseCaches() after mutating
  * inputs; the engine's mains do so on shutdown. After release,
  * previously returned frames are DEAD (storage dropped; a
  * checkpointed frame has no lineage to recompute from). */
private[operators] final class PlanMemo {
  private val m = Memo.ofFrames[PlanMemo.Key]

  /** Memoized `build` result for these input frames (plus an optional
    * non-plan key component, e.g. a quantization level). The build runs
    * outside the map; two concurrent first callers of one key both
    * build, and the loser frees its copy and returns the winner's. */
  def apply(inputs: Seq[DataFrame], extra: Any = ())(
      build: => DataFrame): DataFrame =
    m(PlanMemo.key(inputs, extra))(build)

  /** Eagerly free every entry's storage and forget it ([[Memo.release]]:
    * a drain by key, not a close). */
  def release(): Unit = m.release()
}

private[operators] object PlanMemo {
  type Key = (SparkSession, Seq[LogicalPlan], Any)

  /** (session, canonicalized input plans, extra). */
  def key(inputs: Seq[DataFrame], extra: Any = ()): Key = {
    require(inputs.nonEmpty, "PlanMemo needs at least one input frame")
    (inputs.head.sparkSession,
      inputs.map(_.queryExecution.analyzed.canonicalized), extra)
  }
}
