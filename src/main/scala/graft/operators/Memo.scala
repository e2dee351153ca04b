package graft.operators

import org.apache.spark.sql.DataFrame

/** ONE memo lifecycle for every operator cache — the only map in
  * `graft.operators`. [[PlanMemo]] (frames keyed by canonicalized
  * input plans), [[FixtureTables]] (temp-dir tables keyed by session
  * and data dir) and the few driver-value and (session, dir) memos
  * all sit on it, so the race and release policy is written once:
  *
  *  - [[apply]] builds OUTSIDE the map (compute-then-putIfAbsent, never
  *    the map's compute-in-bin-lock form): a Spark job must never run
  *    under a bin lock — a recursive memo use would deadlock there, and
  *    two keys hashing to one bin would serialize their builds. Two
  *    concurrent first callers of one key therefore both build; the
  *    losing racer frees its copy and returns the winner's.
  *  - [[release]] drains by key (remove-then-free), so an insert racing
  *    it is never forgotten unfreed: whichever side removes the
  *    mapping owns the free.
  *
  * `free(key, value, winner)` releases one value's storage; `winner`
  * is the adopted entry when `value` is a losing racer's copy, `None`
  * on release. A memo whose values hold a materialized frame is built
  * by [[Memo.ofFrames]] or [[Memo.ofFramesWith]], which free it by
  * PlanMemo's frame rule.
  *
  * Release is a DRAIN, not a close: an insert whose putIfAbsent lands
  * after the drain's final isEmpty check stays a LIVE entry (visible
  * to later hits, freed by the next release) — never forgotten-but-
  * unfreed. Benign under the repo's lifecycle (release runs at
  * shutdown or after input mutation, when no apply is in flight by
  * contract); a memo that must stay empty after release would need a
  * closed flag making post-release inserts free their own build. */
private[operators] final class Memo[K, V](free: (K, V, Option[V]) => Unit) {
  private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()

  def apply(key: K)(build: => V): V = {
    val hit = m.get(key)
    if (hit != null) hit
    else {
      val built = build
      val raced = m.putIfAbsent(key, built)
      if (raced == null) built
      else { free(key, built, Some(raced)); raced }
    }
  }

  /** Free every entry's storage and forget it (drain by key). */
  def release(): Unit =
    while (!m.isEmpty) {
      val keys = m.keySet().iterator()
      while (keys.hasNext) {
        val k = keys.next()
        val v = m.remove(k)
        if (v != null) free(k, v, None)
      }
    }
}

private[operators] object Memo {

  /** A memo of values that hold no storage (driver-side models and
    * codebooks): release just forgets them. */
  def ofValues[K, V]: Memo[K, V] = new Memo[K, V]((_, _, _) => ())

  /** A memo of materialized frames, freed by [[freeFrame]]. */
  def ofFrames[K]: Memo[K, DataFrame] =
    new Memo[K, DataFrame]((_, df, winner) => freeFrame(df, winner))

  /** A memo of (materialized frame, driver-side value) pairs — a fitted
    * model beside the persisted features it was fit on; the frame is
    * freed by [[freeFrame]], the driver value just forgotten. */
  def ofFramesWith[K, A]: Memo[K, (DataFrame, A)] =
    new Memo[K, (DataFrame, A)](
      (_, v, winner) => freeFrame(v._1, winner.map(_._1)))

  /** Free a memoized frame's storage eagerly. A localCheckpoint's
    * blocks are dropped through its captured RDD (the cache manager
    * never tracked them, and waiting on GC + the context cleaner is not
    * a release policy); that RDD is distinct per build, so a losing
    * racer's is always safe to drop. A cache-manager entry unpersists —
    * EXCEPT a losing racer's whose canonicalized plan equals the
    * winner's: the cache manager dedups by plan, so that "copy" IS the
    * winner's entry, and unpersisting it would strip the winner's
    * storage. */
  private def freeFrame(df: DataFrame, winner: Option[DataFrame]): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false): Unit
      case p if winner.exists(
          _.queryExecution.logical.canonicalized == p.canonicalized) => ()
      case _ => df.unpersist(): Unit
    }
}
