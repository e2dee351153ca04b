package graft.operators

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase

/** Concurrency contract of the shared memo lifecycle ([[Memo]], under
  * [[PlanMemo]] and the frame-valued driver memos): builds run OUTSIDE
  * the map's bin locks (a racer pair both materialize, the loser frees
  * its copy and adopts the winner's), and release() drains by key so an
  * apply racing it can never leave an entry both forgotten and
  * unfreed. */
class PlanMemoSpec extends SparkSpecBase {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def input: DataFrame = spark.range(0, 8).toDF("id")

  /** Race two first callers of ONE key through the memo; each builds
    * with `mk`. Returns (buildCount, the two returned frames). */
  private def raceOnce(memo: PlanMemo)(mk: => DataFrame)
      : (Int, Seq[DataFrame]) =
    raceVia[DataFrame](build => memo(Seq(input))(build()))(mk)

  /** [[raceOnce]] through any memo's apply for one fixed key: `apply`
    * runs the build thunk it is handed inside the memo. */
  private def raceVia[V](apply: (() => V) => V)(mk: => V)
      : (Int, Seq[V]) = {
    val builds = new AtomicInteger(0)
    val bothInBuild = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[V] {
          def call(): V = apply { () =>
            builds.incrementAndGet()
            // hold until BOTH threads are mid-build: proves neither ran
            // under a CHM bin lock (computeIfAbsent would deadlock here)
            bothInBuild.await(30, TimeUnit.SECONDS)
            mk
          }
        })
      }
      val values = tasks.map(_.get(60, TimeUnit.SECONDS))
      (builds.get(), values)
    } finally pool.shutdownNow()
  }

  test("checkpoint-kind race: both build outside the map, the loser " +
      "frees its distinct RDD, both return the winner's frame") {
    val memo = new PlanMemo
    val before = persistedIds
    val (builds, results) = raceOnce(memo) {
      input.groupBy().count().repartition(2).localCheckpoint()
    }
    assert(builds == 2) // both raced into build
    assert(results(0) eq results(1)) // loser adopted the winner's frame
    // exactly the winner's checkpoint RDD survives; the loser's own
    // (always-distinct) RDD was freed by the losing racer itself
    assert((persistedIds -- before).size == 1)
    assert(results.head.count() == 1) // winner's frame is live and usable
    memo.release()
    assert(persistedIds -- before == Set.empty)
  }

  test("persisted-kind race: the loser must NOT unpersist — its plan " +
      "shares the winner's cache-manager entry") {
    def check(release: () => Unit)(race: => (Int, Seq[DataFrame])): Unit = {
      val before = persistedIds
      val (builds, results) = race
      assert(builds == 2)
      assert(results(0) eq results(1))
      // one shared cache entry, still present AFTER the loser's cleanup
      // (persist is lazy — materialize before counting registered RDDs)
      assert(results.head.count() == 1)
      assert((persistedIds -- before).size == 1)
      assert(spark.sharedState.cacheManager.lookupCachedData(
        results.head.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      ).nonEmpty)
      release()
      assert(persistedIds -- before == Set.empty)
    }
    val memo = new PlanMemo
    check(() => memo.release()) {
      raceOnce(memo) { input.groupBy().count().persist() }
    }
    // a (persisted frame, driver object) value: the MinHash memo's
    // (features, fitted model) shape
    val pairs = Memo.ofFramesWith[PlanMemo.Key, String]
    check(() => pairs.release()) {
      val (builds, values) = raceVia[(DataFrame, String)](
          build => pairs(PlanMemo.key(Seq(input)))(build())) {
        (input.groupBy().count().persist(), "model")
      }
      assert(values(0) eq values(1))
      (builds, values.map(_._1))
    }
    // a key with no input plan: the (session, dir, levels) shape of the
    // signature and refresh-base memos
    val byDir = Memo.ofFrames[(org.apache.spark.sql.SparkSession, String, Int)]
    check(() => byDir.release()) {
      raceVia[DataFrame](build => byDir((spark, "dirA", 4))(build())) {
        input.groupBy().count().persist()
      }
    }
  }

  test("release racing an apply: whichever side removes the mapping " +
      "frees it — nothing ends up forgotten-but-persisted") {
    val memo = new PlanMemo
    val before = persistedIds
    val applied = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(1)
    try {
      val late = pool.submit(new Runnable {
        def run(): Unit = {
          memo(Seq(input)) { input.groupBy().count().persist() }
          applied.countDown()
        }
      })
      assert(applied.await(60, TimeUnit.SECONDS))
      late.get(10, TimeUnit.SECONDS)
      // the entry landed; a release now must both forget AND free it
      memo.release()
      assert(persistedIds -- before == Set.empty)
      // and the memo is genuinely empty: the next apply rebuilds
      var rebuilt = false
      memo(Seq(input)) { rebuilt = true; input.groupBy().count().persist() }
      assert(rebuilt)
    } finally pool.shutdownNow()
    memo.release()
    assert(persistedIds -- before == Set.empty)
  }

  test("memo hit skips the build entirely") {
    val memo = new PlanMemo
    val builds = new AtomicInteger(0)
    val f1 = memo(Seq(input)) {
      builds.incrementAndGet(); input.groupBy().count().persist()
    }
    val f2 = memo(Seq(input)) {
      builds.incrementAndGet(); input.groupBy().count().persist()
    }
    assert(builds.get() == 1)
    assert(f1 eq f2)
    memo.release()
  }
}
