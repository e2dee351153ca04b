package graft

/** Dev-only: run each declared query twice (cold/warm) to separate fixed
  * planning/codegen overhead from per-row compute. Not part of the driver
  * contract. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = DevSession()
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup
    // optional args(1): comma-separated name prefixes to profile a subset
    val prefixes = if (args.length > 1) args(1).split(",").toSeq else Seq("")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    for ((name, fn) <- picked) {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // noop sink: count() would let Catalyst prune the very
        // projections being profiled (same fix as Bench)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROF $name%-28s cold=${times(0)}%7.2fs " +
        f"warm=${times(1)}%7.2fs warm2=${times(2)}%7.2fs")
    }
    Caches.releaseAll()
    spark.stop()
  }
}
