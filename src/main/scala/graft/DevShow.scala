package graft
/** Dev-only: print a named query's rows at a given SF dir. */
object DevShow {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = DevSession()
    SparkEntry.queries(name)(spark, sfDir).show(100, false)
    Caches.releaseAll()
    spark.stop()
  }
}
