package graft

/** Dev tool: dump `.explain("formatted")` for a comma-separated list of
  * declared queries into an output directory (one `<name>_<tag>.txt`
  * per query) — the per-round plan-evidence capture
  * (`plans/rNN/<query>_before.txt` / `_after.txt`) without paying one
  * JVM+session startup per query. Runs each query once first so AQE
  * finalizes and the formatted plan shows the executed shape. */
object DevPlans {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val outDir = args(1)
    val tag = if (args.length > 2) args(2) else "before"
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    new java.io.File(outDir).mkdirs()
    val spark = DevSession()
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      // run once so AQE finalizes; noop keeps every column materialized
      df.write.format("noop").mode("overwrite").save()
      val txt = new StringBuilder()
      txt ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      txt ++= "\n=== executed (AQE final) ===\n"
      txt ++= df.queryExecution.executedPlan.toString()
      val pw = new java.io.PrintWriter(s"$outDir/${name}_$tag.txt", "UTF-8")
      try pw.println(txt.result()) finally pw.close()
      println(s"PLAN $name -> $outDir/${name}_$tag.txt")
    }
    Caches.releaseAll()
    spark.stop()
  }
}
