package graft

import org.apache.spark.sql.SparkSession

/** The one dev entry point (not part of the driver contract):
  *
  * {{{
  * runMain graft.Dev plans   <q1,q2,…> <outDir> [tag=before] [sfDir=sf0.1]
  * runMain graft.Dev show    <query> [sfDir=sf0.1]
  * runMain graft.Dev profile [sfDir=sf0.1] [prefix1,prefix2,…]
  * runMain graft.Dev audit   [sfDir=sf0.01]
  * }}}
  *
  *   - `plans` dumps `.explain("formatted")` per query into `outDir`
  *     (one `<name>_<tag>.txt` each, a `PLAN` line per file) — the
  *     per-round plan-evidence capture without one JVM per query. Each
  *     query runs once first so AQE finalizes and the plan shows the
  *     executed shape.
  *   - `show` prints a query's rows.
  *   - `profile` runs each declared query (or those matching a name
  *     prefix) three times, one `PROF` line each: cold vs warm separates
  *     fixed planning/codegen overhead from per-row compute.
  *   - `audit` prints an `AUDIT` line for every declared query whose
  *     physical Filter re-evaluates a text kernel
  *     ([[DevPlanAudit.filterKernelHits]]).
  *
  * Every subcommand runs in one local session — 32 local cores and
  * shuffle partitions, UTC, no UI, ERROR-level logs — and releases the
  * operator caches before it stops. Bench and Verify build their own
  * sessions (their settings differ). */
object Dev {
  private val Usage = "usage: graft.Dev plans|show|profile|audit [args…]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val rest = args.toSeq.tail
    val run: SparkSession => Unit = args(0) match {
      case "plans" => plans(rest, _)
      case "show" => show(rest, _)
      case "profile" => profile(rest, _)
      case "audit" => audit(rest, _)
      case other =>
        throw new IllegalArgumentException(
          s"unknown subcommand '$other'; $Usage")
    }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark) finally {
      Caches.releaseAll()
      spark.stop()
    }
  }

  private def arg(args: Seq[String], i: Int, default: String): String =
    if (args.length > i) args(i) else default

  private def plans(args: Seq[String], spark: SparkSession): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val outDir = args(1)
    val tag = arg(args, 2, "before")
    val dir = arg(args, 3, "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
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
  }

  private def show(args: Seq[String], spark: SparkSession): Unit =
    SparkEntry.queries(args(0))(spark, arg(args, 1, "/root/testdata/sf0.1"))
      .show(100, false)

  private def profile(args: Seq[String], spark: SparkSession): Unit = {
    val sfDir = arg(args, 0, "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup
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
  }

  private def audit(args: Seq[String], spark: SparkSession): Unit = {
    val sfDir = arg(args, 0, "/root/testdata/sf0.01")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, f) =>
      try {
        val hits = DevPlanAudit.filterKernelHits(
          f(spark, sfDir).queryExecution.executedPlan)
        if (hits.nonEmpty)
          println(s"AUDIT $name: filter re-evaluates ${hits.mkString(", ")}")
      } catch { case e: Throwable =>
        println(s"AUDIT $name: ERROR ${e.getClass.getSimpleName}")
      }
    }
  }
}
