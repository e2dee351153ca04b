package graft

import org.apache.spark.sql.SparkSession

/** The one local session the dev mains (`DevPlans`, `DevShow`,
  * `DevProfile`, `DevPlanAudit`) run in: 32 local cores and shuffle
  * partitions, UTC, no UI, ERROR-level logs. */
object DevSession {
  def apply(): SparkSession = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
