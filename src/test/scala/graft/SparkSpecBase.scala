package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; sbt forks a single test JVM). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Distinct `seg=` directories of manifest file paths, sorted. */
  def segsOf(paths: Seq[String]): Seq[String] =
    paths.flatMap(_.split('/').find(_.startsWith("seg="))).distinct.sorted

  /** The `seg=` directories a frame reads: for an imperative manifest
    * read, the live segments its pruning kept. */
  def segsRead(df: DataFrame): Seq[String] = segsOf(df.inputFiles.toSeq)

  /** Smallest fixture scale — unit tests assert semantics, not perf. */
  val sf: String = "/root/testdata/sf0.001"
}
