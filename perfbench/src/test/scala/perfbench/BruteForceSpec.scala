package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.functions.{VectorFunctions => VF}
import graft.sources.ManifestStore

/** The search workload's reference must agree bitwise with the engine. */
class BruteForceSpec extends AnyFunSuite {

  private val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  test("brute-force top-k equals Graft.search and multiSearch on a tiny seeded store") {
    val dir = new File("target/brute-force-spec").getAbsoluteFile
    Files.deleteTree(dir)
    val table = new File(dir, "chunks").getPath
    val seed = 5L
    val dim = 8
    val sizes = Seq(40, 25, 60)
    sizes.indices.foreach(c => ManifestStore.store(
      Gen.chunkFrame(spark, seed, c, s"c$c", 0L, sizes(c), dim), table, s"c$c"))
    val colls = sizes.indices.map(c => (
      Array.tabulate(sizes(c))(r => Gen.vector(seed, c, r, dim)),
      Array.tabulate(sizes(c))(r => Gen.docId(seed, c, r.toLong))))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getAs[Double]("similarity"), r.getAs[String]("doc_id"), r.getAs[Int]("position")))
    def bits(xs: Seq[(Double, String, Int)]) =
      xs.map { case (s, d, p) => (java.lang.Double.doubleToLongBits(s), d, p) }
    (0 until 5).foreach { i =>
      val q = Gen.query(seed, 0L, i, dim)
      val one = SearchWorkload.bruteForce(VF.normalize(q), Seq(colls(1)), 7)
      assert(bits(rows(Graft.search(spark, table, q, "c1", 7))) == bits(one))
      val many = SearchWorkload.bruteForce(VF.normalize(q), colls, 10)
      assert(bits(rows(Graft.multiSearch(spark, table, q, Seq("c0", "c1", "c2"), 10))) == bits(many))
    }
    Files.deleteTree(dir)
  }
}
