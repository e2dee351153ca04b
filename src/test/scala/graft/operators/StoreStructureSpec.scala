package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** One index store: `Ann` and `TextAnalysis` persist only through
  * `ManifestStore.storeBatch` and `zorderCompact` (tagged, atomic,
  * replay-idempotent commits), never through a DataFrame writer of
  * their own. Reads the source; runs no Spark. */
class StoreStructureSpec extends AnyFunSuite {

  /** Fails on any `.write` call in `file`, after checking the file
    * does commit through `storeBatch` (or the guard guards nothing). */
  private def assertNoWrite(file: String, what: String): Unit = {
    val f = new java.io.File(s"src/main/scala/graft/operators/$file")
    assert(f.isFile, s"no source at ${f.getAbsolutePath}")
    val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").split("\n", -1).toSeq
    assert(lines.exists(_.contains("ManifestStore.storeBatch(")))
    val writes = lines.zipWithIndex.collect {
      case (l, i) if "\\.write\\b".r.findFirstIn(l).nonEmpty =>
        s"$file:${i + 1}: ${l.trim}"
    }
    assert(writes.isEmpty, s"a second $what store layout: " +
      writes.mkString("; "))
  }

  test("Ann.scala has no .write call: every stored ANN index goes " +
      "through ManifestStore") {
    assertNoWrite("Ann.scala", "ANN")
  }

  test("TextAnalysis.scala has no .write call: the stored text index " +
      "goes through ManifestStore") {
    assertNoWrite("TextAnalysis.scala", "text index")
  }
}
