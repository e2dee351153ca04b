package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** One ANN index store: `Ann` persists only through
  * `ManifestStore.storeBatch` and `zorderCompact` (tagged, atomic,
  * replay-idempotent commits), never through a DataFrame writer of its
  * own. Reads the source; runs no Spark. */
class StoreStructureSpec extends AnyFunSuite {

  test("Ann.scala has no .write call: every stored ANN index goes " +
      "through ManifestStore") {
    val f = new java.io.File("src/main/scala/graft/operators/Ann.scala")
    assert(f.isFile, s"no Ann source at ${f.getAbsolutePath}")
    val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").split("\n", -1).toSeq
    // the guard must see the store calls it allows, or it guards nothing
    assert(lines.exists(_.contains("ManifestStore.storeBatch(")))
    val writes = lines.zipWithIndex.collect {
      case (l, i) if "\\.write\\b".r.findFirstIn(l).nonEmpty =>
        s"Ann.scala:${i + 1}: ${l.trim}"
    }
    assert(writes.isEmpty,
      "a second ANN store layout: " + writes.mkString("; "))
  }
}
