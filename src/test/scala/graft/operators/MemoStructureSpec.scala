package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** One memo lifecycle in `graft.operators`: the map, the temp
  * directories and the shutdown hooks live only in the memo core
  * ([[Memo]]) and [[FixtureTables]]; every other operator cache is an
  * instance of them, so the build-outside-the-lock, loser-free and
  * drain-release policy cannot be hand-rolled again. Reads the
  * sources; runs no Spark. */
class MemoStructureSpec extends AnyFunSuite {

  private val dir = new java.io.File("src/main/scala/graft/operators")

  private def sources: Seq[(String, String)] = {
    val files = Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    assert(files.size > 2, s"no operator sources under ${dir.getAbsolutePath}")
    files.map(f => f.getName -> new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("ConcurrentHashMap, createTempDirectory and addShutdownHook " +
      "appear only in Memo and FixtureTables; no computeIfAbsent") {
    val owners = Map(
      "ConcurrentHashMap" -> Set("Memo.scala"),
      "createTempDirectory" -> Set("FixtureTables.scala"),
      "addShutdownHook" -> Set("FixtureTables.scala"),
      "computeIfAbsent" -> Set.empty[String])
    val src = sources
    val stray = for {
      (token, allowed) <- owners.toSeq.sortBy(_._1)
      (file, text) <- src if text.contains(token) && !allowed(file)
    } yield s"$file: $token"
    assert(stray.isEmpty, "hand-rolled memo lifecycle outside the core: " +
      stray.mkString(", "))
    // the guard must see the owners it allows, or it guards nothing
    assert(src.exists { case (f, t) =>
      f == "Memo.scala" && t.contains("ConcurrentHashMap") })
    assert(src.exists { case (f, t) =>
      f == "FixtureTables.scala" && t.contains("createTempDirectory") &&
        t.contains("addShutdownHook") })
  }
}
