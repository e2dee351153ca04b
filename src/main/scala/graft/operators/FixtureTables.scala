package graft.operators

import org.apache.spark.sql.SparkSession

/** The repo's memoized TEMP-TABLE lifecycle (the manifest-backed
  * tables and on-disk indexes the declared faces build from the
  * parquet fixtures): an entry per (session, data dir), built once
  * into a fresh temp directory, a JVM shutdown hook as the crash
  * backstop, and [[release]] as the documented teardown every module's
  * `releaseCaches()` calls. The race and drain policy is [[Memo]]'s; a
  * value is freed by deleting its directory through the session's
  * Hadoop FS — a racing builder's losing copy too. `T` is the
  * builder's handle (path + whatever bounds/versions the queries
  * need); its PATH must be `pathOf(t)` so the delete can find the
  * directory. */
private[operators] final class FixtureTables[T](prefix: String)(
    pathOf: T => String) {
  private val m = new Memo[(SparkSession, String), T](
    (k, t, _) => delete(k._1, pathOf(t)))

  /** Memoized fixture for (session, dir); `build` receives the fresh
    * temp directory path and runs outside the map. */
  def apply(s: SparkSession, dir: String)(build: String => T): T =
    m((s, dir)) {
      val path = java.nio.file.Files.createTempDirectory(prefix).toString
      // releaseCaches() is the documented teardown; the hook covers a
      // crashed or lifecycle-skipping driver so temp tables never leak
      // past the JVM (deleteQuietly: no-op when already released)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(path)): Unit))
      build(path)
    }

  private def delete(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    try { p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(p, true); () }
    catch { case _: java.io.IOException => () }
  }

  /** Drop every fixture directory and forget it ([[Memo.release]]: a
    * drain by key, not a close — a build racing it re-inserts a live
    * entry, freed by the next release and backstopped by the shutdown
    * hook). */
  def release(): Unit = m.release()
}
