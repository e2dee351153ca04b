package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The chunk-table store behind the [[graft.Graft]] facade:
  * [[ManifestStore]]'s immutable segments + pointer commits, ingesting
  * the flattened chunk table ([[DocumentStore.flattenChunks]]) and
  * reading it back to [[DocumentStore.chunkTableSchema]]. Safe on
  * object stores (never renames, never mutates published files), which
  * is where the reference actually keeps its documents (MinIO,
  * reference main.go:131-143); also correct on HDFS/POSIX.
  */
object ManifestBackend {

  /** Ingest flattened chunk rows (any number of collections). */
  def store(chunks: DataFrame, tablePath: String): Unit = {
    // one manifest commit per collection (the reference's /store is
    // one-collection-per-request, main.go:25-28, so this loop is
    // almost always a single iteration); the distinct is bounded by
    // collections-per-ingest — the same driver-side shape as the
    // streaming ingest's per-micro-batch collection list. persist:
    // the ingest pipeline (JSON read + flatten) feeds the collection
    // listing plus one filtered write per collection — uncached that
    // is 1+N full input scans. Writes are synchronous, so the frame
    // is released before return.
    val cached = chunks.persist()
    try {
      val colls = cached.select(col("collection")).distinct()
        .collect().map(_.getString(0))
      colls.foreach { c =>
        ManifestStore.store(cached.where(col("collection") === c),
          tablePath, c)
      }
    } finally cached.unpersist()
  }

  /** Read the chunk table: all collections (None) or a named subset,
    * pruned. Absent/deleted collections read as defined empties (Q7). */
  def read(spark: SparkSession, tablePath: String,
      collections: Option[Seq[String]] = None): DataFrame =
    collections.fold(ManifestStore.read(spark, tablePath))(cs =>
      ManifestStore.readMany(spark, tablePath, cs))
}
