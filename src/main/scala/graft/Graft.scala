package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.functions.{VectorExpressions => V}
import graft.sources.{DocumentStore, ManifestBackend, ManifestStore}

/** The library facade: the reference's four HTTP routes as library
  * calls over a [[graft.sources.ManifestStore]] chunk table — what a
  * user of dist-bit/nebuia_vector_db swaps in (reference
  * main.go:162-167: POST /store, /search, /multi_search,
  * /delete_collection).
  *
  * Semantics follow SURVEY.md §7.0's decisions: score is
  * `dot(q/‖q‖₂, v)` with stored vectors raw (D1, the reference's
  * half-normalized "cosine", main.go:179-183, 246); results are ALWAYS
  * sorted with a total tie-break (D2, a strictly-defined superset of
  * the reference's unsorted-under-k, main.go:232); writes are
  * synchronous (D3); a missing collection yields an empty result, not
  * a silent skip (Q7). The response carries the Q3/Q4/Q5 quirk fields
  * the reference returns (embedding_id = collection_name = the
  * document's metadata name; chunk text, 1-based position).
  *
  * Scale: search is scan → codegen dot → TakeOrderedAndProject on a
  * collection-pruned read (zero shuffles); multi-search over n
  * collections is ONE pruned scan + one global top-k, provably ≡ the
  * reference's per-collection fan-out + re-top-k (PropertySpec).
  *
  * Storage is [[graft.sources.ManifestBackend]] — the object-store-safe
  * segment + pointer-manifest layout, matching where the reference
  * actually keeps data (MinIO, reference main.go:131-143).
  */
object Graft {

  /** POST /store: ingest reference-format JSON store requests into the
    * chunk table. Fresh UUID per document, like the reference
    * (main.go:330) — re-storing a document yields a new identity. */
  def store(spark: SparkSession, requestsJsonPath: String,
      tablePath: String): Unit =
    ManifestBackend.store(DocumentStore.flattenChunks(
      DocumentStore.readStoreRequests(spark, requestsJsonPath)), tablePath)

  /** POST /search: top-k chunks of one collection by dot(q̂, v). */
  def search(spark: SparkSession, tablePath: String,
      queryVector: Array[Double], collection: String, topK: Int): DataFrame =
    searchIn(ManifestBackend.read(spark, tablePath, Some(Seq(collection))),
      queryVector, topK)

  /** POST /multi_search: one pruned scan over the named collections,
    * one global top-k (≡ per-collection top-k then merge). Unknown
    * collections prune to nothing (Q7: defined, not skipped-and-logged). */
  def multiSearch(spark: SparkSession, tablePath: String,
      queryVector: Array[Double], collections: Seq[String],
      topK: Int): DataFrame =
    searchIn(ManifestBackend.read(spark, tablePath, Some(collections)),
      queryVector, topK)

  /** POST /delete_collection: synchronous drop — a tombstone commit. */
  def deleteCollection(spark: SparkSession, tablePath: String,
      collection: String): Unit =
    ManifestStore.deleteCollection(spark, tablePath, collection)

  /** Core of every search route over a chunk-table frame
    * ([[DocumentStore.chunkTableSchema]]). */
  private[graft] def searchIn(chunks: DataFrame, queryVector: Array[Double],
      topK: Int): DataFrame = {
    val qn = VF.vecLit(VF.normalize(queryVector)) // driver-side, once (O5)
    chunks
      .select(
        // Q3 field aliasing, replicated field-for-field (D4)
        col("doc_name").as("embedding_id"),
        V.dot(qn, col("embedding")).as("similarity"),
        col("chunk_idx").as("position"), // Q6: 1-based chunk index
        col("meta_source").as("metadata_source"),
        col("meta_name").as("metadata_name"),
        col("text"),
        col("doc_name").as("collection_name"),
        col("doc_id"))
      .orderBy(col("similarity").desc, col("doc_id"), col("position"))
      .limit(topK)
  }
}
