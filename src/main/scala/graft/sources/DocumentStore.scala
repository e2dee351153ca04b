package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ingest wire format and the chunk table it flattens
  * to — shared by every ingest path ([[graft.Graft.store]],
  * [[graft.streaming.EventStream.ingestStoreRequests]]) in front of
  * [[ManifestStore]].
  *
  * Reference model (main.go:58-62, 334): one JSON blob per document at
  * MinIO key `{collection}/{uuid}_doc.json`, re-read and re-decoded in
  * full on every query. Here the documents are flattened once at
  * ingest to one row per chunk, stored per collection — the collection
  * is the exact analogue of the key prefix (main.go:186-189) and gives
  * pruned scans, column projection, and predicate pushdown for free.
  *
  * Write semantics (SURVEY.md D3): synchronous commits replace the
  * reference's fire-and-forget goroutines (main.go:294-349) — the
  * reference acks before writing and can silently lose data; a store
  * call is atomic and readable when it returns.
  */
object DocumentStore {

  /** Wire schema of the reference's ingest JSON (main.go:25-62;
    * FIXTURES.md §A). `metadata.source` is `interface{}` in the
    * reference — carried as a JSON string (SURVEY.md §1.2). */
  val chunkSchema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("embedding", StructType(Seq(
      StructField("vector", ArrayType(DoubleType))))),
    StructField("metadata", StructType(Seq(
      StructField("source", StringType),
      StructField("name", StringType)))),
    StructField("semantic_score", DoubleType))) // dead on read (Q4)

  val documentSchema: StructType = StructType(Seq(
    StructField("text", StringType), // dead on read (Q5)
    StructField("metadata", StructType(Seq(
      StructField("source", StringType),
      StructField("name", StringType)))),
    StructField("chunks", ArrayType(chunkSchema))))

  val storeRequestSchema: StructType = StructType(Seq(
    StructField("collection_name", StringType),
    StructField("documents", ArrayType(documentSchema))))

  /** Ingest reference-format JSON store requests (one JSON object per
    * line/file) into document rows: (collection, doc_id, document). A
    * fresh UUID per document, like the reference (main.go:330) — and like
    * it, re-storing the same document yields a new identity. */
  def readStoreRequests(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(storeRequestSchema).json(path)
      .select(col("collection_name").as("collection"),
        explode(col("documents")).as("doc"))
      .withColumn("doc_id", expr("uuid()"))

  /** Flatten nested documents to the scan-side chunk table (SURVEY.md
    * §1.4(b)): one row per chunk, 1-based `chunk_idx` (Q6). This is the
    * layout every search reads — exploding at ingest once instead of per
    * query (the reference re-explodes on every request, main.go:245-255).
    */
  def flattenChunks(docs: DataFrame): DataFrame =
    docs.select(col("collection"), col("doc_id"),
        col("doc.metadata.name").as("doc_name"),
        col("doc.metadata.source").as("doc_source"),
        posexplode(col("doc.chunks")).as(Seq("pos", "chunk")))
      .select(col("collection"), col("doc_id"), col("doc_name"),
        col("doc_source"),
        (col("pos") + 1).as("chunk_idx"), // 1-based, reference main.go:250
        col("chunk.text").as("text"),
        col("chunk.embedding.vector").as("embedding"),
        col("chunk.metadata.source").as("meta_source"),
        col("chunk.metadata.name").as("meta_name"),
        col("chunk.semantic_score").as("semantic_score"))

  /** Schema of the flattened chunk table ([[flattenChunks]]'s output,
    * with the partition column last as parquet stores it). */
  val chunkTableSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("doc_name", StringType),
    StructField("doc_source", StringType),
    StructField("chunk_idx", IntegerType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(DoubleType)),
    StructField("meta_source", StringType),
    StructField("meta_name", StringType),
    StructField("semantic_score", DoubleType),
    StructField("collection", StringType)))
}
