package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.{VectorExpressions => V}
import graft.functions.VectorFunctions
import graft.sources.{DocumentStore, ManifestBackend, ManifestStore}

/** End-to-end reference workflow: a user of dist-bit/nebuia_vector_db
  * does store -> search -> multi_search -> delete_collection over the
  * HTTP API; this spec drives the same lifecycle through the library
  * (reference routes, main.go:162-167) including the Q7-adjacent edge
  * semantics (searching a missing collection is empty, not an error). */
class ReferenceWorkflowSpec extends SparkSpecBase {

  private def writeReq(dir: String, name: String, json: String): Unit =
    Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), json)

  test("store -> search -> multi-search -> delete lifecycle") {
    val drop = Files.createTempDirectory("graft_wf_drop").toString
    val table = Files.createTempDirectory("graft_wf_store").toString + "/t"

    // --- store (reference POST /store, one request per collection) ---
    writeReq(drop, "a.json",
      """{"collection_name":"alpha","documents":[
        |{"text":"whole doc","metadata":{"source":"s","name":"docA"},
        | "chunks":[
        |  {"text":"alpha one","embedding":{"vector":[1.0,0.0]},
        |   "metadata":{"source":"cs","name":"a1"},"semantic_score":0.9},
        |  {"text":"alpha two","embedding":{"vector":[0.6,0.8]},
        |   "metadata":{"source":"cs","name":"a2"},"semantic_score":0.1}]}]}"""
        .stripMargin.replace("\n", ""))
    writeReq(drop, "b.json",
      """{"collection_name":"beta","documents":[
        |{"text":"other","metadata":{"source":"s","name":"docB"},
        | "chunks":[{"text":"beta one","embedding":{"vector":[0.0,1.0]},
        |   "metadata":{"source":"cs","name":"b1"},"semantic_score":0.2}]}]}"""
        .stripMargin.replace("\n", ""))
    val docs = DocumentStore.readStoreRequests(spark, drop)
    ManifestBackend.store(DocumentStore.flattenChunks(docs), table)

    // duplicate store: same doc gets a fresh identity (main.go:330)
    ManifestBackend.store(DocumentStore.flattenChunks(
      DocumentStore.readStoreRequests(spark, s"$drop/a.json")), table)
    assert(ManifestStore.read(spark, table, Some("alpha")).count() == 4)
    assert(ManifestStore.read(spark, table, Some("alpha"))
      .select("doc_id").distinct().count() == 2)

    // --- search one collection (reference POST /search, E1) ---
    val q = VectorFunctions.normalize(Array(1.0, 0.0))
    def search(collection: Option[String], k: Int) =
      ManifestStore.read(spark, table, collection)
        .select(col("collection"), col("text"), col("chunk_idx"),
          V.dot(VectorFunctions.vecLit(q), col("embedding")).as("similarity"))
        .orderBy(col("similarity").desc, col("text"), col("chunk_idx"))
        .limit(k)
    val top = search(Some("alpha"), 2).collect()
    assert(top.head.getAs[String]("text") == "alpha one")
    assert(top.head.getAs[Double]("similarity") == 1.0)
    assert(top.head.getAs[Int]("chunk_idx") == 1) // Q6: 1-based

    // --- multi-search over both collections (E2: union + global top-k) ---
    val multi = search(None, 10).collect()
    assert(multi.map(_.getAs[String]("collection")).toSet == Set("alpha", "beta"))

    // missing collection: empty result, not an error (Q7 semantics,
    // strictly better than the reference's silent skip-and-log)
    assert(search(Some("nope"), 5).count() == 0)

    // --- delete (reference POST /delete_collection, tombstone commit) ---
    ManifestStore.deleteCollection(spark, table, "alpha")
    assert(ManifestStore.read(spark, table, Some("alpha")).count() == 0)
    assert(ManifestStore.read(spark, table, Some("beta")).count() == 1)
  }

  // the four-route lifecycle, driven through the PUBLIC facade
  test("Graft facade: the reference's four routes as library calls " +
      "(ManifestBackend)") {
    val drop = Files.createTempDirectory("graft_api_drop").toString
    val table = Files.createTempDirectory("graft_api_store").toString + "/t"
    writeReq(drop, "a.json",
      """{"collection_name":"alpha","documents":[
        |{"text":"whole doc","metadata":{"source":"s","name":"docA"},
        | "chunks":[
        |  {"text":"alpha one","embedding":{"vector":[1.0,0.0]},
        |   "metadata":{"source":"cs","name":"a1"},"semantic_score":0.9},
        |  {"text":"alpha two","embedding":{"vector":[0.6,0.8]},
        |   "metadata":{"source":"cs","name":"a2"},"semantic_score":0.1}]}]}"""
        .stripMargin.replace("\n", ""))
    writeReq(drop, "b.json",
      """{"collection_name":"beta","documents":[
        |{"text":"other","metadata":{"source":"s","name":"docB"},
        | "chunks":[{"text":"beta one","embedding":{"vector":[0.0,1.0]},
        |   "metadata":{"source":"cs","name":"b1"},"semantic_score":0.2}]}]}"""
        .stripMargin.replace("\n", ""))

    Graft.store(spark, drop, table)

    // duplicate store: same doc gets a fresh identity (main.go:330)
    Graft.store(spark, s"$drop/a.json", table)
    val alpha = ManifestStore.read(spark, table, Some("alpha"))
    assert(alpha.count() == 4)
    assert(alpha.select("doc_id").distinct().count() == 2)

    // /search: top hit + the Q3/Q4/Q6 response quirks, field-for-field
    val top = Graft.search(spark, table, Array(1.0, 0.0), "alpha", 1).head
    assert(top.getAs[String]("text") == "alpha one")
    assert(top.getAs[Double]("similarity") == 1.0)
    assert(top.getAs[Int]("position") == 1) // 1-based chunk idx (Q6)
    // Q3: embedding_id and collection_name BOTH carry the doc name
    assert(top.getAs[String]("embedding_id") == "docA")
    assert(top.getAs[String]("collection_name") == "docA")

    // /multi_search: global top-k across the named collections
    val multi = Graft.multiSearch(spark, table, Array(0.0, 1.0),
      Seq("alpha", "beta"), 2).collect()
    assert(multi.head.getAs[String]("text") == "beta one")
    assert(multi.length == 2)

    // unknown collection: empty, never an error (Q7, made strict)
    assert(Graft.search(spark, table, Array(1.0, 0.0), "nope", 5).count() == 0)
    assert(Graft.multiSearch(spark, table, Array(1.0, 0.0),
      Seq("alpha", "nope"), 10).count() == 4)

    // /delete_collection
    Graft.deleteCollection(spark, table, "alpha")
    assert(Graft.search(spark, table, Array(1.0, 0.0), "alpha", 5).count() == 0)
    assert(Graft.search(spark, table, Array(0.0, 1.0), "beta", 5).count() == 1)

    // deleting the LAST collection leaves a readable empty store:
    // searches return typed empties, never schema-inference errors (Q7)
    Graft.deleteCollection(spark, table, "beta")
    assert(Graft.search(spark, table, Array(1.0, 0.0), "beta", 5).count() == 0)
    assert(Graft.multiSearch(spark, table, Array(1.0, 0.0),
      Seq("alpha", "beta"), 5).count() == 0)
    // and a never-written store path behaves the same
    val fresh = Files.createTempDirectory("graft_api_fresh").toString + "/none"
    assert(Graft.search(spark, fresh, Array(1.0, 0.0), "x", 5).count() == 0)
  }

  test("reference workflow end-to-end over the manifest-store backend") {
    // the same four-route lifecycle, backed by the object-store-safe
    // ManifestStore, composed from its primitives: reads return the
    // chunk-table schema, so the quirk-faithful search projection is
    // shared with the facade
    val drop = Files.createTempDirectory("graft_man_drop").toString
    val table = Files.createTempDirectory("graft_man_store").toString + "/t"
    writeReq(drop, "a.json",
      """{"collection_name":"alpha","documents":[
        |{"text":"whole doc","metadata":{"source":"s","name":"docA"},
        | "chunks":[
        |  {"text":"alpha one","embedding":{"vector":[1.0,0.0]},
        |   "metadata":{"source":"cs","name":"a1"},"semantic_score":0.9},
        |  {"text":"alpha two","embedding":{"vector":[0.6,0.8]},
        |   "metadata":{"source":"cs","name":"a2"},"semantic_score":0.1}]}]}"""
        .stripMargin.replace("\n", ""))
    writeReq(drop, "b.json",
      """{"collection_name":"beta","documents":[
        |{"text":"other","metadata":{"source":"s","name":"docB"},
        | "chunks":[{"text":"beta one","embedding":{"vector":[0.0,1.0]},
        |   "metadata":{"source":"cs","name":"b1"},"semantic_score":0.2}]}]}"""
        .stripMargin.replace("\n", ""))
    def flatten(req: String) = DocumentStore.flattenChunks(
      DocumentStore.readStoreRequests(spark, s"$drop/$req"))
    ManifestStore.store(flatten("a.json"), table, "alpha")
    ManifestStore.store(flatten("b.json"), table, "beta")

    // /search with the Q3/Q6 quirk fields, over the snapshot read
    val top = Graft.searchIn(
      ManifestStore.read(spark, table, Some("alpha")), Array(1.0, 0.0), 1).head
    assert(top.getAs[String]("text") == "alpha one")
    assert(top.getAs[Double]("similarity") == 1.0)
    assert(top.getAs[Int]("position") == 1)
    assert(top.getAs[String]("embedding_id") == "docA")

    // /multi_search: one snapshot read, one global top-k
    val multi = Graft.searchIn(
      ManifestStore.read(spark, table)
        .where(col("collection").isin("alpha", "beta")),
      Array(0.0, 1.0), 2).collect()
    assert(multi.head.getAs[String]("text") == "beta one")
    assert(multi.length == 2)

    // compaction mid-lifecycle is observably a no-op for searches
    ManifestStore.compactCollection(spark, table, "alpha")
    assert(Graft.searchIn(ManifestStore.read(spark, table, Some("alpha")),
      Array(1.0, 0.0), 5).count() == 2)

    // /delete_collection = tombstone; searches read defined empties (Q7)
    ManifestStore.deleteCollection(spark, table, "alpha")
    assert(Graft.searchIn(ManifestStore.read(spark, table, Some("alpha")),
      Array(1.0, 0.0), 5).count() == 0)
    assert(Graft.searchIn(ManifestStore.read(spark, table),
      Array(1.0, 0.0), 5).count() == 1)
  }

  test("non-string metadata.source round-trips as its JSON text (SURVEY §1.2)") {
    // the reference's Metadata.Source is `interface{}` (main.go:42) —
    // arbitrary JSON. The port constrains it to ONE column type by
    // carrying the value's JSON text: a string stays a string, an
    // object/number/array surfaces as its serialized JSON. This pins
    // that contract end-to-end through store -> search.
    val drop = Files.createTempDirectory("graft_src_drop").toString
    val table = Files.createTempDirectory("graft_src_store").toString
    writeReq(drop, "a.json",
      """{"collection_name":"alpha","documents":[
        |{"text":"doc","metadata":{"source":{"bucket":"b1","path":"p/q"},"name":"docA"},
        | "chunks":[
        |  {"text":"c one","embedding":{"vector":[1.0,0.0]},
        |   "metadata":{"source":42,"name":"a1"},"semantic_score":0.9},
        |  {"text":"c two","embedding":{"vector":[0.0,1.0]},
        |   "metadata":{"source":"plain","name":"a2"},"semantic_score":0.1}]}]}"""
        .stripMargin.replace("\n", ""))
    Graft.store(spark, drop, table)
    val rows = Graft.search(spark, table, Array(1.0, 0.0), "alpha", 2)
      .collect().sortBy(_.getAs[Int]("position"))
    // chunk-level source: a JSON number arrives as its text
    assert(rows(0).getAs[String]("metadata_source") == "42")
    assert(rows(1).getAs[String]("metadata_source") == "plain")
    // document-level source: the object arrives as its JSON text
    val docSource = graft.sources.ManifestStore.read(spark, table, Some("alpha"))
      .select("doc_source").head.getString(0)
    assert(docSource == """{"bucket":"b1","path":"p/q"}""", docSource)
  }
}
