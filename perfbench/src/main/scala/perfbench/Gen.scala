package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.DocumentStore

/** A chunk-table row with a primitive vector, so generated frames
  * encode without boxing every element. */
final case class Chunk(doc_id: String, doc_name: String, doc_source: String,
    chunk_idx: Int, text: String, embedding: Array[Double],
    meta_source: String, meta_name: String, semantic_score: Double,
    collection: String)

object Chunk {
  def apply(r: Row): Chunk = Chunk(r.getString(0), r.getString(1), r.getString(2),
    r.getInt(3), r.getString(4), r.getSeq[Double](5).toArray, r.getString(6),
    r.getString(7), r.getDouble(8), r.getString(9))
}

/** Seeded input generators. Every value is a pure function of the run
  * seed and the item's coordinates, so the driver can regenerate any
  * row the engine stored (the search check does) and the same seed
  * yields the same inputs however Spark partitions the work. */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A generator for the stream named by `coords` under `seed`. */
  def rng(seed: Long, coords: Long*): SplittableRandom =
    new SplittableRandom(coords.foldLeft(mix(seed))((h, c) => mix(h ^ c)))

  /** Zipf(s) rank in [0, n) by inversion of the normalized weights. */
  def zipf(r: SplittableRandom, n: Int, s: Double): Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    var u = r.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  // ---------------------------------------------------------------
  // chunk tables (search and ingest)
  // ---------------------------------------------------------------

  /** Embedding of chunk `row` of collection `coll`: uniform in [-1, 1). */
  def vector(seed: Long, coll: Int, row: Long, dim: Int): Array[Double] = {
    val r = rng(seed, 1L, coll.toLong, row)
    Array.fill(dim)(r.nextDouble() * 2.0 - 1.0)
  }

  /** A fresh query vector: the `i`-th of request stream `stream`. */
  def query(seed: Long, stream: Long, i: Long, dim: Int): Array[Double] = {
    val r = rng(seed, 2L, stream, i)
    Array.fill(dim)(r.nextDouble() * 2.0 - 1.0)
  }

  /** UUID-shaped document id, unique per (seed, coll, row, version). */
  def docId(seed: Long, coll: Int, row: Long): String = {
    val r = rng(seed, 3L, coll.toLong, row)
    f"${r.nextLong()}%016x${r.nextLong()}%016x"
  }

  private val Words = Array("alpha", "beta", "gamma", "delta", "vector",
    "search", "store", "chunk", "index", "query", "merge", "segment",
    "engine", "spark", "table", "score", "result", "memory", "batch", "log")

  def chunkText(seed: Long, coll: Int, row: Long, version: Int): String = {
    val r = rng(seed, 4L, coll.toLong, row, version.toLong)
    Seq.fill(8 + r.nextInt(8))(Words(r.nextInt(Words.length))).mkString(" ")
  }

  /** One chunk-table row. `embedding` overrides the generated vector. */
  def chunkRow(seed: Long, coll: Int, collName: String, row: Long, dim: Int,
      version: Int = 0, embedding: Option[Array[Double]] = None): Row = {
    val name = s"doc-$coll-$row"
    Row(docId(seed, coll, row), name, "perfbench", (row % 4 + 1).toInt,
      chunkText(seed, coll, row, version),
      embedding.getOrElse(vector(seed + version, coll, row, dim)).toSeq,
      "perfbench", name, 0.0, collName)
  }

  /** Rows [from, until) of collection `coll`, generated on the executors. */
  def chunkFrame(spark: SparkSession, seed: Long, coll: Int, collName: String,
      from: Long, until: Long, dim: Int): DataFrame = {
    import spark.implicits._
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      ((until - from) / 500L).toInt))
    spark.sparkContext.range(from, until, 1L, parts)
      .map(row => Chunk(chunkRow(seed, coll, collName, row, dim)))
      .toDS().toDF()
  }

  // ---------------------------------------------------------------
  // curation corpus (the `documents` schema)
  // ---------------------------------------------------------------

  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "it")

  /** Function words carrying each language's n-gram profile. */
  private val Stop: Map[String, Array[String]] = Map(
    "en" -> Array("the", "and", "of", "to", "in", "that", "with", "thing", "nation"),
    "de" -> Array("der", "und", "ein", "ich", "sch", "nicht", "mit", "auch", "eine"),
    "fr" -> Array("les", "que", "le", "de", "des", "leur", "mais", "est", "pour"),
    "es" -> Array("que", "los", "de", "con", "el", "una", "para", "nado", "las"),
    "it" -> Array("il", "che", "di", "per", "una", "della", "non", "sono", "gli"))

  private val Syllables: Map[String, Array[String]] = Map(
    "en" -> Array("th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha", "at", "en"),
    "de" -> Array("sch", "ei", "en", "er", "ch", "ung", "ge", "be", "ie", "st", "au", "lich"),
    "fr" -> Array("ou", "ai", "eu", "on", "an", "re", "es", "le", "qu", "ment", "eau", "oi"),
    "es" -> Array("ci", "os", "as", "ar", "es", "ad", "ue", "ia", "ra", "ion", "el", "do"),
    "it" -> Array("zi", "one", "tt", "ri", "ll", "ch", "gli", "ia", "no", "to", "ssi", "ra"))

  /** Fixed content vocabulary per language (independent of the seed,
    * so every seed draws from the same word distribution). */
  private val Vocab: Map[String, Array[String]] = Langs.map { l =>
    val r = new SplittableRandom(l.hashCode.toLong)
    val syl = Syllables(l)
    l -> Array.fill(2000)(Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString)
  }.toMap

  private val Sources = Array("web", "news", "books", "wiki", "forum")

  /** Role of a document: a fresh text, an exact copy, or an edited copy. */
  sealed trait Kind
  case object Fresh extends Kind
  final case class ExactDup(of: Long) extends Kind
  final case class NearDup(of: Long) extends Kind

  def kind(seed: Long, id: Long): Kind = {
    val r = rng(seed, 5L, id)
    val u = r.nextDouble()
    if (id < 50) Fresh
    else if (u < 0.02) ExactDup(1 + r.nextLong(id - 1))
    else if (u < 0.12) NearDup(1 + r.nextLong(id - 1))
    else Fresh
  }

  def docLang(seed: Long, id: Long): String = kind(seed, id) match {
    case Fresh => Langs(zipf(rng(seed, 6L, id), Langs.size, 0.8))
    case ExactDup(o) => docLang(seed, o)
    case NearDup(o) => docLang(seed, o)
  }

  /** Text of document `id` (ids start at 1). Lengths are heavy-tailed
    * (log-normal word counts, median about 90 words); about 5% of the
    * fresh texts carry an e-mail address and an IPv4 address. */
  def docText(seed: Long, id: Long): String = kind(seed, id) match {
    case ExactDup(o) => docText(seed, o)
    case NearDup(o) =>
      val r = rng(seed, 7L, id)
      val lang = docLang(seed, o)
      docText(seed, o).split(' ').map { w =>
        if (r.nextDouble() < 0.04) Vocab(lang)(r.nextInt(2000)) else w
      }.mkString(" ")
    case Fresh =>
      val r = rng(seed, 8L, id)
      val lang = docLang(seed, id)
      val n = math.max(8, math.min(1500,
        math.exp(4.5 + 0.8 * gaussian(r)).toInt))
      val stop = Stop(lang)
      val vocab = Vocab(lang)
      val words = Array.fill(n) {
        if (r.nextDouble() < 0.4) stop(r.nextInt(stop.length))
        else vocab(zipf1k(r))
      }
      val base = words.mkString(" ")
      if (r.nextDouble() < 0.05)
        base + s" contact user$id@mail.example.com from 10.${id % 250}.${r.nextInt(250)}.7 today"
      else base
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Approximately Zipf-distributed index into a 2000-word vocabulary. */
  private def zipf1k(r: SplittableRandom): Int =
    math.min(1999, (math.pow(2000.0, r.nextDouble()) - 1.0).toInt)

  def docRow(seed: Long, id: Long): Row = {
    val text = docText(seed, id)
    Row(id, text, docLang(seed, id),
      Sources(zipf(rng(seed, 9L, id), Sources.length, 1.0)), text.length.toLong)
  }

  val DocumentsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
  }

  /** Documents 1..n, generated on the executors. */
  def corpusFrame(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val rdd = spark.sparkContext
      .range(1L, n + 1L, 1L, spark.sparkContext.defaultParallelism)
      .map(id => docRow(seed, id))
    spark.createDataFrame(rdd, DocumentsSchema)
  }
}
