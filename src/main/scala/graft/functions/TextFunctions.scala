package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators (language-ID,
  * quality scoring, token counting, fingerprinting, shingle-based
  * dedup). Every primitive exists twice — as a Spark Column expression
  * and as a DuckDB SQL fragment builder — generated from the same
  * constants so the two engines compute identical values:
  *
  *   - integer arithmetic only in hashes (exact in both engines);
  *   - sequential left folds for any reduction;
  *   - identical regex/normalization steps.
  *
  * The polynomial rolling hash is the classic `h = h*31 + code (mod p)`
  * (Rabin-Karp style); `code` is the ASCII code point — fixtures are
  * ASCII, and both engines' `ascii()` agree there.
  */
object TextFunctions {

  val HashMod = 1000000007L
  val HashMult = 31L

  // ----------------------------------------------------------------
  // normalization + tokenization
  // ----------------------------------------------------------------

  /** lowercase, strip everything but [a-z0-9 ]. */
  def normText(s: Column): Column =
    regexp_replace(lower(s), "[^a-z0-9 ]", " ")

  def normTextSql(s: String): String =
    s"regexp_replace(lower($s), '[^a-z0-9 ]', ' ', 'g')"

  /** non-empty whitespace tokens of the normalized text. Dispatches to
    * the fused codegen [[TokenizeExpr]] (one lowercase + one byte scan
    * per document); [[wordsHof]] is the reference formulation the
    * kernel is property-pinned against. */
  def words(s: Column): Column = TextHashExpressions.tokenize(s)

  /** HOF reference formulation of [[words]] — two regex passes + a
    * lambda filter; kept ONLY for the kernel-equivalence cross-check
    * (PropertySpec) and as the readable spec of the token grammar. */
  def wordsHof(s: Column): Column =
    filter(split(normText(s), " ", -1), w => w =!= "")

  def wordsSql(s: String): String =
    s"list_filter(string_split(${normTextSql(s)}, ' '), w -> w <> '')"

  // ----------------------------------------------------------------
  // polynomial hash (chars of one string -> bigint)
  // ----------------------------------------------------------------

  /** h = fold chars: (h*31 + ascii(c)) mod p — sequential, exact.
    * Dispatches to the codegen'd [[PolyHashExpr]] (O(len), whole-stage
    * codegen); [[polyHashHof]] is the HOF reference formulation kept for
    * cross-checking. */
  def polyHash(s: Column): Column = PolyHashExpr.polyHashNative(s)

  /** Driver-side twin of [[polyHash]] (same fold as
    * [[PolyHashExpr.nullSafeEval]]) — lets planning code compute the
    * same bucket a stored index hashed its postings into (probe
    * selection in [[graft.operators.TextAnalysis.indexProbe]]) without
    * a one-row Spark job. */
  def polyHashLocal(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * HashMult + s.charAt(i)) % HashMod
      i += 1
    }
    h
  }

  /** HOF reference implementation of [[polyHash]] (interpreted, O(len^2)
    * — each substr rescans the string; test/spec use only).
    * Empty string -> 0 (guarded: Spark's sequence(1,0) counts DOWN,
    * unlike DuckDB's range(1,1) = []). */
  def polyHashHof(s: Column): Column =
    when(length(s) === 0, lit(0L)).otherwise(aggregate(
      transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1)))),
      lit(0L),
      (h, c) => (h * HashMult + c) % HashMod))

  def polyHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($s) + 1), i -> ascii(($s)[i]))), " +
      s"(h, c) -> (h * $HashMult + c) % $HashMod)"

  /** polyHash over each element of a string array. */
  def polyHashAll(arr: Column): Column = transform(arr, polyHash(_))

  def polyHashAllSql(arr: String): String =
    s"list_transform($arr, s_ -> ${polyHashSqlVar("s_")})"

  private def polyHashSqlVar(v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($v) + 1), i -> ascii($v[i]))), " +
      s"(h, c) -> (h * $HashMult + c) % $HashMod)"

  // ----------------------------------------------------------------
  // word shingles (n-grams joined by single space)
  // ----------------------------------------------------------------

  /** n-word shingles of a word array: ["a b c", "b c d", ...].
    * Fewer than n words -> empty array (same sequence(1,0) guard as
    * [[polyHash]]). */
  def shingles(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(ws, i + lit(j))): _*)))

  def shinglesSql(ws: String, n: Int): String = {
    val parts = (0 until n).map(j =>
      if (j == 0) s"($ws)[i]" else s"($ws)[i + $j]").mkString(" || ' ' || ")
    s"list_transform(range(1, greatest(len($ws) - ${n - 1}, 0) + 1), i -> $parts)"
  }

  // ----------------------------------------------------------------
  // language marker lists (tiny stopword profiles; n-gram-free
  // heuristic language ID suited to a single scan-side projection)
  // ----------------------------------------------------------------

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "les", "et", "des", "que", "un", "est"))

  /** count of words contained in `set` (bigint) — dispatches to the
    * codegen'd [[MarkerCountExpr]] (one hash probe per word instead of an
    * interpreted lambda doing N string comparisons). */
  def markerCount(ws: Column, set: Seq[String]): Column =
    TextHashExpressions.markerCount(ws, set)

  def markerCountSql(ws: String, set: Seq[String]): String = {
    val inList = set.map(s => s"'$s'").mkString(", ")
    s"CAST(len(list_filter($ws, w -> w IN ($inList))) AS BIGINT)"
  }
}
