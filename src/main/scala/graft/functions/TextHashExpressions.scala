package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import TextFunctions.{HashMod, HashMult}

/** Codegen'd fused text-hashing kernels for the dedup pipeline.
  *
  * The HOF formulations (`transform` over shingles over chars) evaluate
  * one interpreted lambda frame per element — measured ~100 ms/document
  * at ~150 shingles; these expressions compute the identical values
  * (same integer arithmetic, same fold order as the DuckDB oracles) in
  * one tight generated loop per row, keeping the whole dedup projection
  * inside whole-stage codegen. At 100 TB these run at scan speed.
  */


/** Shared base for the array-input kernels: correct nullability (the
  * kernels return null only for a null input OR a null ELEMENT, so the
  * expression is non-nullable when the array type proves element
  * non-nullness) and null-assignment codegen that still COMPILES in the
  * non-nullable case — `ev.isNull` is the literal `false` there, and an
  * assignment to it is a Janino compile error that silently demoted
  * every kernel to interpreted mode on non-nullable inputs. */
trait ArrayKernelExpr extends UnaryExpression {
  override def nullable: Boolean = child.nullable ||
    (child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
  /** Copy the local has-null flag into `ev.isNull` when that slot is
    * assignable; with a non-nullable child+elements the flag is
    * provably false and `ev.isNull` does not even exist as a variable. */
  protected def propagateNull(ev: ExprCode, nf: String): String =
    if (nullable) s"${ev.isNull} = $nf;" else ""
}

/** IDENTITY pass-through flagged NONDETERMINISTIC — an optimizer
  * barrier with zero runtime cost (codegen emits the child's code
  * verbatim). Aliasing an expensive computed column through this stops
  * `PushPredicateThroughNonJoin` from SUBSTITUTING the computation into
  * a consumer's filter (where CASE WHEN-guarded terms are excluded
  * from codegen subexpression elimination — measured 4-6 kernel
  * re-evaluations per row on the Gopher gate) and stops
  * `CollapseProject` from inlining it into a wider projection. The
  * filter then evaluates on the projected ATTRIBUTE in the same
  * whole-stage-codegen pipeline: identical scan I/O — a predicate over
  * computed text signals never reached parquet anyway — one kernel
  * pass per row. Values are pure functions of the input row; only the
  * planner flag is false. */
case class OptimizerBarrierExpr(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def prettyName: String = "opt_barrier"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Polynomial hashes of every n-word shingle (words joined by a single
  * space): out[i] = polyHash(words[i] + " " + ... + words[i+n-1]).
  * With n=1 this is exactly polyHash of each word. Fewer than n words
  * -> empty array. Null element -> null result. */
case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with ArrayKernelExpr {

  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val cnt = math.max(m - n + 1, 0)
    val out = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      var h = 0L
      var j = 0
      while (j < n) {
        if (arr.isNullAt(i + j)) return null
        if (j > 0) h = (h * HashMult + ' ') % HashMod
        val s = arr.getUTF8String(i + j).toString
        var k = 0
        while (k < s.length) {
          h = (h * HashMult + s.charAt(k)) % HashMod
          k += 1
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      val k = ctx.freshName("k")
      s"""
         |boolean $nf = false;
         |final int $m = $a.numElements();
         |final int $cnt = java.lang.Math.max($m - ${n - 1}, 0);
         |final long[] $out = new long[$cnt];
         |for (int $i = 0; $i < $cnt && !$nf; $i++) {
         |  long $h = 0L;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($a.isNullAt($i + $j)) { $nf = true; break; }
         |    if ($j > 0) $h = ($h * ${HashMult}L + 32L) % ${HashMod}L;
         |    final String $s = $a.getUTF8String($i + $j).toString();
         |    for (int $k = 0; $k < $s.length(); $k++) {
         |      $h = ($h * ${HashMult}L + $s.charAt($k)) % ${HashMod}L;
         |    }
         |  }
         |  $out[$i] = $h;
         |}
         |if (!$nf) {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The n-word shingle STRINGS themselves (space-joined), fused: the HOF
  * formulation (`transform(sequence, i -> concat_ws(element_at(ws, i)...))`)
  * re-evaluates the captured words expression once per `element_at` —
  * O(words²) per document when `ws` is itself a split over the text
  * (measured: ~15 ms/doc, 25 s for 1667 docs). One generated loop,
  * evaluating the child exactly once. Fewer than n words -> empty
  * array; null element -> null result (same contract as
  * [[ShingleHashesExpr]], whose hashes these strings produce under
  * polyHash). */
case class ShingleStringsExpr(child: Expression, n: Int,
    sep: String = " ")
    extends UnaryExpression with ArrayKernelExpr {

  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val cnt = math.max(m - n + 1, 0)
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](cnt)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(sep)
    val tmp = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < cnt) {
      var j = 0
      while (j < n) {
        if (arr.isNullAt(i + j)) return null
        tmp(j) = arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(space, tmp: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val tmp = ctx.freshName("tmp")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val u8 = "org.apache.spark.unsafe.types.UTF8String"
      // the separator rides along as a reference object (hoisted once
      // per task, not allocated per shingle)
      val sepRef = ctx.addReferenceObj("sep",
        org.apache.spark.unsafe.types.UTF8String.fromString(sep), u8)
      s"""
         |boolean $nf = false;
         |final int $m = $a.numElements();
         |final int $cnt = java.lang.Math.max($m - ${n - 1}, 0);
         |final $u8[] $out = new $u8[$cnt];
         |final $u8[] $tmp = new $u8[$n];
         |for (int $i = 0; $i < $cnt && !$nf; $i++) {
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($a.isNullAt($i + $j)) { $nf = true; break; }
         |    $tmp[$j] = $a.getUTF8String($i + $j);
         |  }
         |  if (!$nf) {
         |    $out[$i] = $u8.concatWs($sepRef, $tmp);
         |  }
         |}
         |if (!$nf) {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** MinHash signature over a set of shingle hashes:
  * sig[j] = min over x of ((2j+1)*x + (12345j+7)) mod P, j < numHashes;
  * empty input -> all -1 (the oracle's coalesce sentinel). */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ArrayKernelExpr {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val out = Array.fill[Long](numHashes)(-1L)
    var j = 0
    while (j < numHashes) {
      if (m > 0) {
        var minV = Long.MaxValue
        var i = 0
        while (i < m) {
          if (arr.isNullAt(i)) return null
          val x = arr.getLong(i)
          val v = ((2L * j + 1) * x + (12345L * j + 7)) % HashMod
          if (v < minV) minV = v
          i += 1
        }
        out(j) = minV
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      val minV = ctx.freshName("minV")
      s"""
         |boolean $nf = false;
         |final int $m = $a.numElements();
         |final long[] $out = new long[$numHashes];
         |java.util.Arrays.fill($out, -1L);
         |for (int $j = 0; $j < $numHashes && !$nf; $j++) {
         |  if ($m > 0) {
         |    long $minV = Long.MAX_VALUE;
         |    for (int $i = 0; $i < $m; $i++) {
         |      if ($a.isNullAt($i)) { $nf = true; break; }
         |      final long $v = ((2L*$j + 1) * $a.getLong($i)
         |        + (12345L*$j + 7)) % ${HashMod}L;
         |      if ($v < $minV) $minV = $v;
         |    }
         |    $out[$j] = $minV;
         |  }
         |}
         |if (!$nf) {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 32-bit frequency-weighted SimHash over word hashes, folded MSB-first
  * into a bigint — identical to the nested-HOF/SQL formulation. */
case class SimHashExpr(child: Expression)
    extends UnaryExpression with ArrayKernelExpr {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](32)
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      val h = arr.getLong(i)
      var b = 0
      while (b < 32) {
        counts(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 31
    while (b >= 0) {
      acc = acc * 2 + (if (counts(b) > 0) 1L else 0L)
      b -= 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val acc = ctx.freshName("acc")
      s"""
         |boolean $nf = false;
         |final int[] $counts = new int[32];
         |for (int $i = 0; $i < $a.numElements() && !$nf; $i++) {
         |  if ($a.isNullAt($i)) { $nf = true; break; }
         |  final long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 32; $b++) {
         |    $counts[$b] += ((($h >> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |if (!$nf) {
         |  long $acc = 0L;
         |  for (int $b = 31; $b >= 0; $b--) {
         |    $acc = $acc * 2 + ($counts[$b] > 0 ? 1L : 0L);
         |  }
         |  ${ev.value} = $acc;
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** LSH band hashes over a MinHash signature: band b =
  * fold_{v in sigs[b*rows .. b*rows+rows)} (acc*31 + v) % p, acc0=0 —
  * the fused form of the `transform(sequence)/aggregate(slice)` HOF
  * chain, which is CodegenFallback (interpreted, and exempt from
  * common-subexpression elimination, so multi-column projections of the
  * bands re-evaluated the whole upstream minhash per column). */
case class BandHashesExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ArrayKernelExpr {

  require(bands >= 1 && rowsPerBand >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var j = 0
      while (j < rowsPerBand) {
        val idx = b * rowsPerBand + j
        if (idx < arr.numElements()) {
          if (arr.isNullAt(idx)) return null
          acc = (acc * HashMult + arr.getLong(idx)) % HashMod
        }
        j += 1
      }
      out(b) = acc
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val acc = ctx.freshName("acc")
      s"""
         |boolean $nf = false;
         |final long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands && !$nf; $b++) {
         |  long $acc = 0L;
         |  for (int $j = 0; $j < $rowsPerBand; $j++) {
         |    final int $idx = $b * $rowsPerBand + $j;
         |    if ($idx < $a.numElements()) {
         |      if ($a.isNullAt($idx)) { $nf = true; break; }
         |      $acc = ($acc * ${HashMult}L + $a.getLong($idx)) % ${HashMod}L;
         |    }
         |  }
         |  $out[$b] = $acc;
         |}
         |if (!$nf) {
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Count of array elements contained in a fixed marker set — the
  * codegen'd form of `size(filter(ws, w => w.isin(set)))`. The set is a
  * compile-time constant (tiny stopword profiles), checked via a shared
  * HashSet reference instead of an interpreted lambda with N `isin`
  * comparisons per word. */
case class MarkerCountExpr(child: Expression, markers: Seq[String])
    extends UnaryExpression with ArrayKernelExpr {

  override def dataType: DataType = LongType
  override def prettyName: String = "marker_count"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  @transient private lazy val markerSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    markers.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var n = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return null
      if (markerSet.contains(arr.getUTF8String(i).toString)) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("markerSet", markerSet,
      "java.util.HashSet<String>")
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |boolean $nf = false;
         |long $n = 0L;
         |for (int $i = 0; $i < $a.numElements() && !$nf; $i++) {
         |  if ($a.isNullAt($i)) { $nf = true; break; }
         |  if ($setRef.contains($a.getUTF8String($i).toString())) $n++;
         |}
         |if (!$nf) ${ev.value} = $n;
         |${propagateNull(ev, nf)}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused word statistics: one pass over the word array computes
  * (n_words, n_distinct_words, sum_word_len, bpe_tokens) — replacing
  * three separate interpreted HOF traversals (`size(array_distinct)`,
  * two `aggregate(transform(...))`) with a single generated loop.
  * bpe_tokens uses the "~4 chars per token" rule: sum of
  * floor((len+3)/4) per word (integer division — identical to the
  * floor-of-double formulation for non-negative lengths, which is what
  * the DuckDB oracle computes). */
case class WordStatsExpr(child: Expression)
    extends UnaryExpression with ArrayKernelExpr {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("bpe_tokens", LongType, nullable = false)))
  override def prettyName: String = "word_stats"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    // UTF8String keys (value-based equals/hashCode, no UTF-16 decode);
    // clone() pins the key off the shared row buffer
    val seen =
      new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    var sumLen = 0L
    var bpe = 0L
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) return null
      val u = arr.getUTF8String(i)
      seen.add(u.clone())
      // numChars = Unicode code points — matches Spark length() and the
      // DuckDB oracle (String.length would count UTF-16 units)
      val len = u.numChars()
      sumLen += len
      bpe += (len + 3) / 4
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, seen.size.toLong, sumLen, bpe))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val m = ctx.freshName("m")
      val seen = ctx.freshName("seen")
      val sumLen = ctx.freshName("sumLen")
      val bpe = ctx.freshName("bpe")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val len = ctx.freshName("len")
      s"""
         |boolean $nf = false;
         |final int $m = $a.numElements();
         |final java.util.HashSet<org.apache.spark.unsafe.types.UTF8String> $seen =
         |  new java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>();
         |long $sumLen = 0L;
         |long $bpe = 0L;
         |for (int $i = 0; $i < $m && !$nf; $i++) {
         |  if ($a.isNullAt($i)) { $nf = true; break; }
         |  final org.apache.spark.unsafe.types.UTF8String $s =
         |    $a.getUTF8String($i);
         |  $seen.add($s.clone());
         |  final long $len = $s.numChars();
         |  $sumLen += $len;
         |  $bpe += ($len + 3) / 4;
         |}
         |if (!$nf) {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[]{(long) $m, (long) $seen.size(), $sumLen, $bpe});
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused repetition signals: ONE pass over the word array computes
  * (top_word_count, n_bigrams, n_distinct_bigrams) — replacing an
  * interpreted struct-state `aggregate(array_sort(ws))` fold (top word
  * via sorted-run counting; HOFs are CodegenFallback) plus a
  * `shingleStrings(ws, 2)` materialization and TWO traversals of it
  * (`size`, `size(array_distinct)`). Semantics are bitwise those of
  * the composed form: top_word_count = max word multiplicity (the
  * longest sorted run IS the top count), n_bigrams = max(n-1, 0),
  * n_distinct_bigrams counts distinct space-joined adjacent pairs
  * (words never contain spaces — `words()` splits on them — so joined
  * equality is pair equality). */
case class RepetitionSignalsExpr(child: Expression)
    extends UnaryExpression with ArrayKernelExpr {

  override def dataType: DataType = StructType(Seq(
    StructField("top_word_count", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct_bigrams", LongType, nullable = false)))
  override def prettyName: String = "repetition_signals"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    // UTF8String keys: value-based equals/hashCode over the raw bytes,
    // no UTF-16 decode per word (the toString path dominated the
    // kernel); clone() pins each key to its own buffer — getUTF8String
    // may return views into a shared row buffer
    val counts = new java.util.HashMap[UTF8String, Integer]()
    val pairs = new java.util.HashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var top = 0L
    var nbg = 0L
    var prev: UTF8String = null
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) return null
      val w = arr.getUTF8String(i).clone()
      val c = counts.get(w)
      val nc = if (c == null) 1 else c.intValue() + 1
      counts.put(w, Integer.valueOf(nc))
      if (nc > top) top = nc.toLong
      if (prev != null) {
        nbg += 1
        pairs.add(UTF8String.concat(prev, space, w))
      }
      prev = w
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top, nbg, pairs.size.toLong))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val nf = ctx.freshName("hasNull")
      val m = ctx.freshName("m")
      val counts = ctx.freshName("counts")
      val pairs = ctx.freshName("pairs")
      val top = ctx.freshName("top")
      val nbg = ctx.freshName("nbg")
      val prev = ctx.freshName("prev")
      val i = ctx.freshName("i")
      val w = ctx.freshName("w")
      val c = ctx.freshName("c")
      val nc = ctx.freshName("nc")
      s"""
         |boolean $nf = false;
         |final int $m = $a.numElements();
         |final java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, Integer> $counts =
         |  new java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, Integer>();
         |final java.util.HashSet<org.apache.spark.unsafe.types.UTF8String> $pairs =
         |  new java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>();
         |long $top = 0L;
         |long $nbg = 0L;
         |org.apache.spark.unsafe.types.UTF8String $prev = null;
         |for (int $i = 0; $i < $m && !$nf; $i++) {
         |  if ($a.isNullAt($i)) { $nf = true; break; }
         |  final org.apache.spark.unsafe.types.UTF8String $w =
         |    $a.getUTF8String($i).clone();
         |  final Integer $c = (Integer) $counts.get($w);
         |  final int $nc = ($c == null) ? 1 : $c.intValue() + 1;
         |  $counts.put($w, Integer.valueOf($nc));
         |  if ($nc > $top) $top = (long) $nc;
         |  if ($prev != null) {
         |    $nbg++;
         |    $pairs.add(org.apache.spark.unsafe.types.UTF8String.concat(
         |      $prev, org.apache.spark.unsafe.types.UTF8String
         |        .fromString(" "), $w));
         |  }
         |  $prev = $w;
         |}
         |if (!$nf) {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[]{$top, $nbg, (long) $pairs.size()});
         |}
         |${propagateNull(ev, nf)}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused character-class counts over a STRING: one pass over the UTF-8
  * bytes computes (n_alpha = code points in [a-z], n_spaces = ' '
  * count) — replacing two whole-text `regexp_replace` calls that each
  * allocated a filtered copy of the document per row just to take its
  * length. Both classes are single-byte ASCII and UTF-8
  * continuation/lead bytes are all >= 0x80, so the byte scan counts
  * code points exactly (identical to the regex formulation and the
  * DuckDB oracle). Unlike the array kernels there is no element
  * nullability: plain UnaryExpression null semantics apply. */
case class CharClassStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_spaces", LongType, nullable = false)))
  override def prettyName: String = "char_class_stats"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val m = u.numBytes()
    var alpha = 0L
    var spaces = 0L
    var i = 0
    while (i < m) {
      val b = u.getByte(i)
      if (b >= 'a' && b <= 'z') alpha += 1
      else if (b == ' ') spaces += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](alpha, spaces))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.freshName("m")
      val alpha = ctx.freshName("alpha")
      val spaces = ctx.freshName("spaces")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
         |final int $m = $a.numBytes();
         |long $alpha = 0L;
         |long $spaces = 0L;
         |for (int $i = 0; $i < $m; $i++) {
         |  final byte $b = $a.getByte($i);
         |  if ($b >= 97 && $b <= 122) $alpha++;
         |  else if ($b == 32) $spaces++;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{$alpha, $spaces});
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused tokenizer: lowercase + strip-to-[a-z0-9 ] + split + drop
  * empties in ONE pass, replacing the
  * `filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " "),
  * w => w <> "")` chain that every text/dedup/pipeline operator runs in
  * its hottest projection. The chain costs two full regex passes plus
  * four intermediate allocations (lowered string, replaced string,
  * split array with empties, filtered array) per document; this kernel
  * lowercases once (the same `UTF8String.toLowerCase` the `lower()`
  * builtin dispatches to) and then scans BYTES: a token is a maximal
  * run of bytes in [a-z0-9]. Byte-run scanning is exactly the regex
  * semantics because every non-[a-z0-9] CHARACTER of the lowered text
  * — ASCII punctuation and every byte of a multi-byte code point alike
  * (UTF-8 lead/continuation bytes are all >= 0x80) — is a separator in
  * both formulations, and the regex path's empty-string artifacts are
  * filtered out. PropertySpec pins kernel ≡ HOF on random Unicode
  * strings; the DuckDB oracle (`wordsSql`) is unchanged. */
case class TokenizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenizeExpr.tokenize(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  // one static call per row — the loop lives in compiled bytecode
  // (shared with the interpreted path), not in Janino-generated source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenizeExpr.tokenize($a);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TokenizeExpr {
  /** Static so generated code can call it through the companion's
    * forwarder (`graft.functions.TokenizeExpr.tokenize`). */
  def tokenize(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val b = u.toLowerCase.getBytes
    val n = b.length
    // pass 1: count tokens (runs of [a-z0-9])
    var cnt = 0
    var in = false
    var i = 0
    while (i < n) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (!in) { cnt += 1; in = true }
      } else in = false
      i += 1
    }
    // pass 2: slice them out
    val out = new Array[AnyRef](cnt)
    var k = 0
    var start = 0
    in = false
    i = 0
    while (i < n) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (!in) { start = i; in = true }
      } else if (in) {
        out(k) = org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, start, i - start)
        k += 1
        in = false
      }
      i += 1
    }
    if (in) {
      out(k) = org.apache.spark.unsafe.types.UTF8String
        .fromBytes(b, start, n - start)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Fused character n-gram profile counts: out[p] = the number of
  * overlapping n-code-point windows of the text whose bytes equal an
  * entry of profile p — the codegen'd form of
  * `markerCount(shingleStrings(split(text, ""), n, ""), profiles(p))`
  * for every p at once. That chain allocated one UTF8String per
  * character and per gram and decoded every gram to a Java String once
  * per profile; this kernel makes ONE walk over the UTF-8 bytes,
  * keeps the last n code-point start offsets in a ring, and looks each
  * window's byte range up in a shared open-addressing table — nothing
  * is allocated per character or per gram.
  *
  * Code points are stepped with `UTF8String.numBytesForFirstByte`, the
  * lead-byte length `split(text, "")` steps by, and the last code
  * point runs to the end of the text (as split's last piece does), so
  * invalid and truncated sequences cut into the same windows. Byte
  * equality equals the chain's decoded-String equality only for
  * markers that are valid UTF-8 without U+FFFD (an invalid gram
  * decodes to U+FFFD and never matches such a marker), so
  * [[CharNgramProfiles]] rejects every other entry at construction.
  * The empty text is split's one empty piece: one empty window at
  * n = 1. Null text returns null. PropertySpec pins kernel ≡ chain. */
case class CharNgramCountsExpr(child: Expression, n: Int,
    profiles: Seq[Seq[String]]) extends UnaryExpression {

  require(n >= 1, s"char n-gram size must be >= 1, got $n")
  // built (and validated) with the expression: a bad profile fails at
  // the call site, not inside a task
  private val table = new CharNgramProfiles(profiles)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_ngram_counts"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = CharNgramCountsExpr.counts(
    input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, table)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("profiles", table,
      classOf[CharNgramProfiles].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CharNgramCountsExpr.counts($a, $n, $t);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CharNgramCountsExpr {
  /** Static so generated code can call it (TokenizeExpr's pattern). */
  def counts(u: org.apache.spark.unsafe.types.UTF8String, n: Int,
      t: CharNgramProfiles): ArrayData = {
    val out = new Array[Long](t.size)
    val m = u.numBytes()
    if (m == 0) {
      if (n == 1) t.add(out, t.lookup(u, 0, 0))
    } else {
      // ring of the last n code-point starts: after the advance,
      // starts(slot) is the oldest, i.e. the current window's start
      val starts = new Array[Int](n)
      var slot = 0
      var seen = 0
      var i = 0
      while (i < m) {
        starts(slot) = i
        slot = if (slot + 1 == n) 0 else slot + 1
        seen += 1
        i += org.apache.spark.unsafe.types.UTF8String
          .numBytesForFirstByte(u.getByte(i))
        if (seen >= n) t.add(out, t.lookup(u, starts(slot), math.min(i, m)))
      }
    }
    ArrayData.toArrayData(out)
  }
}

/** The byte-keyed marker table behind [[CharNgramCountsExpr]]: every
  * distinct marker's UTF-8 bytes map to a bitmask of the profiles that
  * hold it (so a marker shared by two profiles counts once in each,
  * and a duplicate within one profile counts once, as the marker set
  * does). Open addressing over a power-of-two slot array; read-only
  * after construction, so one instance is shared by all tasks. */
final class CharNgramProfiles(profiles: Seq[Seq[String]])
    extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  require(profiles.size <= 64,
    s"at most 64 profiles fit the bitmask, got ${profiles.size}")
  profiles.flatten.foreach { s =>
    require(!s.contains('\uFFFD') && UTF8String.fromString(s).toString == s,
      s"char n-gram marker '$s' is not valid UTF-8 without U+FFFD: byte " +
        "equality would not match the decoded-string comparison")
  }

  val size: Int = profiles.size
  private val (keys, masks) = {
    val m = scala.collection.mutable.LinkedHashMap.empty[UTF8String, Long]
    for ((prof, p) <- profiles.zipWithIndex; s <- prof) {
      val k = UTF8String.fromString(s)
      m(k) = m.getOrElse(k, 0L) | (1L << p)
    }
    (m.keys.toArray, m.values.toArray)
  }
  private val lens = keys.map(_.numBytes())
  private val minLen = if (keys.isEmpty) 1 else lens.min
  private val maxLen = if (keys.isEmpty) 0 else lens.max
  private val slots: Array[Int] = {
    var cap = 4
    while (cap < 2 * keys.length) cap *= 2
    val s = Array.fill(cap)(-1)
    keys.indices.foreach { k =>
      var j = hash(keys(k), 0, lens(k)) & (cap - 1)
      while (s(j) >= 0) j = (j + 1) & (cap - 1)
      s(j) = k
    }
    s
  }

  private def hash(u: UTF8String, from: Int, to: Int): Int = {
    var h = 17
    var i = from
    while (i < to) { h = h * 31 + u.getByte(i); i += 1 }
    h ^ (h >>> 16)
  }

  /** Profile bitmask of the text bytes [from, to); 0 when no marker. */
  def lookup(u: UTF8String, from: Int, to: Int): Long = {
    val len = to - from
    if (len < minLen || len > maxLen) return 0L
    var j = hash(u, from, to) & (slots.length - 1)
    while (slots(j) >= 0) {
      val k = slots(j)
      if (lens(k) == len) {
        var q = 0
        while (q < len && keys(k).getByte(q) == u.getByte(from + q)) q += 1
        if (q == len) return masks(k)
      }
      j = (j + 1) & (slots.length - 1)
    }
    0L
  }

  /** Add one to `out(p)` for every profile bit set in `mask`. */
  def add(out: Array[Long], mask: Long): Unit = {
    var r = mask
    while (r != 0L) {
      out(java.lang.Long.numberOfTrailingZeros(r)) += 1
      r &= r - 1
    }
  }
}

/** Fused regex count + replace: ONE matcher walk over the text emits
  * the struct (n = match count, replaced = text with every match
  * replaced) — replacing the `regexp_count(text, p)` +
  * `regexp_replace(text, p, r)` pair that each walked the full
  * document with its own matcher. Semantics are exactly the builtin
  * pair's because all three share one `java.util.regex` match
  * sequence: `regexp_count` counts `while (m.find())` iterations,
  * `regexp_replace` runs `appendReplacement` on the same iterations
  * (`appendReplacement` never changes `find`'s progression, including
  * on zero-width matches), and the replacement string goes through the
  * identical `appendReplacement` `$`-group / `\`-escape handling.
  * Pattern and replacement are compile-time constants here — the
  * pattern compiles once per expression instance, not per row.
  * PropertySpec pins kernel ≡ builtin pair on adversarial inputs;
  * the DuckDB oracle formulation is unchanged. */
case class CountReplaceExpr(child: Expression, pattern: String,
    replacement: String) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("replaced", StringType, nullable = false)))
  override def prettyName: String = "count_replace"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  @transient private lazy val compiled =
    java.util.regex.Pattern.compile(pattern)

  override def nullSafeEval(input: Any): Any =
    CountReplaceExpr.run(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      compiled, replacement)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("pattern", compiled,
      "java.util.regex.Pattern")
    val r = ctx.addReferenceObj("replacement", replacement,
      "java.lang.String")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CountReplaceExpr.run($a, $p, $r);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CountReplaceExpr {
  /** Static so generated code can call it (TokenizeExpr's pattern). */
  def run(u: org.apache.spark.unsafe.types.UTF8String,
      p: java.util.regex.Pattern, repl: String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val m = p.matcher(u.toString)
    val sb = new java.lang.StringBuffer
    var cnt = 0L
    while (m.find()) { cnt += 1; m.appendReplacement(sb, repl) }
    m.appendTail(sb)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cnt,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }
}

object TextHashExpressions {
  /** shingle poly-hashes (n-word, space-joined), codegen'd. */
  def shingleHashes(words: Column, n: Int): Column =
    ColumnShim.column(ShingleHashesExpr(ColumnShim.expression(words), n))

  /** per-word poly-hashes (= shingleHashes with n=1). */
  def wordHashes(words: Column): Column = shingleHashes(words, 1)

  /** n-word shingle strings (sep-joined; default space), codegen'd.
    * sep="" over a character array gives character n-grams. */
  def shingleStrings(words: Column, n: Int, sep: String = " "): Column =
    ColumnShim.column(ShingleStringsExpr(ColumnShim.expression(words), n, sep))

  /** MinHash signature array. */
  def minhashSig(hashes: Column, numHashes: Int): Column =
    ColumnShim.column(MinHashSigExpr(ColumnShim.expression(hashes), numHashes))

  /** 32-bit SimHash of word-hash array. */
  def simhash32(wordHashes: Column): Column =
    ColumnShim.column(SimHashExpr(ColumnShim.expression(wordHashes)))

  /** fused (n_words, n_distinct_words, sum_word_len, bpe_tokens) struct. */
  def wordStats(words: Column): Column =
    ColumnShim.column(WordStatsExpr(ColumnShim.expression(words)))

  /** fused (top_word_count, n_bigrams, n_distinct_bigrams) struct. */
  def repetitionSignals(words: Column): Column =
    ColumnShim.column(RepetitionSignalsExpr(ColumnShim.expression(words)))

  /** zero-cost optimizer barrier (see [[OptimizerBarrierExpr]]). */
  def optBarrier(c: Column): Column =
    ColumnShim.column(OptimizerBarrierExpr(ColumnShim.expression(c)))

  /** fused (n, replaced) regex count+replace in ONE matcher walk. */
  def countReplace(text: Column, pattern: String,
      replacement: String): Column =
    ColumnShim.column(CountReplaceExpr(ColumnShim.expression(text),
      pattern, replacement))

  /** codegen'd count of words in a fixed marker set. */
  def markerCount(words: Column, markers: Seq[String]): Column =
    ColumnShim.column(MarkerCountExpr(ColumnShim.expression(words), markers))

  /** per-profile counts of the text's character n-grams, one byte walk
    * (see [[CharNgramCountsExpr]]). */
  def charNgramCounts(text: Column, n: Int,
      profiles: Seq[Seq[String]]): Column =
    ColumnShim.column(CharNgramCountsExpr(ColumnShim.expression(text), n,
      profiles))

  /** codegen'd LSH band hashes over a minhash signature. */
  def bandHashes(sigs: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnShim.column(BandHashesExpr(ColumnShim.expression(sigs), bands, rowsPerBand))

  /** fused (n_alpha, n_spaces) character-class counts over a string. */
  def charClassStats(text: Column): Column =
    ColumnShim.column(CharClassStatsExpr(ColumnShim.expression(text)))

  /** fused lowercase+normalize+split+filter tokenizer (see
    * [[TokenizeExpr]]); [[TextFunctions.words]] dispatches here. */
  def tokenize(text: Column): Column =
    ColumnShim.column(TokenizeExpr(ColumnShim.expression(text)))
}
