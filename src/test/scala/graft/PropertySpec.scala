package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{VectorExpressions => V}
import graft.functions.VectorFunctions

/** Property-based checks (SURVEY.md §5.3) — ScalaCheck generators with
  * fixed seeds (deterministic CI), each property checked over a batch of
  * generated cases in ONE Spark job. */
class PropertySpec extends SparkSpecBase {

  private val params = Gen.Parameters.default

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(params, Seed(42L + i)))

  private val genVec: Gen[Seq[Double]] =
    Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0)).map(_.toSeq)

  test("engine top-k == brute-force ranking on random vectors") {
    val k = 5
    val qRaw = samples(genVec, 1).head.toArray
    val q = VectorFunctions.normalize(qRaw)
    val vecs = samples(genVec, 200).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map { case (id, v) => Row(id, v) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val got = df.select(col("vec_id"),
        V.dot(VectorFunctions.vecLit(q), col("embedding")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def dotRef(v: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < q.length) { acc = acc + q(i) * v(i); i += 1 }; acc
    }
    val want = vecs.map { case (id, v) => (id, dotRef(v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
    assert(got == want) // bitwise: same fold order everywhere
  }

  test("global top-k over union == top-k of per-collection top-ks") {
    val k = 7
    val q = VectorFunctions.normalize(samples(genVec, 1).head.toArray)
    val vecs = samples(genVec, 300).zipWithIndex
      .map { case (v, i) => (i.toLong, i % 5, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map { case (id, c, v) => Row(id, c, v) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("label", IntegerType),
        StructField("embedding", ArrayType(DoubleType)))))
      .select(col("vec_id"), col("label"),
        V.dot(VectorFunctions.vecLit(q), col("embedding")).as("sim"))
    def topk(rows: Seq[(Long, Double)], n: Int) =
      rows.sortBy { case (id, s) => (-s, id) }.take(n)
    val global = df.orderBy(col("sim").desc, col("vec_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // reference multi_search shape: per-collection top-k, then re-top-k
    val perColl = (0 until 5).flatMap { c =>
      topk(df.where(col("label") === c).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq, k)
    }
    assert(topk(perColl, k) == global)
  }

  test("normalization: unit norm within 1 ulp, idempotent within 1 ulp") {
    samples(genVec.suchThat(_.exists(_ != 0.0)), 50).foreach { v =>
      val n1 = VectorFunctions.normalize(v.toArray)
      val norm = math.sqrt(n1.foldLeft(0.0)((a, x) => a + x * x))
      assert(math.abs(norm - 1.0) < 1e-12)
      val n2 = VectorFunctions.normalize(n1)
      n1.zip(n2).foreach { case (a, b) => assert(math.abs(a - b) <= math.ulp(a) * 2) }
    }
  }

  test("dimension mismatch yields null, never a crash (D5)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(1.0, 2.0, 3.0)), Row(2L, Seq(1.0, 2.0)), Row(3L, null))),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType)))))
    val out = df.select(col("id"),
        V.dot(VectorFunctions.vecLit(Array(1.0, 1.0, 1.0)), col("v")).as("d"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) == 6.0)
    assert(out(1).isNullAt(1)) // mismatched dims -> null (reference panics)
    assert(out(2).isNullAt(1)) // null vector -> null
  }

  test("codegen dot == HOF dot == driver fold, bitwise, random vectors") {
    val pairs = samples(Gen.zip(genVec, genVec), 100)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.zipWithIndex.map { case ((a, b), i) =>
        Row(i.toLong, a, b)
      }),
      StructType(Seq(StructField("id", LongType),
        StructField("a", ArrayType(DoubleType)),
        StructField("b", ArrayType(DoubleType)))))
    val out = df.select(col("id"),
        V.dot(col("a"), col("b")).as("expr"),
        VectorFunctions.dotSeq(col("a"), col("b")).as("hof"))
      .orderBy("id").collect()
    out.zip(pairs).foreach { case (r, (a, b)) =>
      val ref = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(r.getDouble(1) == ref && r.getDouble(2) == ref)
    }
  }

  test("star CC == union-find on random graphs (incl. chains and forests)") {
    import spark.implicits._
    val genGraph: Gen[(Int, Seq[(Long, Long)])] = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(0, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
        if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong))
    } yield (n, edges)
    samples(genGraph, 12).zipWithIndex.foreach { case ((n, edges), gi) =>
      // driver-side ground truth: plain union-find with min-label roots
      val parent = Array.tabulate(n.toLong.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = operators.Dedup.connectedComponentsStar(
          spark.range(n).select(col("id").as("doc_id")),
          edges.toDF("doc_id_1", "doc_id_2"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(got == want, s"graph #$gi: n=$n edges=$edges")
    }
    operators.Dedup.releaseCaches()
  }

  test("domain-mix quotas: downsample-only, share-exact within integer " +
      "granularity, audit == resample on random corpora") {
    import spark.implicits._
    import graft.operators.Pipeline
    // random corpora: 2-6 domains (sometimes including NULL), skewed
    // sizes 1-120
    val genCorpus = for {
      nd <- Gen.chooseNum(2, 6)
      doms <- Gen.pick(nd, Seq("en", "de", "es", "fr", "zh", null))
      sizes <- Gen.listOfN(nd, Gen.chooseNum(1, 120))
    } yield doms.zip(sizes).toSeq
    samples(genCorpus, 8).zipWithIndex.foreach { case (spec, ci) =>
      var nextId = 1000L * ci
      val rows = spec.flatMap { case (dom, sz) =>
        (1 to sz).map { _ => nextId += 1; (nextId, dom) }
      }
      val docs = rows.toDF("doc_id", "lang")
      val audit = Pipeline.domainMixOn(docs).collect().map { r =>
        (Option(r.getAs[String]("lang")), r.getAs[Long]("n_total"),
          r.getAs[Long]("weight"), r.getAs[Long]("quota"),
          r.getAs[Long]("n_kept"))
      }
      val wTotal = audit.map(_._3).sum
      val nStar = audit.map { case (_, n, w, _, _) => n * wTotal / w }.min
      audit.foreach { case (lang, nTotal, w, quota, kept) =>
        // downsample-only + the documented integer derivation
        assert(quota == nStar * w / wTotal, (ci, lang))
        assert(quota <= nTotal, (ci, lang))
        assert(kept <= nTotal, (ci, lang))
        // share-exactness: quota is within 1 of the ideal real-valued
        // target share of n_star (floor error only)
        assert(math.abs(quota - nStar.toDouble * w / wTotal) <= 1.0,
          (ci, lang))
      }
      // the row-level resample agrees with the audit exactly
      val keptByLang = Pipeline.domainMixDocsOn(docs).collect()
        .groupBy(r => Option(r.getAs[String]("lang")))
        .view.mapValues(_.length.toLong).toMap
      audit.foreach { case (lang, _, _, _, kept) =>
        assert(keptByLang.getOrElse(lang, 0L) == kept, (ci, lang))
      }
    }
  }

  test("fused char-class stats == regex formulation on random strings " +
      "(incl. multi-byte UTF-8)") {
    // unicode chars exercise the byte-scan's claim that continuation/
    // lead bytes (>= 0x80) can never collide with [a-z] or ' '
    val genChunk = Gen.frequency(
      6 -> Gen.alphaLowerChar.map(_.toString), 2 -> Gen.const(" "),
      2 -> Gen.alphaUpperChar.map(_.toString),
      1 -> Gen.numChar.map(_.toString),
      // 2-, 3- and 4-byte UTF-8 sequences (the emoji is supplementary)
      1 -> Gen.oneOf("é", "ß", "あ", "€", "🎉"))
    val genText = Gen.listOf(genChunk).map(_.mkString)
    val texts = samples(genText, 80)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t)
      }),
      StructType(Seq(StructField("id", LongType),
        StructField("text", StringType))))
    val cs = graft.functions.TextHashExpressions.charClassStats(col("text"))
    val out = df.select(col("id"), cs.as("cs"),
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
          .as("alpha_ref"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long")
          .as("space_ref"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val s = r.getStruct(1)
      assert(s.getLong(0) == r.getLong(2), s"alpha mismatch on id ${r.getLong(0)}")
      assert(s.getLong(1) == r.getLong(3), s"space mismatch on id ${r.getLong(0)}")
    }
  }

  test("fused tokenizer == HOF formulation on random strings " +
      "(incl. case-mapping and multi-byte UTF-8)") {
    // the kernel's claim: lowercase once (same UTF8String.toLowerCase
    // the lower() builtin uses), then tokens = maximal byte runs of
    // [a-z0-9]. Upper-case ASCII exercises the lowering; 'İ' (U+0130)
    // exercises a case mapping that CHANGES length (lowers to i +
    // U+0307); the multi-byte chunks exercise the separator claim for
    // lead/continuation bytes; digits exercise the [0-9] run class.
    val genChunk = Gen.frequency(
      6 -> Gen.alphaLowerChar.map(_.toString), 3 -> Gen.const(" "),
      2 -> Gen.alphaUpperChar.map(_.toString),
      2 -> Gen.numChar.map(_.toString),
      1 -> Gen.oneOf(".", ",", "-", "_", "!"),
      1 -> Gen.oneOf("é", "ß", "あ", "€", "🎉", "İ", "Σ"))
    val genText = Gen.listOf(genChunk).map(_.mkString)
    val texts = samples(genText, 120) ++ Seq("", "   ", "a", "7", "İmİr")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t)
      }),
      StructType(Seq(StructField("id", LongType),
        StructField("text", StringType))))
    val out = df.select(col("id"),
        graft.functions.TextFunctions.words(col("text")).as("kernel"),
        graft.functions.TextFunctions.wordsHof(col("text")).as("ref"))
      .collect()
    assert(out.length == texts.length)
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"token mismatch on id ${r.getLong(0)}: '${texts(r.getLong(0).toInt)}'")
    }
    // null in, null out (plain unary null semantics)
    val nulls = df.select(
      graft.functions.TextFunctions.words(lit(null).cast("string"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("fused count+replace == regexp_count + regexp_replace pair " +
      "(PII patterns and adversarial pattern/replacement shapes)") {
    // the kernel's claim: one java.util.regex matcher walk produces
    // BOTH the count and the replaced text of the builtin pair. The
    // generator mixes email-ish fragments, dotted quads, '@'/'.' salt
    // and plain words so matches overlap, abut and straddle; the extra
    // (pattern, replacement) cases pin group references ($1),
    // backslash escapes and zero-width matches to the same
    // appendReplacement semantics the builtins use.
    val genChunk = Gen.frequency(
      4 -> Gen.alphaLowerChar.map(_.toString), 3 -> Gen.const(" "),
      2 -> Gen.oneOf("a@b.cc", "x.y@mail.co", "u@1.2.3.4.com", "@", "."),
      2 -> Gen.oneOf("1.2.3.4", "10.0.0.1", "1.2.3.4.5", "999.1.2.3"),
      1 -> Gen.numChar.map(_.toString),
      1 -> Gen.oneOf("é", "あ", "🎉"))
    val genText = Gen.listOf(genChunk).map(_.mkString)
    val texts = samples(genText, 100) ++
      Seq("", " ", "a@b.cc", "1.2.3.4", "a@1.2.3.4.com x 1.2.3.4")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t)
      }),
      StructType(Seq(StructField("id", LongType),
        StructField("text", StringType))))
    val cases = Seq(
      (graft.operators.Pipeline.EmailPat, "<EMAIL>"),
      (graft.operators.Pipeline.Ipv4Pat, "<IP>"),
      ("(\\d)\\.(\\d)", "[$2$1]"),   // group refs in the replacement
      ("@", "\\$lit"),               // escaped '$' must stay literal
      ("x*", "_"))                   // zero-width matches
    cases.foreach { case (pat, repl) =>
      val kr = graft.functions.TextHashExpressions
        .countReplace(col("text"), pat, repl)
      val out = df.select(col("id"), kr.as("kr"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_ref"),
          regexp_replace(col("text"), pat, repl).as("r_ref"))
        .collect()
      assert(out.length == texts.length)
      out.foreach { r =>
        val s = r.getStruct(1)
        assert(s.getLong(0) == r.getLong(2),
          s"count mismatch for /$pat/ on id ${r.getLong(0)}: " +
            s"'${texts(r.getLong(0).toInt)}'")
        assert(s.getString(1) == r.getString(3),
          s"replace mismatch for /$pat/ on id ${r.getLong(0)}: " +
            s"'${texts(r.getLong(0).toInt)}'")
      }
    }
    // null in, null out (plain unary null semantics)
    val nulls = df.select(graft.functions.TextHashExpressions
      .countReplace(lit(null).cast("string"), "a", "b")).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("char n-gram counts kernel == split/shingle/marker-count chain " +
      "for n = 1..4 (ASCII, multi-byte, combining marks, invalid UTF-8)") {
    import graft.functions.TextHashExpressions.{charNgramCounts, markerCount,
      shingleStrings}
    // valid text: ASCII, 2/3/4-byte code points, combining marks (a
    // decomposed e-acute is two code points, so it straddles windows)
    val genValid = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaLowerChar.map(_.toString), 2 -> Gen.const(" "),
      2 -> Gen.oneOf("the", "th ", "en ", "que", " le"),
      2 -> Gen.oneOf("\u00E9", "\u00DF", "\u3042", "\u20AC",
        "\uD83C\uDF89", "e\u0301", "\u0301", "a\u0308")))
      .map(_.mkString.getBytes("UTF-8").toSeq)
    // invalid UTF-8: stray continuation bytes, lone and truncated lead
    // bytes (E2 82 = the first two bytes of the euro sign), bytes no
    // lead allows
    val genInvalid = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaLowerChar.map(c => Seq(c.toByte)),
      2 -> Gen.oneOf("\u20AC", "\uD83C\uDF89", "\u00E9")
        .map(_.getBytes("UTF-8").toSeq),
      2 -> Gen.oneOf(Seq(0x80), Seq(0xBF), Seq(0xC0, 0xAF), Seq(0xE2),
        Seq(0xE2, 0x82), Seq(0xF0, 0x9F), Seq(0xF0, 0x9F, 0x8E), Seq(0xFF),
        Seq(0xF8, 0x80, 0x80)).map(_.map(_.toByte)))).map(_.flatten)
    val fixed = Seq("E282", "41E282", "E2", "FF", "C0AF", "F09F8E",
      "61E28261", "", "61", "6162", "616263").map(h =>
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toSeq)
    val bytes = samples(genValid, 80) ++ samples(genInvalid, 80) ++ fixed
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        bytes.zipWithIndex.map { case (b, i) => Row(i.toLong, b.toArray) } :+
          Row(-1L, null)),
      StructType(Seq(StructField("id", LongType),
        StructField("b", BinaryType))))
      .select(col("id"), col("b").cast("string").as("text"))
    // profile entries of every byte length: empty, 1-4 code points,
    // 1-4 bytes per code point, combining marks, a marker in two
    // profiles ('th', 'que') and one listed twice in a profile
    val mixed = Seq(
      Seq("", "a", "th", "the", "\u00E9", "e\u0301", "\uD83C\uDF89",
        "\u3042\u20AC", " ", "th"),
      Seq("que", "th", "\u0301", "\u00DF", "\u20ACa", "e\u0301 ", "abcd"),
      Seq("zzzz"))
    val profileSets = Seq(
      graft.operators.TextAnalysis.TrigramProfiles.map(_._2), mixed)
    def check(): Unit = for (n <- 1 to 4; profs <- profileSets) {
      val chars = split(col("text"), "")
      val out = df.select(col("id"),
          charNgramCounts(col("text"), n, profs).as("k"),
          array(profs.map(p =>
            markerCount(shingleStrings(chars, n, ""), p)): _*).as("ref"))
        .collect()
      assert(out.length == bytes.length + 1)
      out.foreach { r =>
        val id = r.getLong(0)
        if (id < 0) assert(r.isNullAt(1), "null text must count null")
        else assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"n=$n id $id bytes=${bytes(id.toInt).map(b => f"$b%02X").mkString}")
      }
    }
    check() // whole-stage codegen
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check() // interpreted eval
    finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("char n-gram counts kernel rejects markers whose bytes would not " +
      "match the chain's decoded-string comparison") {
    import graft.functions.CharNgramCountsExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.TextHashExpressions.{markerCount, shingleStrings}
    // why: an invalid gram decodes to U+FFFD, so the chain counts it
    // against a U+FFFD marker although the bytes differ (FF vs EF BF BD)
    val chain = spark.sql("SELECT CAST(X'FF' AS STRING) AS text")
      .select(markerCount(shingleStrings(split(col("text"), ""), 1, ""),
        Seq("\uFFFD"))).head.getLong(0)
    assert(chain == 1L)
    Seq("\uFFFD", "a\uFFFD", "\uD800", "x\uDC00y").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        CharNgramCountsExpr(Literal("x"), 3, Seq(Seq("the"), Seq(bad))))
      assert(e.getMessage.contains("not valid UTF-8 without U+FFFD"), bad)
    }
    intercept[IllegalArgumentException](
      CharNgramCountsExpr(Literal("x"), 0, Seq(Seq("a"))))
  }

  test("fused word stats == reference formulation on random word lists") {
    val genWord = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val genDoc = Gen.listOfN(30, genWord).map(_.toSeq)
    val docs = samples(genDoc, 60)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.zipWithIndex.map { case (ws, i) =>
        Row(i.toLong, ws)
      }),
      StructType(Seq(StructField("id", LongType),
        StructField("ws", ArrayType(StringType)))))
    val st = graft.functions.TextHashExpressions.wordStats(col("ws"))
    val out = df.select(col("id"), st.as("st")).orderBy("id").collect()
    out.zip(docs).foreach { case (r, ws) =>
      val s = r.getStruct(1)
      assert(s.getLong(0) == ws.length)
      assert(s.getLong(1) == ws.distinct.length)
      assert(s.getLong(2) == ws.map(_.length).sum.toLong)
      assert(s.getLong(3) == ws.map(w => (w.length + 3) / 4).sum.toLong)
    }
  }

  test("exact quantiles == sorted-rank selection on random multisets, " +
      "across pinch/histogram/selection paths") {
    import spark.implicits._
    import graft.operators.Events
    // heavy ties, wide ranges, negatives, and tiny sets — and knob
    // grids that force every resolution path
    val genVals: Gen[Seq[Long]] = for {
      n <- Gen.chooseNum(1, 400)
      mode <- Gen.oneOf(0, 1, 2)
      vs <- Gen.listOfN(n, mode match {
        case 0 => Gen.chooseNum(-5L, 5L)               // heavy ties
        case 1 => Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)
        case 2 => Gen.chooseNum(-1000000L, 1000000L)
      })
    } yield vs.toSeq
    samples(genVals, 12).zipWithIndex.foreach { case (vs, i) =>
      val df = vs.toDF("v")
      val sorted = vs.sorted
      val expect = Events.QuantilePcts.map { p =>
        val k = (vs.length.toLong * p + 99L) / 100L
        (p, k, sorted((k - 1).toInt))
      }
      Seq((Events.QuantileSelectCap, Events.QuantileBuckets), // fast path
          (1L, 4L), (8L, 2L), (0L, 16L))                      // forced loops
        .foreach { case (cap, b) =>
          val got = Events.exactQuantilesOn(df, "v", cap, b).collect()
            .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
          assert(got == expect, s"case $i cap=$cap b=$b")
        }
    }
  }

  test("quantile sketch: cells merge by addition across slices; " +
      "estimate lands in the k-th value's bucket (err < one width); " +
      "estimate from merged cells == estimate from the full grid") {
    import spark.implicits._
    import graft.operators.Events
    val genVals: Gen[Seq[Long]] = for {
      n <- Gen.chooseNum(2, 300)
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.chooseNum(-50L, 50L),
        Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)))
    } yield vs.toSeq
    samples(genVals, 10).zipWithIndex.foreach { case (vs, i) =>
      val (lo, hi) = (vs.min, vs.max)
      // tiny bucket counts force multi-cell grids on small fixtures
      Seq(2L, 16L, 4096L).foreach { b =>
        val w = (hi - lo) / b + 1L
        def grid(xs: Seq[Long]) =
          Events.quantileSketchCells(xs.toDF("v"), "v", lo, w).collect()
            .map(r => (r.getAs[Long]("b"), r.getAs[Long]("bn"))).toSeq
        // split the multiset into two slices; merged cells == full
        val (a, c) = vs.splitAt(vs.length / 2)
        val merged = (grid(a) ++ (if (c.nonEmpty) grid(c) else Nil))
          .groupBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }
          .toSeq.sortBy(_._1)
        val full = grid(vs).sortBy(_._1)
        assert(merged == full, s"case $i b=$b: merge != full")
        // estimate: inside the k-th value's bucket for every target
        val sorted = vs.sorted
        Events.QuantilePcts.foreach { p =>
          val k = (vs.length.toLong * p + 99L) / 100L
          val exact = sorted((k - 1).toInt)
          val est = Events.sketchEstimate(full, lo, w, k)
          val estMerged = Events.sketchEstimate(merged, lo, w, k)
          assert(est == estMerged, s"case $i b=$b p=$p merged estimate")
          val bkt = (exact - lo) / w
          val lowerD = (lo + bkt * w).toDouble
          assert(est >= lowerD && est <= lowerD + w.toDouble,
            s"case $i b=$b p=$p: est $est outside bucket of $exact")
        }
      }
    }
  }

  test("grouped exact quantiles == per-group sorted-rank selection on " +
      "random grouped multisets") {
    import spark.implicits._
    import graft.operators.Events
    val genGrouped: Gen[Seq[(String, Long)]] = for {
      nGroups <- Gen.chooseNum(1, 6)
      rows <- Gen.listOfN(300, for {
        g <- Gen.chooseNum(0, nGroups - 1).map(i => s"g$i")
        v <- Gen.oneOf(Gen.chooseNum(-9L, 9L),
          Gen.chooseNum(-1000000000L, 1000000000L))
      } yield (g, v))
    } yield rows.toSeq
    samples(genGrouped, 8).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("g", "v")
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        Events.QuantilePcts.map { p =>
          val k = (rs.length.toLong * p + 99L) / 100L
          (g, p, k, sorted((k - 1).toInt))
        }
      }.sortBy(t => (t._1, t._2))
      // budget == buckets forces one-target histogram waves (the
      // smallest budget the SEED guard admits for ≤6 groups × 3
      // targets) — wave splitting must never change answers, only
      // bound per-collect memory
      Seq((Events.QuantileSelectCap, Events.GroupQuantileBuckets,
            Events.QuantileDriverCellBudget),
          (1L, 4L, Events.QuantileDriverCellBudget),
          (2L, 18L, 18L)).foreach { case (cap, b, budget) =>
        val got = Events.groupQuantilesOn(df, "g", "v", cap, b, budget)
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
            r.getLong(3))).toSeq
        assert(got == expect, s"case $i cap=$cap b=$b budget=$budget")
      }
    }
  }

  test("weighted exact quantiles == cumulative-weight walk on random " +
      "weighted multisets, across paths") {
    import spark.implicits._
    import graft.operators.Events
    val genRows: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(1, 300)
      rows <- Gen.listOfN(n, for {
        v <- Gen.oneOf(Gen.chooseNum(-7L, 7L),
          Gen.chooseNum(-1000000000L, 1000000000L))
        w <- Gen.chooseNum(1L, 50L)
      } yield (v, w))
    } yield rows.toSeq
    samples(genRows, 10).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("v", "w")
      val tw = rows.map(_._2).sum
      val sorted = rows.sortBy(_._1)
      val expect = Events.QuantilePcts.map { p =>
        val k = (tw * p + 99L) / 100L
        var cum = 0L
        val v = sorted.find { case (_, w) => cum += w; cum >= k }.get._1
        (p, k, v)
      }
      Seq((Events.QuantileSelectCap, Events.QuantileBuckets),
          (1L, 4L), (16L, 2L)).foreach { case (cap, b) =>
        val got = Events.weightedQuantilesOn(df, "v", "w", cap, b)
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got == expect, s"case $i cap=$cap b=$b")
      }
    }
  }

  test("grouped weighted quantiles == per-group cumulative-weight walk " +
      "on random grouped weighted multisets") {
    import spark.implicits._
    import graft.operators.Events
    val genRows: Gen[Seq[(String, Long, Long)]] = for {
      nGroups <- Gen.chooseNum(1, 5)
      rows <- Gen.listOfN(250, for {
        g <- Gen.chooseNum(0, nGroups - 1).map(i => s"g$i")
        v <- Gen.oneOf(Gen.chooseNum(-6L, 6L),
          Gen.chooseNum(-100000000L, 100000000L))
        w <- Gen.chooseNum(1L, 30L)
      } yield (g, v, w))
    } yield rows.toSeq
    // alternate target grids per case: the core is pcts-parametric
    // (the mixture-design query asks arbitrary grids), so the pin
    // must not hold only at the fixed monitoring protocol
    val grids = Seq(Events.QuantilePcts, Seq(10, 25, 50, 75, 90),
      Seq(1, 37, 99), Seq(42))
    samples(genRows, 6).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("g", "v", "w")
      val pcts = grids(i % grids.length)
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val tw = rs.map(_._3).sum
        pcts.map { p =>
          val k = (tw * p + 99L) / 100L
          var cum = 0L
          val v = sorted.find { case (_, w) => cum += w; cum >= k }.get._1
          (g, p, k, v)
        }
      }.sortBy(t => (t._1, t._2))
      // third knob: budget == buckets == 25 forces one-target waves
      // while the seed guard admits ≤5 groups at every grid width
      // (25 / pcts.size ≥ 5 for all grids above)
      Seq((Events.QuantileSelectCap, Events.GroupQuantileBuckets,
            Events.QuantileDriverCellBudget),
          (1L, 4L, Events.QuantileDriverCellBudget),
          (8L, 25L, 25L)).foreach { case (cap, b, budget) =>
        val got = Events.groupWeightedQuantilesOn(df, "g", "v", "w",
          cap, b, budget, pcts).collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
            r.getLong(3))).toSeq
        assert(got == expect, s"case $i cap=$cap b=$b budget=$budget")
      }
    }
    // invalid grids refuse loud (quantileRank's domain contract)
    Seq(Seq.empty[Int], Seq(0), Seq(100), Seq(50, 50)).foreach { bad =>
      intercept[IllegalArgumentException] {
        Events.groupWeightedQuantilesOn(
          Seq(("g0", 1L, 1L)).toDF("g", "v", "w"), "g", "v", "w",
          pcts = bad)
      }
    }
  }

  test("phrase count == naive sliding scan on random word sequences " +
      "(incl. overlaps, repeats, empty and single-word docs)") {
    import spark.implicits._
    val genDoc: Gen[Seq[String]] = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab"))
    } yield ws
    val docs = samples(genDoc, 150).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    Seq(("a", "b"), ("a", "a"), ("c", "ab"), ("zz", "a")).foreach {
      case (w1, w2) =>
        val expect = docs.flatMap { case (id, text) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          val n = ws.sliding(2).count(p =>
            p.length == 2 && p(0) == w1 && p(1) == w2).toLong
          if (n > 0) Some((id, ws.length.toLong, n)) else None
        }.sortBy(t => (-t._3, t._1)).take(10)
        val got = graft.operators.TextAnalysis.phraseTopK(df, w1, w2, 10)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("dl"), r.getAs[Long]("phrase_tf"))).toSeq
        assert(got == expect, s"phrase ($w1, $w2)")
    }
    // n-gram generalization (n = 3..5, incl. repeated terms): the
    // folded zip_with chain == the naive sliding window
    Seq(Seq("a", "b", "c"), Seq("a", "a", "b"), Seq("a", "a", "a"),
      Seq("a", "b", "a", "b"), Seq("c", "ab", "a", "b", "c")).foreach {
      terms =>
        val n = terms.size
        val expect = docs.flatMap { case (id, text) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          val cnt = ws.sliding(n).count(p =>
            p.length == n && p.toSeq == terms).toLong
          if (cnt > 0) Some((id, ws.length.toLong, cnt)) else None
        }.sortBy(t => (-t._3, t._1)).take(10)
        val got = graft.operators.TextAnalysis.phraseTopKN(df, terms, 10)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("dl"), r.getAs[Long]("phrase_tf"))).toSeq
        assert(got == expect, s"phrase $terms")
    }
  }

  test("binary signature: scan-side pack == driver pack; Hamming " +
      "symmetric, zero to self, bounded by dim — random vectors") {
    import spark.implicits._
    // 64-dim vectors incl. exact zeros (sign boundary: 0 is NOT > 0)
    val genV: Gen[Seq[Double]] = Gen.listOfN(64,
      Gen.frequency(8 -> Gen.chooseNum(-5.0, 5.0), 2 -> Gen.const(0.0)))
      .map(_.toSeq)
    val vecs = samples(genV, 120).zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    def sigLocal(v: Seq[Double]): Long = {
      var s = 0L; var j = 0
      while (j < v.length) { if (v(j) > 0.0) s |= (1L << j); j += 1 }; s
    }
    // the engine's shortlist (hamming, id) must equal the driver's —
    // this pins pack + xor + popcount end-to-end, incl. bit 63
    val got = graft.operators.Ann.binaryTopK(df, 120).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("hamming")).toMap
    val qSig = sigLocal(graft.operators.VectorSearch.Query.toSeq)
    vecs.foreach { case (id, vf) =>
      val h = java.lang.Long.bitCount(
        sigLocal(vf.map(_.toDouble)) ^ qSig)
      assert(h >= 0 && h <= 64)
      got.get(id).foreach(g => assert(g == h, s"vec $id"))
    }
    assert(got.nonEmpty)
  }

  test("z-order string proxy is monotone non-decreasing under Spark's " +
      "string ordering — random strings incl. unicode, ties allowed") {
    import spark.implicits._
    // mixed alphabet: ASCII, Latin-1 boundary chars, multi-byte CJK,
    // an astral-plane emoji, even a LONE surrogate (ill-formed UTF-16
    // — both the proxy and Spark's comparison see the same
    // '?'-replaced UTF-8 bytes, so it is in contract), empty and
    // long strings
    val genFrag: Gen[String] = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "~", "é", "ÿ", "Ā"),
      1 -> Gen.oneOf("中", "文", "￮", "\ud83d"),
      1 -> Gen.const("😀"))
    val genStr: Gen[String] =
      Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genFrag))
        .map(_.mkString)
    val strs = samples(genStr, 300).distinct
    // Spark's own ordering of the strings (UTF8String comparison)
    val ordered = strs.toDF("s").orderBy("s")
      .select(col("s"),
        graft.sources.ManifestStore.strOrdProxy(col("s")).as("p"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    ordered.sliding(2).foreach {
      case Array((a, pa), (b, pb)) =>
        assert(pa <= pb,
          s"proxy order inverted: [${a.map(_.toInt).mkString(",")}]" +
            s"($pa) before [${b.map(_.toInt).mkString(",")}]($pb)")
      case _ =>
    }
    // and proxy ORDER agrees with prefix order on plain ASCII exactly
    val ascii = Seq("", "a", "aa", "ab", "b", "ba", "z", "zz")
    val ps = ascii.map(s => graft.sources.ManifestStore
      .strOrdProxy(lit(s))).zipWithIndex
      .map { case (c, i) => c.as(s"p$i") }
    val row = spark.range(1).select(ps: _*).head
    val vals = ascii.indices.map(row.getLong)
    assert(vals == vals.sorted && vals.distinct == vals)
  }
}
