package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Generative properties for the invariants the example-based specs
  * can't sweep: hash portability across the full unicode range, and
  * partitioning-parameter invariance of the salted operators (results
  * must be IDENTICAL for every legal salt factor — the parameter exists
  * for scale, not semantics), and the native text kernels against
  * their independent twins. */
class PropertySpec extends SparkSpec {

  private def check(label: String, trials: Int, p: Prop): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(r.passed, s"$label: ${r.status}")
  }

  // Includes astral-plane code points (surrogate pairs in UTF-16) — the
  // case where a per-char fold would diverge from DuckDB's per-code-
  // point unicode() fold.
  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', ':', '|', 'ä', 'ß', '日', '本'),
    1 -> Gen.oneOf("😀", "🤖", "𝔘"))).map(_.mkString)

  test("fnv1a32 folds per CODE POINT (independent java-stream recompute)") {
    check("fnv", 300, Prop.forAll(genText) { s =>
      val independent = java.util.Arrays.stream(
        s.codePoints().toArray).asLongStream().reduce(
        functions.Fnv1a32.Seed,
        (h, c) => ((h ^ c) * 16777619L) & 0xFFFFFFFFL)
      functions.Fnv1a32.compute(UTF8String.fromString(s),
        functions.Fnv1a32.Seed) == independent
    })
  }

  // The r15 shared-prefix optimization contract: folding a constant
  // suffix into an existing FNV state (Column arithmetic) must equal
  // hashing the concatenation — over the full unicode range including
  // surrogate pairs in both prefix and suffix, and over the suffix
  // shapes the optimized operators use (':p'+j, ':b'+i).
  test("fnvFoldConst(fnv1a32(x), sfx) == fnv1a32(x ++ sfx) (r15)") {
    import spark.implicits._
    val suffixes = Seq(":p0", ":p63", ":b3", "", "日😀")
    val texts = Seq("", "a", "tok", "ä日😀", "x:y|z", "𝔘𝔘𝔘")
    val rows = for (t <- texts; sfx <- suffixes) yield (t, t + sfx, sfx)
    val df = rows.toDF("t", "cat", "sfx").localCheckpoint()
    suffixes.foreach { sfx =>
      val got = df.where(col("sfx") === sfx).select(
        functions.HashExprs.fnvFoldConst(
          functions.HashExprs.fnv1a32("t"), sfx).as("fold"),
        functions.HashExprs.fnv1a32("cat").as("whole"))
      assert(got.where(col("fold") =!= col("whole")).isEmpty,
        s"fold != concat hash for suffix '$sfx'")
    }
  }

  // The replicate-id companion: folding the decimal digits of b in
  // [0, 100) must equal hashing concat(x, ':', cast(b as string)) —
  // the exact expression the bootstrap operators replaced.
  test("fnvFoldSmallInt(h, b) == fnv1a32(concat(x, ':', b)) for b in 0..99 (r15)") {
    import spark.implicits._
    val df = (0 until 100).map(b => ("ev" + (b * 37) + "x", b)).toDF("t", "b")
    val hpre = functions.HashExprs.fnvFoldConst(
      functions.HashExprs.fnv1a32("t"), ":")
    val got = df.select(
      functions.HashExprs.fnvFoldSmallInt(hpre, col("b")).as("fold"),
      functions.HashExprs
        .fnv1a32("concat(t, ':', cast(b as string))").as("whole"))
    assert(got.where(col("fold") =!= col("whole")).isEmpty)
    // outside the domain the fold would diverge, so it must fail loudly
    Seq(-1, 100).foreach { b =>
      val e = intercept[Exception](Seq(("ev", b)).toDF("t", "b")
        .select(functions.HashExprs.fnvFoldSmallInt(hpre, col("b"))).collect())
      assert(e.getMessage.contains("fnvFoldSmallInt: value outside [0, 100): " + b),
        s"b=$b: ${e.getMessage}")
    }
  }

  // The emission-canonicalization property (VERDICT r8 item 2): femit
  // must never emit a signbit-set zero or a NaN for ANY double input —
  // those are exactly the byte-level encodings a cross-engine hash
  // distinguishes while a value compare does not. Sweeps the sign/
  // magnitude space including subnormals, half boundaries, ±0.0 and NaN.
  test("femit never emits -0.0 or NaN, preserves NULL, and is idempotent") {
    import spark.implicits._
    val genDouble: Gen[Double] = Gen.frequency(
      5 -> Gen.chooseNum(-1e12, 1e12),
      3 -> Gen.chooseNum(-1L, 1L).flatMap(s =>
        Gen.chooseNum(-300, 300).map(e => s * math.pow(10, e / 10.0))),
      1 -> Gen.oneOf(0.0, -0.0, Double.NaN, 1e-300, -1e-300,
        5e-7, -5e-7, 0.1234565, -0.1234565, Double.MinPositiveValue,
        -Double.MinPositiveValue),
      1 -> Gen.chooseNum(-1000000000L, 1000000000L).map(_ / 1e6 + 5e-7))
    check("femit", 40, Prop.forAll(Gen.listOfN(50, genDouble)) { xs =>
      val out = xs.toDF("x")
        .select(rel.Queries.femit(col("x")).as("y"),
          rel.Queries.femit(rel.Queries.femit(col("x"))).as("yy"))
        .collect()
      out.forall { r =>
        val ok1 = if (r.isNullAt(0)) true else {
          val y = r.getDouble(0)
          !y.isNaN && !(y == 0.0 && (1.0 / y) < 0) // no NaN, no -0.0
        }
        // idempotence: re-emitting an emitted value is a no-op
        val ok2 = (r.isNullAt(0) && r.isNullAt(1)) ||
          (!r.isNullAt(0) && !r.isNullAt(1) &&
            java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
              java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
        ok1 && ok2
      }
    })
  }

  test("co_pairs equals the reference on long random lines, m in 1..4") {
    import spark.implicits._
    val vocab = Seq("am", "big", "7", "42", "Zz", "", "x-y", "q_r")
    check("co_pairs", 6, Prop.forAll(
      Gen.chooseNum(1, 4), // m
      Gen.chooseNum(1L, 10000L)) { (m, seed) =>
      val rnd = new scala.util.Random(seed)
      val line = Seq.fill(60 + rnd.nextInt(60))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val df = Seq((0L, line)).toDF("id", "text")
      val got = text.CoOccur.pairs(df, "text", m)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      got == RefImpl.pairs(Seq(line), m)
    })
  }

  // Tokens drawn to hit both category scanners, the regex fallback
  // (uppercase, non-ASCII, astral code points) and the line terminators
  // that `$` alone would accept at a token's end; joining with one or
  // two spaces, plus empty tokens, yields leading/inner/trailing empties.
  private val genTok: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(Gen.oneOf("abz-_".toSeq)).map(_.mkString),
    3 -> Gen.listOf(Gen.oneOf("0123456789.+-".toSeq)).map(_.mkString),
    3 -> Gen.listOf(Gen.oneOf("aZ9.-+\u00e4\u65e5\n\r\u0085\u2028\u2029".toSeq))
      .map(_.mkString),
    1 -> Gen.oneOf("", "\ud83d\ude00", "abc\n", "12\r\n", "abc\u2028", "-7.", "I"))
  private val genLine: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    12 -> Gen.listOf(genTok).flatMap(ts =>
      Gen.oneOf(" ", "  ").map(sep => Some(ts.mkString(sep)))))

  test("tok_cats equals the higher-order-function tokCats row for row") {
    import spark.implicits._
    check("tok_cats", 20, Prop.forAll(Gen.listOfN(25, genLine)) { lines =>
      def cats(c: org.apache.spark.sql.Column) = lines.toDF("text")
        .select(c.as("tc")).collect().toSeq.map(r =>
          Option(r.getSeq[org.apache.spark.sql.Row](0)).map(_.map(t =>
            (t.getString(0), Option(t.getString(1))))))
      cats(functions.TextExprs.tokCats(col("text"))) ==
        cats(text.Tokenize.tokCats(col("text")))
    })
  }

  test("estTokens ≥ whitespace count, = max(words, ceil(bytes/4))") {
    import spark.implicits._
    check("estTokens", 30, Prop.forAll(Gen.listOfN(8, genText)) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          llm.Pack.estTokens(col("text")).as("est"),
          size(split(col("text"), " ", -1)).cast("long").as("words"))
        .collect()
      rows.forall { r =>
        val (est, words) = (r.getLong(1), r.getLong(2))
        val bytes = texts(r.getLong(0).toInt).getBytes("UTF-8").length.toLong
        est >= words && est == math.max(words, (bytes + 3) / 4)
      }
    })
  }

  test("salted join is salt-factor invariant (≡ plain join)") {
    import spark.implicits._
    check("salt", 5, Prop.forAll(
      Gen.chooseNum(1, 8), Gen.chooseNum(1L, 10000L)) { (salt, seed) =>
      val rnd = new scala.util.Random(seed)
      val big = Seq.fill(60)((rnd.nextInt(6).toLong, rnd.nextInt(100)))
        .toDF("k", "v")
      val small = (0L to 5L).map(k => (k, s"dim$k")).toDF("sk", "name")
      val plain = big.join(small, col("k") === col("sk"))
        .select("k", "v", "name").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val salted = rel.Layout.saltedJoin(big, small, "k", "sk", salt)
        .select("k", "v", "name").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      salted == plain
    })
  }
}
