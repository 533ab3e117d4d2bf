package graft.text

import graft.{RefImpl, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TokenizeSpec extends SparkSpec {
  import Tokenize._

  // FIXTURES.md §1 edge tokens: expected category (None = unmatched).
  val cases: Seq[(String, Option[String])] = Seq(
    "am" -> Some("alpha"), "a-b_c" -> Some("alpha"), "--" -> Some("alpha"),
    "_" -> Some("alpha"), "i" -> Some("alpha"),
    "7" -> Some("num"), "+3." -> Some("num"), "-0.5" -> Some("num"),
    "20" -> Some("num"), "2.5" -> Some("num"),
    "" -> None, ".5" -> None, "2.5.5" -> None, "am." -> None,
    "I" -> None, "In" -> None, "A" -> None, "a1" -> None,
    "Weight" -> None, "+" -> None, "-" -> Some("alpha"),
    // whole match: `$` alone would also accept a final line terminator
    "abc\n" -> None, "abc\r\n" -> None, "abc\u2028" -> None, "12\n" -> None,
    "12\r" -> None, "-\u0085" -> None, "x\u2029" -> None)

  test("category classification matches the reference regexes token-by-token") {
    import spark.implicits._
    val df = cases.map(_._1).toDF("tok")
      .select(col("tok"), category(col("tok")).as("cat"))
      .withColumn("native", graft.functions.TextExprs.tokCats(col("tok"))(0)("cat"))
    val got = df.collect().map(r =>
      r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    cases.foreach { case (t, expected) =>
      assert(got(t)._1 == expected, s"token '$t'")
      assert(got(t)._2 == expected, s"tok_cats token '$t'")
      assert(RefImpl.cat(t) == expected, s"RefImpl token '$t'")
    }
  }

  test("tokens keeps empty tokens positional (double space breaks adjacency)") {
    import spark.implicits._
    val df = Seq((0L, "a  b")).toDF("id", "text")
    val rows = Tokenize.tokens(df, "id", "text").orderBy("pos")
      .collect().map(r => (r.getInt(1), r.getString(2), Option(r.getString(3))))
    assert(rows.toSeq == Seq((0, "a", Some("alpha")), (1, "", None), (2, "b", Some("alpha"))))
  }
}

class CoOccurSpec extends SparkSpec {
  import spark.implicits._

  private def linesDf(lines: Seq[String]): DataFrame =
    lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "text")

  private def pairsMap(df: DataFrame): Map[(String, String), Long] =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  // Reference comment golden, HadoopWordPairs.java:64-65.
  test("pairs m=1 golden: 'I am in A group of 3 20 year adults with Weight 2.5.5'") {
    val got = pairsMap(CoOccur.pairs(
      linesDf(Seq("I am in A group of 3 20 year adults with Weight 2.5.5")), "text", 1))
    val expected = Map(
      ("am", "in") -> 1L, ("group", "of") -> 1L, ("3", "20") -> 1L,
      ("year", "adults") -> 1L, ("adults", "with") -> 1L)
    assert(got == expected)
  }

  // Reference comment golden, HadoopWordPairs2.java:71-74 (the comment
  // lists the pairs from position 0; the full output adds study:luxembourg).
  test("pairs m=4 golden: 'i study In 1 luxembourg'") {
    val got = pairsMap(CoOccur.pairs(linesDf(Seq("i study In 1 luxembourg")), "text", 4))
    val expected = Map(
      ("i", "study") -> 1L, ("i", "luxembourg") -> 1L, ("study", "luxembourg") -> 1L)
    assert(got == expected)
  }

  // Reference comment goldens, HadoopWordStripes.java:104-108.
  test("stripes m=1 goldens: 'i am 20' and 'i Am a boy'") {
    val got1 = pairsMap(CoOccur.stripesExploded(linesDf(Seq("i am 20")), "text", 1))
    assert(got1 == Map(("i", "am") -> 1L, ("am", "i") -> 1L))
    val got2 = pairsMap(CoOccur.stripesExploded(linesDf(Seq("i Am a boy")), "text", 1))
    assert(got2 == Map(("a", "boy") -> 1L, ("boy", "a") -> 1L))
  }

  test("stripesMap keeps category words with empty stripes (HadoopWordStripes2.java:108-111)") {
    val rows = CoOccur.stripesMap(linesDf(Seq("i am 20")), "text", 1)
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1).toMap).toMap
    assert(rows == Map("i" -> Map("am" -> 1L), "am" -> Map("i" -> 1L), "20" -> Map.empty))
  }

  private val vocab = Seq("i", "am", "a", "-", "In", "Weight", "3", "20",
    "2.5", "+3.", "2.5.5", ".5", "", "am.", "group-of", "_")

  private def randomLines(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
  }

  test("pairs/stripes match the plain-Scala reference on random lines, m in 1,2,4") {
    for (m <- Seq(1, 2, 4); seed <- Seq(1, 2)) {
      val lines = randomLines(seed, 40)
      val df = linesDf(lines)
      assert(pairsMap(CoOccur.pairs(df, "text", m)) == RefImpl.pairs(lines, m),
        s"pairs m=$m seed=$seed")
      assert(pairsMap(CoOccur.stripesExploded(df, "text", m)) == RefImpl.stripes(lines, m),
        s"stripes m=$m seed=$seed")
    }
  }

  test("co_pairs equals the reference on a pathological 3000-token line") {
    // One 3000-token line: pairs are generated inside the line's own
    // row, so the line is never spread over (or skewed into) a shuffle.
    val rnd = new scala.util.Random(13)
    val vocab = Seq("alpha", "beta", "gamma", "7", "42", "Mixed", "", "x-y")
    val giant = Seq.fill(3000)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val df = linesDf(Seq(giant))
    for (m <- Seq(1, 3)) {
      val p = CoOccur.pairs(df, "text", m)
      assert(pairsMap(p) == RefImpl.pairs(Seq(giant), m), s"m=$m")
      val plan = p.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), plan)
    }
  }

  test("array-combinator pairs equal co_pairs pairs, m in 1..4") {
    for (m <- 1 to 4) {
      val df = linesDf(randomLines(7, 30))
      val a = pairsMap(CoOccur.pairsViaArrays(df, "text", m))
      val b = pairsMap(CoOccur.pairs(df, "text", m))
      assert(a == b, s"m=$m")
    }
  }

  test("wordCount matches reference on random lines, both case modes") {
    val lines = randomLines(11, 40)
    val df = linesDf(lines)
    for (lc <- Seq(true, false)) {
      val got = CoOccur.wordCount(df, "text", lowercase = lc)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == RefImpl.wordCount(lines, lc), s"lowercase=$lc")
    }
  }

  test("topK is deterministic with (cnt desc, tok asc) tiebreak") {
    val df = linesDf(Seq("b a c a b c", "a b c"))
    val wc = CoOccur.wordCount(df, "text")
    val top = CoOccur.topK(wc, "alpha", 2).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("a", 3L), ("b", 3L)))
  }

  test("pairs_m1 and hadoop_wordcount run with codegen fallback off (sf0.001)") {
    // TestSpark sets spark.sql.codegen.fallback=false, so a
    // generated-code compile error fails here instead of falling back
    // to interpreted evaluation silently.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val lines = docs.select("text").collect().flatMap(r => Option(r.getString(0))).toSeq
    val p = graft.SparkEntry.queries("pairs_m1")(spark, sf0001)
    assert(p.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      RefImpl.pairs(lines, 1))
    val wc = graft.SparkEntry.queries("hadoop_wordcount")(spark, sf0001)
    assert(wc.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      RefImpl.wordCount(lines, lowercase = false))
  }
}
