package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Word-count / pairs / stripes operators (reference parity, SURVEY.md §2
  * O5, O7–O11).
  *
  * Rows are generated inside the scan task, as the reference mapper
  * does: the native `tok_cats` (tokens with their categories) and
  * `co_pairs` (forward same-category pairs) are one whole-stage-
  * codegen'd call per line, and the counting groupBy's map-side partial
  * aggregation is the reference's combiner (`HadoopWordCount.java:119`).
  * No token row is shuffled, so no single long line turns into a
  * straggler. Both kernels need [[graft.GraftExtensions]] in the session.
  *
  * [[pairsViaArrays]] generates the same pairs with higher-order array
  * functions over [[Tokenize.tokCats]]; Spark evaluates those
  * interpreted, so it is the independent test oracle for [[pairs]],
  * never a production path.
  */
object CoOccur {

  private def text(textCol: String, lowercase: Boolean): Column =
    if (lowercase) lower(col(textCol)) else col(textCol)

  /** O5: per-category token frequency: (category, tok, cnt).
    * Reference: `HadoopWordCount.java:66-79` (reduce = sum of ones). */
  def wordCount(lines: DataFrame, textCol: String,
                lowercase: Boolean = false): DataFrame =
    lines
      .select(explode(TextExprs.tokCats(text(textCol, lowercase))).as("t"))
      .select(col("t.tok").as("tok"), col("t.cat").as("category"))
      .where(col("category").isNotNull)
      .groupBy("category", "tok")
      .agg(count(lit(1)).as("cnt"))

  /** O11: top-k tokens of one category, deterministic tiebreak
    * (cnt desc, tok asc) — reference `SparkWordCount.scala:34-35` is
    * nondeterministic on ties; SURVEY.md §7.4d adds the tiebreak.
    * Catalyst plans orderBy+limit as TakeOrderedAndProject (per-partition
    * top-k, driver merges k×partitions rows — no global sort). */
  def topK(wc: DataFrame, cat: String, k: Int): DataFrame =
    wc.where(col("category") === cat)
      .orderBy(col("cnt").desc, col("tok").asc)
      .select("tok", "cnt")
      .limit(k)

  /** Forward windowed pair array for one line, in higher-order array
    * functions: all (w1=tok[i], w2=tok[j]) with i &lt; j ≤ i+m, both
    * tokens in the *same* category (cross-category and category-less
    * neighbors are skipped but still occupy positions). m=1 is O7
    * (`HadoopWordPairs.java:30-81`), general m is O8
    * (`HadoopWordPairs2.java:28-79`: partner indices i+1..min(i+m,
    * len-1), same-regex check at :61-62). Pairs are ordered (left:right),
    * never canonicalized, and never cross line boundaries. The oracle
    * twin of the native `co_pairs`. */
  def pairArray(text: Column, m: Int): Column = {
    // Bind the token-category array once: lambda bodies referencing an
    // outer *expression* re-evaluate it per element (O(len²) tokenization
    // per row); binding through a single-element transform makes the
    // inner slice reference a lambda variable instead.
    def pairsOf(ts: Column) = flatten(transform(ts, (x, i) =>
      transform(
        filter(slice(ts, i + lit(2), lit(m)),
          y => x("cat").isNotNull && y("cat") === x("cat")),
        y => struct(x("tok").as("w1"), y("tok").as("w2")))))
    element_at(transform(array(Tokenize.tokCats(text)), ts => pairsOf(ts)), 1)
  }

  private def countPairs(lines: DataFrame, gen: Column): DataFrame =
    lines
      .select(explode(gen).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("cnt"))

  /** O7/O8 aggregated: (w1, w2, cnt) over all lines — `co_pairs` per
    * line, then the counting groupBy. */
  def pairs(lines: DataFrame, textCol: String, m: Int,
            lowercase: Boolean = false): DataFrame =
    countPairs(lines, TextExprs.coPairs(text(textCol, lowercase), m))

  /** [[pairs]] through [[pairArray]]: the independent oracle of the
    * native pair kernel (interpreted, test use only). */
  def pairsViaArrays(lines: DataFrame, textCol: String, m: Int,
                     lowercase: Boolean = false): DataFrame =
    countPairs(lines, pairArray(text(textCol, lowercase), m))

  /** O9/O10 exploded stripes: (word, neighbor, cnt) where cnt counts
    * occurrences of `neighbor` within m positions of `word` on EITHER
    * side, same category (`HadoopWordStripes2.java:67-107`). Stripes are
    * exactly the re-association of forward pairs run in both directions:
    * stripes(w,n) = pairsF(w,n) + pairsF(n,w). The reference reducer's
    * element-wise map merge (`HadoopWordStripes.java:129-160`) is the
    * second groupBy. We shuffle flat (word,neighbor) counts, never maps —
    * same shuffle-volume reduction as the stripes pattern, without
    * serializing MapWritable-style values (SURVEY.md §4).
    *
    * `HadoopWordStripes.java` as committed NPEs on any eligible line and
    * carries divergent regex variants (SURVEY.md §2 O9); we implement its
    * documented intent: m=1, standard category regexes. */
  def stripesExploded(lines: DataFrame, textCol: String, m: Int,
                      lowercase: Boolean = false): DataFrame = {
    val p = pairs(lines, textCol, m, lowercase)
    p.select(col("w1").as("word"), col("w2").as("neighbor"), col("cnt"))
      .unionAll(
        p.select(col("w2").as("word"), col("w1").as("neighbor"), col("cnt")))
      .groupBy("word", "neighbor")
      .agg(sum("cnt").as("cnt"))
  }

  /** O9/O10 map-typed API form: (word, stripe: map&lt;neighbor,cnt&gt;).
    * Matches the reference's emission rule: every occurrence-distinct
    * word that itself matches a category appears, *even with an empty
    * stripe* (`HadoopWordStripes2.java:108-111` writes unconditionally
    * for category words). Not part of the DuckDB oracle surface — map
    * ordering is engine-specific (FIXTURES.md §3) — covered by unit
    * goldens instead. */
  def stripesMap(lines: DataFrame, textCol: String, m: Int,
                 lowercase: Boolean = false): DataFrame = {
    val words = lines
      .select(explode(TextExprs.tokCats(text(textCol, lowercase))).as("t"))
      .where(col("t.cat").isNotNull)
      .select(col("t.tok").as("word"))
      .distinct()
    val flat = stripesExploded(lines, textCol, m, lowercase)
    words.join(flat, Seq("word"), "left")
      .groupBy("word")
      .agg(map_from_entries(
        collect_list(when(col("neighbor").isNotNull,
          struct(col("neighbor"), col("cnt"))))).as("stripe"))
  }
}
