package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Tokenization + 2-way token classification core (reference parity).
  *
  * Semantics derived from the reference corpus (see SURVEY.md §1–2):
  *  - tokens are produced by splitting a line on a single literal space
  *    (reference `HadoopWordCount.java:52`, `SparkWordCount.scala:28`);
  *    consecutive spaces yield empty tokens which match neither category
  *    and are dropped by the category filter, never pre-filtered — they
  *    still occupy a position and break co-occurrence adjacency.
  *  - every token is classified whole-match into exactly one of two
  *    disjoint categories (reference `HadoopWordCount.java:39-40`):
  *      alpha: ^[a-z-_]+$   num: ^[-+]?[0-9]+[.]{0,1}[0-9]*$
  *    Non-matching tokens (uppercase, `2.5.5`, `.5`, punctuation, "",
  *    and a token ending in a line terminator such as "abc\n")
  *    belong to no category (`category` is NULL).
  *  - case folding is an explicit parameter: the five Hadoop jobs never
  *    lowercase, `SparkWordCount.scala:29` does (SURVEY.md §7.4a).
  *
  * The production operators ([[tokens]], [[CoOccur]]) run the native
  * `tok_cats` / `co_pairs` kernels of [[graft.functions.TextExprs]]: one
  * codegen'd call per line, no shuffle before the first aggregate.
  * [[category]] and [[tokCats]] are their column-expression twins, kept
  * as the independent test oracle.
  */
object Tokenize {
  /** Alpha-word category regex — reference `HadoopWordCount.java:39`.
    * Whole-match semantics (`matches()`, DuckDB `regexp_full_match`). */
  val AlphaRe = "^[a-z-_]+$"
  /** Number category regex — reference `HadoopWordCount.java:40`. We use
    * the standard variant everywhere; the `HadoopWordStripes.java:40`
    * leading-dot variant is a documented reference inconsistency
    * (SURVEY.md §2 O9) that we intentionally do not reproduce. */
  val NumRe = "^[-+]?[0-9]+[.]{0,1}[0-9]*$"

  // `rlike` calls `find()`, where `$` also matches before a final line
  // terminator; anchoring at `\z` (the very end) makes find() ≡ whole
  // match. The oracle SQL keeps the `$` forms for `regexp_full_match`.
  private val AlphaFind = AlphaRe.stripSuffix("$") + "\\z"
  private val NumFind = NumRe.stripSuffix("$") + "\\z"

  /** Category of a token: "alpha", "num", or NULL (no category). */
  def category(tok: Column): Column =
    when(tok.rlike(AlphaFind), "alpha").when(tok.rlike(NumFind), "num")

  /** Split a line into its token array: literal single-space delimiter,
    * Java `split(" ", -1)` semantics — empty tokens kept, trailing ones
    * included. */
  def toks(text: Column, lowercase: Boolean = false): Column =
    split(if (lowercase) lower(text) else text, " ", -1)

  /** Token array zipped with per-token category:
    * array&lt;struct&lt;tok,cat&gt;&gt;, in higher-order functions —
    * the oracle twin of the native `tok_cats`. */
  def tokCats(text: Column, lowercase: Boolean = false): Column =
    transform(toks(text, lowercase), t => struct(t.as("tok"), category(t).as("cat")))

  /** Long-form token table: (line_id, pos, tok, category), one row per
    * token, positions 0-based and dense (non-matching tokens keep their
    * position — adjacency in [[CoOccur]] is positional, as in the
    * reference where `lastWord` advances over every token,
    * `HadoopWordPairs.java:78`). */
  def tokens(lines: DataFrame, idCol: String, textCol: String,
             lowercase: Boolean = false): DataFrame = {
    val text = if (lowercase) lower(col(textCol)) else col(textCol)
    lines
      .select(col(idCol).as("line_id"),
        posexplode(TextExprs.tokCats(text)).as(Seq("pos", "t")))
      .select(col("line_id"), col("pos"), col("t.tok").as("tok"),
        col("t.cat").as("category"))
  }
}
