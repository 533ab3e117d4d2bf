package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, expr, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A native expression over one string column. */
abstract class StringInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got $dt")
  }
}

/** Distinct k-token shingles of a line as a native expression.
  *
  * Semantically identical to the higher-order-function form in
  * [[graft.llm.Dedup.shingles]] (space tokenization with Java `split`
  * semantics, k-token windows joined by a single space, first-occurrence
  * distinct order) — that form stays as the independent test oracle.
  *
  * Why custom: the HOF form evaluates interpreted — one outer lambda per
  * token plus k inner `try_element_at` dispatches per shingle, the
  * dominant cost of the MinHash pipeline (measured ~2× of q18). This is
  * one per-row call into a tight loop, inside whole-stage codegen.
  */
case class ShingleArray(child: Expression, k: Int) extends StringInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleArray.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleArray.compute($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleArray {
  /** Shared by eval and generated code. Java `String.split(" ", -1)`
    * matches the reference tokenizer exactly (literal single space,
    * empty tokens kept, trailing empties included). */
  def compute(s: UTF8String, k: Int): GenericArrayData = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[String](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(out)
  }
}

/** One line split into its tokens, each with its reference category —
  * the shared core of [[TokCats]] and [[CoPairs]].
  *
  * Splitting is Java `split(" ", -1)`: a literal single space, empty
  * tokens kept (leading, inner and trailing), so every token keeps its
  * position. `cat(i)` is 1 (alpha), 2 (num) or 0 (no category), decided
  * whole-match against [[graft.text.Tokenize.AlphaRe]] /
  * [[graft.text.Tokenize.NumRe]]: a token made only of `[a-z0-9+._-]` is
  * decided by a byte scan that implements the two regexes exactly; any
  * other token goes to the compiled patterns with `matches()`. Tokens
  * are views over one private copy of the line's bytes. */
final class TokenLine(s: UTF8String) {
  private val bytes: Array[Byte] = {
    val b = new Array[Byte](s.numBytes)
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    b
  }
  /** Token i spans bytes [start(i), end(i)). */
  private val start: Array[Int] = {
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') n += 1; i += 1 }
    val st = new Array[Int](n + 1)
    var k = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { st(k) = i + 1; k += 1 }
      i += 1
    }
    st(n) = bytes.length + 1
    st
  }
  val size: Int = start.length - 1
  val cat: Array[Byte] = {
    val c = new Array[Byte](size)
    var i = 0
    while (i < size) { c(i) = TokenLine.classify(bytes, start(i), end(i)); i += 1 }
    c
  }
  private val toks = new Array[UTF8String](size)

  private def end(i: Int): Int = start(i + 1) - 1

  def tok(i: Int): UTF8String = {
    if (toks(i) == null)
      toks(i) = UTF8String.fromBytes(bytes, start(i), end(i) - start(i))
    toks(i)
  }
}

object TokenLine {
  val Names: Array[UTF8String] =
    Array(null, UTF8String.fromString("alpha"), UTF8String.fromString("num"))

  private val AlphaP = java.util.regex.Pattern.compile(graft.text.Tokenize.AlphaRe)
  private val NumP = java.util.regex.Pattern.compile(graft.text.Tokenize.NumRe)

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  /** Category code of bytes [from, until). */
  def classify(b: Array[Byte], from: Int, until: Int): Byte = {
    if (from == until) return 0
    var alpha = true
    var i = from
    while (i < until) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || c == '-' || c == '_') ()
      else if (isDigit(c) || c == '+' || c == '.') alpha = false
      else return slow(b, from, until)
      i += 1
    }
    if (alpha) return 1
    // ^[-+]?[0-9]+[.]{0,1}[0-9]*$
    var p = from
    if (b(p) == '-' || b(p) == '+') p += 1
    val d0 = p
    while (p < until && isDigit(b(p))) p += 1
    if (p == d0) return 0
    if (p < until && b(p) == '.') p += 1
    while (p < until && isDigit(b(p))) p += 1
    if (p == until) 2 else 0
  }

  private def slow(b: Array[Byte], from: Int, until: Int): Byte = {
    val t = new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
    if (AlphaP.matcher(t).matches()) 1
    else if (NumP.matcher(t).matches()) 2
    else 0
  }
}

/** `tok_cats(text)`: the line's tokens with their categories,
  * array&lt;struct&lt;tok, cat&gt;&gt;, `cat` "alpha" / "num" / NULL.
  *
  * Element-for-element equal to the higher-order-function form
  * [[graft.text.Tokenize.tokCats]], which stays as the independent test
  * oracle: that form evaluates interpreted, one lambda call and two
  * `rlike` calls per token; this is one per-row call inside whole-stage
  * codegen. */
case class TokCats(child: Expression) extends StringInput {
  override def dataType: DataType = TokCats.Type
  override def prettyName: String = "tok_cats"

  override def nullSafeEval(input: Any): Any =
    TokCats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokCats.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokCats {
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("cat", StringType, nullable = true))), containsNull = false)

  def compute(s: UTF8String): GenericArrayData = {
    val line = new TokenLine(s)
    val out = new Array[Any](line.size)
    var i = 0
    while (i < line.size) {
      out(i) = new GenericInternalRow(Array[Any](line.tok(i), TokenLine.Names(line.cat(i))))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `co_pairs(text, m)`: the line's forward co-occurrence pairs,
  * array&lt;struct&lt;w1, w2&gt;&gt; — every (tok[i], tok[j]) with
  * i &lt; j ≤ i+m whose two tokens share a non-null category. Tokens
  * without a category still occupy a position. The reference mapper's
  * loop (`HadoopWordPairs2.java:53-64`) run inside the scan task, so no
  * token row is ever shuffled; [[graft.text.CoOccur.pairArray]] is its
  * independent higher-order-function oracle. */
case class CoPairs(child: Expression, m: Int) extends StringInput {
  override def dataType: DataType = CoPairs.Type
  override def prettyName: String = "co_pairs"

  override def nullSafeEval(input: Any): Any =
    CoPairs.compute(input.asInstanceOf[UTF8String], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CoPairs.compute($a, $m);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CoPairs {
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false)

  def compute(s: UTF8String, m: Int): GenericArrayData = {
    val line = new TokenLine(s)
    val out = new scala.collection.mutable.ArrayBuffer[Any](line.size)
    var i = 0
    while (i < line.size) {
      val c = line.cat(i)
      if (c != 0) {
        var j = i + 1
        val last = math.min(i + m, line.size - 1)
        while (j <= last) {
          if (line.cat(j) == c)
            out += new GenericInternalRow(Array[Any](line.tok(i), line.tok(j)))
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object TextExprs {
  /** Builders shared with [[graft.GraftExtensions]]. */
  val shinglesBuilder: Seq[Expression] => Expression =
    exprs => ShingleArray(exprs.head, litInt("shingles", exprs(1)))
  val tokCatsBuilder: Seq[Expression] => Expression =
    exprs => TokCats(exprs.head)
  val coPairsBuilder: Seq[Expression] => Expression =
    exprs => CoPairs(exprs.head, litInt("co_pairs", exprs(1)))

  /** Column-level handles (via [[graft.GraftExtensions]]). */
  def shingles(textCol: String, k: Int): Column = expr(s"shingles($textCol, $k)")
  def tokCats(text: Column): Column = call_function("tok_cats", text)
  def coPairs(text: Column, m: Int): Column = call_function("co_pairs", text, lit(m))
}
