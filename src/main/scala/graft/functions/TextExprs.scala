package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

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
case class ShingleArray(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"shingles requires a string input, got $dt")
  }
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
    * empty tokens kept, trailing empties dropped). */
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

object TextExprs {
  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"shingles expects a literal integer k, got $other")
  }

  /** Builder shared with [[graft.GraftExtensions]]. */
  val shinglesBuilder: Seq[Expression] => Expression =
    exprs => ShingleArray(exprs.head, litInt(exprs(1)))

  /** Column-level handle (via [[graft.GraftExtensions]]). */
  def shingles(textCol: String, k: Int): Column = expr(s"shingles($textCol, $k)")
}
