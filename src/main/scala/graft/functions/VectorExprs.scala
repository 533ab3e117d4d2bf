package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Cosine similarity of two array&lt;double&gt; vectors as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why custom: the built-in formulation (`zip_with` + `aggregate`) is
  * semantically fine but higher-order functions evaluate interpreted —
  * per-element lambda dispatch outside codegen — which is the hot loop
  * of ANN candidate scoring. This expression compiles to a tight fused
  * Java loop (one pass accumulating dot and both norms).
  *
  * Numerics: accumulates left-to-right in IEEE doubles, the same order
  * as the sequential `aggregate` fold and the DuckDB oracle's
  * `list_reduce` — all three produce bit-identical similarities (the
  * oracle for q32 is byte-for-byte the q21 oracle).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<double> inputs, got ${left.dataType} and ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  // Mismatched-length vectors yield NULL — the same contract as the
  // zip_with/aggregate form (whose zip pads with nulls) and the DuckDB
  // list_zip oracle. Bit-parity therefore holds for all inputs, not just
  // equal-dimension ones.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Deterministic pseudo-random hyperplanes for sign-bit LSH. One seeded
  * Gaussian stream (seed 1337): the first n planes are identical for any
  * larger n, so the single-table bucket path and the multi-table band
  * path share their leading planes, and the DuckDB oracles can embed the
  * exact same matrix as SQL literals. */
object Hyperplanes {
  def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(1337)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Row-major flat copy — the shape [[SignBands]] indexes in codegen. */
  def flat(nPlanes: Int, dim: Int): Array[Double] = planes(nPlanes, dim).flatten

  /** The plane matrix as a DuckDB `DOUBLE[][]` literal. Java's shortest
    * round-trip `Double.toString` rendering parses back to the identical
    * double in DuckDB, so oracle arithmetic runs on bit-equal planes. */
  def sqlLiteral(nPlanes: Int, dim: Int): String =
    planes(nPlanes, dim)
      .map(_.mkString("[", ",", "]"))
      .mkString("CAST([", ",", "] AS DOUBLE[][])")
}

/** Multi-table sign-bit LSH bucket ids as a native codegen'd expression:
  * for table t, bit j of bucket_t is [v · plane_(t·bandPlanes+j) > 0].
  * Output: array&lt;long&gt; of nTables bucket ids.
  *
  * Why custom: the built-in formulation (per-plane `transform` +
  * `aggregate` dot products over a `typedLit` matrix) evaluates
  * interpreted — nTables×bandPlanes×dim lambda dispatches per row in the
  * ANN hot path. This compiles to one fused loop nest over a flat
  * `double[]` plane matrix. Dot accumulation is the same sequential
  * left-fold order as the HOF form and the DuckDB oracle literal —
  * bit-identical buckets in all three.
  */
case class SignBands(child: Expression, nTables: Int, bandPlanes: Int, dim: Int)
    extends UnaryExpression {

  @transient private lazy val planesFlat: Array[Double] =
    Hyperplanes.flat(nTables * bandPlanes, dim)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"lsh_bands requires array<double> input, got $dt")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bands"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var j = 0
      while (j < bandPlanes) {
        val off = (t * bandPlanes + j) * dim
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v.getDouble(i) * planesFlat(off + i); i += 1 }
        if (dot > 0.0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planesFlat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val bucket = ctx.freshName("bucket")
      s"""
         |long[] $out = new long[$nTables];
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bucket = 0L;
         |  for (int $j = 0; $j < $bandPlanes; $j++) {
         |    int $off = ($t * $bandPlanes + $j) * $dim;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += $a.getDouble($i) * $planesRef[$off + $i];
         |    }
         |    if ($dot > 0.0) $bucket |= (1L << $j);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExprs {
  /** Expression builders — injected by [[graft.GraftExtensions]]. */
  val cosineSimBuilder: Seq[Expression] => Expression =
    exprs => CosineSim(exprs.head, exprs(1))
  val lshBandsBuilder: Seq[Expression] => Expression =
    exprs => SignBands(exprs.head, litInt("lsh_bands", exprs(1)),
      litInt("lsh_bands", exprs(2)), litInt("lsh_bands", exprs(3)))

  /** Column-level handle (via [[graft.GraftExtensions]]): cosine_sim of
    * two columns that must already be array&lt;double&gt;. */
  def cosineSim(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")

  /** Column-level handle (via [[graft.GraftExtensions]]): per-table LSH
    * bucket ids of an array&lt;double&gt; column. */
  def lshBands(v: String, nTables: Int, bandPlanes: Int, dim: Int): Column =
    expr(s"lsh_bands($v, $nTables, $bandPlanes, $dim)")
}
