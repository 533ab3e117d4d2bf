package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Portable 32-bit FNV-1a string hash (Fowler–Noll–Vo, public domain):
  * `h = seed; for each code point c: h = ((h XOR c) * 16777619) mod 2^32`.
  *
  * Why it exists: the sketch operators (MinHash bucket-mins, SimHash
  * token votes) need a hash that a *different engine* can recompute
  * bit-for-bit so the correctness gate can oracle them — xxhash64 has no
  * DuckDB twin, which left q18/q19 declared `no_oracle` through round 3.
  * FNV-1a over code points is expressible as a plain SQL fold in DuckDB
  * (see [[graft.llm.Queries]]'s `fnvSql`): every intermediate fits in a
  * non-negative BIGINT — h &lt; 2^32, the multiply &lt; 2^56 — so neither
  * engine overflows or promotes.
  *
  * Why 32-bit: a 64-bit FNV multiply needs mod-2^64 wrap-around, which
  * Spark's non-ANSI Long gives for free but DuckDB turns into a HUGEINT
  * promotion (or an overflow error) — the same engine asymmetry the q40
  * Knuth hash already worked around (`llm/Pack.scala`). Where 64 hash
  * bits are needed (SimHash), two independently-seeded 32-bit halves are
  * used instead.
  *
  * Native expression rather than a HOF fold: Spark evaluates lambda
  * functions interpreted; this is one codegen'd call into a tight loop
  * (same rationale as [[ShingleArray]]).
  */
case class Fnv1a32(child: Expression, seed: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"fnv1a32 requires a string input, got $dt")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a32"

  override def nullSafeEval(input: Any): Any =
    Fnv1a32.compute(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Fnv1a32.compute($a, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fnv1a32 {
  /** FNV-1a 32 offset basis — the default seed. */
  val Seed: Long = 2166136261L
  /** Independent second seed for operators needing 64 hash bits from two
    * 32-bit streams (SimHash hi-word). Any fixed value ≠ Seed works; this
    * one has a mixed bit pattern. */
  val Seed2: Long = 0x9747b28cL
  private val Prime = 16777619L
  private val Mask32 = 0xFFFFFFFFL

  /** Shared by eval and generated code. Iterates Unicode code points
    * (surrogate pairs advance by 2 UTF-16 units) — the same per-character
    * sequence DuckDB's `unicode(s[i:i])` fold sees. */
  def compute(s: UTF8String, seed: Long): Long = {
    val str = s.toString
    var h = seed
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.codePointAt(i)
      h = ((h ^ c) * Prime) & Mask32
      i += Character.charCount(c)
    }
    h
  }
}

object HashExprs {
  private def litLong(e: Expression): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"fnv1a32 expects a literal integer seed, got $other")
  }

  /** Builder shared with [[graft.GraftExtensions]]. */
  val fnv1a32Builder: Seq[Expression] => Expression =
    exprs => Fnv1a32(exprs.head, litLong(exprs(1)))

  /** Column-level handle (via [[graft.GraftExtensions]]). `sqlExpr` is
    * any SQL expression string (a column name, or a lambda variable
    * inside a higher-order function body). */
  def fnv1a32(sqlExpr: String, seed: Long = Fnv1a32.Seed): Column =
    expr(s"fnv1a32($sqlExpr, ${seed}L)")

  /** Fold a CONSTANT suffix into an existing FNV-1a 32 state column:
    * because FNV-1a consumes code points strictly left to right,
    * `fnv1a32(concat(x, suffix)) == fnvFoldConst(fnv1a32(x), suffix)`
    * — and the right-hand side unrolls to `suffix.length` cheap long
    * ops (xor, mul, mask) instead of re-hashing all of `x` plus a
    * per-row string concat allocation. The multi-hash operators
    * (perceptual coefficients: 64 suffixed hashes per token; Bloom
    * positions: kHash per token) hash one shared prefix once and fold
    * each constant suffix, bit-identical to the concat form the
    * DuckDB oracles recompute (r15 optimization, guide §1.2 item 2 /
    * §4 "expression choice"). */
  def fnvFoldConst(h: Column, suffix: String): Column = {
    import org.apache.spark.sql.functions.lit
    var acc = h
    var i = 0
    while (i < suffix.length) {
      val c = suffix.codePointAt(i)
      acc = (acc.bitwiseXOR(lit(c.toLong)) * lit(16777619L))
        .bitwiseAND(lit(0xFFFFFFFFL))
      i += Character.charCount(c)
    }
    acc
  }

  /** Fold the decimal rendering of an integer column in [0, 100) into
    * an FNV-1a state — bit-identical to hashing
    * `concat(x, cast(i AS STRING))` after [[fnvFoldConst]]'s prefix.
    * The derandomized bootstrap operators explode each row ×B and
    * hashed `concat(id, ':', b, ...)` per replicate; with this fold
    * the id prefix hashes once per ROW and each replicate pays 1-2
    * long ops (r15, guide §4). An `i` outside [0, 100) fails the query
    * (`raise_error`) instead of returning a hash that silently differs
    * from the concat form. */
  def fnvFoldSmallInt(h: Column, i: Column): Column = {
    import org.apache.spark.sql.functions.{concat, floor, lit, raise_error, when}
    def step(acc: Column, c: Column): Column =
      (acc.bitwiseXOR(c) * lit(16777619L)).bitwiseAND(lit(0xFFFFFFFFL))
    val tens = (floor(i / lit(10)) + lit(48)).cast("long")
    val ones = (i % lit(10) + lit(48)).cast("long")
    when(i < 0 || i >= 100, raise_error(concat(
        lit("fnvFoldSmallInt: value outside [0, 100): "), i.cast("string"))))
      .when(i < 10, step(h, (i + lit(48)).cast("long")))
      .otherwise(step(step(h, tens), ones))
  }
}
