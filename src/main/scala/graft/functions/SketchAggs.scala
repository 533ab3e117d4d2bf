package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch over a string column as a native
  * `TypedImperativeAggregate` (Cormode &amp; Muthukrishnan, "An improved
  * data stream summary: the count-min sketch and its applications",
  * J. Algorithms 2005): a `depth × width` counter grid; each value
  * increments one cell per row (`h_j(v) = fnv1a32(v, seed_j) mod
  * width`), and the point estimate is the MIN over the value's cells —
  * always ≥ the true count, within εN with probability 1−δ for
  * width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.
  *
  * Why an imperative aggregate (the fifth native-Catalyst surface in
  * this library, after the four codegen scalar expressions): the
  * dataflow formulation would explode every row `depth` times and
  * shuffle O(depth × rows) — here each row costs `depth` hash-and-
  * increments into a fixed buffer, partial buffers merge by elementwise
  * ADD (the linearity that makes CMS a sketch at all), and only
  * O(depth × width × 8) bytes ever cross the network per partition —
  * the same plan shape Spark's own HLL++ aggregate uses. At 100 TB
  * this answers point-frequency queries with a constant-size mergeable
  * state where the exact groupBy would shuffle the full key space;
  * sketches from disjoint corpus shards union by the same elementwise
  * add (the q81 HLL workflow property).
  *
  * Every cell is portable: the hash is the oracle-able [[Fnv1a32]], so
  * DuckDB recomputes the ENTIRE grid (not just an exact-regime
  * projection of it) as four plain SQL folds — the sketch itself is
  * value-checked at the gate, approximation error included.
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if depth > 0 && width > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch needs depth > 0 and width > 0, got ($depth, $width)")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch requires a string input, got $dt")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var j = 0
      while (j < depth) {
        val h = (Fnv1a32.compute(s, CmsSketch.seed(j)) % width).toInt
        buffer(j * width + h) += 1L
        j += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.map(Long.box))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CmsSketch {
  /** Row-j hash seed: the FNV offset basis xor a golden-ratio stride,
    * masked to 32 bits so the DuckDB fold's no-overflow property
    * (every intermediate &lt; 2^56) holds for every row. Row 0 is the
    * unperturbed standard stream. */
  def seed(j: Int): Long = (Fnv1a32.Seed ^ (0x9e3779b9L * j)) & 0xFFFFFFFFL
}

/** K-minimum-values (bottom-k) sketch over a string column as a native
  * `TypedImperativeAggregate` (Bar-Yossef et al., "Counting distinct
  * elements in a data stream", RANDOM 2002; Beyer et al., "On synopses
  * for distinct-value estimation under multiset operations", SIGMOD
  * 2007): keep the k smallest DISTINCT 32-bit FNV hashes seen; the
  * distinct-count estimate is `(k-1) / u_k` where `u_k` is the kth
  * smallest hash normalized to [0,1) — relative error ~1/sqrt(k-2).
  *
  * The mergeable-distinct companion to [[CmsSketch]]'s point
  * frequencies: per-row cost is one hash plus an O(log k) bounded
  * tree insert (and only when the hash beats the current kth min —
  * after warm-up almost every row is a single comparison); partials
  * merge by "union then trim" (bottom-k of a union IS the bottom-k of
  * the shards' bottom-ks — the multiset-operation closure property
  * from the SIGMOD 2007 paper); at most k longs cross the network per
  * partition. Unlike HLL the kept hashes also SUPPORT intersection /
  * Jaccard estimates between groups, which is why curation pipelines
  * carry KMV alongside HLL.
  *
  * Portable like CmsSketch: the hash is the oracle-able [[Fnv1a32]],
  * so DuckDB recomputes the exact kept set (rank over distinct hashes)
  * and the identical estimate — sketch content AND approximation error
  * value-checked at the gate. When fewer than k distinct hashes exist
  * the sketch is the exact distinct set (the q99 exact-regime idea),
  * but the q123 gate runs it in the genuine k &lt; distinct regime.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.TreeSet[Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k > 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch needs k > 1, got $k")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch requires a string input, got $dt")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): scala.collection.mutable.TreeSet[Long] =
    scala.collection.mutable.TreeSet.empty[Long]

  private def insert(buffer: scala.collection.mutable.TreeSet[Long], h: Long): Unit = {
    if (buffer.size < k) buffer += h
    else if (h < buffer.last) {
      buffer += h
      if (buffer.size > k) buffer -= buffer.last
    }
  }

  override def update(
      buffer: scala.collection.mutable.TreeSet[Long],
      input: InternalRow): scala.collection.mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) insert(buffer, Fnv1a32.compute(v.asInstanceOf[UTF8String], Fnv1a32.Seed))
    buffer
  }

  override def merge(
      buffer: scala.collection.mutable.TreeSet[Long],
      other: scala.collection.mutable.TreeSet[Long]): scala.collection.mutable.TreeSet[Long] = {
    other.foreach(insert(buffer, _))
    buffer
  }

  /** Ascending kept hashes; `eval` must not leak the mutable buffer. */
  override def eval(buffer: scala.collection.mutable.TreeSet[Long]): Any =
    new GenericArrayData(buffer.toArray.map(Long.box))

  override def serialize(buffer: scala.collection.mutable.TreeSet[Long]): Array[Byte] = {
    val arr = buffer.toArray
    val bb = java.nio.ByteBuffer.allocate(arr.length * 8)
    bb.asLongBuffer().put(arr)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.TreeSet[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    scala.collection.mutable.TreeSet.empty[Long] ++= out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchAggs {
  /** Builder shared with [[graft.GraftExtensions]]. */
  val cmsSketchBuilder: Seq[Expression] => Expression =
    exprs => CmsSketch(exprs.head, litInt("cms_sketch", exprs(1)),
      litInt("cms_sketch", exprs(2)))

  /** Builder shared with [[graft.GraftExtensions]]. */
  val kmvSketchBuilder: Seq[Expression] => Expression =
    exprs => KmvSketch(exprs.head, litInt("kmv_sketch", exprs(1)))

  /** Column-level handle (via [[graft.GraftExtensions]]). */
  def cmsSketch(sqlExpr: String, depth: Int, width: Int): Column =
    expr(s"cms_sketch($sqlExpr, $depth, $width)")

  /** Column-level handle (via [[graft.GraftExtensions]]). */
  def kmvSketch(sqlExpr: String, k: Int): Column =
    expr(s"kmv_sketch($sqlExpr, $k)")
}
