package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Per-group TOP-K as a bounded-heap native aggregate — the scale
  * answer to the `row_number() OVER (PARTITION BY g ORDER BY ...) <= k`
  * idiom. The window form shuffles EVERY row to its group's reducer and
  * sorts there: O(rows) network, O(rows log rows) sort, and a skewed
  * group serializes one task. This aggregate keeps a size-k heap per
  * group, so the map side sends AT MOST k rows per (group, partition) —
  * rank queries become partial-aggregatable, the same shape that makes
  * `count` scale (and Spark plans it as ObjectHashAggregate partial →
  * final, no WindowExec, no global per-group sort; pinned in PlanSpec).
  *
  * Ordering: the child must be a struct; rows are ranked by the
  * struct's natural ASCENDING lexicographic order (catalyst
  * `RowOrdering`), and `eval` returns the k smallest, ascending. Callers
  * encode direction per field (e.g. `-price` for a descending rank) and
  * append a unique tiebreak field — with a total order the result is
  * deterministic under any partitioning, which is what lets the q130
  * gate value-oracle it against a DuckDB window twin.
  *
  * State is serialized as length-prefixed UnsafeRow images between
  * partial and final (constant k·rowsize bytes per group on the wire).
  */
case class TopKAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]]
  with UnaryLike[Expression] {

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  // natural ascending order over the struct's fields; the heap is a
  // MAX-heap so the root is the current worst row to evict
  private lazy val rowOrd: Ordering[InternalRow] =
    RowOrdering.createNaturalAscendingOrdering(structType.map(_.dataType))
  private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if k > 0 =>
      if (st.forall(f => RowOrdering.isOrderable(f.dataType)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"topk_rows struct fields must all be orderable, got $st")
    case _: StructType => TypeCheckResult.TypeCheckFailure(
      s"topk_rows needs k > 0, got $k")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"topk_rows requires a struct input, got $dt")
  }
  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_rows"

  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    mutable.PriorityQueue.empty[InternalRow](rowOrd) // max-heap: biggest at head

  // store an OWNED UnsafeRow image: the evaluated struct (and its
  // string fields) may point into buffers the scan reuses per row
  private def insert(buffer: mutable.PriorityQueue[InternalRow],
                     row: InternalRow): Unit = {
    if (buffer.size < k) buffer.enqueue(toUnsafe(row).copy())
    else if (rowOrd.compare(row, buffer.head) < 0) {
      buffer.dequeue()
      buffer.enqueue(toUnsafe(row).copy())
    }
  }

  override def update(buffer: mutable.PriorityQueue[InternalRow],
                      input: InternalRow): mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) insert(buffer, v.asInstanceOf[InternalRow])
    buffer
  }

  override def merge(buffer: mutable.PriorityQueue[InternalRow],
                     other: mutable.PriorityQueue[InternalRow]): mutable.PriorityQueue[InternalRow] = {
    other.foreach(insert(buffer, _))
    buffer
  }

  override def eval(buffer: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(buffer.toArray.sorted(rowOrd))

  override def serialize(buffer: mutable.PriorityQueue[InternalRow]): Array[Byte] = {
    // buffer rows are already privately-owned UnsafeRow copies — do NOT
    // re-project them through the shared projection buffer (every image
    // would alias the last row written into it)
    val images = buffer.toArray.map {
      case ur: UnsafeRow => ur.getBytes
      case other => toUnsafe(other).copy().getBytes
    }
    val bb = java.nio.ByteBuffer.allocate(4 + images.map(_.length + 4).sum)
    bb.putInt(images.length)
    images.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[InternalRow] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val img = new Array[Byte](len)
      bb.get(img)
      val row = new UnsafeRow(structType.length)
      row.pointTo(img, len)
      buf.enqueue(row)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopKAgg {
  /** Builder shared with [[graft.GraftExtensions]]. */
  val topkRowsBuilder: Seq[Expression] => Expression =
    exprs => TopKAgg(exprs.head, litInt("topk_rows", exprs(1)))

  /** Column-level handle (via [[graft.GraftExtensions]]). */
  def topkRows(structSqlExpr: String, k: Int): Column =
    expr(s"topk_rows($structSqlExpr, $k)")
}
