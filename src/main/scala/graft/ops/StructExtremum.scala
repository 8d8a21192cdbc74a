package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Lexicographic struct min/max as a HASHED aggregate.
 *
 * `max(struct(...))` / `min(struct(...))` — the engine's argmax/argmin
 * composite form (most-recent-valid, max/min-NDVI, geomedoid argmin) — is a
 * DeclarativeAggregate whose buffer is a struct, which HashAggregateExec
 * cannot hold in its mutable row, so Spark plans **SortAggregate**: every
 * input row is sorted by the group key on BOTH sides of the exchange. On a
 * 600k-row pixel table that double sort is ~3× the cost of the aggregation
 * itself, and at 100 TB a sort per side is the difference between a
 * streaming hash pass and an n·log(n) spill pipeline.
 *
 * This TypedImperativeAggregate keeps ONE row per group, hashed
 * (ObjectHashAggregateExec), with the IDENTICAL comparison `max(struct)`
 * uses: Spark's own [[InterpretedOrdering]] over the struct's field types
 * (field-by-field, same null ordering, same type semantics) — so results
 * are bit-identical to the struct min/max and the SQL `row_number = 1`
 * oracle twins. Input rows are compared in place; a winning row is deep-
 * copied through an UnsafeProjection, so reused scan buffers can never
 * leak into the aggregation state.
 */
/** Mutable best-row holder — a distinct type so the typed buffer doesn't
  * collide with TypedImperativeAggregate's final (InternalRow, InternalRow)
  * bridge methods. `row == null` ⇔ no input seen. */
final class TopRowBuf(var row: InternalRow)

case class StructExtremum(child: Expression, greatest: Boolean,
                          mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopRowBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = child.dataType
  override def prettyName: String = if (greatest) "struct_max" else "struct_min"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a struct input, got ${t.simpleString}")
  }

  @transient private lazy val schema = child.dataType.asInstanceOf[StructType]
  @transient private lazy val ordering = InterpretedOrdering.forSchema(schema.map(_.dataType))
  @transient private lazy val proj = UnsafeProjection.create(schema)

  override def createAggregationBuffer(): TopRowBuf = new TopRowBuf(null)

  private def better(candidate: InternalRow, incumbent: InternalRow): Boolean = {
    val c = ordering.compare(candidate, incumbent)
    if (greatest) c > 0 else c < 0
  }

  override def update(buf: TopRowBuf, row: InternalRow): TopRowBuf = {
    val v = child.eval(row).asInstanceOf[InternalRow]
    // null struct input ignored, like Max/Min; a winner is deep-copied via
    // the UnsafeProjection so reused scan buffers never leak into state
    if (v != null && (buf.row == null || better(v, buf.row)))
      buf.row = proj(v).copy()
    buf
  }

  override def merge(a: TopRowBuf, b: TopRowBuf): TopRowBuf = {
    if (a.row == null) a.row = b.row
    else if (b.row != null && better(b.row, a.row)) a.row = b.row
    a
  }

  override def eval(buf: TopRowBuf): Any = buf.row

  override def serialize(buf: TopRowBuf): Array[Byte] =
    if (buf.row == null) Array.emptyByteArray
    else buf.row match {
      case u: UnsafeRow => u.getBytes
      case r => proj(r).getBytes
    }

  override def deserialize(bytes: Array[Byte]): TopRowBuf =
    if (bytes.isEmpty) new TopRowBuf(null)
    else {
      val u = new UnsafeRow(schema.length)
      u.pointTo(bytes, bytes.length)
      new TopRowBuf(u)
    }

  override def withNewMutableAggBufferOffset(n: Int): StructExtremum =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): StructExtremum =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StructExtremum =
    copy(child = newChildren.head)
}

object StructExtremum {
  /** Hashed drop-in for `max(struct(...))` (`greatest`) or `min(struct(...))`. */
  def column(c: Column, greatest: Boolean): Column =
    org.apache.spark.sql.GraftShims.column(
      StructExtremum(org.apache.spark.sql.GraftShims.expression(c), greatest)
        .toAggregateExpression())

  def structMax(c: Column): Column = column(c, greatest = true)
  def structMin(c: Column): Column = column(c, greatest = false)
}
