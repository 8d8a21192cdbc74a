package graft.ann

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded top-k state: two parallel primitive arrays kept sorted by
 * (score desc, id asc) — the total order of the `TopKAgg` udaf. All-primitive
 * and allocation-free per insert (one shift of ≤ k slots), vs the udaf
 * bridge's per-row boxed `(Double, Long)` decode + `(buf :+ v).sortBy.take(k)`
 * Vector rebuild per accepted candidate.
 */
final class TopKBuf(val k: Int) {
  var n: Int = 0
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)

  /** Strictly-better-than-slot-(i) under (score desc, id asc), scores in
    * `Double.compare`'s total order (the `TopKAgg` sort key): NaN ranks
    * worst and 0.0 beats -0.0. */
  @inline private def beats(s: Double, id: Long, i: Int): Boolean = {
    val c = java.lang.Double.compare(-s, -scores(i))
    c < 0 || (c == 0 && id < ids(i))
  }

  def insert(s: Double, id: Long): Unit = {
    if (n == k) {
      if (!beats(s, id, n - 1)) return // not better than the current worst
      var i = n - 1
      while (i > 0 && beats(s, id, i - 1)) {
        scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      scores(i) = s; ids(i) = id
    } else {
      var i = n
      while (i > 0 && beats(s, id, i - 1)) {
        scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      scores(i) = s; ids(i) = id
      n += 1
    }
  }

  def absorb(b: TopKBuf): TopKBuf = {
    var j = 0
    while (j < b.n) { insert(b.scores(j), b.ids(j)); j += 1 }
    this
  }
}

/**
 * Native form of the `TopKAgg` udaf (the parity reference in test sources):
 * keeps the k best (score desc, id asc) candidates per group IN THE
 * PARTIAL BUFFER (map-side combine — the per-probe shuffle carries k rows,
 * never the candidate set), hashed via
 * ObjectHashAggregateExec. The order is total (ties by id), so the result
 * is independent of input order — deterministic and oracle-exact, exactly
 * the `TopKAgg` contract (AnnSpec pins parity, ties included).
 *
 * Output is the same `array<struct<_1: double, _2: long>>` the udaf bridge
 * produced (field names/nullability preserved for schema identity); null
 * scores/ids are ignored like Max/Min (none occur on the ANN paths — every
 * candidate has a computed similarity).
 */
case class TopKRows(score: Expression, id: Expression, k: Int,
                    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = true
  // field-for-field the udaf bridge's ExpressionEncoder[Seq[(Double, Long)]]
  // output type (AnnSpec asserts schema equality)
  override val dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", LongType, nullable = false))), containsNull = true)
  override def prettyName: String = "top_k_rows"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (double, bigint), got (${s.simpleString}, ${i.simpleString})")
    }

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(b: TopKBuf, row: InternalRow): TopKBuf = {
    val s = score.eval(row)
    val i = id.eval(row)
    if (s != null && i != null) b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = a.absorb(b)

  override def eval(b: TopKBuf): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      rows(i) = new GenericInternalRow(Array[Any](b.scores(i), b.ids(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * b.n)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putDouble(b.scores(i)); bb.putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKBuf(k)
    b.n = n
    var i = 0
    while (i < n) { b.scores(i) = bb.getDouble; b.ids(i) = bb.getLong; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKRows =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKRows =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKRows =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKRows {
  /** Drop-in for `udaf(new TopKAgg(k))(score, id)` — casts match the udaf
    * bridge's implicit input-encoder casts. */
  def topK(k: Int, score: Column, id: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      TopKRows(org.apache.spark.sql.GraftShims.expression(score.cast("double")),
        org.apache.spark.sql.GraftShims.expression(id.cast("long")),
        k).toAggregateExpression())
}
