package graft.ann

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/**
 * Bounded top-k aggregator over (score, id) pairs: keeps the k best
 * (score desc, id asc) per group IN THE PARTIAL BUFFER, so the per-probe
 * shuffle carries k rows instead of the full candidate set — the map-side
 * combine a window `row_number` ranking cannot do. Order is total
 * (ties by id), so results are deterministic and oracle-exact.
 *
 * This udaf-bridge form is the parity reference AnnSpec pins the native
 * [[TopKRows]] against; the query paths use [[TopKRows]], which keeps the
 * same state in primitive arrays without per-row tuple boxing.
 */
class TopKAgg(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  // (score desc, id asc), scores in Double.compare's total order (NaN worst)
  private val order: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
  private def insert(buf: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] =
    if (buf.size >= k && !order.lt(v, buf.last)) buf
    else (buf :+ v).sorted(order).take(k)
  def zero: Seq[(Double, Long)] = Vector.empty
  def reduce(b: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] = insert(b, v)
  def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    (a ++ b).sorted(order).take(k)
  def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b
  def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
}
