package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** udaf-bridge geomedian over `Seq[Double]` band vectors: the parity
  * reference AggregatorSpec pins [[GeomedianVec]] against. Same buffer, same
  * nodata row filter and the same [[Weiszfeld.weiszfeld]] at finish. */
object GeomedianAgg extends Aggregator[Seq[Double], GmBuf, Seq[Double]] {
  def zero: GmBuf = GmBuf.empty
  def reduce(b: GmBuf, v: Seq[Double]): GmBuf =
    if (v == null || v.exists(_ == -9999.0)) b else b.addRaw(v.toArray)
  def merge(a: GmBuf, b: GmBuf): GmBuf = a.absorb(b)
  def finish(b: GmBuf): Seq[Double] = {
    val n = if (b.d == 0) 0 else b.used / b.d
    Weiszfeld.weiszfeld((0 until n).map(p => (0 until b.d).map(i => b.data(p * b.d + i))))
  }
  def bufferEncoder: Encoder[GmBuf] = Encoders.product[GmBuf]
  def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
