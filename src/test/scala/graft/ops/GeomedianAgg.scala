package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** udaf-bridge geomedian over `Seq[Double]` band vectors: the parity
  * reference AggregatorSpec pins [[GeomedianVec]] against. Same buffer, same
  * nodata row filter and the same [[Weiszfeld.weiszfeldFlat]] at finish
  * (converged form: 200 iterations, tol 1e-9). */
object GeomedianAgg extends Aggregator[Seq[Double], GmBuf, Seq[Double]] {
  def zero: GmBuf = GmBuf.empty
  def reduce(b: GmBuf, v: Seq[Double]): GmBuf =
    if (v == null || v.exists(_ == -9999.0)) b else b.addRaw(v.toArray)
  def merge(a: GmBuf, b: GmBuf): GmBuf = a.absorb(b)
  def finish(b: GmBuf): Seq[Double] =
    Weiszfeld.weiszfeldFlat(b.data, b.d, b.used, maxIter = 200, tol = 1e-9).toSeq
  def bufferEncoder: Encoder[GmBuf] = Encoders.product[GmBuf]
  def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
