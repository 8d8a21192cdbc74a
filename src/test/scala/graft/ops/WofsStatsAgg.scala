package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** udaf-bridge WOfS per-pixel summary (SURVEY §2.4 A6,
  * `utils/dc_utilities.py:126-174`): total_data=Σv, total_clean=count,
  * normalized=Σ/count, min, max over the non-nodata values, 0.0 for a pixel
  * with none. The parity reference `PixelQueries.summary`'s builtin
  * aggregates are checked against (SummarySpec, AggregatorSpec). */
case class WofsStatsBuf(var sum: Double, var cnt: Long, var mn: Double, var mx: Double)
case class WofsSummary(total_data: Double, total_clean: Long,
                       normalized: Double, min: Double, max: Double)

object WofsStatsAgg extends Aggregator[Double, WofsStatsBuf, WofsSummary] {
  def zero: WofsStatsBuf = WofsStatsBuf(0.0, 0L, Double.PositiveInfinity, Double.NegativeInfinity)
  def reduce(b: WofsStatsBuf, v: Double): WofsStatsBuf = {
    if (v != -9999.0) {
      b.sum += v; b.cnt += 1
      if (v < b.mn) b.mn = v
      if (v > b.mx) b.mx = v
    }
    b
  }
  def merge(a: WofsStatsBuf, b: WofsStatsBuf): WofsStatsBuf = {
    a.sum += b.sum; a.cnt += b.cnt
    if (b.mn < a.mn) a.mn = b.mn
    if (b.mx > a.mx) a.mx = b.mx
    a
  }
  def finish(b: WofsStatsBuf): WofsSummary =
    WofsSummary(b.sum, b.cnt, if (b.cnt == 0) 0.0 else b.sum / b.cnt,
      if (b.cnt == 0) 0.0 else b.mn, if (b.cnt == 0) 0.0 else b.mx)
  def bufferEncoder: Encoder[WofsStatsBuf] = Encoders.product[WofsStatsBuf]
  def outputEncoder: Encoder[WofsSummary] = Encoders.product[WofsSummary]
}
