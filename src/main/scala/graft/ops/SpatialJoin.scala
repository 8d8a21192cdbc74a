package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.SpatialColumns._

/**
 * Skew diagnostics of the cell-cover spatial join (SURVEY §2.3 J1/J2, §4.2).
 *
 * The join itself is [[graft.plans.CellCoverJoin.build]]: both sides are
 * covered by cells at `res`, equi-joined on the cell id, deduplicated on the
 * smallest shared cell without a shuffle, and refined with an exact JTS
 * intersects. [[TileAssign.assign]] calls it with a broadcast or
 * shuffle-hash hint, and the `CellCoverJoin` optimizer rule calls it for SQL
 * `JOIN … ON st_intersects`. The shuffle path splits a dense acquisition
 * cell (Fiji hotspot) by AQE's skew join and, optionally, by an explicit
 * salt; the two functions here size that salt from the data.
 */
object SpatialJoin {

  /**
   * Cell occupancy histogram of a geometry column (WKT or WKB) at `res` —
   * the skew diagnostic the salting decision is made from (checkpoint it
   * alongside lineage metrics for ops visibility).
   */
  def cellHistogram(df: DataFrame, geomCol: String, res: Int): DataFrame =
    df.select(explode(stCellCover(col(geomCol), lit(res))).as("cell"))
      .groupBy("cell").count()

  /**
   * Data-driven salt sizing: S = hottest-cell count / (rows-per-task
   * target), clamped to [1, 64]. A uniform corpus yields 1 (no salting
   * overhead); a hotspot corpus yields the replication factor that splits
   * its densest cell into ~`targetPerBucket`-row buckets. No rows, or no
   * non-empty geometry, yields 1.
   */
  def suggestSaltBuckets(df: DataFrame, geomCol: String, res: Int,
                         targetPerBucket: Long = 500000L): Int = {
    val top = cellHistogram(df, geomCol, res)
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    math.min(64L, math.max(1L, top / math.max(1L, targetPerBucket))).toInt
  }
}
