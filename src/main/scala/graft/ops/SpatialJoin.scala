package graft.ops

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, JoinHint, LogicalPlan, SHUFFLE_HASH}
import org.apache.spark.sql.functions._
import graft.plans.CellCoverJoin
import graft.plans.SpatialColumns._

/**
 * Cell-cover spatial join — the engine's core operator (SURVEY §2.3 J1/J2).
 *
 * The reference computes AOI×tile-grid intersection as an O(N·M) per-row
 * shapely loop, flagged "takes too long"
 * (`master_Search_Discover_example.ipynb` cells 10/63/157). Here both sides
 * are encoded to spatial cells at resolution `res`, equi-joined on the cell
 * id, then refined with an exact JTS intersects. Cover and refine are the
 * native `st_cell_cover`/`st_intersects` expressions (`_wkb` forms for a
 * WKB probe), and the refine sits in the equi-join's condition. The plan is
 * built by [[graft.plans.CellCoverJoin.build]], the same function that
 * lowers SQL-form `JOIN … ON st_intersects` joins, so the DataFrame and SQL
 * forms run one algorithm.
 *
 * Scale design (100 TB posture):
 *  - The dimension side (tile grid, ≤ ~60k polygons) is `broadcast()` —
 *    the probe (doc) side is touched only by narrow operators: a cell-cover
 *    projection, an explode, a broadcast hash join, a codegen'd filter.
 *    **Zero shuffles** over the big side.
 *  - Candidate-pair dedup (a pair sharing k cells appears k times) is done
 *    *without* a shuffle: a pair is kept only on the smallest shared cell
 *    (`first_shared_cell(cell, cells, tcells)`, an allocation-free merge
 *    walk over the two sorted covers), the classic reporting-cell trick.
 *    `dropDuplicates` (an exchange over the full join output) is never
 *    needed.
 *  - If the dimension side outgrows broadcast, `shuffled = true` switches to
 *    a shuffle hash/SMJ equi-join on the cell id; AQE skew-join splitting
 *    plus optional explicit salting (`saltBuckets > 1`) handle dense
 *    acquisition cells (Fiji hotspot).
 */
object SpatialJoin {

  /**
   * Cell occupancy histogram of a geometry column at `res` — the skew
   * diagnostic the salting decision is made from (SURVEY §4.2; checkpoint it
   * alongside lineage metrics for ops visibility).
   */
  def cellHistogram(df: DataFrame, wktCol: String, res: Int): DataFrame =
    df.select(explode(stCellCover(col(wktCol), lit(res))).as("cell"))
      .groupBy("cell").count()

  /**
   * Data-driven salt sizing: S = hottest-cell count / (rows-per-task
   * target), clamped to [1, 64]. A uniform corpus yields 1 (no salting
   * overhead); a hotspot corpus yields the replication factor that splits
   * its densest cell into ~`targetPerBucket`-row buckets.
   */
  def suggestSaltBuckets(df: DataFrame, wktCol: String, res: Int,
                         targetPerBucket: Long = 500000L): Int = {
    val top = cellHistogram(df, wktCol, res)
      .agg(max("count")).collect()(0).getLong(0)
    math.min(64L, math.max(1L, top / math.max(1L, targetPerBucket))).toInt
  }

  /**
   * @param probe   big side; must carry `probeWkt` column (WKT string or WKB
   *                binary)
   * @param dim     small side; must carry `dimWkt` column (WKT)
   * @param res     cell resolution (2^res × 2^res world grid)
   * @param shuffled force the shuffle path (dimension too big to broadcast)
   * @param saltBuckets >1 adds an explicit salt as a second join key on the
   *                probe side and explodes the dim side ×S — skew insurance
   *                beyond AQE's shuffle-granularity splitting
   */
  def intersectJoin(probe: DataFrame, probeWkt: String,
                    dim: DataFrame, dimWkt: String,
                    res: Int, shuffled: Boolean = false,
                    saltBuckets: Int = 1): DataFrame = {
    val (p, d) = (probe.queryExecution.analyzed, dim.queryExecution.analyzed)
    val resolver = probe.sparkSession.sessionState.conf.resolver
    def geom(plan: LogicalPlan, name: String) = plan.resolve(Seq(name), resolver)
      .getOrElse(throw new IllegalArgumentException(s"no column $name in ${plan.schema.simpleString}"))
    // shuffle_hash hint: without it AQE converts the join back to broadcast
    // whenever the dim side is small (true at test scale, false at the
    // 60k-polygon+ scale this path exists for) — the hint keeps the
    // measured plan the one that actually runs at scale
    val strategy = if (shuffled) SHUFFLE_HASH else BROADCAST
    GraftShims.dataFrame(probe.sparkSession,
      CellCoverJoin.build(p, geom(p, probeWkt), d, geom(d, dimWkt), res,
        JoinHint(None, Some(HintInfo(strategy = Some(strategy)))), saltBuckets))
  }
}
