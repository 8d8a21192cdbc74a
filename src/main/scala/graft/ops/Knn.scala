package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.geom.Geo
import graft.plans.SpatialColumns.{firstSharedCell, stCellCover}

/**
 * k-nearest-tile matching (SURVEY §2.3 J8) — gap-filling for scenes whose
 * footprint misses all tile polygons (the AM-crossing-frame generalization,
 * `utils/s1am/raw2ard.py:76-85`).
 *
 * One plan over the cell grid at `res`, in rounds with an expanding ring
 * (1, 2, 4, … cells, the last ring reaching every cell of the grid). Each
 * round takes a point's k-ring, left-outer equi-joins it on cell id against
 * the tiles' `st_cell_cover` (a pair kept only on its smallest shared cell,
 * [[graft.plans.FirstSharedCell]]) and ranks the point's candidates by
 * (dist, tile_id), dist being [[graft.geom.Geo.pointGeomDistance]] (clamped
 * projection — lattice-tie deterministic).
 *
 * Completeness bound: a point is complete once it has k candidates and the
 * k-th distance is ≤ ring × min(cell width, cell height) at `res`. Every
 * tile outside the ring's cells lies at least that far from any point of
 * the centre cell, so no unseen tile can rank above the k-th. An incomplete
 * point goes to the next round as one carrier row (its rank-1 row with the
 * tile cleared); complete points keep their top-k rows, which later rounds
 * re-rank to the same order. At the last ring every tile is a candidate, so
 * every point completes; a world with fewer than k tiles returns them all.
 * The result is the brute-force top-k at any tile-side size (KnnSpec).
 *
 * `doc_id` identifies a point: candidates are grouped and ranked per
 * `doc_id`. The `rank ≤ k` filter sits right over a `row_number` window, so
 * Catalyst plans a partial window-group limit before the exchange, which
 * then carries ≤ k rows per point. With a broadcast tile side, later rounds
 * keep that `doc_id` partitioning and add no exchange. Broadcast vs shuffle
 * of the tile side is left to Catalyst and AQE, as for
 * [[graft.plans.CellCoverJoin]].
 */
object Knn {

  private val kRingOfPoint =
    udf((lon: Double, lat: Double, res: Int, ring: Int) =>
      CellIndex.kRing(CellIndex.cell(lon, lat, res), ring))

  private val pointDistance =
    udf((lon: Double, lat: Double, wkt: String) => Geo.pointGeomDistance(lon, lat, wkt))

  /**
   * @param points DataFrame with (doc_id, lon, lat, other point columns...)
   * @param tiles  DataFrame with (tile_id, wkt)
   * @return the point columns with (tile_id, dist, rank), k rows per point
   *         (fewer only when the world holds fewer than k tiles)
   */
  def nearestTiles(points: DataFrame, tiles: DataFrame, k: Int, res: Int = 3): DataFrame = {
    val t = tiles.select(col("tile_id").as("__tid"), col("wkt").as("__twkt"))
      .withColumn("__tcells", stCellCover(col("__twkt"), lit(res)))
      .withColumn("__tcell", explode(col("__tcells")))
    // from any cell, ring width-1 reaches every row (and, wrapped, every column)
    val lastRing = (CellIndex.width(res) - 1).toInt
    val rings = Iterator.iterate(1)(_ * 2).takeWhile(_ < lastRing).toSeq :+ lastRing
    val byDist = Window.partitionBy(col("doc_id"))
      .orderBy(col("dist").asc_nulls_last, col("tile_id"))
    val start = points
      .withColumn("tile_id", lit(null).cast("string"))
      .withColumn("dist", lit(null).cast("double"))
    rings.foldLeft(start) { (cur, ring) =>
      // only carrier rows (no tile yet) take a ring; complete points' rows
      // pass the left-outer join unmatched and keep their tile
      val cand = cur
        .withColumn("__ring", when(col("tile_id").isNull,
          kRingOfPoint(col("lon"), col("lat"), lit(res), lit(ring))))
        .withColumn("__cell", explode_outer(col("__ring")))
        .join(t, col("__cell") === col("__tcell") &&
          firstSharedCell(col("__cell"), col("__ring"), col("__tcells")), "left_outer")
        .withColumn("tile_id", coalesce(col("tile_id"), col("__tid")))
        .withColumn("dist", coalesce(col("dist"), when(col("__twkt").isNotNull,
          pointDistance(col("lon"), col("lat"), col("__twkt")))))
        .drop("__ring", "__cell", "__tid", "__twkt", "__tcells", "__tcell")
      // cell height 180/2^res is the smaller side (width is 360/2^res)
      val bound = ring * 180.0 / CellIndex.width(res)
      val complete =
        if (ring == lastRing) lit(true)
        else count(when(col("dist") <= bound, 1)).over(Window.partitionBy(col("doc_id"))) === k
      cand.withColumn("rank", row_number().over(byDist))
        .where(col("rank") <= k)
        .withColumn("__complete", complete)
        .where(col("__complete") && col("tile_id").isNotNull ||
          !col("__complete") && col("rank") === 1)
        // a carrier keeps only its point columns
        .withColumn("tile_id", when(col("__complete"), col("tile_id")))
        .withColumn("dist", when(col("tile_id").isNotNull, col("dist")))
        .withColumn("rank", when(col("tile_id").isNotNull, col("rank")))
        .drop("__complete")
    }
  }
}
