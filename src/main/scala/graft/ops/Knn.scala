package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Envelope
import org.locationtech.jts.index.strtree.STRtree

import graft.cells.CellIndex
import graft.functions.GeoFunctions._
import graft.plans.SpatialColumns.{firstSharedCell, stCellCover}

/**
 * k-nearest-tile matching (SURVEY §2.3 J8) — gap-filling for scenes whose
 * footprint misses all tile polygons (the AM-crossing-frame generalization,
 * `utils/s1am/raw2ard.py:76-85`).
 *
 * Primary path ([[nearestTiles]]): the tile grid is a broadcast dimension,
 * so kNN is a **zero-shuffle narrow op** — an STRtree over the broadcast
 * tiles is built once per executor, and each point runs an
 * expanding-envelope query: start at radius r = max tile diagonal, collect
 * envelope hits, and accept the top-k only once the k-th exact distance
 * d_k ≤ r (any geometry outside env(pt ± r) has distance > r ≥ d_k, so the
 * candidate set is provably complete); otherwise double r. Exact distances
 * use [[graft.geom.Geo.pointGeomDistance]] (clamped projection — lattice-tie
 * deterministic), ties broken by tile_id. KnnSpec verifies vs brute force.
 *
 * Fallback ([[nearestTilesShuffled]]): the original cell-ring equi-join +
 * window ranking, for dimension sides too large to broadcast. Costs one
 * shuffle of ~|ring|·tiles-per-cell candidates per doc. It returns the
 * primary path's rows or fails the job; it never returns short.
 */
object Knn {

  /** Per-JVM cache of STRtrees keyed by broadcast id (one build per executor,
    * not per task). BOUNDED access-order LRU: repeated nearestTiles() calls in
    * a long-lived session each create a new broadcast, so an unbounded map
    * would pin every historical tree forever. Evicted trees are rebuilt from
    * the (BlockManager-managed, spillable) broadcast if re-queried. */
  private val MaxCachedTrees = 8
  private val treeCache =
    new java.util.LinkedHashMap[Long, (STRtree, Double)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, (STRtree, Double)]): Boolean =
        size() > MaxCachedTrees
    }

  private def treeFor(bc: Broadcast[Array[(String, String)]]): (STRtree, Double) =
    treeCache.synchronized {
      val cached = treeCache.get(bc.id)
      if (cached != null) cached
      else {
        val tree = new STRtree()
        var maxDiag = 0.0
        bc.value.foreach { case (id, wkt) =>
          val env = graft.geom.Geo.fromWkt(wkt).getEnvelopeInternal
          val diag = math.sqrt(env.getWidth * env.getWidth + env.getHeight * env.getHeight)
          if (diag > maxDiag) maxDiag = diag
          tree.insert(env, (id, wkt))
        }
        tree.build()
        val v = (tree, math.max(maxDiag, 1e-9))
        treeCache.put(bc.id, v)
        v
      }
    }

  /** Exact top-k by expanding envelope; returns (tile_id, dist, rank). */
  private[ops] def queryKnn(bc: Broadcast[Array[(String, String)]],
                            lon: Double, lat: Double, k: Int): Seq[(String, Double, Int)] = {
    val (tree, r0) = treeFor(bc)
    var r = r0
    var out: Seq[(String, Double)] = Nil
    var complete = false
    while (!complete) {
      val hits = tree.query(new Envelope(lon - r, lon + r, lat - r, lat + r))
      val cand = new Array[(String, Double)](hits.size())
      var i = 0
      while (i < hits.size()) {
        val (id, wkt) = hits.get(i).asInstanceOf[(String, String)]
        cand(i) = (id, graft.geom.Geo.pointGeomDistance(lon, lat, wkt))
        i += 1
      }
      val top = cand.sortBy(c => (c._2, c._1)).take(k)
      if (top.length >= k && top.last._2 <= r) { out = top.toSeq; complete = true }
      else if (r > 720.0) { out = top.toSeq; complete = true } // exhausted the world
      else r *= 2
    }
    out.zipWithIndex.map { case ((id, d), i) => (id, d, i + 1) }
  }

  /**
   * Broadcast-STRtree kNN: no shuffle, no explode-join — the probe side is
   * touched by exactly one generator projection.
   *
   * @param points DataFrame with (pt columns..., lon, lat)
   * @param tiles  DataFrame with (tile_id, wkt) — dimension-sized
   */
  def nearestTiles(points: DataFrame, tiles: DataFrame, k: Int,
                   res: Int = 3, ring: Int = 1): DataFrame = {
    val spark = points.sparkSession
    // kNN collects the tiles to the driver, so it keeps the engine's only
    // hand-sized broadcast guard: never driver-collect a side the user sized
    // out of broadcasting (or disabled broadcasting for)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val dimBytes = tiles.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold <= 0 || dimBytes > BigInt(math.max(threshold, 10L << 20)) * 8)
      return nearestTilesShuffled(points, tiles, k, res, ring)
    val tileArr = tiles.select("tile_id", "wkt").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bc = spark.sparkContext.broadcast(tileArr)
    val kk = k
    val knnUdf = udf { (lon: Double, lat: Double) => queryKnn(bc, lon, lat, kk) }
    points
      .withColumn("__nn", explode(knnUdf(col("lon"), col("lat"))))
      .withColumn("tile_id", col("__nn._1"))
      .withColumn("dist", col("__nn._2"))
      .withColumn("rank", col("__nn._3"))
      .drop("__nn")
  }

  /** Shuffled fallback: cell-ring candidate equi-join + window ranking —
    * for tile sides beyond broadcast size. Same output contract, or the job
    * fails: the ring proves a point's top-k only when it holds k tiles and
    * the k-th distance is ≤ ring × min(cell width, cell height) at `res`
    * (every tile outside the ring's cells lies at least that far away). A
    * point without that proof raises an error instead of returning short
    * or misranked rows. */
  def nearestTilesShuffled(points: DataFrame, tiles: DataFrame, k: Int,
                           res: Int = 3, ring: Int = 1): DataFrame = {
    val p = points
      .withColumn("__ring", kRingOfPointUdf(col("lon"), col("lat"), lit(res), lit(ring)))
      .withColumn("__cell", explode(col("__ring")))
    val t = tiles
      .withColumnRenamed("wkt", "tile_wkt")
      .withColumn("__tcells", stCellCover(col("tile_wkt"), lit(res)))
      .withColumn("__tcell", explode(col("__tcells")))
    // left outer: a point whose ring meets no tile keeps a null row, so the
    // completeness check below sees it. Shuffle-free dedup: keep the pair
    // only on the min shared cell (both arrays are sorted and distinct)
    val cand = p.join(t, col("__cell") === col("__tcell") &&
        firstSharedCell(col("__cell"), col("__ring"), col("__tcells")), "left_outer")
      .drop("__cell", "__ring", "__tcells", "__tcell")
      .withColumn("dist", when(col("tile_id").isNotNull,
        pointDistanceUdf(col("lon"), col("lat"), col("tile_wkt"))))
    // cell height 180/2^res is the smaller side (width is 360/2^res)
    val bound = ring * 180.0 / CellIndex.width(res)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("dist").asc_nulls_last, col("tile_id"))
    cand.withColumn("rank", row_number().over(w))
      .withColumn("__dk", nth_value(col("dist"), k)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(when(col("__dk") <= bound, col("rank") <= k).otherwise(raise_error(concat(
        lit(s"kNN ring fallback (res=$res, ring=$ring) cannot prove the $k nearest tiles of doc "),
        col("doc_id"), lit(s": fewer than $k tiles within $bound degrees")))))
      .drop("__dk", "tile_wkt")
  }
}
