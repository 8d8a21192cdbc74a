package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, JoinHint, LogicalPlan, SHUFFLE_HASH}
import org.apache.spark.sql.functions._
import graft.plans.CellCoverJoin

/**
 * Tile assignment (SURVEY §2.3 J2): which output tile(s) does each scene
 * footprint feed. The reference has TWO paths:
 *
 *  - **gridded-name**: for S2/Landsat/MODIS the tile id is embedded in the
 *    scene name and assignment is a string equi-join
 *    (`master_Search_Discover_example.ipynb` cell 18 `granules.isin(tiles)`,
 *    cell 65 `row.isin ∧ path.isin`, cell 171 `hv.isin`) —
 *    [[assignByName]];
 *  - **geometric**: free-footprint sensors (S1, cell 44) spatially join
 *    footprint × tile polygons — [[assign]].
 *
 * Both paths must agree on gridded scenes — [[crossCheck]] returns the
 * disagreements (TileAssignSpec asserts name-path ≡ geometry-path on the
 * synthetic gridded corpus and that corrupted names are caught).
 *
 * Output is deterministically ordered downstream by (doc_id, tile_id) —
 * the reference leans on pandas' stable order, which a distributed engine
 * must replace with an explicit total order (SURVEY §2.6).
 */
object TileAssign {

  /**
   * Parse the (path, row) grid key embedded in a gridded-sensor scene name —
   * pure Column algebra (codegen'd, SQL-oracle-expressible). Three families,
   * first match wins:
   *
   *  - `_T<cccc>`: MGRS-style granule code of the synthetic grid
   *    (`T<col><row>`, 2+2 digits — the structural role of the reference's
   *    `_T60KYF_` S2 granule, cell 18)
   *  - `.h<hh>v<vv>.`: MODIS sinusoidal H/V (cell 171, `utils/prepMOD.py`)
   *  - `L???_..._<pppsss>_`: Landsat WRS-2 path/row, 3+3 digits
   *    (`utils/prepLS.py:313`, cell 65)
   *
   * No match → null struct (scene falls to the geometric path).
   */
  def parseNameKey(name: Column): Column = {
    val mgrs = regexp_extract(name, "_T(\\d{4})(_|$)", 1)
    val mh = regexp_extract(name, "\\.h(\\d{2})v(\\d{2})\\.", 1)
    val mv = regexp_extract(name, "\\.h(\\d{2})v(\\d{2})\\.", 2)
    val wrs = regexp_extract(name, "^L[A-Z]\\d{2}_[A-Z0-9]+_(\\d{6})_", 1)
    when(mgrs =!= "", struct(
      substring(mgrs, 1, 2).cast("int").as("path"),
      substring(mgrs, 3, 2).cast("int").as("row")))
      .when(mh =!= "", struct(mh.cast("int").as("path"), mv.cast("int").as("row")))
      .when(wrs =!= "", struct(
        substring(wrs, 1, 3).cast("int").as("path"),
        substring(wrs, 4, 3).cast("int").as("row")))
  }

  /** Gridded-name assignment: parse the tile key from `nameCol`, broadcast
    * equi-join against the tile grid's (path, row). Scenes with no
    * recognizable grid key (or a key outside the grid) drop — they belong to
    * the geometric path. Zero shuffles over the doc side. */
  def assignByName(docs: DataFrame, tiles: DataFrame,
                   nameCol: String = "doc_id"): DataFrame = {
    val t = broadcast(tiles.select(col("tile_id"),
      col("path").as("__t_path"), col("row").as("__t_row")))
    docs.withColumn("__k", parseNameKey(col(nameCol)))
      .join(t, col("__k.path") === col("__t_path") && col("__k.row") === col("__t_row"))
      .drop("__k", "__t_path", "__t_row")
  }

  /** The J2 agreement check: gridded-name assignments whose (doc, tile) the
    * geometric path does NOT confirm (named tile not among the footprint's
    * intersected tiles). Empty ⇔ both paths agree. */
  def crossCheck(docs: DataFrame, tiles: DataFrame, res: Int = 5,
                 nameCol: String = "doc_id", geomCol: String = "wkt"): DataFrame = {
    val named = assignByName(docs.select(col(nameCol), col(geomCol)), tiles, nameCol)
      .select(col(nameCol), col("tile_id"))
    val geom = assign(docs.select(col(nameCol).as("doc_id"), col(geomCol)),
      tiles, res, geomCol = geomCol)
      .select(col("doc_id").as(nameCol), col("tile_id"))
    named.join(geom, Seq(nameCol, "tile_id"), "left_anti")
  }

  /**
   * Geometric assignment: footprint × tile polygons via the cell-cover join
   * ([[graft.plans.CellCoverJoin.build]]). Also point-in-polygon assignment
   * (`geomCol` holding point WKT; reference: `rasterio.features.rasterize`
   * PIP at `utils/genprepWater.py:274-279`, generalized): JTS intersects is
   * boundary-inclusive, matching closed-set `<=` range predicates.
   *
   * Scale design (100 TB posture): the tile grid (≤ ~60k polygons) is
   * broadcast, so the scenes are touched only by narrow operators — a cover
   * projection, an explode, a broadcast hash join and its codegen'd
   * condition (the `first_shared_cell` dedup and the refine): zero shuffles
   * over the big side. `shuffled = true` is for a grid too big to broadcast:
   * a shuffle-hash join on the cell id, split by AQE's skew join and
   * `saltBuckets > 1` (see [[SpatialJoin.suggestSaltBuckets]]).
   *
   * @param scenes   carries `geomCol`, WKT (string) or WKB (binary)
   * @param tiles    carries `tile_id` and `wkt` (WKT); the tile `wkt` is not
   *                 in the output
   * @param res      cell resolution (2^res × 2^res world grid)
   * @param shuffled shuffle-hash join instead of broadcasting the tiles
   * @param saltBuckets >1 adds a deterministic salt as a second join key on
   *                 the scene side and replicates the tiles ×S
   */
  def assign(scenes: DataFrame, tiles: DataFrame, res: Int = 5,
             shuffled: Boolean = false, saltBuckets: Int = 1,
             geomCol: String = "wkt"): DataFrame = {
    val p = scenes.queryExecution.analyzed
    val d = tiles.withColumnRenamed("wkt", "tile_wkt").queryExecution.analyzed
    val resolver = scenes.sparkSession.sessionState.conf.resolver
    def geom(plan: LogicalPlan, name: String) =
      plan.resolve(Seq(name), resolver).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${plan.schema.simpleString}"))
    // shuffle_hash hint: without it AQE converts the join back to broadcast
    // whenever the tiles are small (true at test scale, false at the
    // 60k-polygon+ scale this path exists for) — the hint keeps the
    // measured plan the one that actually runs at scale
    val strategy = if (shuffled) SHUFFLE_HASH else BROADCAST
    val hint = JoinHint(None, Some(HintInfo(strategy = Some(strategy))))
    GraftShims.dataFrame(scenes.sparkSession,
      CellCoverJoin.build(p, geom(p, geomCol), d, geom(d, "tile_wkt"), res, hint, saltBuckets))
      .drop("tile_wkt")
  }
}
