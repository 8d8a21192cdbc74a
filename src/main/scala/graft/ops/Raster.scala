package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions.pointWktUdf
import graft.plans.SpatialColumns.stIntersects

/**
 * Raster↔vector operators (SURVEY §3.3):
 *
 *  - [[rasterizeMask]] — the engine form of the reference's AOI
 *    rasterization (`rasterio.features.rasterize` onto the pixel grid,
 *    `utils/genprepWater.py:270-281`): per-pixel point-in-polygon of the
 *    pixel CENTER against a vector geometry, as a boolean mask column.
 *    Pure narrow op — PIP of lattice centers, prepared-geometry cached.
 *
 *  - [[reassembleRows]] — pixels → scene-row reassembly (the
 *    `groupBy(doc,tile) reassemble → doc sink` tail of the derived-product
 *    lifecycle): collects each row's band values in deterministic
 *    (pixel-x) order. Values are emitted as a CSV string so cross-engine
 *    comparison is byte-exact (array columns compare unreliably across
 *    engines); the array form is `split(...)` away.
 */
object Raster {

  /** Pixel-center PIP mask. Grid: pixel (py, px) has center
    * (x0 + px·dx + dx/2, y0 + py·dy + dy/2).
    *
    * The AOI WKT is parsed ONCE on the driver; a rectangular AOI (the
    * overwhelmingly common case — scene footprints, tile extents, user
    * bboxes) lowers to pure codegen'd BETWEEN arithmetic instead of a
    * per-row point-WKT build + JTS PIP — boundary-inclusive either
    * way, so the two paths agree exactly. Non-rectangular geometries
    * keep the per-row prepared-geometry `st_intersects`. */
  def rasterizeMask(px: DataFrame, wkt: String,
                    x0: Double, y0: Double, dx: Double, dy: Double): DataFrame = {
    val cx = lit(x0) + col("px") * dx + dx / 2
    val cy = lit(y0) + col("py") * dy + dy / 2
    val aoi = graft.geom.Geo.fromWkt(wkt)
    val mask =
      if (aoi.isRectangle) {
        val e = aoi.getEnvelopeInternal
        cx >= e.getMinX && cx <= e.getMaxX && cy >= e.getMinY && cy <= e.getMaxY
      } else stIntersects(lit(wkt), pointWktUdf(cx, cy))
    px.withColumn("in_aoi", mask)
  }

  /** Reassemble long-form pixels into per-(key) raster rows: one output row
    * per `rowKey`, band values concatenated in (orderCols) order. */
  def reassembleRows(px: DataFrame, rowKey: Seq[String], orderCols: Seq[String],
                     v: String): DataFrame =
    px.groupBy(rowKey.map(col): _*)
      .agg(concat_ws(",",
        transform(
          array_sort(collect_list(struct(orderCols.map(col) :+ col(v).as("__v"): _*))),
          e => e.getField("__v"))).as("row_values"))
}
