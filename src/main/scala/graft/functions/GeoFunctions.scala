package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.geom.Geo
import graft.plans.SpatialColumns

/**
 * Column-level geo helpers with no native expression: point/rectangle WKT
 * builders. Cell covers and intersects are the native `plans/` expressions
 * ([[graft.plans.SpatialColumns]]).
 */
object GeoFunctions {

  /** cellCover(wkt, res): Array[Long] — the native [[graft.plans.StCellCover]],
    * under the name the `ardbench/` workloads import. */
  def cellCoverUdf(wkt: Column, res: Column): Column = SpatialColumns.stCellCover(wkt, res)

  /** Rectangle WKT from bounds — used by synthetic corpus + tests. */
  val rectWktUdf = udf((minLon: Double, minLat: Double, maxLon: Double, maxLat: Double) =>
    Geo.rectWkt(minLon, minLat, maxLon, maxLat))

  /** Point WKT. */
  val pointWktUdf = udf((lon: Double, lat: Double) => Geo.toWkt(Geo.point(lon, lat)))
}

/** RFC 4122 version-5 (SHA-1) UUID in the URL namespace, matching Python's
  * `uuid.uuid5(uuid.NAMESPACE_URL, name)` used at `utils/prepS2.py:368`. */
object Uuid5 {
  private val NamespaceUrl: Array[Byte] =
    java.util.UUID.fromString("6ba7b811-9dad-11d1-80b4-00c04fd430c8").toString
      .replace("-", "").sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray

  def of(name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(NamespaceUrl)
    md.update(name.getBytes("UTF-8"))
    val h = md.digest()
    h(6) = ((h(6) & 0x0F) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3F) | 0x80).toByte // RFC 4122 variant
    val bb = java.nio.ByteBuffer.wrap(h)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }
}
