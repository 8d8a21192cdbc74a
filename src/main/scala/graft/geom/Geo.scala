package graft.geom

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}
import graft.cells.CellIndex

/**
 * JTS-backed geometry helpers. WKT (EPSG:4326 lon/lat) is the boundary type
 * for geometry columns (reference parses WKT with shapely,
 * `utils/query_utils.py:24-27`); JTS `Geometry` is the in-operator type.
 *
 * All readers/writers are thread-local (JTS parsers are not thread-safe) and
 * a small per-thread LRU caches parsed+prepared geometries so that broadcast
 * dimension polygons (tile grids, ~1e2–6e4 rows) parse once per task, not
 * once per candidate pair.
 */
object Geo {
  private val gf = new GeometryFactory(new PrecisionModel, 4326)

  private val reader = new ThreadLocal[WKTReader] {
    override def initialValue(): WKTReader = new WKTReader(gf)
  }
  private val writer = new ThreadLocal[WKTWriter] {
    override def initialValue(): WKTWriter = new WKTWriter()
  }

  /** Bounded per-thread LRU of WKT → PreparedGeometry. */
  private val prepCache = new ThreadLocal[java.util.LinkedHashMap[String, PreparedGeometry]] {
    override def initialValue() =
      new java.util.LinkedHashMap[String, PreparedGeometry](1024, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, PreparedGeometry]) =
          size() > 100000
      }
  }

  def fromWkt(wkt: String): Geometry = reader.get().read(wkt)
  def toWkt(g: Geometry): String = writer.get().write(g)

  // WKB is the storage-side geometry encoding (what an Iceberg/GeoParquet
  // table would hold): ~5× cheaper to parse than WKT and byte-exact.
  private val wkbReader = new ThreadLocal[WKBReader] {
    override def initialValue(): WKBReader = new WKBReader(gf)
  }
  private val wkbWriter = new ThreadLocal[WKBWriter] {
    override def initialValue(): WKBWriter = new WKBWriter()
  }
  def fromWkb(wkb: Array[Byte]): Geometry = wkbReader.get().read(wkb)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get().write(g)

  /** One-slot per-thread parse memo: within a task pipeline the SAME probe
    * WKT is parsed by cellCover (projection) and again by the refine
    * predicate (join filter) on the same thread moments later — the memo
    * makes the second parse free without an unbounded cache over the
    * distinct-per-row probe strings. Geometries are never mutated by the
    * read paths (AM-split copies before shifting). */
  private val lastParsed = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](2)
  }
  def fromWktCached(wkt: String): Geometry = {
    val slot = lastParsed.get()
    val k = slot(0).asInstanceOf[String]
    if (k != null && (k.eq(wkt) || k == wkt)) slot(1).asInstanceOf[Geometry]
    else {
      val g = fromWkt(wkt)
      slot(0) = wkt; slot(1) = g
      g
    }
  }

  private val lastParsedWkb = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](2)
  }
  def fromWkbCached(wkb: Array[Byte]): Geometry = {
    val slot = lastParsedWkb.get()
    val k = slot(0).asInstanceOf[Array[Byte]]
    if (k != null && (k.eq(wkb) || java.util.Arrays.equals(k, wkb))) slot(1).asInstanceOf[Geometry]
    else {
      val g = fromWkb(wkb)
      slot(0) = wkb; slot(1) = g
      g
    }
  }

  /** Prepared(WKT dim) × WKB probe intersects — the mixed form the cover
    * join uses when the doc table stores geometry as binary. */
  def intersectsWkb(dimWkt: String, probeWkb: Array[Byte]): Boolean =
    prepared(dimWkt).intersects(fromWkbCached(probeWkb))

  def cellCoverWkb(wkb: Array[Byte], res: Int): Array[Long] =
    cellCover(fromWkbCached(wkb), res)

  def prepared(wkt: String): PreparedGeometry = {
    val c = prepCache.get()
    var p = c.get(wkt)
    if (p == null) { p = PreparedGeometryFactory.prepare(fromWkt(wkt)); c.put(wkt, p) }
    p
  }

  def rect(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): Geometry =
    gf.toGeometry(new Envelope(minLon, maxLon, minLat, maxLat))

  def rectWkt(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): String =
    toWkt(rect(minLon, minLat, maxLon, maxLat))

  def point(lon: Double, lat: Double): Geometry =
    gf.createPoint(new Coordinate(lon, lat))

  def intersects(aWkt: String, bWkt: String): Boolean =
    prepared(aWkt).intersects(fromWktCached(bWkt))

  def distance(aWkt: String, bWkt: String): Double =
    fromWkt(aWkt).distance(fromWkt(bWkt))

  /**
   * Point→geometry distance via clamped-projection closest point
   * (dist² = |p − clamp(proj(p))|²). Unlike JTS's linear point-line formula
   * this is exact for axis-aligned segments on lattice coordinates, so
   * equidistant ties (common on a regular tile grid) stay bit-identical and
   * kNN tie-breaking is deterministic across engines (KnnSpec).
   */
  def pointGeomDistance(lon: Double, lat: Double, wkt: String): Double = {
    val prep = prepared(wkt)
    val p = point(lon, lat)
    if (prep.covers(p)) return 0.0
    var best = Double.MaxValue
    def segs(cs: Array[Coordinate]): Unit = {
      var i = 0
      while (i < cs.length - 1) {
        val d2 = pointSegDist2(lon, lat, cs(i).x, cs(i).y, cs(i + 1).x, cs(i + 1).y)
        if (d2 < best) best = d2
        i += 1
      }
      if (cs.length == 1) {
        val dx = lon - cs(0).x; val dy = lat - cs(0).y
        val d2 = dx * dx + dy * dy
        if (d2 < best) best = d2
      }
    }
    def walk(g: Geometry): Unit = g match {
      case gc: GeometryCollection =>
        (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
      case poly: Polygon =>
        segs(poly.getExteriorRing.getCoordinates)
        (0 until poly.getNumInteriorRing).foreach(i => segs(poly.getInteriorRingN(i).getCoordinates))
      case other => segs(other.getCoordinates)
    }
    walk(prep.getGeometry)
    math.sqrt(best)
  }

  private def pointSegDist2(px: Double, py: Double,
                            x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0.0) 0.0
            else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / len2))
    val cx = x1 + t * dx; val cy = y1 + t * dy
    (px - cx) * (px - cx) + (py - cy) * (py - cy)
  }

  /**
   * Split a geometry whose longitudes may run past ±180 (an "unwrapped"
   * antimeridian-crossing footprint, the Fiji case —
   * `utils/s1am/raw2ard.py:76-85, 592-617` splits GCPs by longitude sign)
   * into parts that all live inside [-180, 180]. Parts beyond the seam are
   * translated back by ±360.
   */
  def splitAntimeridian(g: Geometry): Seq[Geometry] = {
    val env = g.getEnvelopeInternal
    if (env.getMinX >= -180.0 && env.getMaxX <= 180.0) return Seq(g)
    val out = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    def clipShift(lo: Double, hi: Double, shift: Double): Unit = {
      val clip = g.intersection(gf.toGeometry(new Envelope(lo, hi, -90, 90)))
      if (!clip.isEmpty) {
        if (shift == 0.0) out += clip
        else {
          val t = clip.copy()
          t.apply(new CoordinateFilter {
            override def filter(c: Coordinate): Unit = { c.x += shift }
          })
          t.geometryChanged()
          out += t
        }
      }
    }
    clipShift(-540, -180, 360.0)
    clipShift(-180, 180, 0.0)
    clipShift(180, 540, -360.0)
    out.toSeq
  }

  /**
   * Cell cover of an arbitrary geometry at `res`: AM-split, bbox-enumerate
   * each part's candidate cells, keep the cells whose closed rectangle meets
   * the geometry (tight cover for non-rectangular footprints). Distinct +
   * sorted.
   *
   * A part with ≤ 4 candidates keeps them all (bbox ≈ geometry at this res).
   * Otherwise each candidate is decided leaf by leaf (the polygons, lines and
   * points of a multi-geometry or collection): a leaf whose envelope misses
   * the cell is skipped, an axis-aligned rectangle is decided by that
   * envelope test alone (exact for a closed box), and only the other leaves
   * are prepared — lazily, once each — for a JTS intersects. An AM-crossing
   * box stored as a MULTIPOLYGON spans −180…180, so its 32–64 candidates at
   * res 5 cost envelope tests, not one JTS predicate each. Cells collect in
   * a primitive array, sorted and deduplicated in place.
   */
  def cellCover(g: Geometry, res: Int): Array[Long] = {
    var out = new Array[Long](8)
    var n = 0
    def add(c: Long): Unit = {
      if (n == out.length) out = java.util.Arrays.copyOf(out, 2 * n)
      out(n) = c
      n += 1
    }
    splitAntimeridian(g).foreach { p =>
      val env = p.getEnvelopeInternal
      val cand = CellIndex.coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, res)
      if (cand.length <= 4) cand.foreach(add) // bbox ≈ geometry at this res; skip refine
      else {
        val leaves = leavesOf(p)
        val isRect = leaves.map(_.isRectangle)
        val prep = new Array[PreparedGeometry](leaves.length)
        cand.foreach { c =>
          val (x0, y0, x1, y1) = CellIndex.bounds(c)
          val cell = new Envelope(x0, x1, y0, y1)
          var hit = false
          var i = 0
          while (!hit && i < leaves.length) {
            if (leaves(i).getEnvelopeInternal.intersects(cell)) {
              hit = isRect(i) || {
                if (prep(i) == null) prep(i) = PreparedGeometryFactory.prepare(leaves(i))
                prep(i).intersects(gf.toGeometry(cell))
              }
            }
            i += 1
          }
          if (hit) add(c)
        }
      }
    }
    java.util.Arrays.sort(out, 0, n)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, m)
  }

  /** The non-collection parts of `g` (a leaf geometry is its own part). */
  private def leavesOf(g: Geometry): Array[Geometry] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    def walk(h: Geometry): Unit = h match {
      case gc: GeometryCollection => (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
      case leaf => out += leaf
    }
    walk(g)
    out.toArray
  }

  def cellCoverWkt(wkt: String, res: Int): Array[Long] = cellCover(fromWktCached(wkt), res)
}
