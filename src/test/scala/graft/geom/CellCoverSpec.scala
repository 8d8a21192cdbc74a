package graft.geom

import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.cells.CellIndex
import graft.model.SynthCorpus

/**
 * `Geo.cellCover` decides candidate cells per leaf part (envelope test for
 * rectangles, lazily prepared JTS intersects for the rest). The oracle is the
 * whole-part form it replaced: one prepared geometry per AM-split part, one
 * JTS intersects per candidate cell rectangle. Covers must be identical, id
 * for id, at res 3, 5 and 8 on every geometry family the engine sees.
 */
class CellCoverSpec extends AnyFunSuite {
  private val Resolutions = Seq(3, 5, 8)

  /** The whole-part cover: prepare each AM-split part, test every candidate. */
  private def oracleCover(g: Geometry, res: Int): Array[Long] = {
    val out = scala.collection.mutable.SortedSet.empty[Long]
    Geo.splitAntimeridian(g).foreach { p =>
      val env = p.getEnvelopeInternal
      val cand = CellIndex.coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, res)
      if (cand.length <= 4) out ++= cand
      else {
        val prep = PreparedGeometryFactory.prepare(p)
        cand.foreach { c =>
          val (x0, y0, x1, y1) = CellIndex.bounds(c)
          if (prep.intersects(Geo.rect(x0, y0, x1, y1))) out += c
        }
      }
    }
    out.toArray
  }

  private def assertSameCover(geoms: Seq[Geometry]): Unit =
    for (g <- geoms; res <- Resolutions) {
      val got = Geo.cellCover(g, res)
      val want = oracleCover(g, res)
      assert(java.util.Arrays.equals(got, want),
        s"res=$res ${Geo.toWkt(g)}: got ${got.mkString(",")} want ${want.mkString(",")}")
    }

  private val rnd = new scala.util.Random(5)
  private def lon() = rnd.nextDouble() * 360 - 180
  private def lat() = rnd.nextDouble() * 180 - 90

  test("AM MULTIPOLYGONs and zero-width-part collections from amRectUdf") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // the corpus hotspot lattice: x0 ∈ [178, 182) step 1/16, wrapped; width
    // 1.5, so x0 = 178.5 lands xmax exactly on -180 (a zero-width west part)
    val boxes = for (i <- 0 until 64; j <- Seq(0, 17, 63)) yield {
      val x0 = 178.0 + i / 16.0
      val y0 = -19.0 + j / 16.0
      def wrap(x: Double) = if (x >= 180.0) x - 360.0 else x
      (wrap(x0), y0, wrap(x0 + 1.5), y0 + 1.0)
    }
    val geoms = boxes.toDF("xmin", "ymin", "xmax", "ymax")
      .select(SynthCorpus.amRectUdf(col("xmin"), col("ymin"), col("xmax"), col("ymax")).as("g"))
      .select(col("g._2")).as[Array[Byte]].collect().map(Geo.fromWkb).toSeq
    val kinds = geoms.map(_.getGeometryType).toSet
    assert(kinds.contains("MultiPolygon") && kinds.contains("GeometryCollection"), kinds)
    assertSameCover(geoms)
  }

  test("triangles, holes, points, lines and multi-geometries") {
    val triangles = (0 until 150).map { _ =>
      val (x, y) = (lon() * 0.8, lat() * 0.8)
      val s = 0.5 + rnd.nextDouble() * 40
      Geo.fromWkt(s"POLYGON (($x $y, ${x + s} ${y + s / 3}, ${x + s / 4} ${y + s}, $x $y))")
    }
    val holed = (0 until 40).map { _ =>
      val (x, y) = (lon() * 0.5, lat() * 0.5)
      val s = 5 + rnd.nextDouble() * 60
      val (h0, h1) = (s * 0.2, s * 0.8)
      Geo.fromWkt(s"POLYGON (($x $y, ${x + s} $y, ${x + s} ${y + s / 2}, $x ${y + s / 2}, $x $y), " +
        s"(${x + h0} ${y + h0 / 2}, ${x + h1} ${y + h0 / 2}, ${x + h1} ${y + h1 / 2}, " +
        s"${x + h0} ${y + h1 / 2}, ${x + h0} ${y + h0 / 2}))")
    }
    val points = (0 until 60).map(_ => Geo.point(lon(), lat())) ++
      (0 until 20).map(_ => Geo.fromWkt(s"MULTIPOINT ((${lon()} ${lat()}), (${lon()} ${lat()}))"))
    val lines = (0 until 60).map { _ =>
      Geo.fromWkt(s"LINESTRING (${lon()} ${lat()}, ${lon()} ${lat()}, ${lon()} ${lat()})")
    }
    val mixed = (0 until 30).map { i =>
      val t = triangles(i); val b = Geo.rect(-170.0 + i, -40.0, -150.0 + i, -30.0)
      if (i % 2 == 0) t.getFactory.createGeometryCollection(Array(t, b, points(i)))
      else t.getFactory.createMultiPolygon(Array(b.asInstanceOf[org.locationtech.jts.geom.Polygon],
        holed(i).asInstanceOf[org.locationtech.jts.geom.Polygon]))
    }
    assertSameCover(triangles ++ holed ++ points ++ lines ++ mixed)
  }

  test("rectangles: random, unwrapped past ±180, and edges on cell boundaries") {
    val random = (0 until 150).map { _ =>
      val (x, y) = (lon() * 0.9, lat() * 0.9)
      Geo.rect(x, y, x + rnd.nextDouble() * 30, y + rnd.nextDouble() * 15)
    }
    val unwrapped = Seq(Geo.rect(178.0, -19.0, 182.0, -15.0), Geo.rect(-185.0, 10.0, -170.0, 30.0),
      Geo.rect(170.0, -50.0, 200.0, -20.0))
    // edges exactly on the res-3/5/8 lattice: boxes that touch, share and
    // straddle cell sides, plus zero-width and zero-height boxes on a side
    val onGrid = for {
      res <- Resolutions
      w = 360.0 / CellIndex.width(res); h = 180.0 / CellIndex.width(res)
      i <- Seq(0, 3, 7)
      j <- Seq(0, 2, 5)
      (dx, dy) <- Seq((1, 1), (3, 2), (0, 2), (2, 0), (5, 5))
    } yield {
      val (x0, y0) = (-180.0 + (i + 1) * w, -90.0 + (j + 2) * h)
      Geo.rect(x0, y0, x0 + dx * w, y0 + dy * h)
    }
    assertSameCover(random ++ unwrapped ++ onGrid)
  }
}
