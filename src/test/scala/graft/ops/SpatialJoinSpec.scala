package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.geom.Geo
import graft.model.SynthCorpus

/**
 * Cell-cover join ≡ brute-force O(N·M) JTS intersects (the reference's
 * literal loop, `master_Search_Discover_example.ipynb` cell 10, as oracle —
 * SURVEY §5.2b), on seeded random rectangles including AM-crossing ones.
 */
class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def randomScenes(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x0 = rnd.nextDouble() * 360 - 180
      val y0 = rnd.nextDouble() * 170 - 90
      val w = rnd.nextDouble() * 8 + 0.01
      val h = rnd.nextDouble() * 5 + 0.01
      // ~20% cross the antimeridian (unwrapped, split to valid WKT)
      val wkt = if (x0 + w > 180) {
        val g = Geo.fromWkt(Geo.rectWkt(x0, y0, x0 + w, math.min(y0 + h, 90)))
        Geo.splitAntimeridian(g).reduce(_ union _) match { case u => Geo.toWkt(u) }
      } else Geo.rectWkt(x0, y0, x0 + w, math.min(y0 + h, 90))
      (i.toLong, wkt)
    }
  }

  private lazy val tiles = SynthCorpus.tileGrid(spark).drop("path", "row")
  private lazy val tileSeq = tiles.as[(String, String)].collect()

  private def brute(scenes: Seq[(Long, String)]): Set[(Long, String)] =
    (for {
      (id, swkt) <- scenes
      (tid, twkt) <- tileSeq
      if Geo.fromWkt(swkt).intersects(Geo.fromWkt(twkt))
    } yield (id, tid)).toSet

  test("cover-join + refine ≡ brute force (incl. AM footprints), several resolutions") {
    val scenes = randomScenes(300, 7L)
    val df = scenes.toDF("doc_id", "wkt")
    val expected = brute(scenes)
    for (res <- Seq(3, 5, 7)) {
      val got = TileAssign.assign(df, tiles, res = res)
        .select($"doc_id", $"tile_id").as[(Long, String)].collect().toSet
      assert(got == expected, s"res=$res diff=${(got diff expected) ++ (expected diff got)}")
    }
  }

  test("shuffled path ≡ broadcast path ≡ salted path") {
    val scenes = randomScenes(200, 11L)
    val df = scenes.toDF("doc_id", "wkt")
    val base = TileAssign.assign(df, tiles, res = 5)
      .select($"doc_id", $"tile_id").as[(Long, String)].collect().toSet
    val shuffled = TileAssign.assign(df, tiles, res = 5, shuffled = true)
      .select($"doc_id", $"tile_id").as[(Long, String)].collect().toSet
    val salted = TileAssign.assign(df, tiles, res = 5, shuffled = true, saltBuckets = 4)
      .select($"doc_id", $"tile_id").as[(Long, String)].collect().toSet
    assert(shuffled == base)
    assert(salted == base)
  }

  test("deterministic under different parallelism/partitions (SURVEY §5.2 determinism)") {
    val scenes = randomScenes(150, 13L)
    val a = TileAssign.assign(scenes.toDF("doc_id", "wkt").repartition(1), tiles, res = 5)
      .select($"doc_id", $"tile_id").as[(Long, String)].collect().sorted.toSeq
    val b = TileAssign.assign(scenes.toDF("doc_id", "wkt").repartition(7), tiles, res = 5)
      .select($"doc_id", $"tile_id").as[(Long, String)].collect().sorted.toSeq
    assert(a == b)
  }

  test("WKB probe path ≡ WKT probe path (binary storage encoding)") {
    val docs = SynthCorpus.docs(spark, 500, seed = 31L) // carries wkt AND wkb
    def pairs(geomCol: String) =
      TileAssign.assign(docs.select($"doc_id", col(geomCol)), tiles, res = 5, geomCol = geomCol)
        .select($"doc_id", $"tile_id").as[(String, String)].collect().toSet
    assert(pairs("wkb") == pairs("wkt"))
    assert(pairs("wkt").nonEmpty)
  }

  test("null/empty footprints drop out of the join instead of failing the task") {
    val scenes = Seq(
      (1L, Geo.rectWkt(10, 10, 12, 11)),
      (2L, null.asInstanceOf[String]),
      (3L, "")
    ).toDF("doc_id", "wkt")
    val got = TileAssign.assign(scenes, tiles, res = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("histogram-driven salt sizing: hotspot corpus salts, uniform corpus doesn't") {
    val hot = SynthCorpus.docs(spark, 3000, seed = 21L, hotspotFrac = 0.9)
    val uniform = SynthCorpus.docs(spark, 3000, seed = 22L, hotspotFrac = 0.0)
    // hotspot: ~2700 docs inside one 4°×4° box → one dense cell at res 5
    val sHot = SpatialJoin.suggestSaltBuckets(hot, "wkt", res = 5, targetPerBucket = 300)
    val sUni = SpatialJoin.suggestSaltBuckets(uniform, "wkt", res = 5, targetPerBucket = 300)
    assert(sHot > 1, s"hotspot should salt, got $sHot")
    assert(sUni == 1, s"uniform should not salt, got $sUni")
    // histogram itself: hotspot max cell count dwarfs the uniform one
    val mHot = SpatialJoin.cellHistogram(hot, "wkt", 5).agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
    val mUni = SpatialJoin.cellHistogram(uniform, "wkt", 5).agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
    assert(mHot > mUni * 5)
  }

  test("salt sizing over no rows is 1 (no salt), not a null-max failure") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "wkt")
    assert(SpatialJoin.suggestSaltBuckets(none, "wkt", res = 5) == 1)
  }

  test("salt sizing over only empty geometries is 1 (no salt), not a null-max failure") {
    val empty = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "POLYGON EMPTY"))
      .toDF("doc_id", "wkt")
    assert(SpatialJoin.cellHistogram(empty, "wkt", 5).isEmpty)
    assert(SpatialJoin.suggestSaltBuckets(empty, "wkt", res = 5) == 1)
  }

  test("synthetic docs generator: AM hotspot footprints get assigned on both seam sides") {
    val docs = SynthCorpus.docs(spark, 400, seed = 42L, hotspotFrac = 0.5, amFrac = 0.8)
    val assigned = TileAssign.assign(docs.select($"doc_id", $"wkt"), tiles, res = 5)
    val amDocs = docs.where($"xmin" > $"xmax").select($"doc_id").as[String].collect().toSet
    assert(amDocs.nonEmpty, "generator must produce AM-crossing docs")
    val amAssign = assigned.where($"doc_id".isin(amDocs.toSeq: _*))
      .select($"tile_id").as[String].collect().toSet
    // seam-adjacent tile columns: T00** (west of -165) and T23** (east of 165)
    assert(amAssign.exists(_.startsWith("T00")) && amAssign.exists(_.startsWith("T23")),
      s"AM docs must land on both seam sides, got $amAssign")
  }
}
