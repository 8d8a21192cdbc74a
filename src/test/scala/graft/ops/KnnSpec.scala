package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkTestSession
import graft.geom.Geo
import graft.model.SynthCorpus

/** kNN (expanding-ring cell join) ≡ brute-force nearest tiles (SURVEY §5.2c). */
class KnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val tiles = SynthCorpus.tileGrid(spark).drop("path", "row")
  private lazy val tileSeq = tiles.as[(String, String)].collect()

  /** (doc_id, rank, tile_id) rows of a kNN result. */
  private def norm(r: DataFrame): Set[(String, Int, String)] =
    r.select($"doc_id", $"rank".cast("int"), $"tile_id").as[(String, Int, String)]
      .collect().toSet

  /** The same rows by sorting every tile by (distance, tile_id). */
  private def bruteForce(pts: Seq[(String, Double, Double)], world: Seq[(String, String)],
                         k: Int): Set[(String, Int, String)] =
    pts.flatMap { case (id, lon, lat) =>
      world.map { case (tid, twkt) => (tid, Geo.pointGeomDistance(lon, lat, twkt)) }
        .sortBy { case (tid, d) => (d, tid) }.take(k).zipWithIndex
        .map { case ((tid, _), i) => (id, i + 1, tid) }
    }.toSet

  private def randomPoints(seed: Int, n: Int): Seq[(String, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (s"d$i", rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
  }

  test("k=3 nearest tiles match brute force; k=1 distance minimal") {
    val pts = randomPoints(99, 250)
    val df = pts.toDF("doc_id", "lon", "lat")
    val got = Knn.nearestTiles(df, tiles, k = 3, res = 3)
      .select($"doc_id", $"rank", $"tile_id").as[(String, Int, String)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    pts.foreach { case (id, lon, lat) =>
      val byDist = tileSeq.map { case (tid, twkt) =>
        (tid, Geo.pointGeomDistance(lon, lat, twkt))
      }.sortBy { case (tid, d) => (d, tid) }
      val expected = byDist.take(3).map(_._1).toSeq
      assert(got(id) == expected, s"doc $id at ($lon,$lat)")
    }

    // k = 1: one row per point, the (distance, tile_id)-first tile
    val nearest = Knn.nearestTiles(df, tiles, k = 1, res = 3)
      .select($"doc_id", $"rank", $"tile_id").as[(String, Int, String)].collect()
    assert(nearest.length == pts.length)
    assert(nearest.toSet == bruteForce(pts, tileSeq.toSeq, k = 1))
  }

  /** kNN rows of `pts` with broadcast joins on and off: both equal brute force. */
  private def assertBroadcastOnOffMatchBruteForce(pts: Seq[(String, Double, Double)]): Unit = {
    val df = pts.toDF("doc_id", "lon", "lat")
    val withBroadcast = norm(Knn.nearestTiles(df, tiles, k = 3))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val disabled = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      norm(Knn.nearestTiles(df, tiles, k = 3))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(disabled == withBroadcast)
    assert(withBroadcast == bruteForce(pts, tileSeq.toSeq, 3))
  }

  test("broadcast-disabled session: same rows, equal to brute force") {
    assertBroadcastOnOffMatchBruteForce(randomPoints(7, 80))
  }

  test("cell-ring kNN ≡ brute force on 150 seeded points") {
    assertBroadcastOnOffMatchBruteForce(randomPoints(123, 150))
  }

  test("sparse tiles: later rounds widen the ring to prove the top-k") {
    // four tiles spanning (0..5, 0..1) and one at (100, 50); the point's
    // res-3 ring 1 (45° × 22.5° cells) reaches only t4, its 2nd and 3rd
    // nearest tiles are ~150° away
    val sparse = (0 until 4).map(i => (s"t$i", Geo.rectWkt(i, 0, i + 2, 1))) :+
      ("t4", Geo.rectWkt(100, 50, 101, 51))
    val df = Seq(("p", 150.0, 60.0)).toDF("doc_id", "lon", "lat")
    val got = Knn.nearestTiles(df, sparse.toDF("tile_id", "wkt"), k = 3)
      .select($"doc_id", $"rank".cast("int"), $"tile_id").as[(String, Int, String)]
      .collect().sortBy(_._2).toSeq
    assert(got == Seq(("p", 1, "t4"), ("p", 2, "t3"), ("p", 3, "t2")))
  }

  test("fewer tiles than k: every tile, ranked as by brute force") {
    val few = Seq(("b", Geo.rectWkt(10, 10, 12, 11)), ("a", Geo.rectWkt(-40, -5, -38, -4)))
    val pts = Seq(("p0", 0.0, 0.0), ("p1", 170.0, -80.0), ("p2", -180.0, 90.0), ("p3", -39.0, -4.5))
    val df = pts.toDF("doc_id", "lon", "lat")
    Seq(2, 3).foreach { res =>
      val got = norm(Knn.nearestTiles(df, few.toDF("tile_id", "wkt"), k = 3, res = res))
      assert(got == bruteForce(pts, few, 3), s"res $res")
      assert(got.size == pts.size * few.size, s"res $res")
    }
    // an empty world: no rows, no failure
    assert(Knn.nearestTiles(df, Seq.empty[(String, String)].toDF("tile_id", "wkt"), k = 3).isEmpty)
  }

  test("antimeridian, poles and whole-grid rings match brute force") {
    // a sparse world: a few tiles near one corner and the antimeridian, so
    // points at lon ±180 / lat ±90 take the k-ring's lon wrap and pole
    // clamp, and points far from every tile need the last (whole-grid) ring
    val rnd = new scala.util.Random(31)
    val world = Seq(("c0", Geo.rectWkt(170, 80, 175, 85)), ("c1", Geo.rectWkt(-179, 60, -175, 62)),
      ("c2", Geo.rectWkt(178, -20, 180, -18)), ("c3", Geo.rectWkt(-180, -89, -176, -87)),
      ("c4", Geo.rectWkt(20, 88, 24, 90))) ++
      (0 until 4).map { i =>
        val (x, y) = (rnd.nextDouble() * 340 - 170, rnd.nextDouble() * 160 - 80)
        (s"r$i", Geo.rectWkt(x, y, x + 3, y + 2))
      }
    val edges = for {
      lon <- Seq(-180.0, 180.0, -179.99, 179.99, 0.0, rnd.nextDouble() * 360 - 180)
      lat <- Seq(-90.0, 90.0, -89.99, 89.99, 0.0, rnd.nextDouble() * 180 - 90)
    } yield (lon, lat)
    val pts = (edges ++ randomPoints(41, 60).map(p => (p._2, p._3)))
      .zipWithIndex.map { case ((lon, lat), i) => (s"e$i", lon, lat) }
    val df = pts.toDF("doc_id", "lon", "lat")
    Seq(1, 3, 5).foreach { res =>
      val got = norm(Knn.nearestTiles(df, world.toDF("tile_id", "wkt"), k = 3, res = res))
      assert(got == bruteForce(pts, world, 3), s"res $res")
    }
  }
}
