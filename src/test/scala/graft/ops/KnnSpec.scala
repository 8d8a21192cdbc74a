package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.geom.Geo
import graft.model.SynthCorpus

/** kNN (k-ring probe) ≡ brute-force nearest tiles (SURVEY §5.2c). */
class KnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val tiles = SynthCorpus.tileGrid(spark).drop("path", "row")
  private lazy val tileSeq = tiles.as[(String, String)].collect()

  test("k=3 nearest tiles match brute force; k=1 distance minimal") {
    val rnd = new scala.util.Random(99)
    val pts = (0 until 250).map { i =>
      (s"d$i", rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
    }
    val df = pts.toDF("doc_id", "lon", "lat")
    val got = Knn.nearestTiles(df, tiles, k = 3, res = 3, ring = 1)
      .select($"doc_id", $"rank", $"tile_id").as[(String, Int, String)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    pts.foreach { case (id, lon, lat) =>
      val byDist = tileSeq.map { case (tid, twkt) =>
        (tid, Geo.pointGeomDistance(lon, lat, twkt))
      }.sortBy { case (tid, d) => (d, tid) }
      val expected = byDist.take(3).map(_._1).toSeq
      assert(got(id) == expected, s"doc $id at ($lon,$lat)")
    }
  }

  test("broadcast-disabled session: guard routes to the shuffled path, same results") {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 80).map { i =>
      (s"d$i", rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
    }
    val df = pts.toDF("doc_id", "lon", "lat")
    def norm(r: org.apache.spark.sql.DataFrame) =
      r.select($"doc_id", $"rank".cast("int"), $"tile_id").as[(String, Int, String)]
        .collect().toSet
    val withBroadcast = norm(Knn.nearestTiles(df, tiles, k = 3))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val disabled = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val r = Knn.nearestTiles(df, tiles, k = 3)
      // the shuffled path ranks via a window — its plan has one; the
      // broadcast-STRtree path is a single generator projection and does not
      assert(r.queryExecution.sparkPlan.toString.contains("Window"),
        "guard did not route to the shuffled path")
      norm(r)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(disabled == withBroadcast)
  }

  test("shuffled cell-ring fallback ≡ broadcast STRtree path") {
    val rnd = new scala.util.Random(123)
    val pts = (0 until 150).map { i =>
      (s"d$i", rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
    }
    val df = pts.toDF("doc_id", "lon", "lat")
    def norm(r: org.apache.spark.sql.DataFrame) =
      r.select($"doc_id", $"rank".cast("int"), $"tile_id").as[(String, Int, String)]
        .collect().toSet
    assert(norm(Knn.nearestTiles(df, tiles, k = 3)) ==
      norm(Knn.nearestTilesShuffled(df, tiles, k = 3, res = 3, ring = 1)))
  }

  test("sparse tiles: the shuffled fallback returns the broadcast rows or fails, never short") {
    // four tiles spanning (0..5, 0..1) and one at (100, 50); the point's
    // res-3 ring (45° × 22.5° cells) reaches only t4, its 2nd and 3rd nearest
    // tiles are ~150° away
    val sparse = ((0 until 4).map(i => (s"t$i", Geo.rectWkt(i, 0, i + 2, 1))) :+
      ("t4", Geo.rectWkt(100, 50, 101, 51))).toDF("tile_id", "wkt")
    val df = Seq(("p", 150.0, 60.0)).toDF("doc_id", "lon", "lat")
    def norm(r: org.apache.spark.sql.DataFrame) =
      r.select($"doc_id", $"rank".cast("int"), $"tile_id").as[(String, Int, String)]
        .collect().sortBy(_._2).toSeq
    val viaBroadcast = norm(Knn.nearestTiles(df, sparse, k = 3))
    assert(viaBroadcast.map(_._3) == Seq("t4", "t3", "t2"))
    scala.util.Try(norm(Knn.nearestTilesShuffled(df, sparse, k = 3, res = 3, ring = 1))) match {
      case scala.util.Success(rows) => assert(rows == viaBroadcast)
      case scala.util.Failure(e) =>
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("cannot prove the 3 nearest tiles")), e)
    }
  }
}
