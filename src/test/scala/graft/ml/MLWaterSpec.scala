package graft.ml

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * RF water classifier parity with `utils/genprepMLWater.py:255-358`:
 * label thresholding, class-count guard, shallow forest, masked outputs.
 * The synthetic scene makes water a deterministic function of the bands
 * (water ⇔ high nir-vs-swir contrast), so the shallow RF must recover it.
 */
class MLWaterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val bands = Seq("green", "nir", "swir1")

  /** 6000 px: water pixels (pc=80) have low nir; land (pc=10) high nir.
    * A band of pixels is lab-invalid, another img-invalid. */
  private def scene = {
    val rnd = new scala.util.Random(17)
    (0 until 6000).map { i =>
      val water = i % 2 == 0
      val g = 300 + rnd.nextInt(200)
      val nir = if (water) 200 + rnd.nextInt(150) else 2500 + rnd.nextInt(1500)
      val sw = if (water) 100 + rnd.nextInt(100) else 1500 + rnd.nextInt(1000)
      val pc = if (water) 80.0 else 10.0
      (i.toLong, g, nir, sw, pc, i % 13 != 0, i % 17 != 0) // validImg, validLab
    }.toDF("px", "green", "nir", "swir1", "pc", "valid_img", "valid_lab")
  }

  test("label rule: pc >= 50 → 1 else 0") {
    val out = Seq(49.9, 50.0, 80.0, 0.0).toDF("pc")
      .select(MLWater.waterLabel(col("pc")).as("l")).collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(0.0, 1.0, 1.0, 0.0))
  }

  test("class-count guard throws under minimum") {
    val df = scene.limit(100).withColumn("label", MLWater.waterLabel(col("pc")))
    intercept[IllegalArgumentException] {
      MLWater.assertClassCounts(df, "label", 2000)
    }
  }

  test("train + predict recovers the generating rule; invalid rows masked") {
    val px = scene
    val model = MLWater.train(px, bands, "pc", col("valid_img"), col("valid_lab"))
    assert(model.getNumTrees == 4 && model.trees.forall(_.depth <= 5))
    val pred = MLWater.predict(model, px, bands, col("valid_img"), keys = Seq("px", "pc", "valid_img"))
    val rows = pred.collect()
    val valid = rows.filter(_.getAs[Boolean]("valid_img"))
    val acc = valid.count(r =>
      r.getAs[Int]("water_mask") == (if (r.getAs[Double]("pc") >= 50) 1 else 0)).toDouble / valid.length
    assert(acc > 0.99, s"accuracy $acc")
    valid.foreach { r =>
      val p = r.getAs[Int]("water_prob"); assert(p >= 0 && p <= 100)
    }
    rows.filter(!_.getAs[Boolean]("valid_img")).foreach { r =>
      assert(r.getAs[Int]("water_mask") == -9999 && r.getAs[Int]("water_prob") == -9999)
    }
  }

  test("expression prediction ≡ spark.ml predictProbability, bit for bit") {
    val px = scene
    val model = MLWater.train(px, bands, "pc", col("valid_img"), col("valid_lab"))
    val got = MLWater.predict(model, px, bands, col("valid_img"),
      keys = Seq("px", "green", "nir", "swir1", "valid_img"))
      .collect().map(r => r.getAs[Long]("px") ->
        (r.getAs[Int]("water_mask"), r.getAs[Int]("water_prob"))).toMap
    // driver-local oracle: the model's own public predictProbability on the
    // exact feature vector (same arithmetic model.transform would run)
    px.select("px", "green", "nir", "swir1", "valid_img").collect().foreach { r =>
      val (k, g, nir, sw) = (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))
      val expected = if (!r.getBoolean(4)) (-9999, -9999)
      else {
        val prob = model.predictProbability(
          org.apache.spark.ml.linalg.Vectors.dense(g.toDouble, nir.toDouble, sw.toDouble))
        (if (prob(1) > prob(0)) 1 else 0, (prob(1) * 100).toInt)
      }
      assert(got(k) == expected, s"px=$k bands=($g,$nir,$sw)")
    }
  }

  test("null band values → nodata on both outputs (engine ≡ oracle rule)") {
    val px = scene
    val model = MLWater.train(px, bands, "pc", col("valid_img"), col("valid_lab"))
    val forest = RfForest.fromModel(model)
    val withNulls = Seq(
      (1L, Some(300), Some(2500), Some(1500), true),
      (2L, Some(300), None: Option[Int], Some(1500), true), // null nir
      (3L, None: Option[Int], Some(2500), Some(1500), true) // null green
    ).toDF("px", "green", "nir", "swir1", "valid_img")
    val out = MLWater.predictFromForest(forest, withNulls, bands, col("valid_img"), Seq("px"))
      .collect().map(r => r.getAs[Long]("px") ->
        (r.getAs[Int]("water_mask"), r.getAs[Int]("water_prob"))).toMap
    assert(out(1L)._1 != -9999 && out(1L)._2 != -9999)
    assert(out(2L) == (-9999, -9999) && out(3L) == (-9999, -9999))
  }

  test("deterministic: same seed → identical predictions") {
    val px = scene
    val m1 = MLWater.train(px, bands, "pc", col("valid_img"), col("valid_lab"))
    val m2 = MLWater.train(px, bands, "pc", col("valid_img"), col("valid_lab"))
    val p1 = MLWater.predict(m1, px, bands, col("valid_img"), Seq("px")).orderBy("px").collect()
    val p2 = MLWater.predict(m2, px, bands, col("valid_img"), Seq("px")).orderBy("px").collect()
    p1.zip(p2).foreach { case (a, b) => assert(a == b) }
  }
}
