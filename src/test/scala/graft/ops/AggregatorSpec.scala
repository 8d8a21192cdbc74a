package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Summary-stats Aggregator: algebraic-merge contract (the reference's
  * `intermediate_product` incremental path, `dc_utilities.py:164-170`) and
  * geomedian Weiszfeld determinism/correctness (SURVEY §5.2e). */
class AggregatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("WofsStats merge(reduce(a), reduce(b)) == reduce(a++b) — incremental == one-pass") {
    val rnd = new scala.util.Random(5)
    (1 to 50).foreach { _ =>
      val xs = Vector.fill(rnd.nextInt(40) + 1)(
        if (rnd.nextInt(10) == 0) -9999.0 else rnd.nextInt(5000).toDouble)
      val (a, b) = xs.splitAt(rnd.nextInt(xs.length))
      def red(v: Vector[Double]) = v.foldLeft(WofsStatsAgg.zero)(WofsStatsAgg.reduce)
      val merged = WofsStatsAgg.finish(WofsStatsAgg.merge(red(a), red(b)))
      val onePass = WofsStatsAgg.finish(red(xs))
      assert(merged == onePass)
    }
  }

  test("WofsStats via udaf matches plain SQL aggregates on a DataFrame") {
    val rnd = new scala.util.Random(6)
    val rows = (0 until 2000).map(i =>
      (i % 7, if (rnd.nextInt(9) == 0) -9999.0 else rnd.nextInt(1000).toDouble))
    val df = rows.toDF("k", "v")
    val wofsUdaf = udaf(WofsStatsAgg)
    val viaAgg = df.groupBy("k").agg(wofsUdaf($"v").as("st"))
      .select($"k", $"st.total_data", $"st.total_clean", $"st.normalized", $"st.min", $"st.max")
      .as[(Int, Double, Long, Double, Double, Double)].collect().toSet
    val viaSql = df.groupBy("k").agg(
      sum(when($"v" =!= -9999.0, $"v").otherwise(0.0)).as("td"),
      count(when($"v" =!= -9999.0, 1)).as("tc"),
      min(when($"v" =!= -9999.0, $"v")).as("mn"),
      max(when($"v" =!= -9999.0, $"v")).as("mx"))
      .select($"k", $"td", $"tc", ($"td" / $"tc").as("norm"), $"mn", $"mx")
      .as[(Int, Double, Long, Double, Double, Double)].collect().toSet
    assert(viaAgg == viaSql)
  }

  test("geomedian: 1-D geomedian == median; determinism across orderings") {
    val pts = Seq(Seq(1.0), Seq(2.0), Seq(3.0), Seq(10.0), Seq(4.0))
    val gm = WeiszfeldReference.viaFlat(pts)
    assert(math.abs(gm.head - 3.0) < 1e-6) // geometric median in 1D = median
    val shuffled = scala.util.Random.shuffle(pts)
    assert(WeiszfeldReference.viaFlat(shuffled) == gm) // sorted internally → identical
  }

  test("geomedian: symmetric cloud converges to its center; Spark agg matches scalar") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 100).map { _ =>
      Seq(50.0 + rnd.nextGaussian(), -20.0 + rnd.nextGaussian(), 7.0 + rnd.nextGaussian())
    }
    val scalar = WeiszfeldReference.viaFlat(pts)
    assert(math.abs(scalar(0) - 50.0) < 1.0 && math.abs(scalar(1) + 20.0) < 1.0)
    val df = pts.map(p => (1, p)).toDF("k", "v").repartition(5)
    val gmUdaf = udaf(GeomedianAgg)
    val viaSpark = df.groupBy("k").agg(gmUdaf($"v").as("gm"))
      .select($"gm").as[Seq[Double]].collect().head
    assert(viaSpark == scalar) // sort-before-iterate ⇒ partition-order independent
  }

  test("StructExtremum (hashed) ≡ max/min over struct, including null fields and strings") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      (i % 37,                                       // group key
        if (i % 11 == 0) null else s"s${rnd.nextInt(50)}%02d", // nullable string field
        rnd.nextInt(1000).toLong, rnd.nextDouble(), i) // longs/doubles + unique tiebreak
    }
    val df = rows.toDF("k", "s", "l", "d", "id").repartition(7)
    val packed = struct($"l", $"s", $"d", $"id")
    val viaMax = df.groupBy("k").agg(max(packed).as("t"))
      .select($"k", $"t.l", $"t.s", $"t.d", $"t.id").collect().toSet
    val viaHashed = df.groupBy("k").agg(StructExtremum.structMax(packed).as("t"))
      .select($"k", $"t.l", $"t.s", $"t.d", $"t.id").collect().toSet
    assert(viaHashed == viaMax)
    val viaMin = df.groupBy("k").agg(min(packed).as("t"))
      .select($"k", $"t.l", $"t.s", $"t.d", $"t.id").collect().toSet
    val viaHashedMin = df.groupBy("k").agg(StructExtremum.structMin(packed).as("t"))
      .select($"k", $"t.l", $"t.s", $"t.d", $"t.id").collect().toSet
    assert(viaHashedMin == viaMin)
  }

  // the boxed form is the frozen pre-rewrite kernel in test sources;
  // WeiszfeldSpec covers it over random shapes and values
  test("geomedian: weiszfeldFlat on the flat d-strided buffer is bit-identical to the boxed form") {
    val rnd = new scala.util.Random(31)
    val pts = (0 until 137).map { _ =>
      Seq(rnd.nextInt(3000).toDouble, rnd.nextInt(3000).toDouble, rnd.nextInt(3000).toDouble)
    }
    for (iters <- Seq(1, 7, 32)) {
      val boxed = WeiszfeldReference.weiszfeld(pts, maxIter = iters, tol = 0.0)
      val flat = pts.flatten.toArray
      val viaFlat = Weiszfeld.weiszfeldFlat(flat, 3, flat.length,
        maxIter = iters, tol = 0.0).toSeq
      assert(viaFlat == boxed, s"iters=$iters: flat path diverged")
    }
    // degenerate shapes: empty buffer, coincident points
    assert(Weiszfeld.weiszfeldFlat(Array.emptyDoubleArray, 0, 0, 32, 0.0).isEmpty)
    val same = Array(5.0, 6.0, 5.0, 6.0, 5.0, 6.0)
    assert(Weiszfeld.weiszfeldFlat(same, 2, 6, 32, 0.0).toSeq ==
      WeiszfeldReference.weiszfeld(Seq(Seq(5.0, 6.0), Seq(5.0, 6.0), Seq(5.0, 6.0)), 32, 0.0))
  }

  test("geomedoid: returns an actual observation, the argmin to the rounded geomedian") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 400).map { i =>
      (i % 4, i % 3, 100L + rnd.nextInt(2000), 100L + rnd.nextInt(2000), 100L + rnd.nextInt(2000))
    }
    val df = rows.toDF("py", "px", "blue", "nir", "red")
    val got = Composites.geomedoidComposite(df, Seq("py", "px"),
      Seq("blue", "nir", "red"), iters = 32)
      .select($"py", $"px", $"md_blue", $"md_nir", $"md_red")
      .as[(Int, Int, Long, Long, Long)].collect()
    val byKey = rows.groupBy(r => (r._1, r._2))
    got.foreach { case (py, px, b, n, r) =>
      val obs = byKey((py, px)).map(t => (t._3, t._4, t._5))
      assert(obs.contains((b, n, r)), s"medoid ($b,$n,$r) not an observation of ($py,$px)")
      // scalar argmin oracle against the same fixed-step rounded center
      val c = WeiszfeldReference.viaFlat(obs.map(o => Seq(o._1.toDouble, o._2.toDouble, o._3.toDouble)),
        maxIter = 32, tol = 0.0).map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      def d2(o: (Long, Long, Long)) = {
        val (t0, t1, t2) = (o._1 - c(0), o._2 - c(1), o._3 - c(2))
        (t0 * t0 + t1 * t1) + t2 * t2
      }
      val best = obs.distinct.sortBy(o => (d2(o), o._1, o._2, o._3)).head
      assert((b, n, r) == best, s"($py,$px): got ($b,$n,$r), argmin $best")
    }
  }

  test("composites: mostRecentValid and maxNdvi are deterministic argmax forms") {
    val df = Seq(
      (1, 1, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 10L, 100, 200, 300),
      (1, 1, java.sql.Timestamp.valueOf("2020-02-01 00:00:00"), 20L, 150, 250, 300),
      (1, 1, java.sql.Timestamp.valueOf("2020-02-01 00:00:00"), 15L, 150, 250, 300), // ts tie
      (1, 2, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), -9999L, 1, 1, 1)
    ).toDF("py", "px", "ts", "red2", "blue", "nir", "red")
      .withColumn("l_orderkey", $"red2").withColumn("l_linenumber", lit(0))
    val recent = Composites.mostRecentValid(df, Seq("py", "px"), "ts",
      Seq("l_orderkey", "l_linenumber", "red2"), "red2")
      .select($"py", $"px", $"red2").as[(Int, Int, Long)].collect().toSet
    assert(recent == Set((1, 1, 20L))) // ts tie broken by orderkey desc; -9999 excluded
  }

  test("geomedian/geomedoid modes: an empty group gives an empty array and null") {
    // pixel (1, 1)'s only observations carry nodata in some band, so its
    // buffer stays empty; pixel (2, 2) has one valid observation
    val df = Seq((1, 1, -9999L, 5L, 6L), (1, 1, 4L, -9999L, 6L), (2, 2, 7L, 8L, 9L))
      .toDF("py", "px", "blue", "nir", "red").repartition(2)
    val bands = Seq("blue", "nir", "red").map(col(_).cast("double"))
    val agged = df.groupBy("py", "px").agg(
      GeomedianVec(32, 0.0, medoid = false)(bands: _*).as("gm"),
      GeomedianVec(32, 0.0, medoid = true)(bands: _*).as("md"))
    assert(!agged.schema("gm").nullable && agged.schema("md").nullable)
    val got = agged.as[(Int, Int, Seq[Double], Option[Seq[Double]])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, 1, Seq.empty[Double], None),
      (2, 2, Seq(7.0, 8.0, 9.0), Some(Seq(7.0, 8.0, 9.0)))))
  }
}
