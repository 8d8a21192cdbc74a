package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The Catalyst plane: native spatial expressions + the CellCoverJoin
 * optimizer rule that lowers `st_intersects` joins onto the cell-cover join.
 *
 * Oracle: the DataFrame-API cell-cover join (itself oracle-checked against
 * brute force in SpatialJoinSpec) and direct JTS brute force.
 */
class SpatialPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withExtensions[T](f: => T): T = {
    GraftExtensions.register(spark)
    f
  }

  private def scenes = graft.model.SynthCorpus.docs(spark, 2000, seed = 7L)
    .select(col("doc_id"), col("wkt"))

  /** The same scenes with their geometry as WKB (`doc_id`, `wkb`). */
  private def wkbScenes = graft.model.SynthCorpus.docs(spark, 2000, seed = 7L)
    .select(col("doc_id"), col("wkb"))

  private def tiles = graft.model.SynthCorpus.tileGrid(spark)
    .select(col("tile_id"), col("wkt").as("tile_wkt"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("doc_id", "tile_id").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private lazy val assigned =
    pairs(graft.ops.TileAssign.assign(scenes, tiles.withColumnRenamed("tile_wkt", "wkt")))

  /** The join was lowered onto the cell-cover join: no nested loop, no
    * cartesian product, and the cover is in the plan. */
  private def assertLowered(df: org.apache.spark.sql.DataFrame): Unit = {
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin") && !physical.contains("CartesianProduct"),
      s"spatial join planned as a nested loop:\n$physical")
    assert(physical.contains("st_cell_cover("), s"no cell cover in plan:\n$physical")
  }

  test("st_intersects expression: eval == codegen == JTS") {
    withExtensions {
      val df = scenes.limit(200).crossJoin(tiles.limit(20))
        .select(col("doc_id"), col("tile_id"),
          SpatialColumns.stIntersects(col("tile_wkt"), col("wkt")).as("hit"),
          col("wkt"), col("tile_wkt"))
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val expect = graft.geom.Geo.intersects(r.getAs[String]("tile_wkt"), r.getAs[String]("wkt"))
        assert(r.getAs[Boolean]("hit") == expect, s"${r.getAs[String]("doc_id")}")
      }
    }
  }

  test("st_intersects over (WKT, WKB) and (WKB, WKT): eval == codegen == JTS, null and empty included") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val (wkt, wkb) = (BoundReference(0, StringType, nullable = true),
      BoundReference(1, BinaryType, nullable = true))
    val forms = Seq(StIntersects(wkt, wkb), StIntersects(wkb, wkt))
    val compiled = GenerateUnsafeProjection.generate(forms)
    def check(t: String, d: Array[Byte], expected: Boolean): Unit = {
      val row = InternalRow(Option(t).map(UTF8String.fromString).orNull, d)
      val generated = compiled(row)
      forms.zipWithIndex.foreach { case (f, i) =>
        assert(f.eval(row) == expected && generated.getBoolean(i) == expected,
          s"${f.prettyName}(${f.left.dataType.simpleString}, ${f.right.dataType.simpleString}) " +
            s"on tile ${Option(t).map(_.take(60))}, doc ${Option(d).map(_.length)} bytes")
      }
    }
    val tileWkts = tiles.limit(20).collect().map(_.getString(1))
    val docWkbs = wkbScenes.limit(200).collect().map(_.getAs[Array[Byte]]("wkb"))
    var hits = 0
    for (t <- tileWkts; d <- docWkbs) {
      val jts = graft.geom.Geo.fromWkt(t).intersects(graft.geom.Geo.fromWkb(d))
      if (jts) hits += 1
      check(t, d, jts)
    }
    assert(hits > 0 && hits < tileWkts.length * docWkbs.length)
    // a null or empty geometry on either side intersects nothing
    for (t <- Seq(tileWkts.head, null, ""); d <- Seq(docWkbs.head, null, Array.empty[Byte])
         if t == null || t.isEmpty || d == null || d.isEmpty) check(t, d, expected = false)
    assert(forms.forall(!_.nullable))
  }

  test("st_intersects over two WKB geometries fails analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      wkbScenes.select(SpatialColumns.stIntersects(col("wkb"), col("wkb"))).collect()
    }
    assert(e.getMessage.contains("at most one of them WKB"), e.getMessage)
  }

  test("first_shared_cell expression: eval == codegen == array_min(array_intersect)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayMin, BoundReference, EqualTo}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val (c, a, b) = (BoundReference(0, LongType, nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = false), nullable = true),
      BoundReference(2, ArrayType(LongType, containsNull = false), nullable = true))
    val native = FirstSharedCell(c, a, b)
    val reference = EqualTo(c, ArrayMin(ArrayIntersect(a, b)))
    val compiled = GenerateUnsafeProjection.generate(Seq(native))
    def check(cell: java.lang.Long, xs: Array[Long], ys: Array[Long]): Unit = {
      // both ArrayData layouts the join can hand the kernel
      val row = InternalRow(cell, Option(xs).map(UnsafeArrayData.fromPrimitiveArray).orNull,
        Option(ys).map(new GenericArrayData(_)).orNull)
      val interpreted = native.eval(row)
      val generated = compiled(row).getBoolean(0)
      val expected = reference.eval(row) == true
      val what = s"cell=$cell a=${Option(xs).map(_.mkString(","))} b=${Option(ys).map(_.mkString(","))}"
      assert(interpreted == expected && generated == expected, what)
    }
    val rnd = new scala.util.Random(11)
    val base = 5L << 58 // res-5 cell ids
    def sortedDistinct(n: Int, universe: Int) =
      Array.fill(n)(base + rnd.nextInt(universe)).distinct.sorted
    val shapes = Seq[(String, () => (Array[Long], Array[Long]))](
      "empty" -> (() => (Array.empty[Long], sortedDistinct(rnd.nextInt(6), 40))),
      "disjoint" -> { () =>
        val xs = sortedDistinct(1 + rnd.nextInt(8), 40)
        (xs, sortedDistinct(1 + rnd.nextInt(8), 40).filterNot(xs.contains))
      },
      "identical" -> { () => val xs = sortedDistinct(1 + rnd.nextInt(8), 40); (xs, xs.clone()) },
      "one shared" -> { () =>
        val xs = sortedDistinct(1 + rnd.nextInt(8), 40)
        val s = xs(rnd.nextInt(xs.length))
        (xs, (sortedDistinct(rnd.nextInt(8), 40).filterNot(xs.contains) :+ s).sorted)
      },
      "random" -> (() => (sortedDistinct(rnd.nextInt(12), 30), sortedDistinct(rnd.nextInt(12), 30))))
    for ((shape, draw) <- shapes; _ <- 0 until 200) withClue(s"$shape: ") {
      val (xs, ys) = draw()
      // every id of either side (the join only asks about shared ones), and
      // ids outside both
      (xs ++ ys ++ Seq(base - 1, base + 41)).foreach(cell => check(cell, xs, ys))
      val shared: Long = xs.find(ys.contains).getOrElse(base)
      check(null, xs, ys)
      check(shared, null, ys)
      check(shared, xs, null)
    }
    assert(!native.nullable)
  }

  test("SQL cosine_sim / quantized_dot registered via extensions") {
    withExtensions {
      graft.SparkTestSession.spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .createOrReplaceTempView("sp_embs")
      val r = graft.SparkTestSession.spark.sql(
        """SELECT cosine_sim(embedding, embedding) AS self_sim,
          |       quantized_dot(embedding, embedding) AS qd
          |FROM sp_embs LIMIT 20""".stripMargin).collect()
      assert(r.length == 20)
      r.foreach { row =>
        assert(math.abs(row.getDouble(0) - 1.0) < 1e-12) // self-cosine ≈ 1
        assert(row.getDouble(1) > 0.0)
      }
    }
  }

  test("SQL st_intersects function registered via extensions") {
    withExtensions {
      scenes.createOrReplaceTempView("sp_scenes")
      tiles.createOrReplaceTempView("sp_tiles")
      val n = spark.sql(
        """SELECT count(*) AS n FROM sp_scenes s JOIN sp_tiles t
          |ON st_intersects(t.tile_wkt, s.wkt)""".stripMargin)
        .collect()(0).getLong(0)
      assert(n > 2000) // every scene hits ≥1 tile (grid tiles the world)
    }
  }

  test("SQL join lowered onto the cell-cover join matches TileAssign.assign") {
    withExtensions {
      val joined = scenes.join(tiles,
        SpatialColumns.stIntersects(col("tile_wkt"), col("wkt")))
      assertLowered(joined)

      val viaLowering = joined.select("doc_id", "tile_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val viaCoverJoin = graft.ops.TileAssign.assign(scenes, tiles.withColumnRenamed("tile_wkt", "wkt"))
        .select("doc_id", "tile_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(viaLowering == viaCoverJoin)
      assert(viaLowering.size > 2000)
    }
  }

  test("extra join conjuncts are preserved (filter after spatial match)") {
    withExtensions {
      val joined = scenes.join(tiles,
        SpatialColumns.stIntersects(col("tile_wkt"), col("wkt")) &&
          col("tile_id") > "T11")
      val all = scenes.join(tiles, SpatialColumns.stIntersects(col("tile_wkt"), col("wkt")))
        .where(col("tile_id") > "T11")
      assert(joined.count() == all.count())
      assertLowered(joined)
    }
  }

  test("pure-SQL Search & Discover: spatial join + anti-join in one statement") {
    withExtensions {
      scenes.createOrReplaceTempView("sd_docs")
      tiles.createOrReplaceTempView("sd_tiles")
      val inv = graft.ops.TileAssign.assign(scenes, tiles.withColumnRenamed("tile_wkt", "wkt"))
        .select(col("doc_id"), col("tile_id")).limit(50)
      inv.createOrReplaceTempView("sd_inventory")
      val remaining = spark.sql(
        """WITH assigned AS (
          |  SELECT d.doc_id, t.tile_id
          |  FROM sd_docs d JOIN sd_tiles t ON st_intersects(t.tile_wkt, d.wkt))
          |SELECT a.doc_id, a.tile_id FROM assigned a
          |ANTI JOIN sd_inventory i
          |  ON a.doc_id = i.doc_id AND a.tile_id = i.tile_id""".stripMargin)
      assertLowered(remaining)
      val total = graft.ops.TileAssign.assign(scenes, tiles.withColumnRenamed("tile_wkt", "wkt")).count()
      assert(remaining.count() == total - inv.count())
    }
  }

  test("SQL join: both argument orders, scenes on either side == TileAssign.assign") {
    withExtensions {
      scenes.createOrReplaceTempView("fo_scenes")
      tiles.createOrReplaceTempView("fo_tiles")
      for {
        from <- Seq("fo_scenes s JOIN fo_tiles t", "fo_tiles t JOIN fo_scenes s")
        on <- Seq("st_intersects(t.tile_wkt, s.wkt)", "st_intersects(s.wkt, t.tile_wkt)")
      } {
        val joined = spark.sql(s"SELECT s.doc_id, t.tile_id FROM $from ON $on")
        assertLowered(joined)
        assert(pairs(joined) == assigned, s"$from ON $on")
      }
      assert(assigned.size > 2000)
      // a conjunct over both sides cannot be pushed below the join: it stays
      // in the lowered join's condition
      val residual = spark.sql("""SELECT s.doc_id, t.tile_id FROM fo_scenes s JOIN fo_tiles t
          |ON st_intersects(t.tile_wkt, s.wkt)
          |AND substring(s.doc_id, -1, 1) < substring(t.tile_id, -1, 1)""".stripMargin)
      assertLowered(residual)
      val want = pairs(graft.ops.TileAssign.assign(scenes, tiles.withColumnRenamed("tile_wkt", "wkt"))
        .where(substring(col("doc_id"), -1, 1) < substring(col("tile_id"), -1, 1)))
      assert(want.nonEmpty && want.size < assigned.size)
      assert(pairs(residual) == want)
    }
  }

  test("SQL join: null and empty geometries on either side drop out") {
    withExtensions {
      import spark.implicits._
      val dirtyScenes = scenes.union(
        Seq(("dirty_null", null: String), ("dirty_empty", "")).toDF("doc_id", "wkt"))
      val dirtyTiles = tiles.union(
        Seq(("T_null", null: String), ("T_empty", "")).toDF("tile_id", "tile_wkt"))
      dirtyScenes.createOrReplaceTempView("dirty_scenes")
      dirtyTiles.createOrReplaceTempView("dirty_tiles")
      for (on <- Seq("st_intersects(t.tile_wkt, s.wkt)", "st_intersects(s.wkt, t.tile_wkt)")) {
        val joined = spark.sql(
          s"SELECT s.doc_id, t.tile_id FROM dirty_scenes s JOIN dirty_tiles t ON $on")
        assertLowered(joined)
        assert(pairs(joined) == assigned, on)
      }
    }
  }

  test("st_cell_cover expression == Geo.cellCoverWkt") {
    withExtensions {
      val rows = scenes.limit(100)
        .select(col("wkt"), SpatialColumns.stCellCover(col("wkt"), lit(5)).as("cells"))
        .collect()
      rows.foreach { r =>
        val expect = graft.geom.Geo.cellCoverWkt(r.getAs[String]("wkt"), 5).toSeq
        assert(r.getSeq[Long](1).toSeq == expect)
      }
    }
  }

  test("st_cell_cover over WKB == Geo.cellCoverWkb") {
    withExtensions {
      val rows = wkbScenes.limit(100)
        .select(col("wkb"), SpatialColumns.stCellCover(col("wkb"), lit(5)).as("cells"),
          expr("st_cell_cover(wkb, 5)").as("sql_cells"))
        .collect()
      assert(rows.length == 100)
      rows.foreach { r =>
        val expect = graft.geom.Geo.cellCoverWkb(r.getAs[Array[Byte]]("wkb"), 5).toSeq
        assert(expect.nonEmpty)
        assert(r.getSeq[Long](1).toSeq == expect && r.getSeq[Long](2).toSeq == expect)
      }
      // a null geometry has a null cover, an empty one covers no cell
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
      import org.apache.spark.sql.types.BinaryType
      val cover = StCellCover(BoundReference(0, BinaryType, nullable = true), Literal(5))
      assert(cover.eval(InternalRow(null)) == null)
      assert(cover.eval(InternalRow(Array.empty[Byte])).asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
    }
  }

  test("SQL join over WKB: both argument orders, scenes on either side == TileAssign.assign(wkb)") {
    withExtensions {
      wkbScenes.createOrReplaceTempView("wkb_scenes")
      tiles.createOrReplaceTempView("wkb_tiles")
      val want = pairs(graft.ops.TileAssign.assign(wkbScenes,
        tiles.withColumnRenamed("tile_wkt", "wkt"), geomCol = "wkb"))
      assert(want == assigned) // the WKB and WKT encodings of one corpus
      for {
        from <- Seq("wkb_scenes s JOIN wkb_tiles t", "wkb_tiles t JOIN wkb_scenes s")
        on <- Seq("st_intersects(t.tile_wkt, s.wkb)", "st_intersects(s.wkb, t.tile_wkt)")
      } {
        val joined = spark.sql(s"SELECT s.doc_id, t.tile_id FROM $from ON $on")
        assertLowered(joined)
        assert(pairs(joined) == want, s"$from ON $on")
      }
    }
  }

  test("st_distance expression == JTS distance") {
    withExtensions {
      val rows = scenes.limit(50).crossJoin(tiles.limit(5))
        .select(col("wkt"), col("tile_wkt"),
          SpatialColumns.stDistance(col("wkt"), col("tile_wkt")).as("d"))
        .collect()
      rows.foreach { r =>
        val expect = graft.geom.Geo.distance(r.getAs[String]("wkt"), r.getAs[String]("tile_wkt"))
        assert(r.getAs[Double]("d") == expect)
      }
    }
  }
}
