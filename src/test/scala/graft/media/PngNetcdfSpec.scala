package graft.media

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}

/** S14 (PNG browse export) + S13 (NetCDF classic export): real-format
  * encoders verified by lossless round trips, checksum/structure
  * validation, and end-to-end distributed write → read-back. */
class PngNetcdfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def seededPixels(n: Int, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(rnd.nextInt(256).toByte)
  }

  test("PNG: grey and RGB round trips are lossless; signature present") {
    for ((w, h, ch) <- Seq((7, 5, 1), (16, 16, 3), (1, 1, 1), (33, 2, 3))) {
      val px = seededPixels(w * h * ch, seed = w * 100 + h)
      val png = Png.encode(w, h, ch, px)
      assert(png.take(4).drop(1).map(_.toChar).mkString == "PNG")
      val (w2, h2, ch2, px2) = Png.decode(png)
      assert((w2, h2, ch2) == (w, h, ch))
      assert(java.util.Arrays.equals(px, px2), s"${w}x$h/$ch pixels drifted")
    }
  }

  test("PNG: chunk CRC corruption is detected") {
    val png = Png.encode(8, 8, 3, seededPixels(192, 1L))
    val corrupted = png.clone()
    corrupted(40) = (corrupted(40) ^ 0x55).toByte // inside IDAT payload
    intercept[IllegalArgumentException](Png.decode(corrupted))
  }

  test("PNG: truncated zlib stream with VALID chunk CRCs fails loudly, never spins") {
    val png = Png.encode(16, 16, 3, seededPixels(16 * 16 * 3, 9L))
    // rebuild the file with the IDAT data cut in half and its CRC recomputed
    val bb = java.nio.ByteBuffer.wrap(png, 8, png.length - 8)
    val out = new java.io.ByteArrayOutputStream()
    out.write(png, 0, 8)
    var done = false
    while (!done) {
      val len = bb.getInt
      val kb = new Array[Byte](4); bb.get(kb)
      val data = new Array[Byte](len); bb.get(data); bb.getInt // drop old crc
      val kind = new String(kb, "US-ASCII")
      val d2 = if (kind == "IDAT") java.util.Arrays.copyOf(data, len / 2) else data
      out.write(java.nio.ByteBuffer.allocate(4).putInt(d2.length).array())
      out.write(kb); out.write(d2)
      val crc = new java.util.zip.CRC32(); crc.update(kb); crc.update(d2)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      if (kind == "IEND") done = true
    }
    intercept[IllegalArgumentException](Png.decode(out.toByteArray))
  }

  /** Browse PNGs for `docs` (doc_id, width, height, rgb pixels) through the
    * one file sink, at the `<doc_id>/browse.png` layout `media_png` uses. */
  private def writeBrowse(docs: Seq[(String, Int, Int, Array[Byte])], dir: String) =
    Media.writeFiles(docs.map { case (doc, w, h, px) =>
      (doc, s"$doc/browse.png", Png.encode(w, h, 3, px))
    }.toDF("doc_id", "rel", "bytes"), dir)

  test("PNG browse sink: distributed write, binaryFile read-back decodes to the input") {
    val dir = TestDirs.create("graft_png").toString
    val docs = (0 until 6).map { i =>
      (s"scene$i", 12, 9, seededPixels(12 * 9 * 3, seed = i))
    }
    val manifestDf = writeBrowse(docs, dir)
    val manifest = manifestDf.as[(String, String, Long)].collect()
    assert(manifest.length == 6)
    val back = Media.readManifestFiles(manifestDf).as[(String, Array[Byte])].collect()
    assert(back.length == 6)
    val byDoc = docs.map(d => d._1 -> d._4).toMap
    back.foreach { case (path, bytes) =>
      val doc = path.split('/').takeRight(2).head
      val (w, h, ch, px) = Png.decode(bytes)
      assert((w, h, ch) == (12, 9, 3))
      assert(java.util.Arrays.equals(px, byDoc(doc)), s"$doc pixels drifted")
    }
    // the manifest is the listing: a binaryFile glob finds the same files
    val globbed = spark.read.format("binaryFile").load(s"$dir/*/browse.png")
      .select($"path").as[String].collect().map(p => new java.net.URI(p).getPath)
    assert(globbed.toSet == manifest.map(_._2).toSet)
  }

  test("real PNG media decode: binaryFile → Png.decode pipeline recovers pixels") {
    val dir = TestDirs.create("graft_png_src").toString
    val docs = (0 until 4).map(i => (s"d$i", 10, 6, seededPixels(10 * 6 * 3, seed = 50 + i)))
    writeBrowse(docs, dir).collect()
    val decoded = spark.read.format("binaryFile").load(s"$dir/*/browse.png")
      .select($"path", Media.decodePngUdf($"content").as("d"))
      .select($"path", $"d._1", $"d._2", $"d._3", $"d._4")
      .as[(String, Int, Int, Int, Array[Byte])].collect()
    assert(decoded.length == 4)
    val byDoc = docs.map(d => d._1 -> d._4).toMap
    decoded.foreach { case (path, w, h, ch, px) =>
      assert((w, h, ch) == (10, 6, 3))
      val doc = path.split('/').takeRight(2).head
      assert(java.util.Arrays.equals(px, byDoc(doc)))
    }
  }

  test("scaleToByte matches the gdal -scale rule (clamp + linear + round)") {
    val vals = Seq(-100.0, 0.0, 999.0, 2000.0, 4000.0, 9999.0)
    val got = vals.toDF("v").select(Media.scaleToByte($"v", 0.0, 4000.0).as("b"))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 0, 64, 128, 255, 255))
  }

  test("PNG property: lossless round trip over random dims/channels/pixels") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val gen = for {
      w <- Gen.choose(1, 64)
      h <- Gen.choose(1, 64)
      ch <- Gen.oneOf(1, 3)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (w, h, ch, seed)
    val prop = Prop.forAll(gen) { case (w, h, ch, seed) =>
      val px = {
        val rnd = new scala.util.Random(seed)
        Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      }
      val (w2, h2, ch2, px2) = Png.decode(Png.encode(w, h, ch, px))
      w2 == w && h2 == h && ch2 == ch && java.util.Arrays.equals(px, px2)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("NetCDF property: round trip over random dim shapes and values") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val gen = for {
      ny <- Gen.choose(1, 20)
      nx <- Gen.choose(1, 20)
      nvars <- Gen.choose(1, 4)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (ny, nx, nvars, seed)
    val prop = Prop.forAll(gen) { case (ny, nx, nvars, seed) =>
      val rnd = new scala.util.Random(seed)
      val vars = (0 until nvars).map(i =>
        NetCdf.Var(s"v$i", Seq(0, 1), Array.fill(ny * nx)(rnd.nextDouble() * 1e6 - 5e5)))
      val (d2, v2) = NetCdf.readClassic(
        NetCdf.writeClassic(Seq(("y", ny), ("x", nx)), vars))
      d2 == Seq(("y", ny), ("x", nx)) &&
        v2.zip(vars).forall { case (a, b) =>
          a.name == b.name && java.util.Arrays.equals(a.values, b.values)
        }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("NetCDF classic: dims + multi-var round trip is lossless") {
    val dims = Seq(("y", 4), ("x", 6))
    val a = Array.tabulate(24)(i => i * 1.5 - 3)
    val b = Array.tabulate(24)(i => math.sin(i.toDouble))
    val bytes = NetCdf.writeClassic(dims,
      Seq(NetCdf.Var("red", Seq(0, 1), a), NetCdf.Var("nir", Seq(0, 1), b)))
    assert(bytes.take(3).map(_.toChar).mkString == "CDF" && bytes(3) == 1)
    val (d2, v2) = NetCdf.readClassic(bytes)
    assert(d2 == dims)
    assert(v2.map(_.name) == Seq("red", "nir"))
    assert(v2(0).values.toSeq == a.toSeq && v2(1).values.toSeq == b.toSeq)
    intercept[IllegalArgumentException](
      NetCdf.readClassic("NOT_A_CDF_FILE".getBytes("US-ASCII")))
  }

  test("NetCDF grid export: mean-composite grid round-trips through the file") {
    val px = graft.ops.Pixels.pixels(spark, "/root/testdata/sf0.001")
    val grid = graft.ops.Composites.meanComposite(px, Seq("py", "px"), "red2")
    val path = TestDirs.create("graft_nc").resolve("grid.nc").toString
    Media.exportGridNetcdf(grid, "py", "px", Seq("mean_v"), path)
    val (dims, vars) = NetCdf.readClassic(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val (ny, nx) = (dims(0)._2, dims(1)._2)
    assert(dims.map(_._1) == Seq("y", "x") && vars.map(_.name) == Seq("y", "x", "mean_v"))
    val expected = grid.select($"py".cast("long"), $"px".cast("long"), $"mean_v".cast("double"))
      .as[(Long, Long, Option[Double])].collect()
    assert(expected.length <= ny * nx)
    val ys = expected.map(_._1).distinct.sorted
    val xs = expected.map(_._2).distinct.sorted
    // coordinate variables recover the original keys (xarray coords)
    assert(vars(0).values.toSeq == ys.map(_.toDouble).toSeq)
    assert(vars(1).values.toSeq == xs.map(_.toDouble).toSeq)
    expected.foreach { case (y, x, v) =>
      val got = vars(2).values(ys.indexOf(y) * nx + xs.indexOf(x))
      assert(got == v.getOrElse(-9999.0), s"($y,$x): $got != $v") // null → nodata fill
    }
  }
}
