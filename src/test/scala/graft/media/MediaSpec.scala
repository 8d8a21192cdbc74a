package graft.media

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.{SparkTestSession, TestDirs}
import graft.model.SynthCorpus

class MediaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Real single-band GeoTIFF payloads for (doc, band) pairs, as the
    * (doc_id, rel, bytes) rows [[Media.writeFiles]] takes. */
  private def bandRows(pairs: Seq[(String, String)]): Seq[(String, String, Array[Byte])] =
    pairs.map { case (doc, band) =>
      val ref = s"${doc}_$band"
      val (w, h) = Media.bandDims(ref)
      (doc, s"$doc/$band.tif", GeoTiff.encode(w, h, Media.bandPixels(ref, w, h),
        nodata = 0, tileSize = 16, overviewLevels = 2))
    }

  test("band-file sink: per-(doc, band) files + manifest, byte-identical on read-back") {
    val dir = TestDirs.create("graft_media_sink").toString
    val rows = bandRows(Seq(("S2A_1", "blue"), ("S2A_1", "nir"), ("LC08_2", "swir1")))
    val manifestDf = Media.writeFiles(rows.toDF("doc_id", "rel", "bytes"), dir)
    val manifest = manifestDf.as[(String, String, Long)].collect()
    assert(manifest.length == 3)
    val want = rows.map(r => r._2 -> r._3).toMap
    manifest.foreach { case (doc, path, n) =>
      val rel = path.stripPrefix(s"$dir/")
      assert(rel.startsWith(s"$doc/") && rel.endsWith(".tif"), s"layout: $path") // the COG sink layout
      val bytes = Files.readAllBytes(Paths.get(path))
      assert(n == bytes.length)
      assert(bytes.sameElements(want(rel)))
    }
    // read-back through the manifest file source closes the loop
    val back = Media.readManifestFiles(manifestDf)
      .select(element_at(split($"path", "/"), -2).as("doc"),
        element_at(split($"path", "/"), -1).as("file"),
        Media.decodeGeoTiffBandUdf($"content").as("d"))
      .select($"doc", $"file", $"d._1.width").as[(String, String, Int)].collect()
    assert(back.length == 3)
    back.foreach { case (doc, file, w) =>
      assert(w == Media.bandDims(s"${doc}_${file.stripSuffix(".tif")}")._1)
    }
  }

  test("multiband sink: one file per doc, all bands; binaryFile read-back decodes bit-exact") {
    val dir = TestDirs.create("graft_media_mb").toString
    val rnd = new scala.util.Random(19)
    val (w, h) = (40, 30)
    val docs = Seq("S2A_1", "LC08_2").map { doc =>
      (doc, Seq.fill(4)(Seq.fill(w * h)(rnd.nextInt(0x10000))))
    }
    // the multi-band encode runs upstream of the sink, as a column would
    val rows = docs.map { case (doc, bands) =>
      (doc, s"$doc.tif", GeoTiff.encodeBands(w, h, bands.map(_.toArray),
        nodata = 0, tileSize = 16, overviewLevels = 2, zlevel = 3))
    }
    val manifestDf = Media.writeFiles(rows.toDF("doc_id", "rel", "bytes"), dir)
    val manifest = manifestDf.as[(String, String, Long)].collect().sortBy(_._1)
    assert(manifest.length == 2)
    manifest.foreach { case (doc, path, n) =>
      assert(path.endsWith(s"$doc.tif"), s"layout: $path")
      assert(Files.size(Paths.get(path)) == n)
    }
    // read back through the manifest source + the multi-band decoder: every
    // plane bit-exact, COG layout clean
    val back = Media.readManifestFiles(manifestDf).as[(String, Array[Byte])].collect()
    assert(back.length == 2)
    back.foreach { case (path, bytes) =>
      val doc = path.split('/').last.stripSuffix(".tif")
      val want = docs.find(_._1 == doc).get._2
      val d = GeoTiff.decodeBands(bytes)
      assert(d.bands.length == 4)
      d.bands.zip(want).foreach { case (img, plane) =>
        assert(img.width == w && img.height == h)
        assert(img.pixels.toSeq == plane)
      }
      assert(GeoTiff.validateCog(bytes).isEmpty)
    }
    // the manifest is the listing: a binaryFile glob finds the same files
    val globbed = spark.read.format("binaryFile").load(s"$dir/*.tif")
      .select($"path", $"content").as[(String, Array[Byte])].collect()
      .map { case (p, b) => new java.net.URI(p).getPath -> b.toSeq }.toMap
    assert(globbed == back.map { case (p, b) => p -> b.toSeq }.toMap)
  }

  test("real GeoTIFF band sink → binaryFile read-back: decode + COG validation clean") {
    val dir = TestDirs.create("graft_tiff_sink").toString
    val manifest = Media.writeFiles(
      bandRows(Seq(("S2A_9", "blue"), ("S2A_9", "nir"), ("LC08_3", "swir1")))
        .toDF("doc_id", "rel", "bytes"), dir)
      .as[(String, String, Long)].collect()
    assert(manifest.length == 3)
    // every emitted file is a structurally valid COG and round-trips
    manifest.foreach { case (doc, path, _) =>
      val bytes = Files.readAllBytes(Paths.get(path))
      val band = path.split('/').last.stripSuffix(".tif")
      assert(GeoTiff.validateCog(bytes).isEmpty, s"$doc/$band not COG-valid")
      val ref = s"${doc}_$band"
      val (w, h) = Media.bandDims(ref)
      assert(GeoTiff.decode(bytes).main.pixels.sameElements(Media.bandPixels(ref, w, h)))
    }
    // distributed read-back through the binaryFile source
    val back = spark.read.format("binaryFile").load(s"$dir/*")
      .select(Media.decodeGeoTiffBandUdf($"content").as("d"))
      .select($"d._1.width", $"d._1.channels", size($"d._2"))
      .as[(Int, Int, Int)].collect()
    assert(back.length == 3 && back.forall { case (w, ch, nf) => w >= 16 && ch == 1 && nf == 1 })
  }

  test("writeFiles: a rel that leaves dir fails naming its row; nested rels land inside") {
    val root = TestDirs.create("graft_media_escape")
    val dir = root.resolve("out").toString
    val outside = root.resolve("escaped.bin")
    def write(rel: String) =
      Media.writeFiles(Seq(("d1", rel, Array[Byte](1, 2, 3))).toDF("doc_id", "rel", "bytes"), dir)
        .as[(String, String, Long)].collect()
    for (rel <- Seq(outside.toString, "../escaped.bin", "a/../../escaped.bin")) {
      val e = intercept[Exception](write(rel))
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i }
      assert(cause.exists(_.getMessage.contains(s"doc_id=d1, rel=$rel")), s"$rel: $e")
      assert(!Files.exists(outside), s"$rel wrote outside $dir")
    }
    val Array((doc, path, n)) = write("a/b/../c/x.bin")
    assert(doc == "d1" && n == 3 && path == Paths.get(dir, "a", "c", "x.bin").toString)
    assert(Files.readAllBytes(Paths.get(path)).toSeq == Seq[Byte](1, 2, 3))
  }

  /** The RGB generator `browsePixels` had before it was defined over
    * [[Media.bandPixels]]: its own xorshift loop, keeping the low byte. */
  private def browsePixelsLoop(ref: String, w: Int, h: Int): Array[Byte] = {
    var s: Long = ref.hashCode.toLong * 2654435761L + 1
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < out.length) {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      out(i) = (s & 0xFF).toByte
      i += 1
    }
    out
  }

  test("browsePixels is byte-equal to its former xorshift loop for 100 refs") {
    for (i <- 0 until 100) {
      val ref = s"${i * 30}_png"
      val (w, h) = Media.bandDims(ref)
      assert(Media.browsePixels(ref, w, h).sameElements(browsePixelsLoop(ref, w, h)), ref)
    }
  }

  test("lint: under media/, only writeFiles and exportGridNetcdf call Files.write") {
    val media = Paths.get("src/main/scala/graft/media")
    val Def = """\s*def (\w+).*""".r
    assert(Files.isDirectory(media), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(media)
    val offenders = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.flatMap { p =>
      val lines = Files.readAllLines(p).asScala
      lines.indices.filter(lines(_).contains("Files.write(")).map { i =>
        val enclosing = lines.take(i + 1).reverseIterator
          .collectFirst { case Def(name) => name }.getOrElse("?")
        (p.getFileName.toString, enclosing, i + 1)
      }
    } finally walk.close()
    val allowed = Set(("Media.scala", "writeFiles"), ("Media.scala", "exportGridNetcdf"))
    val bad = offenders.filterNot { case (f, d, _) => allowed((f, d)) }
    assert(bad.isEmpty, s"Files.write outside Media.writeFiles/exportGridNetcdf (route media bytes through writeFiles): $bad")
    assert(offenders.map(o => (o._1, o._2)).toSet == allowed, s"lint saw no Files.write where expected: $offenders")
  }

  test("decodeBandSpans: schema, per-band rows, features normalized") {
    val docs = SynthCorpus.docs(spark, 50, seed = 42L)
    val out = Media.decodeBandSpans(docs.select($"doc_id", $"spans"))
    val rows = out.select($"doc_id", $"band", $"meta.width", $"meta.channels", $"features")
      .as[(String, String, Int, Int, Seq[Float])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, band, w, ch, feats) =>
      // single-band GeoTIFFs (one COG per band, like the reference)
      assert(w >= 16 && ch == 1 && feats.length == ch)
      assert(feats.forall(f => f >= 0f && f <= 1f))
      assert(band.nonEmpty)
    }
    // band-span count preserved: one output row per band span
    val nBandSpans = docs.select(explode($"spans").as("s")).where($"s.kind" === "band").count()
    assert(out.count() == nBandSpans)
  }
}
