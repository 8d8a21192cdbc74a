package graft.media

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal (media) column plumbing: media payloads are opaque `binary`
 * columns referenced by `spans.media_ref` (the reference's
 * `image.bands.<band>.path` COG pointers, `utils/prepS2.py:352-356`,
 * resolved at `utils/genprepWater.py:204`).
 *
 * The band pixel format is a REAL tiled-GeoTIFF codec ([[GeoTiff]]: DEFLATE
 * tiles, predictor 2, internal overviews, GDAL_NODATA — the reference's COG
 * profile), and PNG ([[Png]]) covers the browse-image format. What remains
 * synthetic is only the pixel CONTENT: this sandbox has no network, so a
 * deterministic generator ([[bandPixels]]) stands in for downloaded scene
 * rasters; every byte between generation and the final table goes through
 * the real codecs. The header-encoded `fakePayload` format is kept as the
 * generic opaque-media shape (video-like frame sampling, resize plumbing).
 */
object Media {

  /** STUB payload generator: deterministic pseudo-raster bytes for a
    * media_ref. Layout: [w:2B][h:2B][ch:1B][body: w*h*ch bytes from an
    * xorshift stream seeded by the ref hash]. Stands in for `binaryFile`
    * reads of COG chunks (SURVEY §2.1 S6). */
  def fakePayload(mediaRef: String, w: Int, h: Int, ch: Int): Array[Byte] = {
    val body = new Array[Byte](5 + w * h * ch)
    body(0) = (w >> 8).toByte; body(1) = w.toByte
    body(2) = (h >> 8).toByte; body(3) = h.toByte
    body(4) = ch.toByte
    var s: Long = mediaRef.hashCode.toLong * 2654435761L + 1
    var i = 5
    while (i < body.length) {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      body(i) = s.toByte
      i += 1
    }
    body
  }

  case class MediaMeta(width: Int, height: Int, channels: Int, n_bytes: Long)

  /** Decode the SYNTHETIC payload header (the fakePayload format — kept
    * alongside the real TIFF/PNG codecs as the cheap opaque-binary path;
    * the real decoders are [[decodeGeoTiffBandUdf]]/[[decodePngUdf]]). */
  def decodeMeta(bytes: Array[Byte]): MediaMeta = {
    require(bytes.length >= 5, "truncated media payload")
    val w = ((bytes(0) & 0xFF) << 8) | (bytes(1) & 0xFF)
    val h = ((bytes(2) & 0xFF) << 8) | (bytes(3) & 0xFF)
    MediaMeta(w, h, bytes(4) & 0xFF, bytes.length.toLong)
  }
  val decodeMetaUdf = udf(decodeMeta _)

  /** Per-channel mean "feature vector" over the body bytes — the
    * deterministic stand-in for embedding/feature extraction; shape and
    * batching are what a real extractor would use. */
  def extractFeatures(bytes: Array[Byte]): Array[Float] = {
    val m = decodeMeta(bytes)
    val sums = new Array[Long](m.channels)
    val counts = new Array[Long](m.channels)
    var i = 5
    var c = 0
    while (i < bytes.length) {
      sums(c) += (bytes(i) & 0xFF)
      counts(c) += 1
      c = (c + 1) % m.channels
      i += 1
    }
    Array.tabulate(m.channels)(c => if (counts(c) == 0) 0f else (sums(c).toDouble / counts(c)).toFloat / 255f)
  }
  val extractFeaturesUdf = udf(extractFeatures _)

  /** Nearest-neighbor resize to (w2, h2) — the resize kernel shape (STUB
    * sampling arithmetic; a real codec-backed impl replaces the body loop,
    * the header/payload contract and Spark plumbing stay identical). */
  def resize(bytes: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
    val m = decodeMeta(bytes)
    val out = new Array[Byte](5 + w2 * h2 * m.channels)
    out(0) = (w2 >> 8).toByte; out(1) = w2.toByte
    out(2) = (h2 >> 8).toByte; out(3) = h2.toByte
    out(4) = m.channels.toByte
    var y = 0
    while (y < h2) {
      val sy = (y.toLong * m.height / h2).toInt
      var x = 0
      while (x < w2) {
        val sx = (x.toLong * m.width / w2).toInt
        var c = 0
        while (c < m.channels) {
          out(5 + (y * w2 + x) * m.channels + c) =
            bytes(5 + (sy * m.width + sx) * m.channels + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Sample n evenly-spaced "frames" (row blocks) — the frame-sample shape
    * for video-like payloads; returns the raw slices. */
  def frameSample(bytes: Array[Byte], n: Int): Array[Array[Byte]] = {
    val m = decodeMeta(bytes)
    val rowBytes = m.width * m.channels
    if (rowBytes == 0 || m.height == 0) return Array.empty
    (0 until n).map { i =>
      val row = (i.toLong * m.height / n).toInt
      val from = 5 + row * rowBytes
      java.util.Arrays.copyOfRange(bytes, from, math.min(from + rowBytes, bytes.length))
    }.toArray
  }

  /**
   * S8/S9's structural sink twin: write one payload file per (doc, band)
   * under `dir/<doc_id>/<band>.tif` — the reference's per-band COG emission
   * loop (`utils/prep_utils.py:413-491` writes `<scene>/<band>.tif`), with
   * the pixel codec stubbed like the read side. Executes distributed
   * (mapPartitions, one file per row, no shuffle); returns the manifest
   * (doc_id, band, path, n_bytes) for downstream lineage. Local-FS here; a
   * production impl swaps the Files.write for an object-store client, the
   * layout and manifest contract stay identical.
   */
  def writeBandFiles(rows: DataFrame, dir: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id").cast("string"), col("band"), col("payload"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (doc, band, payload) =>
          val p = java.nio.file.Paths.get(dir, doc)
          java.nio.file.Files.createDirectories(p)
          val f = p.resolve(s"$band.tif")
          java.nio.file.Files.write(f, payload)
          (doc, band, f.toString, payload.length.toLong)
        }
      }.toDF("doc_id", "band", "path", "n_bytes")
  }

  /**
   * The export-path sink twin (`utils/dc_import_export.py:90-139`
   * `export_xarray_to_geotiff`): ONE multi-band GeoTIFF per doc at
   * `dir/<doc_id>.tif`, all band planes in a single chunky-interleaved
   * file ([[GeoTiff.encodeBands]]). `rows` carries (doc_id, bands:
   * array<array<int>>, width, height) with every plane width×height.
   * Distributed mapPartitions, one file per row, no shuffle; returns the
   * manifest (doc_id, n_bands, path, n_bytes).
   */
  def writeMultibandFiles(rows: DataFrame, dir: String,
                          tileSize: Int = GeoTiff.DefaultTileSize,
                          overviewLevels: Int = GeoTiff.DefaultOverviewLevels,
                          zlevel: Int = 9): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id").cast("string"), col("bands"), col("width"), col("height"))
      .as[(String, Seq[Seq[Int]], Int, Int)]
      .mapPartitions { it =>
        it.map { case (doc, bands, w, h) =>
          val bytes = GeoTiff.encodeBands(w, h, bands.map(_.toArray),
            nodata = 0, tileSize = tileSize, overviewLevels = overviewLevels,
            zlevel = zlevel)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          val f = java.nio.file.Paths.get(dir, s"$doc.tif")
          java.nio.file.Files.write(f, bytes)
          (doc, bands.length, f.toString, bytes.length.toLong)
        }
      }.toDF("doc_id", "n_bands", "path", "n_bytes")
  }

  /** The reference's browse-image scale rule (`gdal_translate -ot Byte
    * -scale lo hi 0 255`, `dc_utilities.py:320-326`): linear map of
    * [lo, hi] onto [0, 255] with rounding and clamping. */
  def scaleToByte(v: Column, lo: Double, hi: Double): Column =
    least(lit(255), greatest(lit(0),
      round((v - lit(lo)) * (255.0 / (hi - lo))))).cast("int")

  /**
   * S14: RGB browse-PNG export (`write_png_from_xr`,
   * `dc_utilities.py:299-338`) — one REAL PNG per doc (see [[Png]]:
   * zlib IDAT + CRC chunks, opens in any viewer), written distributed with
   * the same mapPartitions shape as [[writeBandFiles]]. `rows` carries
   * (doc_id, width, height, pixels) with pixels already byte-scaled and
   * RGB-interleaved (use [[scaleToByte]] + the raster reassembly ops).
   * Returns the manifest (doc_id, path, n_bytes).
   */
  def writePngBrowse(rows: DataFrame, dir: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id").cast("string"), col("width").cast("int"),
      col("height").cast("int"), col("pixels"))
      .as[(String, Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (doc, w, h, px) =>
          val p = java.nio.file.Paths.get(dir, doc)
          java.nio.file.Files.createDirectories(p)
          val f = p.resolve("browse.png")
          val bytes = Png.encode(w, h, channels = 3, pixels = px)
          java.nio.file.Files.write(f, bytes)
          (doc, f.toString, bytes.length.toLong)
        }
      }.toDF("doc_id", "path", "n_bytes")
  }

  /**
   * S13: NetCDF export (`export_xarray_to_netcdf`,
   * `utils/dc_import_export.py:12-45` — an xarray Dataset of (y, x) band
   * variables written via `to_netcdf`): one classic CDF-1 file holding the
   * dense (y, x) grid with one NC_DOUBLE variable per band, missing cells
   * filled with −9999 (the reference nodata). The grid is an aggregation
   * OUTPUT (bounded ny × nx — dimension-sized), so the driver-side gather
   * is deliberate; the big pixel table never funnels through this sink.
   */
  def exportGridNetcdf(grid: DataFrame, yCol: String, xCol: String,
                       bands: Seq[String], path: String): Unit = {
    val rows = grid.select(col(yCol).cast("long") +: col(xCol).cast("long") +:
      bands.map(b => col(b).cast("double")): _*).collect()
    val ys = rows.map(_.getLong(0)).distinct.sorted
    val xs = rows.map(_.getLong(1)).distinct.sorted
    val yIdx = ys.zipWithIndex.toMap
    val xIdx = xs.zipWithIndex.toMap
    val vars = bands.zipWithIndex.map { case (b, bi) =>
      val a = Array.fill(ys.length * xs.length)(-9999.0)
      rows.foreach { r =>
        if (!r.isNullAt(2 + bi))
          a(yIdx(r.getLong(0)) * xs.length + xIdx(r.getLong(1))) = r.getDouble(2 + bi)
      }
      NetCdf.Var(b, Seq(0, 1), a)
    }
    // coordinate variables first, as xarray's to_netcdf writes them — a
    // reader can map grid indices back to the original (y, x) keys even
    // when the lattice is sparse or non-contiguous
    val coords = Seq(NetCdf.Var("y", Seq(0), ys.map(_.toDouble)),
      NetCdf.Var("x", Seq(1), xs.map(_.toDouble)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      NetCdf.writeClassic(Seq(("y", ys.length), ("x", xs.length)), coords ++ vars))
  }

  /** REAL image decode over PNG media files: binaryFile source →
    * [[Png.decode]] (CRC-verified) → typed (width, height, channels)
    * metadata + raw pixels. The GeoTIFF twin is [[decodeGeoTiffFiles]];
    * the Spark-side shape (binary column in, struct meta + pixels out,
    * per-file narrow partitioning) is identical for both. */
  val decodePngUdf = udf((bytes: Array[Byte]) => {
    val (w, h, ch, px) = Png.decode(bytes)
    (w, h, ch, px)
  })

  def decodePngFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(col("path"), decodePngUdf(col("content")).as("d"))
      .select(col("path"), col("d._1").as("width"), col("d._2").as("height"),
        col("d._3").as("channels"), col("d._4").as("pixels"))

  // --- real GeoTIFF band path (S6/S8/S9) --------------------------------

  /** Synthetic-dim rule shared with the DuckDB oracle ([[hashCodeSql]]):
    * a media_ref's band raster is (16+|h%17|) × (16+|h%13|). */
  def bandDims(ref: String): (Int, Int) =
    (16 + math.abs(ref.hashCode % 17), 16 + math.abs(ref.hashCode % 13))

  /** Deterministic uint16 band pixels for a media_ref (same xorshift stream
    * as [[fakePayload]]) — the no-network stand-in for downloaded scene
    * data. Everything downstream of this is the real codec. */
  def bandPixels(mediaRef: String, w: Int, h: Int): Array[Int] = {
    var s: Long = mediaRef.hashCode.toLong * 2654435761L + 1
    val out = new Array[Int](w * h)
    var i = 0
    while (i < out.length) { // same xorshift stream; Array.fill's per-cell
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17 // closure call was ~half the
      out(i) = (s & 0xFFFF).toInt // synth wall at 30M px
      i += 1
    }
    out
  }

  /** REAL tiled-GeoTIFF payload for a media_ref: deterministic pixels
    * encoded with the COG layout (small tiles/overviews sized to the
    * synthetic dims; the full 512-tile 5-overview profile is proven in
    * GeoTiffSpec). */
  val geoTiffPayloadUdf = udf((ref: String) => {
    val (w, h) = bandDims(ref)
    // zlevel 3, same rationale as multibandRoundtripUdf: every consumer
    // (decode dims/features, the structural validator's three verdicts) is
    // compression-level agnostic, the synthetic pixels are incompressible,
    // and level 6 roughly doubles the deflate wall of the payload synth
    GeoTiff.encode(w, h, bandPixels(ref, w, h), nodata = 0,
      tileSize = 16, overviewLevels = 2, zlevel = 3)
  })

  /** REAL decode of a single-band GeoTIFF payload: CRC-free but
    * structure-verified tile inflation → (meta, features). channels = 1
    * (the reference emits one COG per band); the feature is the normalized
    * band mean — the deterministic stand-in for embedding extraction with
    * the batching/shape a real extractor uses. */
  val decodeGeoTiffBandUdf = udf((bytes: Array[Byte]) => {
    val d = GeoTiff.decode(bytes)
    var sum = 0L
    d.main.pixels.foreach(sum += _)
    val mean = sum.toDouble / d.main.pixels.length
    (MediaMeta(d.main.width, d.main.height, 1, bytes.length.toLong),
      Array((mean / 65535.0).toFloat))
  })

  /** COG structural validation as a Column — the engine twin of the
    * reference's `cog_validate` (`utils/prep_utils.py:637-790`). */
  val validateGeoTiffUdf = udf((b: Array[Byte]) => GeoTiff.validate(b))

  /** Multi-band export twin of the reference's `export_xarray_to_geotiff`
    * (`utils/dc_import_export.py:90-139`: ALL data_vars written as bands of
    * ONE GeoTIFF, count = len(bands)) — per doc, every band plane encodes
    * into a single chunky-interleaved multi-band COG; decode verifies each
    * plane bit-exact against its generator (roundtrip_ok) and the layout
    * against the COG validator (cog_ok). Returns
    * (width, height, n_bands, roundtrip_ok, cog_ok). */
  val multibandRoundtripUdf = udf((docRef: String, bandRefs: Seq[String]) => {
    val (w, h) = bandDims(docRef)
    val planes = bandRefs.map(r => bandPixels(r, w, h))
    // zlevel 3: the round-trip/validator proof is compression-level
    // agnostic and random pixels don't compress anyway — zlevel 6 doubled
    // the deflate wall for identical coverage (full profile: GeoTiffSpec)
    val bytes = GeoTiff.encodeBands(w, h, planes, nodata = 0,
      tileSize = 16, overviewLevels = 2, zlevel = 3)
    val d = GeoTiff.decodeBands(bytes)
    val ok = d.bands.length == planes.length &&
      d.bands.zip(planes).forall { case (img, p) => img.pixels.sameElements(p) }
    (w, h, planes.length, ok, GeoTiff.validateCog(bytes).isEmpty)
  })

  /** Distributed manifest-driven file read: (path, content) per manifest
    * row via mapPartitions — the 100 TB shape for reading a sink's output
    * back. A glob (`binaryFile` + InMemoryFileIndex) stats every candidate
    * on the DRIVER; at millions of emitted files that listing dominates the
    * wall (measured: 5.5k one-file dirs cost ~11 s to glob vs ~1 s to read
    * by manifest). The sink already returns the manifest — it IS the
    * listing, so the read stays metadata-free and fully parallel. */
  def readManifestFiles(manifest: DataFrame): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    manifest.select(col("path").cast("string")).as[String]
      .mapPartitions(it => it.map(p =>
        (p, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))))
      .toDF("path", "content")
  }

  /** Deterministic RGB browse bytes for a doc ref (same xorshift family as
    * [[bandPixels]], byte-ranged) — the stand-in for byte-scaled composite
    * pixels feeding [[writePngBrowse]]. */
  def browsePixels(ref: String, w: Int, h: Int): Array[Byte] = {
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

  /** (width, height, rgb bytes) for a doc ref — feeds the PNG sink. */
  val pngPixelsUdf = udf((ref: String) => {
    val (w, h) = bandDims(ref)
    (w, h, browsePixels(ref, w, h))
  })

  /** Do decoded PNG bytes match the ref's generator exactly? Only a correct
    * encode → file sink → binaryFile source → CRC-checked decode chain can
    * return true. */
  val pngMatchesUdf = udf((ref: String, px: Array[Byte]) => {
    val (w, h) = bandDims(ref)
    java.util.Arrays.equals(px, browsePixels(ref, w, h))
  })

  /** Real GeoTIFF read path over band files: binaryFile source →
    * [[GeoTiff.decode]] → typed meta + normalized features; per-file narrow
    * partitioning (same shape as [[decodePngFiles]]). */
  def decodeGeoTiffFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(col("path"), decodeGeoTiffBandUdf(col("content")).as("d"))
      .select(col("path"), col("d._1").as("meta"), col("d._2").as("features"))

  /** S6's stated Spark read path, structurally real: media payload files on
    * disk via the `binaryFile` source → the same decode/feature pipeline as
    * [[decodeBandSpans]]. Each row is (path, modificationTime-free payload,
    * meta, features); partitioning is per-file (narrow, no shuffle). */
  def decodeBinaryFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content").as("payload"))
      .withColumn("meta", decodeMetaUdf(col("payload")))
      .withColumn("features", extractFeaturesUdf(col("payload")))

  /** DuckDB rendering of `java.lang.String.hashCode` of a varchar expression
    * (31-polynomial over UTF-16 units with int32 wraparound; exact for the
    * ASCII media_refs here) — lets the STUB payload header (width/height
    * derive from `ref.hashCode`) be oracle-checked end to end. */
  def hashCodeSql(ref: String): String = {
    val m = s"(((acc * 31 + c) % 4294967296) + 4294967296) % 4294967296"
    val wrap32 = s"cast((CASE WHEN $m >= 2147483648 THEN $m - 4294967296 ELSE $m END) AS bigint)"
    s"""list_reduce(list_prepend(0::bigint,
       |      list_transform(generate_series(1, length($ref)), j -> ascii(substring($ref, j, 1))::bigint)),
       |    (acc, c) -> $wrap32)""".stripMargin
  }

  /**
   * Full pipeline over an interleaved-doc table: resolve band spans to media
   * payloads (REAL tiled-GeoTIFF bytes — pixel content synthetic, format
   * real), decode through the real codec, extract features. At scale the
   * payload column comes from `spark.read.format("binaryFile")` or a
   * blob-store resolver in the same shape; partitioning stays by doc
   * (narrow).
   */
  def decodeBandSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "band")
      .select(col("doc_id"), col("s.text").as("band"),
        col("s.offset").as("offset"), col("s.media_ref").as("media_ref"))
      .withColumn("payload", geoTiffPayloadUdf(col("media_ref"))) // synthetic pixels, real codec
      .withColumn("d", decodeGeoTiffBandUdf(col("payload")))
      .withColumn("meta", col("d._1"))
      .withColumn("features", col("d._2"))
      .drop("d")
}
