package graft.media

import org.apache.spark.sql.{Column, DataFrame}
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
 * the real codecs. Every media product leaves through one file sink
 * ([[writeFiles]]) and comes back through one file source
 * ([[readManifestFiles]]) over the manifest that sink returns.
 */
object Media {

  case class MediaMeta(width: Int, height: Int, channels: Int, n_bytes: Long)

  /**
   * The media plane's one file sink: each row's `bytes` land at
   * `dir/<rel>`, encoded upstream as a column. It covers the reference's
   * per-band COG loop (`utils/prep_utils.py:413-491`, `<scene>/<band>.tif`),
   * `export_xarray_to_geotiff` (`utils/dc_import_export.py:90-139`) and
   * `write_png_from_xr` (`dc_utilities.py:299-338`). `rows` carries
   * (doc_id, rel, bytes); a `rel` that normalizes to a path outside `dir`
   * (absolute, or climbing with `..`) fails with IllegalArgumentException
   * naming the row. Distributed mapPartitions, one file per row, no
   * shuffle; returns the manifest (doc_id, path, n_bytes), which
   * [[readManifestFiles]] reads back.
   */
  def writeFiles(rows: DataFrame, dir: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id").cast("string"), col("rel").cast("string"), col("bytes"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
        it.map { case (doc, rel, bytes) =>
          val f = root.resolve(rel).normalize
          require(f.startsWith(root) && f != root,
            s"writeFiles row (doc_id=$doc, rel=$rel) resolves to $f, outside $root")
          java.nio.file.Files.createDirectories(f.getParent)
          java.nio.file.Files.write(f, bytes)
          (doc, f.toString, bytes.length.toLong)
        }
      }.toDF("doc_id", "path", "n_bytes")
  }

  /** The reference's browse-image scale rule (`gdal_translate -ot Byte
    * -scale lo hi 0 255`, `dc_utilities.py:320-326`): linear map of
    * [lo, hi] onto [0, 255] with rounding and clamping. */
  def scaleToByte(v: Column, lo: Double, hi: Double): Column =
    least(lit(255), greatest(lit(0),
      round((v - lit(lo)) * (255.0 / (hi - lo))))).cast("int")

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

  /** REAL image decode of PNG bytes (CRC-verified, [[Png.decode]]) →
    * (width, height, channels, raw pixels); over files, apply it to the
    * `content` of [[readManifestFiles]]. */
  val decodePngUdf = udf((bytes: Array[Byte]) => {
    val (w, h, ch, px) = Png.decode(bytes)
    (w, h, ch, px)
  })

  // --- real GeoTIFF band path (S6/S8/S9) --------------------------------

  /** Synthetic-dim rule shared with the DuckDB oracle ([[hashCodeSql]]):
    * a media_ref's band raster is (16+|h%17|) × (16+|h%13|). */
  def bandDims(ref: String): (Int, Int) =
    (16 + math.abs(ref.hashCode % 17), 16 + math.abs(ref.hashCode % 13))

  /** Deterministic uint16 band pixels for a media_ref (an xorshift stream
    * seeded by the ref hash) — the no-network stand-in for downloaded scene
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

  /** Deterministic RGB browse bytes for a doc ref: the low byte of each
    * [[bandPixels]] value over a 3w × h plane — the stand-in for byte-scaled
    * composite pixels. */
  def browsePixels(ref: String, w: Int, h: Int): Array[Byte] =
    bandPixels(ref, 3 * w, h).map(_.toByte)

  /** REAL browse PNG for a doc ref: [[browsePixels]] at [[bandDims]],
    * RGB-encoded by [[Png.encode]] — the `bytes` column [[writeFiles]]
    * sinks for `media_png`. */
  val pngBrowseUdf = udf((ref: String) => {
    val (w, h) = bandDims(ref)
    Png.encode(w, h, channels = 3, pixels = browsePixels(ref, w, h))
  })

  /** Do decoded PNG bytes match the ref's generator exactly? Only a correct
    * encode → file sink → file source → CRC-checked decode chain can
    * return true. */
  val pngMatchesUdf = udf((ref: String, px: Array[Byte]) => {
    val (w, h) = bandDims(ref)
    java.util.Arrays.equals(px, browsePixels(ref, w, h))
  })

  /** DuckDB rendering of `java.lang.String.hashCode` of a varchar expression
    * (31-polynomial over UTF-16 units with int32 wraparound; exact for the
    * ASCII media_refs here) — lets the synthetic raster dims ([[bandDims]]
    * derive width/height from `ref.hashCode`) be oracle-checked end to end. */
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
   * payload column is the `content` of [[readManifestFiles]] or a
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
