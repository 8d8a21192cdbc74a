package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._

/**
 * Deterministic synthetic corpus generators (FIXTURES.md F1/F2). Two flavors:
 *
 * 1. `scenesFromOrders` / `tileGrid` — derived with *pure integer/16ths
 *    arithmetic* so that an equivalent ANSI-SQL derivation exists and DuckDB
 *    can serve as a row-level oracle for the spatial operators (the driver's
 *    correctness gate). All coordinates are multiples of 1/16 → exact in
 *    IEEE doubles → boundary predicates agree bit-for-bit between Spark and
 *    DuckDB.
 *
 * 2. `docs` — seeded scale-free generator of the full interleaved
 *    text+media document table (doc_id, spans) used by tests and bench,
 *    including a skew hotspot (Fiji-like acquisition density) and a slice of
 *    antimeridian-crossing footprints (`utils/s1am/raw2ard.py:76-85`).
 *
 * Nothing here reads the wall clock or uses unseeded randomness.
 */
object SynthCorpus {

  /** Scene footprints derived from the `orders` table: one scene per order.
    * Rectangle 1.5° × 1.0°, lower-left corner on a 1/16° lattice.
    * lon ∈ [-180, 177.9375+1.5], lat ∈ [-90, 86+1.0] — no AM wrap (the
    * AM path is exercised by [[docs]] + property tests, not the oracle). */
  def scenesFromOrders(spark: SparkSession, sfDir: String): DataFrame = {
    // the oracle input is one small parquet file → one scan split; the
    // downstream per-row geometry work is compute-bound, so spread it.
    // (At production scale the scan has many files and this is a no-op
    // cost-wise: it shuffles only the 3-column key set.)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey")
      .repartition(spark.sparkContext.defaultParallelism)
    orders.select(
      col("o_orderkey").as("doc_id"),
      (lit(-180.0) + (col("o_orderkey") * 37 % 5728) / 16.0).as("xmin"),
      (lit(-90.0) + (col("o_orderkey") * 53 % 2816) / 16.0).as("ymin")
    ).withColumn("xmax", col("xmin") + 1.5)
      .withColumn("ymax", col("ymin") + 1.0)
      .withColumn("wkt", rectWktUdf(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
  }

  /** SQL (DuckDB) equivalent of [[scenesFromOrders]] sans WKT. */
  val scenesSql: String =
    """SELECT o_orderkey AS doc_id,
      |       -180.0 + ((o_orderkey * 37) % 5728) / 16.0 AS xmin,
      |       -90.0  + ((o_orderkey * 53) % 2816) / 16.0 AS ymin,
      |       -180.0 + ((o_orderkey * 37) % 5728) / 16.0 + 1.5 AS xmax,
      |       -90.0  + ((o_orderkey * 53) % 2816) / 16.0 + 1.0 AS ymax
      |FROM orders""".stripMargin

  /** World tile grid: 24 × 18 tiles of 15° × 10° (MGRS-like; fully tiles the
    * world). tile_id = T<col><row>, plus WRS2-like path/row alt keys. */
  def tileGrid(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tiles = for {
      i <- 0 until 24
      j <- 0 until 18
    } yield Tile(f"T$i%02d$j%02d",
      graft.geom.Geo.rectWkt(-180.0 + 15.0 * i, -90.0 + 10.0 * j,
                             -180.0 + 15.0 * (i + 1), -90.0 + 10.0 * (j + 1)),
      i, j)
    tiles.toDF()
  }

  /** SQL (DuckDB) equivalent of [[tileGrid]] with bounds columns, built from
    * the fixed 25-row `nation` table (so it only touches driver parquet). */
  val tilesSql: String =
    """SELECT concat('T', lpad(cast(n1.n_nationkey AS varchar), 2, '0'),
      |               lpad(cast(n2.n_nationkey AS varchar), 2, '0')) AS tile_id,
      |       -180.0 + 15.0 * n1.n_nationkey AS txmin,
      |       -90.0  + 10.0 * n2.n_nationkey AS tymin,
      |       -180.0 + 15.0 * (n1.n_nationkey + 1) AS txmax,
      |       -90.0  + 10.0 * (n2.n_nationkey + 1) AS tymax
      |FROM nation n1 CROSS JOIN nation n2
      |WHERE n1.n_nationkey < 24 AND n2.n_nationkey < 18""".stripMargin

  // -------------------------------------------------------------------
  // Full interleaved-document corpus (scale-free, seeded; bench + tests)
  // -------------------------------------------------------------------

  private val platforms = Array("SENTINEL_2", "LANDSAT_8", "SENTINEL_1", "LANDSAT_5")

  /**
   * `n` interleaved docs built distributively from spark.range (no driver
   * materialization — 10^12-doc posture). `hotspotFrac` of docs concentrate
   * on a Fiji-like 4°×4° hotspot around the antimeridian; `amFrac` of those
   * cross ±180 (represented wrapped: xmin > xmax).
   *
   * Returns columns: doc_id, platform, xmin, ymin, xmax, ymax, wkt, spans.
   */
  def docs(spark: SparkSession, n: Long, seed: Long = 42L,
           hotspotFrac: Double = 0.2, amFrac: Double = 0.5): DataFrame = {
    val base = spark.range(n).select(
      col("id"),
      // splitmix64-ish deterministic hash of (id, seed) — cheap, codegen'd
      abs(xxhash64(col("id"), lit(seed))).as("h1"),
      abs(xxhash64(col("id"), lit(seed + 1))).as("h2"),
      abs(xxhash64(col("id"), lit(seed + 2))).as("h3")
    )
    val hot = (col("h3") % 1000000) < lit((hotspotFrac * 1000000).toLong)
    val am = (col("h3") % 1000000) < lit((hotspotFrac * amFrac * 1000000).toLong)
    val withGeom = base.select(
      concat(lit("S2A_MSIL2A_D"), lpad(col("id").cast("string"), 12, "0")).as("doc_id"),
      element_at(typedLit(platforms.toSeq), (col("h1") % 4 + 1).cast("int")).as("platform"),
      // hotspot: lon ∈ [178, 182) wrapped, lat ∈ [-19, -15); else world-uniform
      when(hot, lit(178.0) + (col("h1") % 64).cast("double") / 16.0)
        .otherwise(lit(-180.0) + (col("h1") % 5728).cast("double") / 16.0).as("x0"),
      when(hot, lit(-19.0) + (col("h2") % 64).cast("double") / 16.0)
        .otherwise(lit(-90.0) + (col("h2") % 2816).cast("double") / 16.0).as("ymin"),
      am.as("am")
    ).select(
      col("doc_id"), col("platform"),
      // wrap into [-180, 180): xmin > xmax encodes an AM-crossing footprint
      when(col("x0") >= 180.0, col("x0") - 360.0).otherwise(col("x0")).as("xmin"),
      col("ymin"),
      when(col("x0") + 1.5 >= 180.0, col("x0") + 1.5 - 360.0).otherwise(col("x0") + 1.5).as("xmax"),
      (col("ymin") + 1.0).as("ymax")
    )
    withSpansColumn(withGeom
      .withColumn("__g", amRectUdf(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
      .withColumn("wkt", col("__g._1"))
      .withColumn("wkb", col("__g._2")) // storage-side binary encoding
      .drop("__g"))
  }

  private def amRectGeom(xmin: Double, ymin: Double, xmax: Double, ymax: Double) =
    if (xmin <= xmax) graft.geom.Geo.rect(xmin, ymin, xmax, ymax)
    else { // AM-wrapped: split into a MULTIPOLYGON either side of ±180
      val e = graft.geom.Geo.rect(xmin, ymin, 180.0, ymax)
      val w = graft.geom.Geo.rect(-180.0, ymin, xmax, ymax)
      e.union(w)
    }

  /** Rect geometry (AM-split when wrapped) as (WKT, WKB). */
  val amRectUdf = udf { (xmin: Double, ymin: Double, xmax: Double, ymax: Double) =>
    val g = amRectGeom(xmin, ymin, xmax, ymax)
    (graft.geom.Geo.toWkt(g), graft.geom.Geo.toWkb(g))
  }

  /** Build the interleaved `spans` column: meta spans (platform, footprint)
    * then the per-platform ordered band spans with media_refs. Pure Column
    * ops — stays in codegen, no UDF. */
  def withSpansColumn(df: DataFrame): DataFrame = {
    val metaSpans = array(
      struct(lit("meta").as("kind"), concat(lit("platform="), col("platform")).as("text"),
             lit("").as("media_ref"), lit(0).as("offset")),
      struct(lit("meta").as("kind"), concat(lit("footprint="), col("wkt")).as("text"),
             lit("").as("media_ref"), lit(1).as("offset"))
    )
    val bandSpans = Bands.byPlatform.foldLeft(lit(null).cast(
      "array<struct<kind:string,text:string,media_ref:string,offset:int>>")) {
      case (acc, (platform, bands)) =>
        val spans = array(bands.zipWithIndex.map { case (b, i) =>
          struct(lit("band").as("kind"), lit(b).as("text"),
                 concat(col("doc_id"), lit(s"_$b.tif")).as("media_ref"),
                 lit(i + 2).as("offset"))
        }: _*)
        when(col("platform") === platform, spans).otherwise(acc)
    }
    df.withColumn("spans", concat(metaSpans, bandSpans))
  }
}
