package graft.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of the four workloads; `bench` is the measured size,
  * `tiny` exercises every code path in seconds. */
final case class Size(name: String, assignDocs: Long, skewDocs: Long, discoverDocs: Long,
                      increments: Int, pixelRows: Long)

object Size {
  val all: Map[String, Size] = Seq(
    Size("tiny", assignDocs = 4000, skewDocs = 4000, discoverDocs = 2000, increments = 2,
      pixelRows = 8000),
    Size("bench", assignDocs = 200000, skewDocs = 60000, discoverDocs = 15000, increments = 3,
      pixelRows = 80000)
  ).map(s => s.name -> s).toMap
}

/** Row count plus an order-independent hash of a relation's rows. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"rows=$rows hash=$hash"
}

object Digest {
  /** xor and 31-bit modular sum of xxhash64 over `cols`: insensitive to row
    * order and partitioning, sensitive to a lost or duplicated row. */
  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L)))).head()
    val rows = r.getLong(0)
    Digest(rows, if (rows == 0) "0:0" else f"${r.getLong(1)}%016x:${r.getLong(2)}")
  }

  def render(d: Digest): String = s"${d.rows}\t${d.hash}"

  def parse(s: String): Digest = s.split("\t") match {
    case Array(rows, hash) => Digest(rows.toLong, hash)
    case _ => sys.error(s"bad digest line: $s")
  }
}

/**
 * Fixtures live under `<root>/fixtures/<workload>-<size>-<seed>/` and are
 * reused by later runs with the same key. A fixture is complete once its
 * `_READY` marker exists, so an interrupted synthesis is redone. Only the
 * newest `keep` fixtures are kept.
 */
final class FixtureStore(root: Path, keep: Int = 48) {
  private val dir = root.resolve("fixtures")

  /** Returns the fixture directory and the synthesis wall (0 when cached). */
  def obtain(key: String)(synthesize: Path => Unit): (Path, Double) = {
    val d = dir.resolve(key)
    val ready = d.resolve("_READY")
    if (Files.exists(ready)) {
      Files.setLastModifiedTime(ready, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      return (d, 0.0)
    }
    graft.Fs.deleteRecursively(d)
    Files.createDirectories(d)
    val t0 = System.nanoTime()
    synthesize(d)
    val wall = (System.nanoTime() - t0) / 1e9
    Files.write(ready, Array.emptyByteArray)
    evict(d)
    (d, wall)
  }

  private def evict(justMade: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(dir)
    val ready = try ls.iterator().asScala.toList finally ls.close()
    val stale = ready.filter(p => p != justMade && Files.exists(p.resolve("_READY")))
      .sortBy(p => -Files.getLastModifiedTime(p.resolve("_READY")).toMillis)
      .drop(keep - 1)
    stale.foreach(graft.Fs.deleteRecursively)
  }
}

/**
 * Independent answers the engine's outputs are checked against, written
 * with plain column arithmetic and no engine operator. Corpus footprints
 * are 1.5° × 1° boxes on a 1/16° lattice and tiles are the 24 × 18 grid of
 * 15° × 10° boxes, so closed-box overlap is exact in doubles.
 */
object Oracle {
  /** Tile ids whose closed box meets a closed box [a, b] × [ymin, ymax]. */
  private def tilesOf(a: Column, b: Column, ymin: Column, ymax: Column): Column = {
    val iLo = greatest(lit(0), ceil((a + 180.0) / 15.0).cast("int") - 1)
    val iHi = least(lit(23), floor((b + 180.0) / 15.0).cast("int"))
    val jLo = greatest(lit(0), ceil((ymin + 90.0) / 10.0).cast("int") - 1)
    val jHi = least(lit(17), floor((ymax + 90.0) / 10.0).cast("int"))
    flatten(transform(sequence(iLo, iHi), i =>
      transform(sequence(jLo, jHi), j => format_string("T%02d%02d", i, j))))
  }

  /** (doc_id, tile_id) of every tile a corpus footprint intersects. A
    * footprint with xmin > xmax crosses ±180° and is the union of the closed
    * parts [xmin, 180] and [-180, xmax] (the latter possibly of zero width). */
  def assign(docs: DataFrame): DataFrame = {
    val (x0, x1, y0, y1) = (col("xmin"), col("xmax"), col("ymin"), col("ymax"))
    val tiles = when(x0 <= x1, tilesOf(x0, x1, y0, y1))
      .otherwise(concat(tilesOf(x0, lit(180.0), y0, y1), tilesOf(lit(-180.0), x1, y0, y1)))
    docs.select(col("doc_id"), explode(array_distinct(tiles)).as("tile_id"))
  }

  /** Weiszfeld geometric median of 3-band observations, fixed `iters`
    * steps from the mean, with the same coincident-point rule as the
    * engine's composite; returned rounded to 6 decimals. */
  def geomedian(obs: Array[Array[Double]], iters: Int): Array[Double] = {
    val n = obs.length
    var c = Array.tabulate(3)(k => obs.map(_(k)).sum / n)
    var it = 0
    while (it < iters) {
      val num = Array(0.0, 0.0, 0.0)
      var den = 0.0
      var eta = 0L
      obs.foreach { p =>
        val d = math.sqrt((p(0) - c(0)) * (p(0) - c(0)) + (p(1) - c(1)) * (p(1) - c(1)) +
          (p(2) - c(2)) * (p(2) - c(2)))
        if (d >= 1e-12) { (0 until 3).foreach(k => num(k) += p(k) / d); den += 1.0 / d }
        else eta += 1
      }
      if (den > 0) {
        val t = Array.tabulate(3)(k => num(k) / den)
        c = if (eta == 0) t
        else {
          val r = math.sqrt((0 until 3).map(k => (num(k) - den * c(k)) * (num(k) - den * c(k))).sum)
          if (r <= eta) c
          else Array.tabulate(3)(k => (1.0 - eta / r) * t(k) + (eta / r) * c(k))
        }
      }
      it += 1
    }
    c.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}

/** Seeded input synthesis. Everything derives from (size, seed). */
object Synth {
  /** The engine's interleaved-document corpus without the `spans` column
    * (tile assignment never reads it), one partition per synthesis task. */
  def corpus(spark: SparkSession, n: Long, seed: Long, hotspotFrac: Double): DataFrame =
    graft.model.SynthCorpus.docs(spark, n, seed, hotspotFrac)
      .select("doc_id", "xmin", "ymin", "xmax", "ymax", "wkt", "wkb")

  /** A lineitem-shaped table (the columns the engine's pixel table derives
    * from): ~`n / 4` orders of up to 7 lines over `n / 30` parts. */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def h(salt: Long) = abs(xxhash64(col("id"), lit(seed + salt)))
    spark.range(n).select(
      (h(0) % math.max(1L, n / 4) + 1).as("l_orderkey"),
      (col("id") % 7 + 1).cast("int").as("l_linenumber"),
      (h(1) % math.max(1L, n / 30) + 1).as("l_partkey"),
      (h(2) % math.max(1L, n / 600) + 1).as("l_suppkey"),
      date_add(lit("1992-01-01").cast("date"), (h(3) % 2500).cast("int")).as("l_shipdate"))
  }
}
