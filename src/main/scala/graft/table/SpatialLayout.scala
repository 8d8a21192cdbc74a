package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.SpatialColumns._

/**
 * Spatial partition layout for the doc table (SURVEY §4.3): data files are
 * partitioned by a COARSE parent cell of the footprint and sorted within
 * partitions by (fine cell, doc_id), so that
 *
 *   1. an AOI query prunes at the DIRECTORY level — only partitions whose
 *      parent cell intersects the AOI's cover are listed/read. At 10^12 docs
 *      this is the difference between scanning ~1/4096 of the table and all
 *      of it (res 3 → 64×64 world partitions, AM-safe).
 *   2. the cover join probes arrive pre-clustered by cell, so the
 *      broadcast-join output is naturally ordered for downstream
 *      per-tile sinks.
 *
 * A footprint spanning several parent cells is written once per spanned
 * cell (same replicate-to-cover trick as the join side); readers dedup by
 * the reporting-cell rule when the AOI spans multiple partitions.
 */
object SpatialLayout {

  val PartCol = "cell_p"

  /** Write docs partitioned by parent-cell at `res` (default 3 → 4096-way
    * world partitioning), replicating multi-cell footprints. */
  def writeByCell(docs: DataFrame, path: String, res: Int = 3): Unit = {
    docs
      .withColumn(PartCol, explode(stCellCover(col("wkt"), lit(res))))
      .repartition(col(PartCol))
      .sortWithinPartitions(col(PartCol), col("doc_id"))
      .write.mode("overwrite")
      .partitionBy(PartCol)
      .parquet(path)
  }

  /**
   * AOI-scoped read with directory pruning: only partitions whose parent
   * cell is in the AOI's cover are touched (`cell_p IN (...)` hits the
   * partition column → Catalyst prunes before listing file contents), then
   * the exact footprint refine runs on the survivors. Replicated docs are
   * deduped by the reporting-cell rule (kept only in their minimum spanned
   * AOI cell), NOT dropDuplicates — no shuffle.
   */
  def readAoi(spark: SparkSession, path: String, aoiWkt: String, res: Int = 3): DataFrame = {
    val aoiCells = graft.geom.Geo.cellCoverWkt(aoiWkt, res)
    spark.read.parquet(path)
      .where(col(PartCol).isin(aoiCells: _*))
      .where(stIntersects(lit(aoiWkt), col("wkt")))
      .where(col(PartCol) ===
        array_min(array_intersect(
          stCellCover(col("wkt"), lit(res)),
          typedLit(aoiCells.toSeq))))
  }
}
