package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.TileAssign

/**
 * The Search & Discover lifecycle as ONE lazy plan with checkpointed stages
 * (SURVEY §3.1; `master_Search_Discover_example.ipynb` cells 9→39):
 *
 *   AOI filter → J1/J2 tile assignment → J6 anti-join against the product
 *   inventory (SAC_DONE) → deterministic job-document emission.
 *
 * Every stage is resumable: [[Checkpoint.runStage]] writes a stage's output,
 * reads it back once for the commit's file stats and its per-file lineage
 * metrics (lineage written on the Spark driver, no Spark job), then commits both
 * with the output table's one pointer swap; re-running after a crash
 * recomputes only uncommitted keys. Documents transit the whole pipeline with their `spans`
 * untouched (the BASELINE span-sequence invariant) — the engine joins and
 * routes docs, it never rewrites them.
 */
object Pipeline {

  /**
   * @param docs      interleaved doc table: (doc_id, wkt, spans, ...)
   * @param tiles     tile grid: (tile_id, wkt)
   * @param inventory already-produced products: (doc_id, tile_id) pairs
   * @param aoiWkt    area of interest; only intersecting docs are processed
   * @param base      checkpoint table root
   * @param commitId  deterministic attempt id (no wall clock in-engine)
   * @return job docs (doc_id, tile_id, job_json), totally ordered
   */
  def searchDiscover(spark: SparkSession, docs: DataFrame, tiles: DataFrame,
                     inventory: DataFrame, aoiWkt: String,
                     base: String, commitId: String): DataFrame = {
    // AOI restriction: narrow predicate over the broadcast-free probe side —
    // the footprint either touches the AOI or is skipped before any join (a null
    // or empty footprint touches nothing)
    val aoiDocs = docs.where(graft.plans.SpatialColumns.stIntersects(lit(aoiWkt), col("wkt")))

    // stage 1 (checkpointed): tile assignment carrying spans through
    val (_, _) = Checkpoint.runStage(spark, base, "assign", aoiDocs, "doc_id", commitId) {
      todo => TileAssign.assign(todo, tiles).select("doc_id", "tile_id", "spans")
    }
    val assigned = Checkpoint.committed(spark, base, "assign")

    // stage 2: done-set subtraction (the SAC_DONE anti-join, cells 29/38)
    val remaining = assigned.join(
      inventory.select(col("doc_id").as("__d"), col("tile_id").as("__t")),
      col("doc_id") === col("__d") && col("tile_id") === col("__t"), "left_anti")

    // stage 3: job docs — spans serialized verbatim, deterministic order.
    // repartitionByRange + sortWithinPartitions, NOT a global orderBy: the
    // files are byte-stable either way (range boundaries + local sort fix
    // every row's position), but the global sort's final merge pass is
    // skipped — at 100 TB that pass is the emission bottleneck.
    remaining
      .select(col("doc_id"), col("tile_id"),
        to_json(struct(col("doc_id"), col("tile_id"), col("spans"))).as("job_json"))
      .repartitionByRange(col("doc_id"), col("tile_id"))
      .sortWithinPartitions("doc_id", "tile_id")
  }
}
