package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.table.IcebergLite
import java.nio.file.{Files, Paths}

/**
 * Per-partition lineage + metrics checkpointing with anti-join resume —
 * the engine form of the reference's SAC_DONE semantics
 * (`master_Search_Discover_example.ipynb` cells 29/38: rebuild the done-set
 * from S3, recompute only the gap) and the Redis two-queue lease protocol's
 * *effect* (`rediswq.py:24-114`): at-least-once execution made exactly-once
 * by deduplicating re-scan.
 *
 * A stage writes its output rows to the output table's `data/<commitId>/`
 * and its per-partition lineage rows (FIXTURES.md F5) as plain parquet to
 * `lineage/<commitId>/`, then commits both with ONE IcebergLite commit: the
 * output table's pointer swap. [[log]] reads lineage through that table's
 * commitId ledger, so an attempt that died before its swap is invisible,
 * output and lineage alike, and a retry under the same commitId overwrites
 * both. Re-running a stage anti-joins the input against committed keys,
 * which are never recomputed.
 */
object Checkpoint {

  def outputTable(base: String, stage: String): String = s"$base/$stage/output"
  private def lineageDir(base: String, stage: String, commitId: String): String =
    s"$base/$stage/lineage/$commitId"

  /** The F5 lineage columns, in [[log]]'s order. */
  private val LineageSchema = StructType.fromDDL(
    "partition_id INT, key_lo STRING, key_hi STRING, rows_out BIGINT, checksum BIGINT, " +
      "stage STRING, rows_in BIGINT, wall_ms BIGINT, status STRING, commit_id STRING")

  /**
   * Run `compute` over only the not-yet-committed slice of `input`
   * (left_anti on `keyCol` against the committed output), writing output +
   * lineage and committing both with the output table's one pointer swap.
   * Returns (newly computed rows, number of input keys actually processed).
   *
   * The input is scanned exactly ONCE: rows-in is collected by an
   * `Observation` riding the write job (no pre-count — at 100 TB a
   * count-then-compute would double every stage's read). When the observed
   * rows-in is 0 neither lineage nor pointer is written, so no-op re-runs
   * leave the table's commit lineage untouched (the orphaned empty data dir
   * is unreferenced, same as a crash before commit). `wall_ms` runs from
   * the call to the lineage write, so it leaves out the commit itself.
   *
   * `commitId` must be caller-supplied and deterministic per attempt
   * (no wall-clock in the engine — SURVEY §7.4). `compute` must be a pure
   * transformation (no actions of its own), or the observation resolves on
   * the wrong job.
   */
  def runStage(spark: SparkSession, base: String, stage: String,
               input: DataFrame, keyCol: String, commitId: String)
              (compute: DataFrame => DataFrame): (DataFrame, Long) = {
    val t0 = System.nanoTime()
    val table = outputTable(base, stage)
    // Crash-retry safety: a commitId on the output table's ledger committed
    // fully, output and lineage both; re-running it would overwrite
    // referenced files, so refuse before any IO. One snapshot read; the
    // ledger survives compaction and expiry. An empty ledger: no keys yet.
    val ledger = IcebergLite.committedIds(table)
    if (ledger.contains(commitId)) return (spark.emptyDataFrame, 0L)
    val todo = if (ledger.isEmpty) input else input.join(
      committed(spark, base, stage).select(col(keyCol).as("__done_key")).distinct(),
      col(keyCol) === col("__done_key"), "left_anti")
    val obs = new org.apache.spark.sql.Observation(s"graft_${stage}_$commitId")
    val out = compute(todo.observe(obs, count(lit(1)).as("rows_in")))
    IcebergLite.writeData(out, table, commitId)
    val todoCount = obs.get("rows_in").asInstanceOf[Long]
    if (todoCount == 0) return (spark.emptyDataFrame, 0L)
    // lineage + metrics from the files just written (no plan re-execution:
    // `out` must not be computed twice at 100 TB); overwrite, so a retry of
    // an attempt that died before the swap replaces its invisible lineage
    spark.read.parquet(s"$table/data/$commitId")
      .withColumn("__pid", spark_partition_id())
      .groupBy(col("__pid").as("partition_id"))
      .agg(
        min(col(keyCol)).cast("string").as("key_lo"),
        max(col(keyCol)).cast("string").as("key_hi"),
        count(lit(1)).as("rows_out"),
        // order-independent, overflow-free (ANSI-safe) content checksum
        expr(s"bit_xor(xxhash64($keyCol))").as("checksum"))
      .withColumn("stage", lit(stage))
      .withColumn("rows_in", lit(todoCount))
      .withColumn("wall_ms", lit((System.nanoTime() - t0) / 1000000L))
      .withColumn("status", lit("committed"))
      .withColumn("commit_id", lit(commitId))
      .write.mode("overwrite").parquet(lineageDir(base, stage, commitId))
    IcebergLite.commitWritten(spark, out.schema.json, table, Seq(keyCol), commitId)
    (out, todoCount)
  }

  /** All committed output rows of a stage. */
  def committed(spark: SparkSession, base: String, stage: String): DataFrame =
    IcebergLite.read(spark, outputTable(base, stage))

  /** The lineage log (ops/monitoring surface): the lineage of every commitId
    * on the output table's current ledger; ids without lineage (e.g. a
    * `compact` of the output) are skipped. */
  def log(spark: SparkSession, base: String, stage: String): DataFrame = {
    val dirs = IcebergLite.committedIds(outputTable(base, stage)).toSeq.sorted
      .map(lineageDir(base, stage, _)).filter(d => Files.isDirectory(Paths.get(d)))
    spark.read.schema(LineageSchema).parquet(dirs: _*)
  }
}
