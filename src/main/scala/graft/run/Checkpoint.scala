package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.IcebergLite

/**
 * Per-partition lineage + metrics checkpointing with anti-join resume —
 * the engine form of the reference's SAC_DONE semantics
 * (`master_Search_Discover_example.ipynb` cells 29/38: rebuild the done-set
 * from S3, recompute only the gap) and the Redis two-queue lease protocol's
 * *effect* (`rediswq.py:24-114`): at-least-once execution made exactly-once
 * by deduplicating re-scan.
 *
 * A stage writes (a) its output rows and (b) a commit-log of
 * (stage, partition_id, key_lo, key_hi, rows_in, rows_out, checksum,
 * wall_ms, status) — FIXTURES.md F5 — in one atomic IcebergLite commit
 * (data first, pointer swap last). Re-running the stage anti-joins the
 * input against committed keys: crashed/partial runs leave no pointer, so
 * their work is invisible and simply redone; committed keys are never
 * recomputed.
 */
object Checkpoint {

  def outputTable(base: String, stage: String): String = s"$base/$stage/output"
  def logTable(base: String, stage: String): String = s"$base/$stage/commitlog"

  /** Committed keys of a stage (None if never committed). */
  def committedKeys(spark: SparkSession, base: String, stage: String,
                    keyCol: String): Option[DataFrame] =
    if (IcebergLite.currentSnapshotId(outputTable(base, stage)).isDefined)
      Some(IcebergLite.read(spark, outputTable(base, stage)).select(col(keyCol)).distinct())
    else None

  /**
   * Run `compute` over only the not-yet-committed slice of `input`
   * (left_anti on `keyCol`), appending output + lineage metrics atomically.
   * Returns (newly computed rows, number of input keys actually processed).
   *
   * The input is scanned exactly ONCE: rows-in is collected by an
   * `Observation` riding the write job (no pre-count — at 100 TB a
   * count-then-compute would double every stage's read). When the observed
   * rows-in is 0 the snapshot pointer is not swapped, so no-op re-runs
   * leave the table's commit lineage untouched (the orphaned empty data dir
   * is unreferenced, same as a crash before commit).
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
    // Crash-retry safety: if the output table's commitId ledger holds
    // `commitId`, this attempt fully committed — re-running it would
    // overwrite referenced files with a fresh (possibly empty) write.
    // Refuse before any IO. The ledger is one read of the current snapshot
    // and survives compaction and snapshot expiry, which retire every
    // snapshot that referenced data/<commitId>.
    if (IcebergLite.alreadyCommitted(outputTable(base, stage), commitId)) {
      // A crash AFTER the output commit but BEFORE the commitlog append
      // leaves committed data with no lineage entry — and this guard would
      // otherwise freeze that divergence forever (log() never reconciling
      // with committed()). Detect the gap via the log table's own ledger
      // (no data read) and backfill the entry from the already-written
      // data/<commitId> files. rows_in and wall_ms of the crashed attempt
      // are unrecoverable — recorded as -1 with status "backfilled" rather
      // than fabricated.
      if (!IcebergLite.alreadyCommitted(logTable(base, stage), commitId)) {
        val metrics = partitionMetrics(spark, base, stage, keyCol, commitId,
          rowsIn = -1L, wallMs = -1L, status = "backfilled")
        IcebergLite.append(spark, metrics, logTable(base, stage), Seq("partition_id"), commitId)
      }
      return (spark.emptyDataFrame, 0L)
    }
    val todo = committedKeys(spark, base, stage, keyCol) match {
      case None => input
      case Some(done) => input.join(done.withColumnRenamed(keyCol, "__done_key"),
        col(keyCol) === col("__done_key"), "left_anti")
    }
    val obs = new org.apache.spark.sql.Observation(s"graft_${stage}_$commitId")
    val out = compute(todo.observe(obs, count(lit(1)).as("rows_in")))
    IcebergLite.writeData(out, outputTable(base, stage), commitId)
    val todoCount = obs.get("rows_in").asInstanceOf[Long]
    if (todoCount == 0) return (spark.emptyDataFrame, 0L)
    IcebergLite.commitWritten(spark, out.schema.json, outputTable(base, stage),
      Seq(keyCol), commitId)
    val wallMs = (System.nanoTime() - t0) / 1000000L

    // lineage + metrics from the files just written (no plan re-execution:
    // `out` must not be computed twice at 100 TB)
    val metrics = partitionMetrics(spark, base, stage, keyCol, commitId,
      rowsIn = todoCount, wallMs = wallMs, status = "committed")
    IcebergLite.append(spark, metrics, logTable(base, stage), Seq("partition_id"), commitId)
    (out, todoCount)
  }

  /** Per-partition lineage metrics derived from the files written under
    * data/<commitId> (never a plan re-execution). Shared by the normal
    * commit path and the crash-gap backfill in [[runStage]]. */
  private def partitionMetrics(spark: SparkSession, base: String, stage: String,
                               keyCol: String, commitId: String,
                               rowsIn: Long, wallMs: Long, status: String): DataFrame =
    spark.read.parquet(s"${outputTable(base, stage)}/data/$commitId")
      .withColumn("__pid", spark_partition_id())
      .groupBy(col("__pid").as("partition_id"))
      .agg(
        min(col(keyCol)).cast("string").as("key_lo"),
        max(col(keyCol)).cast("string").as("key_hi"),
        count(lit(1)).as("rows_out"),
        // order-independent, overflow-free (ANSI-safe) content checksum
        expr(s"bit_xor(xxhash64($keyCol))").as("checksum"))
      .withColumn("stage", lit(stage))
      .withColumn("rows_in", lit(rowsIn))
      .withColumn("wall_ms", lit(wallMs))
      .withColumn("status", lit(status))
      .withColumn("commit_id", lit(commitId))

  /** All committed output rows of a stage. */
  def committed(spark: SparkSession, base: String, stage: String): DataFrame =
    IcebergLite.read(spark, outputTable(base, stage))

  /** The commit log as a DataFrame (ops/monitoring surface). */
  def log(spark: SparkSession, base: String, stage: String): DataFrame =
    IcebergLite.read(spark, logTable(base, stage))
}
