package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.table.IcebergLite
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import java.nio.file.{Files, Path, Paths}

/**
 * Per-file lineage + metrics checkpointing with anti-join resume —
 * the engine form of the reference's SAC_DONE semantics
 * (`master_Search_Discover_example.ipynb` cells 29/38: rebuild the done-set
 * from S3, recompute only the gap) and the Redis two-queue lease protocol's
 * *effect* (`rediswq.py:24-114`): at-least-once execution made exactly-once
 * by deduplicating re-scan.
 *
 * A stage writes its output rows to the output table's `data/<commitId>/`,
 * then reads those files back ONCE: one aggregate grouped by file gives
 * both the commit's per-file stats and its lineage rows (FIXTURES.md F5),
 * one per data file. The Spark driver writes the lineage as one JSON Lines file,
 * `lineage/<commitId>/lineage.jsonl` (no Spark job), and the output
 * table's pointer swap commits output and lineage together. [[log]] reads
 * lineage through that table's commitId ledger, so an attempt that died
 * before its swap is invisible, output and lineage alike, and a retry
 * under the same commitId replaces both. Re-running a stage anti-joins the
 * input against committed keys, which are never recomputed.
 */
object Checkpoint {

  def outputTable(base: String, stage: String): String = s"$base/$stage/output"
  private def lineageFile(base: String, stage: String, commitId: String): Path =
    Paths.get(base, stage, "lineage", commitId, "lineage.jsonl")

  /** The F5 lineage columns, in [[log]]'s order. */
  private val LineageSchema = StructType.fromDDL(
    "partition_id INT, key_lo STRING, key_hi STRING, rows_out BIGINT, checksum BIGINT, " +
      "stage STRING, rows_in BIGINT, wall_ms BIGINT, status STRING, commit_id STRING")

  /**
   * Run `compute` over only the not-yet-committed slice of `input`
   * (left_anti on `keyCol` against the committed output), writing output +
   * lineage and committing both with the output table's one pointer swap.
   * Returns (the snapshot this call committed, None for a ledger replay or
   * an empty slice; number of input keys processed). Read the output through
   * that snapshot ([[IcebergLite.readSnapshotRows]]), never by re-running `compute`.
   *
   * The input is scanned exactly ONCE: rows-in is collected by an
   * `Observation` riding the write job (no pre-count — at 100 TB a
   * count-then-compute would double every stage's read). The written
   * files are read back once, by the aggregate that yields both the
   * commit's file stats and the lineage. When the observed rows-in is 0
   * neither lineage nor pointer is written, so no-op re-runs leave the
   * table's commit lineage untouched (the orphaned empty data dir is
   * unreferenced, same as a crash before commit). `wall_ms` runs from the
   * call to the lineage write, so it leaves out the commit itself.
   *
   * `commitId` must be caller-supplied and deterministic per attempt
   * (no wall-clock in the engine — SURVEY §7.4). `compute` must be a pure
   * transformation (no actions of its own), or the observation resolves on
   * the wrong job.
   */
  def runStage(spark: SparkSession, base: String, stage: String,
               input: DataFrame, keyCol: String, commitId: String)
              (compute: DataFrame => DataFrame): (Option[IcebergLite.Snapshot], Long) = {
    val t0 = System.nanoTime()
    val table = outputTable(base, stage)
    // Crash-retry safety: a commitId on the output table's ledger committed
    // fully, output and lineage both; re-running it would overwrite
    // referenced files, so refuse before any IO. One snapshot read serves
    // the ledger, the done-set and the commit's parent; the ledger survives
    // compaction and expiry. An empty ledger: no keys yet.
    val snap = IcebergLite.readSnapshot(table)
    val ledger = snap.fold(Set.empty[String])(IcebergLite.ledgerOf(table, _))
    if (ledger.contains(commitId)) return (None, 0L)
    val todo = if (ledger.isEmpty) input else input.join(
      IcebergLite.readSnapshotRows(spark, snap.get).select(col(keyCol).as("__done_key")),
      col(keyCol) === col("__done_key"), "left_anti")
    val obs = new org.apache.spark.sql.Observation(s"graft_${stage}_$commitId")
    val out = compute(todo.observe(obs, count(lit(1)).as("rows_in")))
    IcebergLite.writeData(out, table, commitId)
    val todoCount = obs.get("rows_in").asInstanceOf[Long]
    if (todoCount == 0) return (None, 0L)
    // the one read-back of the files just written (no plan re-execution:
    // `out` must not be computed twice at 100 TB), grouped by file: the
    // commit's stats and the lineage rows, partition_id = path ordinal
    val files = spark.read.schema(out.schema).parquet(s"$table/data/$commitId")
      .groupBy(input_file_name().as("path"))
      .agg(count(lit(1)).as("rows"),
        min(col(keyCol)).cast("string").as(s"min_$keyCol"),
        max(col(keyCol)).cast("string").as(s"max_$keyCol"),
        // order-independent, overflow-free (ANSI-safe) content checksum
        bit_xor(xxhash64(col(keyCol))).as("checksum"))
      .collect().sortBy(_.getAs[String]("path")).toSeq
    val wallMs = (System.nanoTime() - t0) / 1000000L
    // atomic replace, so a retry of an attempt that died before the swap
    // replaces its invisible lineage
    graft.Fs.writePointer(lineageFile(base, stage, commitId), files.zipWithIndex.map {
      case (f, i) => new GenericRowWithSchema(Array[Any](i,
        f.getAs[String](s"min_$keyCol"), f.getAs[String](s"max_$keyCol"), f.getAs[Long]("rows"),
        f.getAs[Long]("checksum"), stage, todoCount, wallMs, "committed", commitId),
        LineageSchema).json + "\n"
    }.mkString)
    (Some(IcebergLite.commitWritten(spark, out.schema.json, table, Seq(keyCol), commitId,
      basedOn = snap, fileStats = Some(files))), todoCount)
  }

  /** All committed output rows of a stage. */
  def committed(spark: SparkSession, base: String, stage: String): DataFrame =
    IcebergLite.read(spark, outputTable(base, stage))

  /** The lineage log (ops/monitoring surface): the lineage of every commitId
    * on the output table's current ledger; ids without lineage (e.g. a
    * `compact` of the output) are skipped. */
  def log(spark: SparkSession, base: String, stage: String): DataFrame = {
    val files = IcebergLite.committedIds(outputTable(base, stage)).toSeq.sorted
      .map(lineageFile(base, stage, _)).filter(Files.isRegularFile(_))
    spark.read.schema(LineageSchema).json(files.map(_.toString): _*)
  }
}
