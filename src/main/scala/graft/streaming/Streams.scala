package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming veneer (SURVEY §2.10). The reference's "stream" is a
 * finite Redis work queue drained by lease-polling workers
 * (`rediswq.py:81-101`, `worker-s2.ipynb` cell 5); its Spark-native form is
 * a file/table source drained with `Trigger.AvailableNow` micro-batches —
 * at-least-once per batch, made exactly-once by the Checkpoint anti-join
 * (the same idempotence the reference gets from SAC_DONE re-scans).
 *
 * The reference has no watermarks or event-time windows; monthly bucketing
 * (`groupby(Date.dt.to_period("M"))`, cells 132-133) is its only time
 * window. Both are provided here as first-class ops anyway: tumbling-window
 * counts with a watermark, and a stateful per-key lease tracker via
 * `mapGroupsWithState` (the engine's custom-state surface).
 */
object Streams {

  /** File-source stream over a parquet directory (schema must be supplied —
    * streaming sources cannot infer). `options` pass through to the source
    * (e.g. maxFilesPerTrigger to bound micro-batch size). */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType,
                    options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(schema).options(options).parquet(dir)

  /**
   * Durable streaming sink: `foreachBatch` → checkpointed [[IcebergLite]]
   * append — the 100 TB ingest landing path (never driver memory). Drains
   * all available input (AvailableNow) and returns when the queue is empty.
   *
   * Exactly-once, layered:
   *  1. each micro-batch commits under the commitId `b<epoch>_<batchId>`
   *     (epoch = a marker stored IN the checkpoint dir, so it survives
   *     exactly as long as the offsets do); a batch replayed after a crash
   *     (stream checkpoint not yet advanced) hits
   *     [[graft.run.Checkpoint.runStage]]'s already-committed guard and is
   *     skipped on METADATA alone (its lineage committed with its output
   *     in the same pointer swap, so the log already holds it);
   *  2. a crash mid-batch leaves data files with no snapshot pointer —
   *     invisible, simply redone;
   *  3. if the stream checkpoint itself is lost and offsets replay under
   *     NEW batchIds, the per-batch anti-join on `keyCol` still dedups —
   *     the reference's SAC_DONE re-scan semantics
   *     (`utils/prep_utils.py:356-365`).
   * Layer 1 costs O(1) metadata per replay; layer 3's done-set read is
   * keys-only (column-pruned) and only paid by batches that commit. A
   * committing batch reads its written files back once: one aggregate per
   * file gives the commit's stats and the batch's lineage rows, and the
   * Spark driver writes the lineage file itself (no Spark write job).
   *
   * `onBatchCommitted` is the per-batch monitoring hook (batchId); tests
   * use it to inject crashes between the table commit and the stream
   * checkpoint advance.
   */
  def appendToTable(df: DataFrame, base: String, stage: String, keyCol: String,
                    checkpointDir: String,
                    onBatchCommitted: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    // commitIds must be unique PER CHECKPOINT EPOCH: a lost/recreated
    // checkpoint restarts batchIds at 0, and bare `b<batchId>` ids would
    // collide with already-committed batches — the metadata guard would
    // then silently DROP the new epoch's slices before the anti-join could
    // dedup them. The epoch marker lives inside the checkpoint dir, so its
    // lifetime is exactly the checkpoint's: crash-resume reuses it (replays
    // dedup on metadata), checkpoint loss mints a new epoch (layer 3's
    // anti-join takes over).
    val epoch = checkpointEpoch(checkpointDir)
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.run.Checkpoint.runStage(batch.sparkSession, base, stage, batch,
          keyCol, f"b${epoch}_$batchId%06d")(identity)
        onBatchCommitted(batchId)
        (): Unit
      }
      .start()
    q.awaitTermination()
    q // terminated; returned for progress/state metrics (recentProgress)
  }

  /** Stable random identifier stored at `<checkpointDir>/_graft_epoch` —
    * created on first use, reused on resume, gone (new epoch) iff the
    * checkpoint itself is gone. Published once ([[graft.Fs.publishOnce]]),
    * so racing creators all read the winner's epoch. */
  private def checkpointEpoch(checkpointDir: String): String = {
    val marker = graft.Fs.publishOnce(java.nio.file.Paths.get(checkpointDir, "_graft_epoch")) { tmp =>
      java.nio.file.Files.writeString(tmp,
        java.util.UUID.randomUUID.toString.replace("-", "").take(12))
    }
    java.nio.file.Files.readString(marker).trim
  }

  /** Event-time window counts with watermark (late data beyond `watermark`
    * dropped). Tumbling by default; `slide` (the hop) makes them sliding.
    * Batch-equivalent: groupBy(window(ts, w, slide)). */
  def windowedCounts(events: DataFrame, tsCol: String, window_ : String,
                     watermark: String, slide: Option[String] = None): DataFrame =
    events
      // watermarks require TIMESTAMP (ltz); parquet NTZ columns are cast
      // (session TZ is pinned to UTC engine-wide, so this is lossless)
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_, slide.getOrElse(window_)).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** Session-window counts (gap-based — the third window family): events
    * of a key closer than `gap` merge into one session. Runs batch or
    * streaming (add a watermark upstream for streaming state cleanup). */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String): DataFrame =
    events.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .groupBy(session_window(col(tsCol), gap).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n"))

  /** Streaming flagship: continuous tile assignment over a scene-doc stream.
    * The geometric assignment (cell-cover explode + broadcast equi-join +
    * refine) is STATELESS and the tile grid is a static dimension, so it
    * plans as a stream-static broadcast join — the batch plan applied per
    * micro-batch, no state store, no watermark needed. This is the 100 TB
    * ingest posture: newly arrived scenes are assigned and appended while
    * the static grid stays broadcast (StreamsSpec: AvailableNow drain ≡
    * batch assignment row set). */
  def streamingTileAssign(docs: DataFrame, tiles: DataFrame, res: Int = 5,
                          geomCol: String = "wkt"): DataFrame =
    graft.ops.TileAssign.assign(docs, tiles, res, geomCol = geomCol)
      .select(col("doc_id"), col("tile_id"))

  private val drainSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Daily event-type counts computed THROUGH the streaming engine
    * (readStream → event-time window agg → Complete-mode AvailableNow
    * drain) and returned as the final in-memory table. Complete mode emits
    * every window on the last micro-batch, so the result equals the batch
    * GROUP BY exactly — which makes the streaming plane itself
    * DuckDB-oracle-checkable (driver query str_windows). */
  def dailyCountsViaStream(spark: SparkSession, tablePath: String): DataFrame = {
    // file streams need a DIRECTORY: a single-file table is streamed from
    // a copy staged once per content fingerprint
    val p = java.nio.file.Paths.get(tablePath)
    val tableDir =
      if (java.nio.file.Files.isDirectory(p)) tablePath
      else {
        val stage = graft.Fs.fixtureRoot("stream_src", tablePath, p)
        graft.Fs.publishOnce(stage.resolve(p.getFileName))(java.nio.file.Files.copy(p, _))
        stage.toString
      }
    val schema = spark.read.parquet(tableDir).schema
    val agg = dailyCounts(parquetStream(spark, tableDir, schema), None)
    val name = s"graft_str_windows_${drainSeq.incrementAndGet()}"
    drainToMemory(agg, name, OutputMode.Complete())
    // copy the result off the memory sink and drop the temp view so
    // repeated calls in one session don't accumulate sink tables. The
    // localCheckpoint DOES retain its (window-count-sized, ~KB) RDD blocks
    // until the caller unpersists or the session ends — the price of
    // returning a DataFrame that survives the sink drop; callers looping
    // this in one long session should `.unpersist()` consumed results
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /**
   * Watermark-driven APPEND-mode windowed aggregation into a durable sink —
   * the shape an UNBOUNDED 100 TB stream needs: state holds only OPEN
   * windows; once the watermark passes a window's end the row is emitted to
   * the table and EVICTED from the state store (unlike the Complete-mode
   * drain, whose state retains every window ever seen). Oracle-checkable
   * (driver query str_windows_append): the committed table holds exactly
   * the daily windows the final watermark (max event time − 1 h) closed —
   * a deterministic batch GROUP BY with a watermark cutoff in DuckDB.
   *
   * The source is staged as 4 TS-RANGE files with strictly ascending
   * modification times, so micro-batches (maxFilesPerTrigger=1) arrive in
   * event-time order: the watermark advances between batches, earlier
   * windows close while later files are still queued, and no event arrives
   * behind the watermark (nothing is dropped as late). Returns the
   * committed result and the per-batch state-store row counts (the spec
   * asserts they stay bounded — eviction really happens).
   */
  def dailyCountsAppendDurable(spark: SparkSession, tablePath: String): (DataFrame, Seq[Long]) = {
    val root = graft.Fs.fixtureRoot("str_winapp", tablePath, java.nio.file.Paths.get(tablePath))
    val srcDir = graft.Fs.publishOnce(root.resolve("src")) { stage =>
      spark.read.parquet(tablePath).repartitionByRange(4, col("ts"))
        .write.parquet(stage.toString)
      // FileStreamSource orders by (modificationTime, path): make the order
      // DETERMINISTICALLY ascend with the ts ranges (equal mtimes would
      // leave the batch order to filesystem timing) before the directory
      // becomes visible
      val parts = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.list(stage)
        try st.iterator().asScala.map(_.toString)
          .filter(p => p.contains("part-") && p.endsWith(".parquet")).toSeq.sorted
        finally st.close()
      }
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(p),
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 2000L))
      }
    }
    val schema = spark.read.parquet(srcDir.toString).schema
    val agg = dailyCounts(
      parquetStream(spark, srcDir.toString, schema, Map("maxFilesPerTrigger" -> "1")),
      Some("1 hour"))
      .withColumn("wk", concat_ws("|", col("day"), col("event_type")))
    val base = root.resolve("tbl").toString
    val q = appendToTable(agg, base, "daily", "wk", root.resolve("ckpt").toString)
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal)
    (graft.run.Checkpoint.committed(spark, base, "daily")
      .select(col("day"), col("event_type"), col("n")), stateRows)
  }

  /**
   * The durable-ingest plane as an oracle-checkable query (driver query
   * str_append): stream the events table (staged as a 4-file directory so
   * the AvailableNow drain runs several micro-batches under
   * maxFilesPerTrigger=1, like real arrivals) through [[appendToTable]]
   * into a checkpointed [[IcebergLite]] table, then read the COMMITTED
   * table back. Exactly-once makes the committed row set equal the source
   * exactly, so the oracle is a plain SELECT over `events`. Re-runs against
   * unchanged data find a complete stream checkpoint (zero new batches) and
   * are metadata-only no-ops — idempotence exercised on every Verify run.
   */
  def durableEventsIngest(spark: SparkSession, tablePath: String): DataFrame = {
    val root = graft.Fs.fixtureRoot("str_append", tablePath, java.nio.file.Paths.get(tablePath))
    val srcDir = graft.Fs.publishOnce(root.resolve("src")) { stage =>
      spark.read.parquet(tablePath).repartition(4).write.parquet(stage.toString)
    }
    val schema = spark.read.parquet(srcDir.toString).schema
    val base = root.resolve("tbl").toString
    appendToTable(
      parquetStream(spark, srcDir.toString, schema, Map("maxFilesPerTrigger" -> "1")),
      base, "events", "event_id", root.resolve("ckpt").toString)
    graft.run.Checkpoint.committed(spark, base, "events")
      .select(col("event_id"), col("event_type"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"), col("value"))
  }

  /**
   * Incremental table-follow (the streaming read of an [[IcebergLite]]
   * table — Iceberg's streaming source shape): consume the snapshots
   * committed to `source` since this consumer's checkpoint, as ONE
   * increment per call, then atomically advance the checkpoint. Returns
   * the `(from, to]` snapshot range consumed, or None when caught up.
   *
   * The increment is [[graft.table.IcebergLite.readIncremental]] — a
   * metadata-only file selection, so a follower of a 100 TB table opens
   * only the new files each tick. Exactly-once, layered like
   * [[appendToTable]]: `process` runs BEFORE the checkpoint advance, so a
   * crash between the two re-delivers the same increment (at-least-once);
   * a consumer that commits through
   * [[graft.table.IcebergLite.appendIdempotent]] keyed by the increment
   * range turns the replay into a metadata-checked no-op (exactly-once).
   * Multiple consumers = multiple checkpoint files, each at its own pace.
   *
   * `registerAs` additionally records this follower's position in the
   * SOURCE table's consumer registry, so
   * [[graft.table.IcebergLite.expireSnapshots]] refuses to expire the
   * snapshots the next tick needs (the retention floor). `rebaseline`
   * handles the other recovery path: when the incremental range is
   * unreadable — snapshots expired past the checkpoint (unregistered
   * follower), or a replacing commit (compaction / CoW merge) in range —
   * `process` is handed the FULL current snapshot with `from = -1`.
   * The consumer must treat `from == -1` on a non-fresh checkpoint as
   * REPLACE-derived-state, not append (e.g. land it through
   * [[graft.table.IcebergLite.overwrite]]); exactly-once then holds again
   * from the new baseline.
   */
  def drainTableIncrement(spark: SparkSession, source: String, checkpointFile: String,
                          registerAs: Option[String] = None, rebaseline: Boolean = false,
                          predicate: Option[Column] = None)
                         (process: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    import java.nio.file.{Files, Paths}
    val cp = Paths.get(checkpointFile)
    val inflight = cp.resolveSibling(cp.getFileName.toString + ".inflight")
    val last = if (Files.exists(cp)) Files.readString(cp).trim.toLong else -1L
    // The increment's upper bound is PINNED to a sidecar BEFORE processing:
    // if a previous call crashed after `process` but before the checkpoint
    // advance, the replay re-delivers exactly the same (last, to] range even
    // when the source has advanced since — so a consumer keyed on the range
    // (appendIdempotent `inc_<from>_<to>`) absorbs the replay as a no-op
    // instead of appending the already-committed rows again under a wider
    // range's fresh commitId. A pin at or below the checkpoint is residue
    // of a COMPLETED cycle (crash between the advance and the pin removal)
    // and is discarded.
    val pinned = if (Files.exists(inflight)) {
      val v = Files.readString(inflight).trim.toLong
      if (v > last) Some(v) else { Files.deleteIfExists(inflight); None }
    } else None
    var cur = pinned.getOrElse {
      val c = graft.table.IcebergLite.currentSnapshotId(source).getOrElse(return None)
      if (c == last) return None
      graft.Fs.writePointer(inflight, c.toString)
      c
    }
    // the floor must be in place BEFORE the read: registering only after a
    // successful tick would leave the in-flight range expirable
    registerAs.foreach(n => graft.table.IcebergLite.registerConsumer(source, n, last))
    // a filtered follower reads through readIncrementalWhere: partition /
    // min-max / Bloom pruning selects the delta's matching FILES before
    // anything opens, so a region-scoped consumer pays only its slice
    def deltaOf(from: Long, to: Long): DataFrame = predicate match {
      case Some(p) => graft.table.IcebergLite.readIncrementalWhere(spark, source, from, to, p)
      case None => graft.table.IcebergLite.readIncremental(spark, source, from, to)
    }
    val (df, from) =
      try (deltaOf(last, cur), last)
      catch {
        case e @ (_: IllegalStateException | _: IllegalArgumentException)
          if rebaseline && last >= 0 =>
          // range unreadable (expired past the checkpoint, or a replacing
          // commit in range): re-baseline on the live current snapshot —
          // the pinned id itself may be among the expired (the rare full
          // rescan applies the predicate row-level only)
          cur = graft.table.IcebergLite.currentSnapshotId(source).getOrElse(throw e)
          val full = graft.table.IcebergLite.readAt(spark, source, cur)
          (predicate.fold(full)(full.where), -1L)
      }
    process(df, from, cur)
    graft.Fs.writePointer(cp, cur.toString)
    Files.deleteIfExists(inflight)
    registerAs.foreach(n => graft.table.IcebergLite.registerConsumer(source, n, cur))
    Some((last, cur))
  }

  /** Drain all available input as micro-batches into an in-memory table;
    * returns when the queue is empty (the worker's `while not q.empty()`). */
  def drainToMemory(df: DataFrame, queryName: String, outputMode: OutputMode): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The daily window pipeline both daily-count drains share: `ts` cast to
    * TIMESTAMP (watermarks need it), the optional watermark, then 1-day
    * window × event_type counts keyed by their `yyyy-MM-dd` day. */
  private def dailyCounts(events: DataFrame, watermark: Option[String]): DataFrame = {
    val ts = events.withColumn("ts", col("ts").cast("timestamp"))
    watermark.fold(ts)(ts.withWatermark("ts", _))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))
  }

  // --- stateful lease tracking (mapGroupsWithState) ----------------------

  case class Lease(itemId: String, ts: Long, event: String) // lease | complete

  case class LeaseTtlStatus(itemId: String, leases: Long, completes: Long,
                            requeues: Long, state: String)

  /**
   * TTL-aware lease tracker — the full `rediswq` lease lifecycle
   * (`rediswq.py:81-101`): `lease(lease_secs)` takes an item from the main
   * queue and SETEXes a lease key; if the worker stalls past the TTL the
   * key expires and the item is eligible to move BACK to the main queue
   * (the `check_expired_leases` GC, `rediswq.py:58-71`) where another
   * worker re-leases it; `complete` deletes the lease key.
   *
   * Replays each item's events in timestamp order (ties: complete before
   * lease — `complete()` deletes the lease key before any re-lease can
   * observe it) and counts every TTL lapse as a requeue:
   *  - a new lease arriving >= prevLease + ttl means the previous lease
   *    expired and the item came back through the main queue (lost-lease
   *    retry by another worker);
   *  - a complete arriving >= lease + ttl is the reference's documented
   *    at-least-once hazard: the GC already requeued the item, the late
   *    `complete` still lrem's it from the processing queue — counted as
   *    BOTH a requeue and a completion;
   *  - an uncompleted lease whose TTL lapses before `nowTs` (the
   *    evaluation instant — in redis terms "when the GC runs") is
   *    `requeued`: back on the main queue, nobody holds it.
   * Final state: `done` (completed, nothing outstanding), `in_flight`
   * (lease live at nowTs), or `requeued` (lapsed, awaiting re-lease).
   *
   * Scale shape: one `mapGroupsWithState` over itemId — a single keyed
   * exchange; per-item replay is O(events log events) with events =
   * the handful of lease/complete transitions an item ever sees.
   */
  case class LeaseTtlState(leases: Long, completes: Long, requeues: Long,
                           pending: Long) // pending = live lease ts, -1 = none

  def leaseTrackerTtl(events: org.apache.spark.sql.Dataset[Lease], ttl: Long,
                      nowTs: Long): org.apache.spark.sql.Dataset[LeaseTtlStatus] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.itemId)
      .mapGroupsWithState[LeaseTtlState, LeaseTtlStatus](GroupStateTimeout.NoTimeout()) {
        (id: String, batch: Iterator[Lease], state: GroupState[LeaseTtlState]) =>
          val prev = state.getOption.getOrElse(LeaseTtlState(0, 0, 0, -1L))
          var leases = prev.leases; var completes = prev.completes
          var requeues = prev.requeues; var pending = prev.pending
          val evs = batch.toArray.sortBy(e => (e.ts, if (e.event == "complete") 0 else 1))
          evs.foreach { e =>
            if (e.event == "lease") {
              if (pending >= 0 && e.ts >= pending + ttl) requeues += 1
              leases += 1; pending = e.ts
            } else {
              completes += 1
              if (pending >= 0 && e.ts >= pending + ttl) requeues += 1
              pending = -1
            }
          }
          state.update(LeaseTtlState(leases, completes, requeues, pending))
          // evaluation-time view at nowTs (not folded into carried state:
          // the same lease must not count a second requeue next batch)
          val (st, rq) =
            if (pending < 0) ("done", requeues)
            else if (nowTs >= pending + ttl) ("requeued", requeues + 1)
            else ("in_flight", requeues)
          LeaseTtlStatus(id, leases, completes, rq, st)
      }
  }
}
