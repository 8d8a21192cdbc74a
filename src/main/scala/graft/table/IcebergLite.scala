package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/**
 * Iceberg-format-inspired table layout (SURVEY §4.2): partitioned Parquet
 * data files + JSON snapshot metadata with per-file row counts and
 * column min/max, committed by atomic pointer swap. No Iceberg runtime jar
 * exists in this environment (verified; coursier offline), so the layout is
 * implemented in-repo; the read path is plain `spark.read.parquet` over
 * manifest-selected files, so swapping in real Iceberg later is an I/O-layer
 * change only.
 *
 * Layout:
 * {{{
 *   <table>/data/<commit-id>/part-*.parquet
 *   <table>/_graft_meta/snapshot-<N>.json     // schema, spec, ledger, manifest paths
 *   <table>/_graft_meta/manifest-<N>-<t>.json // immutable file lists + stats
 *   <table>/_graft_meta/CURRENT               // atomic pointer: "N"
 *   <table>/_graft_meta/{consumers,tags,branches}/<name>  // pointers: "N"
 * }}}
 *
 * Each metadata mechanism has one implementation. The JSON codec is
 * Jackson ([[renderSnapshot]]/[[parseSnapshot]]; ids, seqs and row counts
 * decode as exact longs). Every lock — the table's commit lock and the
 * per-commitId claims — is one O_EXCL lock file with a heartbeat
 * ([[withLockFile]]). Every pointer — CURRENT and the refs — is written by
 * [[graft.Fs.writePointer]]. "Was this commitId committed?" is one read of
 * the current snapshot's cumulative ledger ([[alreadyCommitted]]). Every
 * pruned read selects its files through [[surviving]], and every lineage
 * question walks [[ancestry]].
 *
 * Scale notes: manifest min/max over the Morton cell id gives partition
 * pruning for spatial range scans (children of a parent cell are an id
 * range — CellIndexSpec "locality"); stats are collected in ONE extra pass
 * grouped by `input_file_name()`, not per-file reads; `statsExprs` extends
 * the manifest to derived values (e.g. min/max over a nested span field,
 * pruning band-filter scans file-level). Schema evolution is complete and
 * always metadata-only: ADD (null backfill), DROP, RENAME (logical →
 * physical name mapping — the name-mapping form of Iceberg's field-ID
 * indirection), each snapshot pinning its own schema for time travel.
 * [[merge]] is a copy-on-write MERGE upsert with crash-retry idempotence.
 */
object IcebergLite {

  /** `seq` = id of the snapshot whose commit added the file — equality
    * deletes ([[mergeOnRead]]) apply only to files with a LOWER seq, the
    * sequence-number scoping real Iceberg v2 uses. Old manifests parse with
    * seq 0 (every delete applies — the conservative reading).
    * `bloom` maps column name → path of a per-file [[Bloom]] sidecar
    * (written by commits with `bloomCols`); point-lookup reads probe it
    * AFTER min/max, files without one are conservatively kept. */
  case class FileEntry(path: String, rows: Long, min: Map[String, String],
                       max: Map[String, String], seq: Long = 0L,
                       partition: Map[String, String] = Map.empty,
                       bloom: Map[String, String] = Map.empty)

  /** An equality-delete file: parquet of key tuples (PHYSICAL column names
    * `keys`) at `path`, committed at snapshot `seq`. A data row is deleted
    * iff its key tuple appears in a delete file with seq > the row's file
    * seq. */
  case class DeleteEntry(path: String, seq: Long, keys: Seq[String])

  /**
   * One field of a table's partition spec — Iceberg's HIDDEN partitioning:
   * the spec lives in table metadata, writers derive the partition value
   * from `source` via `transform` automatically (callers never manage a
   * layout column), and data files land under `p_<name>=<value>/`
   * directories inside each commit. Readers prune on the per-file
   * partition value BEFORE consulting column min/max stats.
   *
   * Transforms (the Iceberg spec set, plus a spatial one):
   *  - `identity`      — the source value itself
   *  - `bucket[N]`     — `pmod(murmur3(source), N)`
   *  - `truncate[W]`   — numeric: `floor(source / W) * W`; string: prefix W
   *  - `year`/`month`/`day` — calendar truncation of a date/timestamp
   *  - `cell[R]`       — MIN covering [[graft.cells.CellIndex]] cell of a
   *    WKT geometry at resolution R. A footprint spanning several cells is
   *    stored ONCE (under its min cell — no replication, table row count
   *    is exact); commits additionally auto-index the full cover range
   *    per file (`cover_<name>` stats), and [[readAoi]] prunes on that
   *    range, so spanning footprints are never lost to pruning. This is
   *    the manifest-layer form of the reference's S3 prefix-scoped listing
   *    (`utils/prep_utils.py:368-387` — one prefix per granule/tile).
   */
  case class PartitionField(name: String, source: String, transform: String)

  private val BucketT = """bucket\[(\d+)\]""".r
  private val TruncateT = """truncate\[(\d+)\]""".r
  private val CellT = """cell\[(\d+)\]""".r

  /** Directory/column name a partition field writes under. A plain prefix
    * (no underscore): `_`-prefixed directories are hidden from Hadoop
    * listings, which would break the stats pass. */
  private def partColName(f: PartitionField): String = s"p_${f.name}"

  /** `renames` maps LOGICAL column name → PHYSICAL (in-file) column name
    * for fields whose logical name has diverged via [[renameColumn]] —
    * the name-mapping form of Iceberg's field-ID indirection. Data files
    * always store physical names; reads substitute physical names into the
    * pinned schema and alias back; renames are O(1) metadata commits. */
  /** `commitIds` is the cumulative ledger of every commitId ever committed
    * to the table — carried forward (and unioned) by every commit, so the
    * crash-retry idempotence guard ([[alreadyCommitted]]) is one read of the
    * CURRENT snapshot instead of a scan of all history: O(1) per commit on
    * a 10k-commit table, and still refusing a replay after the original
    * commit's snapshots (or even its files) have been expired. */
  /** A table's declared write clustering (Iceberg's `write.sort-order` /
    * sort-order metadata): once set, EVERY writer lays its batch out by it
    * — linear range-sort or z-order interleave over `cols` — and
    * [[compact]] defaults to it, so per-file min/max stays tight without
    * each caller re-stating the layout. */
  case class SortOrder(cols: Seq[String], zorder: Boolean = false)

  /** `manifests` is the snapshot's on-disk file-list layout: paths of
    * IMMUTABLE manifest files (each a JSON array of [[FileEntry]]) whose
    * concatenation is `files`. Consecutive snapshots SHARE manifest files —
    * [[persistSnapshot]] reuses every parent manifest whose entries are
    * carried unchanged and writes only the delta — so an append's metadata
    * write is O(new files), not O(table files). In memory `files` is always
    * fully materialized; `manifests` is bookkeeping for the write side and
    * expiry. Empty for legacy inline-files snapshots (their next commit
    * converts). */
  case class Snapshot(id: Long, parent: Long, schemaJson: String, files: Seq[FileEntry],
                      renames: Map[String, String] = Map.empty,
                      deletes: Seq[DeleteEntry] = Nil,
                      commitIds: Set[String] = Set.empty,
                      spec: Seq[PartitionField] = Nil,
                      order: Option[SortOrder] = None,
                      manifests: Seq[String] = Nil) {
    def physical(logical: String): String = renames.getOrElse(logical, logical)
    /** The schema this snapshot pins (decoded once per snapshot value). */
    lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Snapshot-JSON parses since JVM start — a test-visible metadata-read
    * meter ([[IcebergLiteSpec]] asserts the idempotence guard stays O(1)
    * in these as history grows). */
  val metaParses = new java.util.concurrent.atomic.AtomicLong(0)

  private def metaDir(table: String): Path = Paths.get(table, "_graft_meta")

  def currentSnapshotId(table: String): Option[Long] = {
    val cur = metaDir(table).resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toLong) else None
  }

  def readSnapshot(table: String): Option[Snapshot] =
    currentSnapshotId(table).map { id =>
      parseSnapshot(Files.readString(metaDir(table).resolve(s"snapshot-$id.json")))
    }

  /** The current snapshot of a table that must have one. */
  private def current(table: String): Snapshot = readSnapshot(table).getOrElse(
    throw new IllegalStateException(s"no committed snapshot in $table"))

  /** A specific historical snapshot (None if it never existed). */
  def snapshotAt(table: String, id: Long): Option[Snapshot] = {
    val p = metaDir(table).resolve(s"snapshot-$id.json")
    if (Files.exists(p)) Some(parseSnapshot(Files.readString(p))) else None
  }

  /** Snapshot `id` as named by a caller: one that does not exist is the
    * caller's error. */
  private def requireSnapshot(table: String, id: Long): Snapshot =
    snapshotAt(table, id).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $id in $table"))

  /** Snapshot `id` as named by table metadata (a parent link, a branch
    * head): a missing one was expired — an IllegalStateException. */
  private def retained(table: String, id: Long, why: String): Snapshot =
    snapshotAt(table, id).getOrElse(throw new IllegalStateException(
      s"snapshot $id of $table is missing (expired?) - $why"))

  /** The lineage walk: `from`, then each ancestor by parent link, newest
    * first. Lazy — an ancestor is parsed only when the walk reaches it, so
    * a caller that stops early parses no further. A missing ancestor ends
    * the walk, or throws ([[retained]]) when `why` says what it blocks. */
  private def ancestry(table: String, from: Snapshot,
                       why: Option[String] = None): Iterator[Snapshot] =
    Iterator.iterate(Option(from))(_.flatMap { s =>
      if (s.parent < 0) None
      else why.fold(snapshotAt(table, s.parent))(w => Some(retained(table, s.parent, w)))
    }).takeWhile(_.isDefined).map(_.get)

  /** The append-delta check: the files `child` added over `parent`, or None
    * when it dropped a parent file or changed the equality deletes (compared
    * by (path, seq): swapping one delete for another passes a size check
    * yet has no well-defined append delta). */
  private def appendDelta(child: Snapshot, parent: Snapshot): Option[Seq[FileEntry]] = {
    val childPaths = child.files.map(_.path).toSet
    val parentPaths = parent.files.map(_.path).toSet
    def deleteSet(s: Snapshot) = s.deletes.map(d => (d.path, d.seq)).toSet
    if (parentPaths.subsetOf(childPaths) && deleteSet(child) == deleteSet(parent))
      Some(child.files.filterNot(f => parentPaths.contains(f.path)))
    else None
  }

  /** All snapshot ids, oldest first — the table's commit lineage. */
  def snapshots(table: String): Seq[Long] = {
    val d = metaDir(table)
    if (!Files.exists(d)) Nil
    else {
      val st = Files.list(d) // must be closed: leaks a directory fd otherwise
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") =>
          s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
        .toSeq.sorted
      finally st.close()
    }
  }

  /** The rows of a snapshot the caller already holds — for a caller that
    * also reads the snapshot's metadata (its ledger) and parses it once. */
  def readSnapshotRows(spark: SparkSession, snap: Snapshot): DataFrame =
    readFiles(spark, snap, snap.files)

  /** Time-travel read: the table exactly as of snapshot `id` (Iceberg's
    * `VERSION AS OF`). Files of later commits are invisible. */
  def readAt(spark: SparkSession, table: String, id: Long): DataFrame = {
    val snap = requireSnapshot(table, id)
    readFiles(spark, snap, snap.files)
  }

  /**
   * Incremental append scan (Iceberg's `incrementalAppendScan`): the rows
   * ADDED by snapshots with id in `(fromId, toId]` — the primitive behind
   * process-only-new-data pipeline runs, where a daily job over a 100 TB
   * table opens only that day's files instead of re-scanning the table.
   * `fromId = -1` means "since before the first snapshot". File selection
   * is metadata-only: every file records its committing snapshot (`seq`),
   * so the delta is exactly `seq ∈ (fromId, toId]` — no data file of an
   * earlier commit is opened, or even listed into the scan.
   *
   * Every snapshot in the range must be row-ADDITIVE: parent files carried
   * unchanged and no new equality deletes (plain appends, schema-evolution
   * metadata commits). Replacing commits — compaction, CoW merge, MoR
   * upsert, rollback — have no well-defined append delta, and the scan
   * refuses them, exactly as Iceberg's incremental append scan does; read
   * the full snapshot instead across such a boundary.
   */
  def readIncremental(spark: SparkSession, table: String,
                      fromId: Long, toId: Long): DataFrame = {
    val (to, delta) = incrementalDelta(table, fromId, toId)
    readFiles(spark, to, delta)
  }

  /** [[readIncremental]] with the same metadata pruning [[readWhere]] gives
    * a full scan: the `(fromId, toId]` delta's FILE LIST is filtered through
    * partition values, manifest min/max, and Bloom sidecars before anything
    * opens — a follower subscribed to one region/key-range pays only that
    * slice of each increment, not the whole append. The residual predicate
    * still applies row-level, so results ≡
    * `readIncremental(...).where(predicate)`. */
  def readIncrementalWhere(spark: SparkSession, table: String,
                           fromId: Long, toId: Long, predicate: Column): DataFrame = {
    val (to, delta) = incrementalDelta(table, fromId, toId)
    readPruned(spark, to, delta, predicate)
  }

  /** Validate that every snapshot in `(fromId, toId]` is row-additive and
    * return `toId`'s snapshot plus the delta's file entries. */
  private def incrementalDelta(table: String, fromId: Long,
                               toId: Long): (Snapshot, Seq[FileEntry]) = {
    val to = requireSnapshot(table, toId)
    val walk = ancestry(table, to, Some("incremental range unreadable"))
    val notAncestor = s"snapshot $fromId is not an ancestor of $toId in $table"
    @annotation.tailrec
    def check(cur: Snapshot): Unit = if (cur.id != fromId) {
      require(cur.id > fromId, notAncestor)
      if (!walk.hasNext) require(fromId == -1L, notAncestor)
      else {
        val p = walk.next()
        val added = appendDelta(cur, p).getOrElse(throw new IllegalArgumentException(
          s"snapshot ${cur.id} of $table is a replacing or delete commit - incremental " +
            "append scan is undefined across it; read the full snapshot instead"))
        // files ADDED at this commit must carry a seq inside the requested
        // range, or the delta selection below would silently drop them —
        // pre-upgrade manifests parse with seq 0, and a table whose
        // lineage says otherwise must refuse loudly, not return an
        // incomplete delta (the same conservatism replacing commits get)
        added.foreach { f =>
          require(f.seq > fromId && f.seq <= toId,
            s"file ${f.path} added by snapshot ${cur.id} of $table records seq ${f.seq} " +
              s"outside ($fromId, $toId] - pre-upgrade manifest; read the full snapshot instead")
        }
        check(p)
      }
    }
    check(walk.next())
    (to, to.files.filter(f => f.seq > fromId && f.seq <= toId))
  }

  /** Scan `files` under `snap`'s pinned schema, applying the snapshot's
    * equality deletes ([[mergeOnRead]]). Files are grouped by commit seq;
    * each group anti-joins the delete files committed AFTER it (delete seq
    * > file seq) — a group with no applicable deletes scans clean, so a
    * compacted or CoW-maintained table pays zero merge cost at read. The
    * explicit schema is what makes [[addColumn]] evolution work: files
    * written before the column existed read it back as null (and a
    * pre-evolution snapshot, pinning the old schema, never shows the column
    * at all). Renamed columns are read under their PHYSICAL in-file name
    * and aliased back to the snapshot's logical name ([[renameColumn]]).
    * Dropping a column that is still a pending delete key is unsupported
    * (compact first). */
  private def readFiles(spark: SparkSession, snap: Snapshot,
                        files: Seq[FileEntry]): DataFrame = {
    def applicable(seq: Long) = snap.deletes.filter(_.seq > seq)
    if (snap.deletes.isEmpty || files.forall(f => applicable(f.seq).isEmpty))
      readFilesRaw(spark, snap, files)
    else {
      val invRenames = snap.renames.map(_.swap)
      files.groupBy(_.seq).toSeq.sortBy(_._1).map { case (seq, fs) =>
        applicable(seq).foldLeft(readFilesRaw(spark, snap, fs)) { (df, d) =>
          val logicalKeys = d.keys.map(pk => invRenames.getOrElse(pk, pk))
          val keys = spark.read.parquet(d.path).select(
            d.keys.zip(logicalKeys).map { case (p, l) => col(p).as(l) }.toSeq: _*)
          df.join(keys, logicalKeys, "left_anti")
        }
      }.reduce(_.unionByName(_))
    }
  }

  private def readFilesRaw(spark: SparkSession, snap: Snapshot,
                           files: Seq[FileEntry]): DataFrame = {
    val schema = snap.schema
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (snap.renames.isEmpty)
      spark.read.schema(schema).parquet(files.map(_.path): _*)
    else {
      val physSchema = StructType(schema.fields.map(f => f.copy(name = snap.physical(f.name))))
      spark.read.schema(physSchema).parquet(files.map(_.path): _*)
        .select(schema.fields.map(f => col(snap.physical(f.name)).as(f.name)).toSeq: _*)
    }
  }

  /** Rename a DataFrame's logical columns to `snap`'s physical names
    * before writing (identity when the table has no renames). */
  private def toPhysical(df: DataFrame, snap: Option[Snapshot]): DataFrame =
    snap.filter(_.renames.nonEmpty) match {
      case Some(snap) =>
        df.select(df.columns.map(c => col(c).as(snap.physical(c))).toSeq: _*)
      case None => df
    }

  /**
   * Append `df` as a new snapshot (previous files retained). `statsCols`
   * are indexed with min/max for pruning. Commit protocol:
   * write data → write snapshot-N.json → atomic move CURRENT.
   * A crash before the final move leaves the table at the previous snapshot
   * (uncommitted data dir is unreferenced) — the resume semantics the
   * reference gets from SAC_DONE re-scans (SURVEY §2.10).
   */
  def append(spark: SparkSession, df: DataFrame, table: String,
             statsCols: Seq[String], commitId: String,
             bloomCols: Seq[String] = Nil): Snapshot = {
    val (aligned, schemaJson) = alignForAppend(df, table)
    writeData(aligned, table, commitId)
    commitWritten(spark, schemaJson, table, statsCols, commitId,
      bloomCols = bloomCols)
  }

  /** Schema enforcement on append (Iceberg writes are schema-checked; a
    * mismatched batch must never become a de-facto schema replacement —
    * before this guard, appending `k:int` to a `k:long` table silently
    * swapped the pinned schema and made every OLD file unreadable, and a
    * batch missing a column silently hid that column's data). Columns are
    * matched BY NAME (order-free, like parquet reads); types must agree
    * ignoring nullability; the snapshot keeps the TABLE's schema json, so
    * appends never churn schema history. Evolve explicitly with
    * [[addColumn]]/[[renameColumn]]/[[dropColumn]], or replace with
    * [[overwrite]]. */
  private def alignForAppend(df: DataFrame, table: String): (DataFrame, String) =
    readSnapshot(table) match {
      case None => (df, df.schema.json)
      case Some(snap) => (alignToSchema(df, snap.schema, table, "append"), snap.schemaJson)
    }

  /** Validate a write batch against the table's pinned schema (matched BY
    * NAME, order-free, nullability-insensitive) and return it in schema
    * order. Used by append and the merge pair — selecting by name alone
    * would let a type-drifted batch write parquet the pinned schema can't
    * read back. */
  private def alignToSchema(df: DataFrame, pinned: StructType,
                            table: String, op: String): DataFrame = {
    def shape(s: StructType) =
      s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    require(shape(df.schema) == shape(pinned),
      s"$op schema mismatch for $table: table has " +
        s"${shape(pinned).toSeq.sorted.mkString(", ")} but the batch has " +
        s"${shape(df.schema).toSeq.sorted.mkString(", ")} — evolve with " +
        "addColumn/renameColumn/dropColumn or replace with overwrite")
    df.select(pinned.fieldNames.map(col).toSeq: _*)
  }

  /** [[append]] with merge-style crash-retry idempotence: if ANY snapshot
    * already references files under `data/<commitId>/`, the call is a
    * metadata-checked no-op returning the current snapshot. The primitive a
    * resumable incremental consumer needs — one commit per increment, keyed
    * by the increment id, survives a crash between the table commit and the
    * consumer's own checkpoint advance ([[graft.streaming.Streams.drainTableIncrement]]). */
  def appendIdempotent(spark: SparkSession, df: DataFrame, table: String,
                       statsCols: Seq[String], commitId: String): Snapshot = {
    // Per-commitId claim: CONCURRENT attempts at the same commitId share
    // the data/<commitId>/ directory, so the loser's overwrite could orphan
    // the winner's just-committed file paths. The claim serializes the
    // check-write-commit for one commitId only — attempts at different
    // commitIds still run fully in parallel. (Crash-orphaned claims age out
    // like the commit lock; sequential replays — the common path — pay one
    // create+delete.)
    if (alreadyCommitted(table, commitId)) current(table)
    else withLockFile(metaDir(table).resolve(
        s"claim-${commitId.replaceAll("[^a-zA-Z0-9_.-]", "_")}.lock"), staleMs = 300000L) {
      if (alreadyCommitted(table, commitId)) current(table)
      else append(spark, df, table, statsCols, commitId)
    }
  }

  /** Has `commitId` ever been committed to `table`? O(1): one read of the
    * current snapshot's cumulative commitId ledger, which every commit
    * carries forward — so the answer survives compaction, rollback and the
    * expiry of the commit's own snapshots and files. */
  def alreadyCommitted(table: String, commitId: String): Boolean =
    committedIds(table).contains(commitId)

  /** Every commitId on `table`'s current ledger (empty if never committed). */
  def committedIds(table: String): Set[String] =
    readSnapshot(table).map(ledgerOf(table, _)).getOrElse(Set.empty)

  /** `s`'s cumulative commitId ledger. Pre-upgrade snapshots (no ledger)
    * fall back to the historical file-path scan — upgraded transparently by
    * their next commit, which starts the ledger from the full history. */
  def ledgerOf(table: String, s: Snapshot): Set[String] =
    if (s.commitIds.nonEmpty) s.commitIds else historicalCommitIds(table)

  /** Commit ids recoverable from snapshot history's file paths (legacy
    * tables whose snapshots predate the ledger). */
  private def historicalCommitIds(table: String): Set[String] = {
    val DataId = ".*/data/([^/]+)/[^/]*".r
    val DelId = ".*/deletes/([^/]+)/[^/]*".r
    snapshots(table).flatMap(id => snapshotAt(table, id).toSeq.flatMap(s =>
      s.files.map(_.path) ++ s.deletes.map(_.path))).collect {
      case DataId(c) => c
      case DelId(c) => c
    }.toSet
  }

  /** Phase 1 of [[append]]: write the data files only (no snapshot yet).
    * Until [[commitWritten]] runs, the files are unreferenced — a crash here
    * is invisible to readers, exactly the SAC_DONE re-scan semantics.
    * Takes LOGICAL column names; renamed columns are stored under their
    * stable physical names so every data file of the table is uniform.
    * A table with a partition spec lays this commit's files out by derived
    * partition value (HIDDEN partitioning — the caller passes raw rows). */
  def writeData(df: DataFrame, table: String, commitId: String): Unit =
    writeDataSpec(df, table, commitId)

  /** [[writeData]] without the declared-SortOrder pass — for [[compact]],
    * which owns its clustering AND its size-targeted file count. */
  private def writeDataRaw(df: DataFrame, table: String, commitId: String): Unit =
    writeDataSpec(df, table, commitId, applyOrder = false)

  /** The write behind [[writeData]]. The current snapshot is parsed once
    * and serves the main-ledger guard and, unless `snapOverride` names
    * another snapshot to lay out against (a branch head), the spec, the
    * SortOrder and the physical names; `specOverride` replaces the spec
    * (a table's first, partitioned commit). */
  private def writeDataSpec(df: DataFrame, table: String, commitId: String,
                            specOverride: Option[Seq[PartitionField]] = None,
                            applyOrder: Boolean = true,
                            snapOverride: Option[Snapshot] = None): Unit = {
    val dir = Paths.get(table, "data", commitId).toString
    val cur = readSnapshot(table)
    // cross-lineage collision guard: data/<commitId>/ is one namespace, so
    // while branches are staged a commitId already on SOME branch's ledger
    // must not be written again from anywhere — mode(overwrite) would
    // clobber that lineage's committed files. Zero cost when no branch
    // exists; writers on a branch pre-check their own ledger and refuse
    // before reaching here ([[appendToBranch]]).
    branches(table).foreach { case (b, hid) =>
      snapshotAt(table, hid).foreach { h =>
        require(!h.commitIds.contains(commitId),
          s"commitId $commitId is already committed on branch $b of $table " +
            "(or its fork history); publish or drop the branch, or use a " +
            "different commitId")
      }
    }
    // …and the SAME guard against CURRENT's (main's) ledger: a branch write
    // whose commitId main committed after the fork — or a plain append
    // replaying a committed id — would mode(overwrite) files the committed
    // snapshot references, corrupting the table before any optimistic check
    // runs. Idempotent replays never reach here (appendIdempotent / merge /
    // mergeOnRead / deleteKeys / compact all pre-check alreadyCommitted).
    cur.foreach { c =>
      require(!ledgerOf(table, c).contains(commitId),
        s"commitId $commitId is already committed on $table's main lineage; " +
          "replaying a committed id would overwrite its referenced files — " +
          "use appendIdempotent for crash-retries, or a different commitId")
    }
    val snap = snapOverride.orElse(cur)
    val spec = specOverride.getOrElse(snap.map(_.spec).getOrElse(Nil))
    val physFn = snap.map(s => s.physical _).getOrElse(identity[String] _)
    val phys = toPhysical(df, snap)
    val order = if (applyOrder) snap.flatMap(_.order) else None
    // the declared SortOrder's clustering expression(s), in PHYSICAL names;
    // z-order quantizes against THIS BATCH's bounds (per-batch locality —
    // cross-batch unification is compact's job, exactly as in Iceberg)
    def orderExprs(o: SortOrder): Seq[Column] =
      if (!o.zorder) o.cols.map(c => col(physFn(c)))
      else Seq(zorderKey(phys, o.cols.map(physFn)))
    if (spec.isEmpty) {
      val out = order.fold(phys) { o =>
        val es = orderExprs(o)
        phys.repartitionByRange(es: _*).sortWithinPartitions(es: _*)
      }
      out.write.mode("overwrite").parquet(dir)
    } else {
      val withP = spec.foldLeft(phys)((acc, f) =>
        acc.withColumn(partColName(f), partitionExpr(f, df.schema, physFn)))
      // one repartition by partition value clusters each partition's rows
      // into as few files as the value's volume needs; partitionBy then
      // routes them into p_<name>=<value>/ dirs (values are NOT stored in
      // the files — the layout and the manifest carry them). A declared
      // SortOrder additionally sorts WITHIN each partition's rows.
      val parts = spec.map(f => col(partColName(f)))
      val clustered = withP.repartition(parts: _*)
      order.fold(clustered)(o => clustered.sortWithinPartitions(parts ++ orderExprs(o): _*))
        .write.mode("overwrite")
        .partitionBy(spec.map(partColName): _*)
        .parquet(dir)
    }
  }

  /** The z-order key over `cols` of `df`, quantized against `df`'s own
    * bounds (one aggregation job). All-null or empty bounds degrade to a
    * constant dimension (no NPE). */
  private def zorderKey(df: DataFrame, cols: Seq[String]): Column = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"lo_$c"), max(col(c)).cast("double").as(s"hi_$c")))
    val b = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def d(n: String): Double =
      Option(b.getAs[java.lang.Double](n)).fold(Double.NaN)(_.doubleValue)
    ZOrder.zvalue(cols.map(c => col(c) -> (d(s"lo_$c"), d(s"hi_$c"))))
  }

  /** The hidden-partition derivation for one spec field (logical `source`
    * resolved to its physical column). */
  private def partitionExpr(f: PartitionField,
                            schema: org.apache.spark.sql.types.StructType,
                            phys: String => String): Column = {
    import org.apache.spark.sql.types._
    val src = col(phys(f.source))
    def srcType: DataType = schema.fields.find(_.name == f.source)
      .getOrElse(throw new IllegalArgumentException(
        s"partition source ${f.source} not in schema")).dataType
    f.transform match {
      case "identity" => src
      case BucketT(n) => pmod(hash(src), lit(n.toInt))
      case TruncateT(w) => srcType match {
        case StringType => substring(src, 1, w.toInt)
        case _: NumericType => (floor(src / w.toInt) * w.toInt).cast(srcType)
        case t => throw new IllegalArgumentException(s"truncate on ${t.simpleString}")
      }
      case "year" => date_format(src, "yyyy")
      case "month" => date_format(src, "yyyy-MM")
      case "day" => date_format(src, "yyyy-MM-dd")
      case CellT(r) =>
        array_min(graft.plans.SpatialColumns.stCellCover(src, lit(r.toInt)))
      case t => throw new IllegalArgumentException(s"unknown partition transform $t")
    }
  }

  /** Create a table with a partition spec in its first commit. The spec is
    * table metadata from then on: every later [[append]]/[[merge]]/
    * [[compact]] lays its files out by the same derived values without the
    * caller repeating anything. */
  def createPartitioned(spark: SparkSession, df: DataFrame, table: String,
                        spec: Seq[PartitionField], statsCols: Seq[String],
                        commitId: String): Snapshot = {
    require(currentSnapshotId(table).isEmpty, s"$table already exists")
    require(spec.nonEmpty, "empty partition spec; use append")
    spec.foreach { f =>
      require(df.schema.fieldNames.contains(f.source),
        s"partition source ${f.source} not in schema")
      require(!df.schema.fieldNames.contains(partColName(f)),
        s"column ${partColName(f)} collides with partition field ${f.name}")
    }
    writeDataSpec(df, table, commitId, specOverride = Some(spec))
    commitWritten(spark, df.schema.json, table, statsCols, commitId,
      specOverride = Some(spec))
  }

  /**
   * Partition-spec EVOLUTION (Iceberg's spec evolution): a METADATA-ONLY
   * commit that changes how FUTURE commits lay out their files — add
   * partitioning to a plain table, re-bucket, change granularity, or drop
   * it (`Nil`). Existing data files keep their old layout and their
   * recorded per-file partition values; pruning is per-file (a file with no
   * value for a spec field is conservatively kept), so a mixed-layout table
   * stays correct through any number of evolutions. The next [[compact]]
   * rewrites everything into the current spec, unifying the layout. At
   * 100 TB this is the only sane path: re-partitioning by rewrite is a
   * full-table job you schedule, not a side effect of changing the spec.
   */
  def evolveSpec(table: String, newSpec: Seq[PartitionField]): Snapshot = retryOnConflict() {
    val snap = current(table)
    val schema = snap.schema
    require(newSpec.map(_.name).distinct.size == newSpec.size,
      s"duplicate partition field names in ${newSpec.map(_.name)}")
    newSpec.foreach { f =>
      require(schema.fieldNames.contains(f.source),
        s"partition source ${f.source} not in schema")
      require(!schema.fieldNames.contains(partColName(f)),
        s"column ${partColName(f)} collides with partition field ${f.name}")
      partitionExpr(f, schema, snap.physical) // validates the transform
    }
    commitSnapshot(table, Some(snap), snap.copy(id = snap.id + 1, parent = snap.id, spec = newSpec))
  }

  /**
   * Declare (or change) the table's write SortOrder — a METADATA-ONLY
   * commit (Iceberg's `replaceSortOrder`). From then on every
   * [[append]]/[[merge]]/[[mergeOnRead]]/[[overwrite]] clusters its batch
   * by it (range-sort, or z-order bit-interleave over the batch's bounds)
   * and [[compact]] defaults to it table-wide, so per-file min/max stats
   * stay tight without any caller re-stating the layout. Existing files
   * keep their layout until the next compaction — exactly like spec
   * evolution. Pass `None` to clear.
   */
  def setSortOrder(table: String, order: Option[SortOrder]): Snapshot = retryOnConflict() {
    import org.apache.spark.sql.types.NumericType
    val snap = current(table)
    order.foreach { o =>
      require(o.cols.nonEmpty && o.cols.distinct.size == o.cols.size,
        s"bad sort-order columns ${o.cols}")
      val schema = snap.schema
      o.cols.foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"sort-order column $c not in schema"))
        if (o.zorder) require(f.dataType.isInstanceOf[NumericType],
          s"z-order needs numeric columns; $c is ${f.dataType.simpleString}")
      }
      if (o.zorder) require(o.cols.size >= 2 && o.cols.size <= 3,
        s"z-order takes 2 or 3 columns, got ${o.cols.size}")
    }
    commitSnapshot(table, Some(snap), snap.copy(id = snap.id + 1, parent = snap.id, order = order))
  }

  /**
   * Compaction (Iceberg's `rewrite_data_files`): read the current snapshot,
   * rewrite it as ONE fresh commit, and swap in a snapshot that references
   * ONLY the compacted files. Old files stay on disk — historical snapshots
   * still time-travel ([[readAt]]) — but the live read path stops paying
   * per-file open cost for the accumulated incremental commits. At 100 TB
   * the small-files problem is a metadata-health problem: a table fed by
   * per-stage appends grows O(commits × partitions) files without this.
   */
  def compact(spark: SparkSession, table: String, statsCols: Seq[String],
              commitId: String, targetFileBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
              bloomCols: Seq[String] = Nil): Snapshot = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are alternative clustering strategies; pick one")
    // crash-retry contract (same as append/merge/deleteKeys): replaying a
    // COMPLETED compact would lazily self-read the current snapshot's files
    // from data/<commitId>/ and then mode(overwrite) that same directory —
    // a read-from/overwrite-to-same-path corrupting the committed snapshot
    if (alreadyCommitted(table, commitId)) return current(table)
    val snap = current(table)
    // explicit clustering args win; otherwise the table's declared
    // SortOrder (setSortOrder) decides — compact is where per-batch write
    // clustering gets unified table-wide
    require(snap.spec.isEmpty || (sortBy.isEmpty && zorderBy.isEmpty),
      "a partitioned table's compact layout comes from its spec (+ declared " +
        "SortOrder for within-partition clustering via setSortOrder); " +
        "explicit sortBy/zorderBy would be silently ignored")
    val (effSort, effZ) =
      if (sortBy.nonEmpty || zorderBy.nonEmpty) (sortBy, zorderBy)
      else snap.order.map(o => if (o.zorder) (Nil, o.cols) else (o.cols, Nil))
        .getOrElse((Nil, Nil))
    val cur = read(spark, table) // snapshot-pinned file list: safe self-read
    // A MoR-degraded read is a union whose partition count is the SUM of its
    // legs' — written as-is, a 33-leg union splinters into ~1000 files and
    // the "compacted" table reads slower than the debt it retired. Coalesce
    // to the size-targeted file count (floored at cluster width so the
    // rewrite and subsequent scans stay parallel). Spec'd tables get their
    // clustering from writeDataSpec's partition-value repartition instead.
    val bytes = snap.files.map { f =>
      val p = Paths.get(f.path.stripPrefix("file:"))
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    val target = math.max(1, math.max(
      math.ceil(bytes.toDouble / targetFileBytes).toInt,
      math.min(spark.sparkContext.defaultParallelism, cur.rdd.getNumPartitions)))
    // Sorted rewrite (Iceberg's rewrite_data_files sort strategy): a MoR
    // union interleaves update rows with base rows, so the unsorted rewrite
    // loses the clustering the original appends had — bigger files (worse
    // parquet encoding) and overlapping manifest min/max (no pruning).
    // Range-partition + sortWithinPartitions on `sortBy` restores both.
    val out =
      if (snap.spec.nonEmpty) cur // layout clustering comes from the spec
      else if (effZ.nonEmpty) {
        // Z-order rewrite (Iceberg's z-order strategy): global bounds in one
        // pass, then range-partition + sort on the interleaved key — every
        // zorderBy column gets ~multiplicatively tight per-file min/max, so
        // conjunctive range reads (AOI scans) prune on ALL of them at once.
        val z = zorderKey(cur, effZ)
        cur.repartitionByRange(target, z).sortWithinPartitions(z)
      }
      else if (effSort.nonEmpty)
        cur.repartitionByRange(target, effSort.map(col): _*)
          .sortWithinPartitions(effSort.map(col): _*)
      else if (cur.rdd.getNumPartitions > target) cur.coalesce(target)
      else cur
    // spec'd tables cluster in writeDataSpec (partition repartition + the
    // declared order within partitions); unpartitioned rewrites clustered
    // RIGHT HERE with the size-targeted file count, so skip the order pass
    if (snap.spec.nonEmpty) writeData(out, table, commitId)
    else writeDataRaw(out, table, commitId)
    commitWritten(spark, cur.schema.json, table, statsCols, commitId,
      keepPrev = false, basedOn = Some(snap), bloomCols = bloomCols)
  }

  /** Phase 2 of [[append]]: stat the files written by [[writeData]] and swap
    * the snapshot pointer. Split out so a caller can inspect the write's
    * observed metrics (e.g. rows-in) before deciding to commit.
    * `keepPrev = false` makes the new snapshot reference only this commit's
    * files (a replacing commit — compaction / overwrite semantics).
    * `fileStats` hands in the per-file stats of a pass the caller already
    * ran over `data/<commitId>` (one row per file: `path` as
    * `input_file_name()` gives it, `rows`, and string `min_<c>`/`max_<c>`
    * for every stats column); the commit then reads no data file. Without
    * it the commit runs that pass itself. */
  def commitWritten(spark: SparkSession, schemaJson: String, table: String,
                    statsCols: Seq[String], commitId: String,
                    keepPrev: Boolean = true,
                    statsExprs: Map[String, (Column, Column)] = Map.empty,
                    carryFiles: Seq[FileEntry] = Nil,
                    carryDeletes: Seq[DeleteEntry] = Nil,
                    autoStats: Boolean = true,
                    specOverride: Option[Seq[PartitionField]] = None,
                    basedOn: Option[Snapshot] = None,
                    bloomCols: Seq[String] = Nil,
                    toBranch: Option[String] = None,
                    fileStats: Option[Seq[Row]] = None): Snapshot = {
    val dataDir = Paths.get(table, "data", commitId)
    // `basedOn` pins the snapshot an operation PLANNED against (merge's
    // file pruning, compact's self-read): building the commit from any
    // fresher snapshot would slip past the optimistic parent check with
    // stale carries. Unpinned callers (plain appends) read fresh.
    val prev = basedOn.orElse(readSnapshot(table))
    val phys = prev.map(s => s.physical _).getOrElse(identity[String] _)
    val spec = specOverride.orElse(prev.map(_.spec)).getOrElse(Nil)
    // cell-partitioned tables auto-index each file's FULL cover range
    // (min/max over every covering cell, not just the min cell the layout
    // uses) — [[readAoi]]'s pruning layer for spanning footprints
    val cellStatsExprs = spec.collect {
      case f @ PartitionField(_, src, CellT(r)) =>
        val cover = graft.plans.SpatialColumns.stCellCover(col(phys(src)), lit(r.toInt))
        s"cover_${f.name}" -> (array_min(cover), array_max(cover))
    }.toMap
    // Auto-stats (Iceberg's write.metadata.metrics default): a commit with
    // NO explicit stats request still indexes every top-level atomic column
    // (capped at 32 for metadata size), so pruned reads and file-targeted
    // MERGE work on tables written before the caller thought about stats.
    // Explicit statsCols/statsExprs keep full control when given;
    // autoStats = false opts out entirely (and models pre-auto-stats
    // tables in specs).
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val effStatsCols =
      if (statsCols.nonEmpty || statsExprs.nonEmpty || !autoStats) statsCols
      else {
        import org.apache.spark.sql.types._
        schema.fields.collect {
          case f if f.dataType.isInstanceOf[NumericType] ||
            f.dataType == StringType || f.dataType == BooleanType ||
            f.dataType == DateType || f.dataType == TimestampType => f.name
        }.take(32).toSeq
      }
    // one-pass per-file stats; plain statsCols index the column itself,
    // statsExprs carry (per-row lo, per-row hi) Columns for derived values
    // — e.g. min/max over a nested array field, which prunes band-filter
    // scans at the file level without any flat column materialized
    val effStatsExprs = statsExprs ++ cellStatsExprs
    val statNames = effStatsCols ++ effStatsExprs.keys.toSeq.sorted
    val statAggs = effStatsCols.flatMap(c =>
      Seq(min(col(phys(c))).cast("string").as(s"min_$c"),
        max(col(phys(c))).cast("string").as(s"max_$c"))) ++
      effStatsExprs.toSeq.sortBy(_._1).flatMap { case (n, (lo, hi)) =>
        Seq(min(lo).cast("string").as(s"min_$n"), max(hi).cast("string").as(s"max_$n"))
      }
    // explicit PHYSICAL schema: skips the footer-inference job every commit
    // would otherwise pay (data files store physical column names)
    val physSchema = StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
    val stats = fileStats match {
      case Some(rows) =>
        // the caller's pass read logical names: only a table without
        // renames stores them as such
        require(prev.forall(_.renames.isEmpty),
          s"fileStats for $table: a table with renamed columns stats its own files")
        rows
      case None =>
        spark.read.schema(physSchema).parquet(dataDir.toString)
          .groupBy(input_file_name().as("path"))
          .agg(count(lit(1)).as("rows"), statAggs: _*)
          .collect().toSeq
    }
    // parent MUST derive from the same `prev` the snapshot content is built
    // from: a separate CURRENT read here could see a concurrent commit that
    // `prev` predates, making the optimistic parent check pass on a
    // snapshot that silently drops that commit's files (lost update)
    val parent = prev.map(_.id).getOrElse(-1L)
    // partition values are carried by the hive-style path segments the
    // spec-aware write laid down (p_<name>=<value>); a null partition value
    // writes __HIVE_DEFAULT_PARTITION__, recorded as no value → the file is
    // conservatively kept by every partition prune. Segments are stored
    // UNESCAPED: partitionBy path-escapes ':', '/', '%', '=', '#', … as %XX
    // (Spark's escapePathName), while partitionPrune compares raw predicate
    // literals — recording the escaped form would wrongly prune files whose
    // string partition value contains any escapable character
    val PartSeg = "([^/=]+)=([^/]+)".r
    def partOf(path: String): Map[String, String] =
      if (spec.isEmpty) Map.empty
      else {
        val names = spec.map(partColName).toSet
        path.split('/').collect {
          case PartSeg(n, v) if names.contains(n) && v != "__HIVE_DEFAULT_PARTITION__" =>
            n.stripPrefix("p_") -> unescapePathSegment(v)
        }.toMap
      }
    // per-file Bloom sidecars (see [[Bloom]]): one extra pass hashing each
    // bloom column with codegen'd xxhash64, one OR-merged bit array per
    // (file × column), written as small binaries under blooms/<commitId>/ —
    // the snapshot JSON carries only their paths
    val blooms: Map[(String, String), String] =
      if (bloomCols.isEmpty || stats.isEmpty) Map.empty
      else {
        val mBits = Bloom.sizeBits(stats.map(_.getAs[Long]("rows")).max)
        val agg = udaf(new Bloom.Agg(mBits))
        val bAggs = bloomCols.map(c => agg(xxhash64(col(phys(c)))).as(s"bloom_$c"))
        val bDir = Paths.get(table, "blooms", commitId)
        Files.createDirectories(bDir)
        spark.read.schema(physSchema).parquet(dataDir.toString)
          .groupBy(input_file_name().as("path"))
          .agg(bAggs.head, bAggs.tail: _*)
          .collect().zipWithIndex.flatMap { case (r, i) =>
            bloomCols.map { c =>
              val p = bDir.resolve(s"f${i}_$c.bloom")
              Files.write(p, r.getAs[Array[Byte]](s"bloom_$c"))
              (fsPath(r.getAs[String]("path")), c) -> p.toString
            }
          }.toMap
      }
    val entries = stats.map { r =>
      val path = fsPath(r.getAs[String]("path"))
      FileEntry(path, r.getAs[Long]("rows"),
        statNames.map(c => c -> String.valueOf(r.getAs[Any](s"min_$c"))).toMap,
        statNames.map(c => c -> String.valueOf(r.getAs[Any](s"max_$c"))).toMap,
        seq = parent + 1, partition = partOf(path),
        bloom = bloomCols.flatMap(c => blooms.get((path, c)).map(c -> _)).toMap)
    }.toSeq.sortBy(_.path)

    // keepPrev carries the whole previous state (append); a replacing commit
    // carries only what the caller vouches for: carryFiles — prior entries
    // kept BY REFERENCE (file-targeted merge) — and carryDeletes, the
    // equality deletes still pending against those carried files
    val prevFiles = if (keepPrev) prev.map(_.files).getOrElse(Nil) else Nil
    val prevDeletes = if (keepPrev) prev.map(_.deletes).getOrElse(Nil) else Nil
    // cumulative commitId ledger: ALWAYS carried (even by replacing
    // commits) so the idempotence guard stays O(1) and survives expiry; a
    // legacy table's first post-upgrade commit seeds it from full history
    val ledger = prev.map(ledgerOf(table, _)).getOrElse(Set.empty[String]) + commitId
    // A PURE append (carries the whole previous state, adds only this
    // commit's files) rebases mechanically onto a concurrently-advanced
    // table: restamp the new entries' seq, keep everything of the new
    // current. Replacing commits and file-targeted merges were computed
    // FROM a specific parent — those conflict loudly instead.
    val prevSchema = prev.map(_.schemaJson)
    val pureAppend = keepPrev && carryFiles.isEmpty && carryDeletes.isEmpty
    val rebase: Snapshot => Option[Snapshot] =
      if (!pureAppend) null
      else cur => {
        val curLedger = ledgerOf(table, cur)
        if (curLedger.contains(commitId)) None // racing idempotent replay: done
        else if (cur.spec != spec) throw new CommitConflictException(
          s"$table partition spec changed while appending $commitId; re-run")
        else if (cur.schemaJson != prevSchema.getOrElse(schemaJson))
          throw new CommitConflictException(
            s"$table schema evolved while appending $commitId; re-run")
        else Some(Snapshot(cur.id + 1, cur.id, schemaJson,
          cur.files ++ entries.map(_.copy(seq = cur.id + 1)),
          cur.renames, cur.deletes, curLedger + commitId, cur.spec, cur.order))
      }
    commitSnapshot(table, prev, Snapshot(parent + 1, parent, schemaJson,
      prevFiles ++ carryFiles ++ entries, prev.map(_.renames).getOrElse(Map.empty),
      prevDeletes ++ carryDeletes, ledger, spec, prev.flatMap(_.order)),
      rebase, toBranch)
  }

  /** `input_file_name()` returns the Hadoop Path URI form — %XX-encoded on
    * top of any Hive path escaping in partition dir segments. Decode it to
    * the plain on-disk filesystem path BEFORE recording: every consumer
    * (read-back, `Files.size`, the orphan sweep's referenced-set compare)
    * expects the literal path, and for a partition value with escapable
    * characters the URI form simply does not resolve. */
  private def fsPath(p: String): String =
    try new java.net.URI(p).getPath catch {
      case _: java.net.URISyntaxException => p.stripPrefix("file:")
    }

  /** Inverse of Spark's `escapePathName` (%XX, uppercase hex): a '%'
    * followed by two hex digits decodes to that char; anything else is
    * literal. '%' itself is in Spark's escape set, so every %XX sequence in
    * a written partition dir segment is an escape — the decode is lossless. */
  private[table] def unescapePathSegment(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        if (hi >= 0 && lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A commit found the table advanced past the snapshot it was computed
    * from, and the operation cannot be rebased mechanically (replacing
    * commits, file-targeted merges, metadata ops). Re-run the operation
    * against the new current snapshot. */
  class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Serialize commits to one table via its commit lock (the local-FS
    * stand-in for an Iceberg catalog's atomic pointer CAS). */
  private def withCommitLock[T](table: String)(body: => T): T =
    withLockFile(metaDir(table).resolve("COMMIT.lock"), staleMs = 60000L)(body)

  /** Run `body` holding an O_EXCL lock file — the one lock the table plane
    * uses, for the commit lock and the per-commitId claims alike. A lock
    * whose mtime is older than `staleMs` is presumed orphaned by a dead
    * holder and broken. A live holder can legitimately run long (a claim
    * spans a whole append; the amortized manifest merge and the stats/bloom
    * passes are O(table files)), and a stolen lock lets two committers
    * allocate the same snapshot id (lost commit) — so a heartbeat bumps the
    * lock's mtime every staleMs/4 while `body` runs, and the stale-break
    * fires only for genuinely dead holders. */
  private[table] def withLockFile[T](lock: Path, staleMs: Long)(body: => T): T = {
    Files.createDirectories(lock.getParent)
    var held = false
    while (!held) {
      try { Files.createFile(lock); held = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          try {
            val age = System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis
            if (age > staleMs) Files.deleteIfExists(lock) else Thread.sleep(5)
          } catch { case _: java.nio.file.NoSuchFileException => () }
      }
    }
    val beat = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(staleMs / 4)
        Files.setLastModifiedTime(lock,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      } catch {
        case _: InterruptedException => () // normal release
        case _: java.io.IOException => () // lock gone: nothing left to guard
      }
    }, "graft-lock-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body finally { beat.interrupt(); Files.deleteIfExists(lock) }
  }

  /** Unconditional snapshot write + CURRENT swap. Callers must hold the
    * commit lock and have validated the parent.
    *
    * Two-level metadata (Iceberg's manifest list): the file list is laid
    * out as immutable manifest files SHARED across snapshots. Every parent
    * manifest whose entries are carried unchanged (same path, same seq,
    * same stats) is referenced by path; only the remainder — the commit's
    * new or rewritten entries — goes into one new manifest. An append on a
    * 100k-file table therefore writes O(new files) metadata bytes, not a
    * fresh 100k-entry JSON; without this, metadata write amplification is
    * O(files × commits). Manifest files are written BEFORE the CURRENT
    * swap, so a crash strands only an unreferenced manifest
    * ([[removeOrphanFiles]] reaps it). The returned snapshot's file order
    * is the canonical on-disk order (reused manifests first), so the value
    * a committer holds matches what every later parse reads. */
  /** Manifests per snapshot before a full merge (Iceberg's
    * `commit.manifest.min-count-to-merge`): bounds the snapshot's path
    * list — without it the path list itself re-grows per commit and the
    * metadata write is quadratic again, just with a smaller constant. */
  private val ManifestMergeCount = 64

  private def writeManifest(table: String, id: Long, entries: Seq[FileEntry]): String = {
    val mf = metaDir(table).resolve(s"manifest-$id-${System.nanoTime()}.json")
    Files.writeString(mf, Json.writeValueAsString(entries.map(fileEntryJson).asJava))
    manifestCache.put(mf.toString, entries)
    mf.toString
  }

  private def persistSnapshot(table: String, snap: Snapshot, parent: Option[Snapshot],
                              pointerFile: Option[Path]): Snapshot = {
    val parentManifests = parent.map(_.manifests).getOrElse(Nil)
    val byKey = snap.files.map(f => f.path -> f).toMap
    val reused = parentManifests.filter(p =>
      loadManifest(p).forall(e => byKey.get(e.path).contains(e)))
    val reusedPaths = reused.flatMap(loadManifest).map(_.path).toSet
    val remainder = snap.files.filterNot(f => reusedPaths.contains(f.path))
    val canonicalFiles = reused.flatMap(loadManifest) ++ remainder
    // amortized manifest merge: one O(files) rewrite every ManifestMergeCount
    // commits keeps the per-snapshot path list (and so the snapshot JSON)
    // bounded; old manifests stay on disk for the snapshots that still
    // reference them and expire with them
    val refs =
      if (reused.size >= ManifestMergeCount)
        Seq(writeManifest(table, snap.id, canonicalFiles))
      else reused ++ (if (remainder.isEmpty) Nil
        else Seq(writeManifest(table, snap.id, remainder)))
    val canonical = snap.copy(files = canonicalFiles, manifests = refs)
    Files.writeString(metaDir(table).resolve(s"snapshot-${snap.id}.json"),
      renderSnapshot(canonical))
    graft.Fs.writePointer(pointerFile.getOrElse(metaDir(table).resolve("CURRENT")),
      snap.id.toString)
    canonical
  }

  /** Optimistic-concurrency commit tail shared by data commits and
    * metadata-only commits (Iceberg's commit protocol): under the table's
    * commit lock, verify the table is still at `snap.parent`. If another
    * writer advanced it, `rebase` (when the operation is mechanically
    * rebasable — pure appends) recomputes the snapshot against the new
    * current (`None` = the commit turns out to be already applied, e.g. a
    * racing idempotent replay); otherwise the commit fails loudly with
    * [[CommitConflictException]] and the caller re-runs. `parent` is the
    * snapshot `snap` was built from (None for a first commit): the check
    * compares ids, and a snapshot is parsed only when the id moved (ids are
    * allocated fresh under the lock, so a snapshot file never changes). */
  private def commitSnapshot(table: String, parent: Option[Snapshot], snap: Snapshot,
                             rebase: Snapshot => Option[Snapshot] = null,
                             toBranch: Option[String] = None): Snapshot =
    withCommitLock(table) {
      // snapshot ids are allocated TABLE-GLOBALLY fresh under the lock:
      // while a branch is staged, parent+1 on either lineage could collide
      // with the other's existing snapshot file (main at 2 + staged 3 →
      // a main commit must take 4, not overwrite 3). The commit's NEW file
      // entries are stamped seq = snap.id by the builder, so they remap
      // with the id.
      def persistFresh(s: Snapshot, p: Option[Snapshot], pointer: Option[Path]): Snapshot = {
        val fresh = snapshots(table).lastOption.map(_ + 1L).getOrElse(0L)
        val out = if (fresh == s.id) s else s.copy(id = fresh,
          files = s.files.map(f => if (f.seq == s.id) f.copy(seq = fresh) else f),
          deletes = s.deletes.map(d => if (d.seq == s.id) d.copy(seq = fresh) else d))
        persistSnapshot(table, out, p, pointer)
      }
      toBranch match {
        case Some(b) =>
          // branch commits CAS the BRANCH pointer, never CURRENT; no
          // mechanical rebase — staging branches are single-writer,
          // conflicts are loud
          val headId = branchHead(table, b)
          if (headId != snap.parent) throw new CommitConflictException(
            s"branch $b of $table advanced to $headId while committing " +
              s"against ${snap.parent}; re-run")
          persistFresh(snap, parent, Some(branchesDir(table).resolve(b)))
        case None =>
          val curId = currentSnapshotId(table).getOrElse(-1L)
          if (curId == snap.parent) persistFresh(snap, parent, None)
          else if (rebase != null) {
            val cur = current(table)
            rebase(cur) match {
              case Some(s) => persistFresh(s, Some(cur), None)
              case None => cur
            }
          }
          else throw new CommitConflictException(
            s"$table advanced to snapshot $curId while committing against ${snap.parent}; re-run")
      }
    }

  /** Re-run `body` when a concurrent commit invalidated its snapshot read —
    * the optimistic-retry loop for metadata-only ops, whose whole
    * read-modify-write is cheap to redo. */
  private def retryOnConflict[T](attempts: Int = 5)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch { case e: CommitConflictException =>
        left -= 1; if (left == 0) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /**
   * Schema evolution (Iceberg's `ALTER TABLE ADD COLUMN`): a METADATA-ONLY
   * commit — a new snapshot with the same file list and the widened schema.
   * No data file is rewritten: old files simply lack the column, and the
   * read path (which applies the snapshot schema) backfills null. At 100 TB
   * this is the whole point — adding a column to a petabyte table must be
   * an O(1) pointer swap, never a rewrite. Time travel to a pre-evolution
   * snapshot reads the old schema (each snapshot pins its own).
   */
  def addColumn(table: String, name: String, sqlType: String): Snapshot = retryOnConflict() {
    val snap = current(table)
    val schema = snap.schema
    require(!schema.fieldNames.contains(name), s"column $name already exists")
    // The new column's default physical name is its logical name — but if
    // that physical name was EVER used by this table (current columns, or
    // a column since renamed/dropped whose bytes remain in retained data
    // files), reusing it would RESURRECT the old values instead of
    // null-backfilling. Mint a fresh physical name instead — the same
    // effect Iceberg gets from never reusing field IDs. The scan is
    // metadata-only (historical snapshot schemas, no file reads).
    val historicalPhysical = snapshots(table).flatMap(id =>
      snapshotAt(table, id).toSeq.flatMap(s => s.schema.fieldNames.map(s.physical))).toSet
    val widened = schema.add(name, sqlType, nullable = true)
    val newRenames =
      if (!historicalPhysical.contains(name)) snap.renames
      else {
        var v = snap.id + 1
        while (historicalPhysical.contains(s"${name}__v$v")) v += 1
        snap.renames + (name -> s"${name}__v$v")
      }
    // copy() so pending equality deletes and the commitId ledger survive a
    // schema-evolution commit (dropping them would resurrect MoR-deleted rows)
    commitSnapshot(table, Some(snap), snap.copy(id = snap.id + 1, parent = snap.id,
      schemaJson = widened.json, renames = newRenames))
  }

  /** Schema evolution: DROP COLUMN — a metadata-only commit (new snapshot,
    * same files, narrowed schema). Data files keep the bytes; the pinned
    * read schema simply stops projecting them, and time travel to a
    * pre-drop snapshot still sees the column. O(1) at any table size. */
  def dropColumn(table: String, name: String): Snapshot = retryOnConflict() {
    val snap = current(table)
    val schema = snap.schema
    require(schema.fieldNames.contains(name), s"no column $name")
    val narrowed = StructType(schema.fields.filterNot(_.name == name))
    require(narrowed.nonEmpty, "cannot drop the last column")
    require(snap.deletes.forall(d => !d.keys.contains(snap.physical(name))),
      s"column $name is a pending equality-delete key; compact first")
    require(!snap.spec.exists(_.source == name),
      s"column $name is a partition source; drop the partition field first")
    require(!snap.order.exists(_.cols.contains(name)),
      s"column $name is in the table's sort order; setSortOrder first")
    commitSnapshot(table, Some(snap), snap.copy(id = snap.id + 1, parent = snap.id,
      schemaJson = narrowed.json, renames = snap.renames - name))
  }

  /** Schema evolution: RENAME COLUMN — a metadata-only commit. Data files
    * keep the original (physical) column name; the snapshot records the
    * logical→physical mapping and the read path aliases it back — the
    * name-mapping equivalent of Iceberg's field-ID rename, O(1) at any
    * table size. Appends after the rename write the physical name, so the
    * table's files stay uniform. Time travel to a pre-rename snapshot sees
    * the old name. */
  def renameColumn(table: String, from: String, to: String): Snapshot = retryOnConflict() {
    val snap = current(table)
    val schema = snap.schema
    require(schema.fieldNames.contains(from), s"no column $from")
    require(!schema.fieldNames.contains(to), s"column $to already exists")
    val physicalName = snap.physical(from)
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    // the partition spec tracks the LOGICAL source name — it follows renames
    // (the hidden-partitioning contract: the layout never cares what the
    // column is called today)
    val renamedSpec = snap.spec.map(f =>
      if (f.source == from) f.copy(source = to) else f)
    // the sort order, like the spec, tracks LOGICAL names across renames
    val renamedOrder = snap.order.map(o =>
      o.copy(cols = o.cols.map(c => if (c == from) to else c)))
    commitSnapshot(table, Some(snap), snap.copy(id = snap.id + 1, parent = snap.id,
      schemaJson = renamed.json, renames = (snap.renames - from) + (to -> physicalName),
      spec = renamedSpec, order = renamedOrder))
  }

  /**
   * MERGE (upsert): rows of `updates` replace current rows sharing their
   * `keyCols` tuple; unmatched update rows are inserted — the ODC index
   * sink's natural table form (idempotent dataset upsert,
   * `utils/dataset_index_from_s3_bucket.py:41-131` — per-dataset, never
   * whole-index), Iceberg's copy-on-write MERGE strategy.
   *
   * FILE-TARGETED: only files whose manifest key min/max intersects the
   * update batch's key range are rewritten; every provably-disjoint file is
   * carried BY REFERENCE into the new snapshot (same path, same bytes). A
   * daily upsert of 0.1% of a 100 TB table therefore rewrites only the
   * files holding those keys, not the table — cost scales with touched
   * files (measured by `tools.MergeScale` at ab677c1, since deleted). Files
   * lacking key stats are conservatively rewritten; the rewrite commit
   * always collects stats for `keyCols`, so any table maintained by merge
   * becomes prunable even if its original appends never indexed the keys.
   *
   * One probe job over the (small) updates side computes BOTH the
   * duplicate-key refusal (duplicate keys in one batch make "upsert"
   * ambiguous) and the per-key-column ranges that drive the pruning — the
   * old separate duplicate-count action is folded in, so the check is free.
   * Re-issuing the SAME commitId (crash-retry) is a metadata-checked no-op;
   * time travel to the pre-merge snapshot is intact. Fact-table streams
   * still take append + anti-join (Checkpoint); [[mergeOnRead]] is the
   * write-cheap/read-cost variant of the same contract.
   */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            keyCols: Seq[String], statsCols: Seq[String], commitId: String): Snapshot = {
    if (alreadyCommitted(table, commitId)) return current(table)
    val snap = current(table)
    val schema = snap.schema
    val aligned = alignToSchema(updates, schema, table, "merge")
    val probeAggs = Seq(
      count(lit(1)).as("__n"),
      // struct() so tuples containing nulls still count as distinct values
      countDistinct(struct(keyCols.map(col): _*)).as("__nd")) ++
      keyCols.flatMap(c => Seq(min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c")))
    val pr = updates.agg(probeAggs.head, probeAggs.tail: _*).collect()(0)
    require(pr.getAs[Long]("__n") == pr.getAs[Long]("__nd"),
      s"merge updates contain duplicate ${keyCols.mkString(",")} keys")
    // the batch's key ranges as scan bounds: a file can hold a matched key
    // tuple only if EVERY key column's stored range overlaps the batch's
    // (numeric keys compare as numbers, others by their string form)
    val keyBounds = keyCols.foldLeft(Bounds()) { (b, c) =>
      (Option(pr.getAs[String](s"__min_$c")), Option(pr.getAs[String](s"__max_$c"))) match {
        case (Some(lo), Some(hi)) if schema.fields.find(_.name == c)
            .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) =>
          b.copy(num = b.num + (c -> (lo.toDouble, hi.toDouble)))
        case (Some(lo), Some(hi)) => b.copy(str = b.str + (c -> (Some(lo), Some(hi))))
        case _ => b // all-null key column in updates: no range to prune on
      }
    }
    val (touched, carried) = snap.files.partition(f => keyBounds.admits(f.min, f.max))
    val kept = readFiles(spark, snap, touched) // applies pending deletes
      .join(aligned.select(keyCols.map(col): _*), keyCols, "left_anti")
    writeData(kept.unionByName(aligned), table, commitId)
    commitWritten(spark, snap.schemaJson, table, (statsCols ++ keyCols).distinct,
      commitId, keepPrev = false, carryFiles = carried,
      // carried files were not rewritten, so deletes pending against them
      // must survive the commit; deletes with no carried target are dropped
      carryDeletes = snap.deletes.filter(d => carried.exists(_.seq < d.seq)),
      basedOn = Some(snap))
  }

  /**
   * MERGE-ON-READ upsert — the other half of Iceberg's upsert story (v2
   * equality deletes): the write is O(updates) regardless of table size.
   * The commit appends the update rows as ordinary data files AND an
   * equality-delete file of the batch's key tuples; no existing file is
   * touched. The read path ([[readFiles]]) anti-joins each data file group
   * against the delete files committed after it, so superseded rows vanish
   * at scan time. Cost model vs [[merge]] (CoW): MoR writes nothing it
   * doesn't have to but taxes every subsequent read with the anti-merge;
   * CoW pays the rewrite once and reads clean. [[compact]] applies all
   * pending deletes and resets the read path to clean scans. Same
   * duplicate-key refusal and commitId crash-retry idempotence as [[merge]];
   * time travel across delete commits shows each snapshot's own visible
   * row set.
   */
  def mergeOnRead(spark: SparkSession, table: String, updates: DataFrame,
                  keyCols: Seq[String], statsCols: Seq[String], commitId: String): Snapshot = {
    if (alreadyCommitted(table, commitId)) return current(table)
    val snap = current(table)
    val aligned = alignToSchema(updates, snap.schema, table, "mergeOnRead")
    val nDup = updates.agg(count(lit(1)).as("__n"),
      countDistinct(struct(keyCols.map(col): _*)).as("__nd")).collect()(0)
    require(nDup.getAs[Long]("__n") == nDup.getAs[Long]("__nd"),
      s"merge updates contain duplicate ${keyCols.mkString(",")} keys")
    // the delete file is written BEFORE the snapshot swap, so a crash
    // leaves it and the update rows unreferenced
    val del = writeDeletes(table, snap, updates, keyCols, commitId)
    writeData(aligned, table, commitId)
    commitWritten(spark, snap.schemaJson, table, (statsCols ++ keyCols).distinct,
      commitId, keepPrev = true, carryDeletes = Seq(del), basedOn = Some(snap))
  }

  /** Write the `keyCols` tuples of `keys` as the equality-delete file of
    * the commit after `snap`, under stable PHYSICAL column names. */
  private def writeDeletes(table: String, snap: Snapshot, keys: DataFrame,
                           keyCols: Seq[String], commitId: String): DeleteEntry = {
    val delDir = Paths.get(table, "deletes", commitId)
    toPhysical(keys.select(keyCols.map(col): _*), Some(snap))
      .coalesce(1).write.mode("overwrite").parquet(delDir.toString)
    val st = Files.list(delDir)
    val delFile = try st.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted.head
    finally st.close()
    DeleteEntry(delFile, snap.id + 1, keyCols.map(snap.physical))
  }

  /** Row-level DELETE (Iceberg's `DELETE FROM ... WHERE key IN ...`, the
    * equality-delete flavor): an O(keys) commit that writes ONLY a delete
    * file — no data rewritten, no rows replaced. Read-side semantics,
    * maintenance folding ([[compact]]/[[maintain]]), [[rowCount]] refusal,
    * and time travel are exactly [[mergeOnRead]]'s, minus the update rows.
    * `keys` must match the key columns' pinned types (a silently-cast key
    * would delete nothing); crash-retry idempotent by commitId. */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame,
                 keyCols: Seq[String], commitId: String): Snapshot = retryOnConflict() {
    if (alreadyCommitted(table, commitId)) current(table)
    else {
      val snap = current(table)
      val schema = snap.schema
      require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
        s"delete keys ${keyCols.mkString(",")} not all in $table's schema")
      val sel = keys.select(keyCols.map(col): _*)
      val want = keyCols.map(c => c -> schema(c).dataType.catalogString).toMap
      val got = sel.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
      require(got == want,
        s"deleteKeys type mismatch for $table: table has ${want.toSeq.sorted
          .mkString(", ")} but the batch has ${got.toSeq.sorted.mkString(", ")}")
      commitSnapshot(table, Some(snap), snap.copy(id = snap.id + 1, parent = snap.id,
        deletes = snap.deletes :+ writeDeletes(table, snap, sel.distinct(), keyCols, commitId),
        commitIds = snap.commitIds + commitId))
    }
  }

  /** Cherry-pick (Iceberg's `cherrypick_snapshot`): apply ONE staged
    * snapshot's append delta onto the CURRENT snapshot — the
    * single-increment publish that still works after main has advanced,
    * where [[fastForward]] (whole-branch publish) refuses. The staged
    * snapshot must be a pure append relative to its parent (the only shape
    * [[appendToBranch]] produces); its delta files are adopted BY REFERENCE
    * (no data copied), restamped into main's lineage, and its commitId
    * joins main's ledger — so a re-pick of the same increment is an
    * idempotent no-op. The pick itself advances main, so the BRANCH can no
    * longer fast-forward; publish its remaining increments by further picks
    * (oldest first) or re-stage. Schema and partition spec must not have
    * diverged (the files' layout is the staged lineage's). */
  def cherryPick(spark: SparkSession, table: String, stagedId: Long): Snapshot =
    retryOnConflict() {
      val s = requireSnapshot(table, stagedId)
      val p = retained(table, s.parent, "cannot verify the staged delta")
      val delta = appendDelta(s, p).getOrElse(throw new IllegalArgumentException(
        s"snapshot $stagedId of $table is not a pure append over its parent - " +
          "only append increments can be cherry-picked"))
      val cids = s.commitIds -- p.commitIds
      require(cids.size == 1,
        s"snapshot $stagedId of $table added ${cids.size} commitIds (expected 1)")
      val cid = cids.head
      val cur = current(table)
      if (cur.commitIds.contains(cid)) cur // already picked (or fast-forwarded)
      else {
        require(cur.schemaJson == s.schemaJson && cur.spec == s.spec
            && cur.renames == s.renames,
          s"$table's schema/spec/renames diverged from the staged lineage; " +
            "re-stage against the current snapshot instead")
        commitSnapshot(table, Some(cur), Snapshot(cur.id + 1, cur.id, cur.schemaJson,
          cur.files ++ delta.map(_.copy(seq = cur.id + 1)), cur.renames,
          cur.deletes, cur.commitIds + cid, cur.spec, cur.order))
      }
    }

  /** When to fold pending merge-on-read state back into clean data files.
    * Every stacked equality-delete commit taxes subsequent reads with one
    * more broadcast anti-join per older file group ([[readFiles]]); the
    * `tools.MorScale` probe (at ab677c1, since deleted) measured the
    * degradation curve. Thresholds are in pending delete FILES and BYTES —
    * the two quantities that grow with unmaintained upsert streams. */
  case class MaintenancePolicy(maxPendingDeleteFiles: Int = 8,
                               maxPendingDeleteBytes: Long = 64L << 20,
                               sortBy: Seq[String] = Nil,
                               keepSnapshots: Option[Int] = None,
                               orphansOlderThanMillis: Option[Long] = None)

  /** What one [[maintain]] tick did (None/0 where a leg didn't trigger). */
  case class MaintenanceReport(compacted: Option[Snapshot],
                               expiredSnapshots: Seq[Long], expiredFiles: Int,
                               orphansDeleted: Int, orphanBytes: Long)

  /** (count, total bytes) of the current snapshot's pending equality-delete
    * files — the read-path debt [[maintain]] bounds. */
  def pendingDeletes(table: String): (Int, Long) =
    readSnapshot(table).map { s =>
      val bytes = s.deletes.map { d =>
        val p = Paths.get(d.path.stripPrefix("file:"))
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum
      (s.deletes.size, bytes)
    }.getOrElse((0, 0L))

  /**
   * Auto-maintenance (the scheduled-job form of Iceberg's maintenance
   * actions, all behind one policy): (1) if the table's pending
   * merge-on-read deletes exceed the policy, [[compact]] — applying every
   * pending delete and resetting reads to clean scans; (2) if
   * `keepSnapshots` is set, [[expireSnapshots]] down to that window
   * (consumer retention floor still applies); (3) if
   * `orphansOlderThanMillis` is set, [[removeOrphanFiles]] older than it.
   * Called after each upsert batch (or on a schedule), this bounds read
   * degradation at the policy knee AND storage at the retention window,
   * regardless of how many commits a stream stacks. Each leg is idempotent,
   * so a crash mid-tick re-runs safely.
   */
  def maintain(spark: SparkSession, table: String, statsCols: Seq[String],
               commitId: String,
               policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val (nDel, bytes) = pendingDeletes(table)
    val compacted =
      if (nDel > policy.maxPendingDeleteFiles || bytes > policy.maxPendingDeleteBytes)
        Some(compact(spark, table, statsCols, commitId, sortBy = policy.sortBy))
      else None
    val (expIds, expFiles) = policy.keepSnapshots
      .map(expireSnapshots(table, _)).getOrElse((Nil, 0))
    val (orphN, orphB) = policy.orphansOlderThanMillis
      .map(removeOrphanFiles(table, _)).getOrElse((0, 0L))
    MaintenanceReport(compacted, expIds, expFiles, orphN, orphB)
  }

  /** INSERT OVERWRITE: replace the table's entire content with `df` as one
    * replacing commit (history still time-travels until expired). The
    * re-baseline landing step for a follower whose incremental range was
    * expired ([[graft.streaming.Streams.drainTableIncrement]]). */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
                statsCols: Seq[String], commitId: String): Snapshot = {
    writeData(df, table, commitId)
    commitWritten(spark, df.schema.json, table, statsCols, commitId, keepPrev = false)
  }

  // --- registered consumers (retention floor) ----------------------------

  private def consumersDir(table: String): Path = metaDir(table).resolve("consumers")

  /** Register (or advance) a named follower's consumed position. A consumer
    * at position `snapshotId` needs snapshots ≥ that id to stay readable for
    * its next incremental tick — [[expireSnapshots]] refuses to expire past
    * the minimum registered position, so a slow follower can never be
    * stranded by retention (Iceberg's own expire/streaming-read hazard,
    * closed here by making the consumer set part of table metadata). */
  def registerConsumer(table: String, name: String, snapshotId: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad consumer name $name")
    graft.Fs.writePointer(consumersDir(table).resolve(name), snapshotId.toString)
  }

  /** Registered followers and their consumed positions. */
  def consumers(table: String): Map[String, Long] = graft.Fs.readPointers(consumersDir(table))

  /** Drop a follower from the retention floor (it no longer pins history). */
  def deregisterConsumer(table: String, name: String): Unit =
    Files.deleteIfExists(consumersDir(table).resolve(name))

  // --- named tags (pinned time travel) ------------------------------------

  private def tagsDir(table: String): Path = metaDir(table).resolve("tags")

  /** Name a snapshot (Iceberg's tag refs): `readTag` resolves the name and
    * [[expireSnapshots]] pins the tagged snapshot exactly — unlike a
    * consumer's FLOOR, a tag protects only its own snapshot, so tagging a
    * monthly release never blocks the history between releases from
    * expiring. Re-tagging an existing name moves it (atomic replace). */
  def setTag(table: String, name: String, snapshotId: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad tag name $name")
    require(snapshotAt(table, snapshotId).isDefined,
      s"no snapshot $snapshotId in $table to tag")
    graft.Fs.writePointer(tagsDir(table).resolve(name), snapshotId.toString)
  }

  /** All tags and the snapshot ids they pin. */
  def tags(table: String): Map[String, Long] = graft.Fs.readPointers(tagsDir(table))

  /** Drop a tag; its snapshot becomes expirable again. */
  def dropTag(table: String, name: String): Unit =
    Files.deleteIfExists(tagsDir(table).resolve(name))

  /** Time travel by name: [[readAt]] of the tagged snapshot. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    readAt(spark, table, tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"no tag $name in $table")))

  // --- branches (write-audit-publish) -------------------------------------

  private def branchesDir(table: String): Path = metaDir(table).resolve("branches")

  /** Fork a writable branch at `fromId` (default: the current snapshot) —
    * Iceberg branch refs, here as the write-audit-publish primitive: stage
    * commits on the branch with [[appendToBranch]], audit them with
    * [[readBranch]] (or any validation over it), then publish atomically
    * with [[fastForward]]. Main readers never see staged data; an abandoned
    * branch is just [[dropBranch]] + the orphan sweep. Branch heads pin
    * their snapshot against [[expireSnapshots]] like tags do. */
  def createBranch(table: String, name: String, fromId: Long = -1L): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad branch name $name")
    val id = if (fromId >= 0L) fromId else current(table).id
    require(snapshotAt(table, id).isDefined, s"no snapshot $id in $table to branch from")
    require(!branches(table).contains(name), s"branch $name already exists in $table")
    graft.Fs.writePointer(branchesDir(table).resolve(name), id.toString)
  }

  /** All branches and their head snapshot ids. */
  def branches(table: String): Map[String, Long] = graft.Fs.readPointers(branchesDir(table))

  /** Abandon a branch; its staged snapshots stop being pinned (retention
    * and the orphan sweep reclaim them on their own schedules). */
  def dropBranch(table: String, name: String): Unit =
    Files.deleteIfExists(branchesDir(table).resolve(name))

  /** The audit read: the branch head's full state (fork-point data plus
    * everything staged since). */
  def readBranch(spark: SparkSession, table: String, name: String): DataFrame =
    readAt(spark, table, branchHead(table, name))

  /** Branch `name`'s head snapshot id. */
  private def branchHead(table: String, name: String): Long =
    branches(table).getOrElse(name,
      throw new IllegalArgumentException(s"no branch $name in $table"))

  /** [[append]] onto a branch: same schema check, layout (the branch
    * lineage's spec + declared SortOrder), stats, and commit protocol, but
    * the snapshot's parent is the BRANCH head and the commit CASes the
    * branch pointer — CURRENT (what main readers see) never moves. Staged
    * snapshot ids are allocated table-globally under the commit lock, so
    * concurrent main commits can never collide with staged ones. Branches
    * are single-writer staging areas: a concurrent branch advance conflicts
    * loudly (no mechanical rebase), and a reused commitId is refused
    * against the branch lineage's ledger. */
  def appendToBranch(spark: SparkSession, df: DataFrame, table: String,
                     branch: String, statsCols: Seq[String],
                     commitId: String): Snapshot = {
    val head = retained(table, branchHead(table, branch), s"head of branch $branch")
    require(!ledgerOf(table, head).contains(commitId),
      s"commitId $commitId already committed on $table's $branch lineage")
    val aligned = alignToSchema(df, head.schema, table, s"appendToBranch($branch)")
    writeDataSpec(aligned, table, commitId, snapOverride = Some(head))
    commitWritten(spark, head.schemaJson, table, statsCols, commitId,
      basedOn = Some(head), toBranch = Some(branch))
  }

  /** Publish: atomically move CURRENT to the branch head. Legal only while
    * the current snapshot is still an ancestor of the head (nothing
    * published since the fork) — otherwise the swap would silently drop
    * main's newer commits, so it conflicts loudly and the caller re-stages.
    * The branch pointer survives (drop it when done); re-running after
    * success is a no-op swap to the same id. */
  def fastForward(table: String, branch: String): Snapshot = withCommitLock(table) {
    val head = retained(table, branchHead(table, branch), s"head of branch $branch")
    val cur = current(table)
    if (!ancestry(table, head, Some(s"branch $branch lineage unverifiable")).exists(_.id == cur.id))
      throw new CommitConflictException(
        s"$table advanced past branch $branch's fork point (current ${cur.id} " +
          s"not on the branch lineage); re-stage against the new current and re-run")
    graft.Fs.writePointer(metaDir(table).resolve("CURRENT"), head.id.toString)
    head
  }

  /** Exact row count from manifest metadata alone — zero files opened, the
    * `SELECT count(*)` short-circuit every table format's snapshot summary
    * exists for. `None` when pending equality deletes ([[mergeOnRead]])
    * make the per-file counts an overcount; [[compact]] (or any
    * [[maintain]] tick that triggers it) restores the fast path. */
  def rowCount(table: String): Option[Long] = {
    val snap = current(table)
    if (snap.deletes.nonEmpty) None else Some(snap.files.map(_.rows).sum)
  }

  /**
   * Snapshot retention (Iceberg's `expire_snapshots`): drop all but the
   * newest `keepLast` snapshots of the CURRENT lineage and DELETE every
   * data/delete file referenced only by the expired ones. This is the
   * bound on the time-travel window —
   * without it a 100 TB table's storage grows with every replacing commit
   * forever (compaction/merge keep old files alive purely for history).
   * Expired snapshot ids stop time-traveling; kept ones are untouched.
   * Registered consumers ([[registerConsumer]]) raise a retention floor:
   * snapshots at or above the minimum registered position are NEVER
   * expired, so a follower's next [[readIncremental]] stays readable.
   * Tagged snapshots ([[setTag]]) are pinned individually — a tag keeps
   * exactly its snapshot (and, through the reference set, its files) while
   * untagged history around it still expires. Live branches pin their FULL
   * lineage (staged snapshots plus the history [[fastForward]]'s ancestor
   * walk crosses); a dropped branch's snapshots become unreachable and
   * expire on the next pass whatever their ids.
   * Idempotent and crash-safe: a crash mid-delete leaves orphaned files
   * that nothing references, and a re-run re-reaps them. Returns
   * (expired snapshot ids, deleted file count).
   */
  def expireSnapshots(table: String, keepLast: Int): (Seq[Long], Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = snapshots(table)
    val floor = consumers(table).values.minOption
    // retention stops at the first expired ancestor
    def lineage(from: Long): Set[Long] =
      snapshotAt(table, from).iterator.flatMap(ancestry(table, _)).map(_.id).toSet
    // Retention is REACHABILITY-based, not id-window-based: keep the newest
    // keepLast snapshots OF THE CURRENT LINEAGE, every tagged snapshot, and
    // every live branch's full lineage (fastForward's ancestor walk needs
    // it). An ABANDONED branch's snapshots are expirable whatever their
    // ids — a plain "keep the newest N ids" would let a dropped branch's
    // high ids occupy the keep window forever and could even expire the
    // CURRENT snapshot itself (dangling pointer). On linear histories this
    // is exactly the old keep-last-N behavior.
    val curKeep = currentSnapshotId(table)
      .map(c => lineage(c).toSeq.sorted.takeRight(keepLast).toSet)
      .getOrElse(Set.empty[Long])
    val keepSet = curKeep ++ tags(table).values ++
      branches(table).values.flatMap(lineage)
    val expired = all.filterNot(keepSet.contains).filter(id => floor.forall(id < _))
    val kept = all.filterNot(expired.contains)
    if (expired.isEmpty) return (Nil, 0)
    val keptSnaps = kept.flatMap(snapshotAt(table, _))
    val referenced = keptSnaps.flatMap(referencedPaths).toSet
    // normalize: manifest paths may carry a file: scheme prefix
    def toFsPath(p: String) = Paths.get(p.stripPrefix("file:"))
    val candidates = expired.flatMap(snapshotAt(table, _)).flatMap(referencedPaths).distinct
      .filterNot(referenced.contains)
    var deleted = 0
    candidates.foreach { p =>
      if (Files.deleteIfExists(toFsPath(p))) deleted += 1
    }
    // prune commit dirs left with only write residue (_SUCCESS, .crc):
    // once no .parquet remains, nothing kept can reference the dir
    candidates.map(p => toFsPath(p).getParent).distinct.foreach { d =>
      try if (d != null && Files.exists(d)) {
        val st = Files.list(d)
        val hasData = try st.iterator().asScala.exists(_.toString.endsWith(".parquet"))
                      finally st.close()
        if (!hasData) graft.Fs.deleteRecursively(d)
      } catch { case _: java.io.IOException => () }
    }
    // manifests referenced only by expired snapshots go with them
    val keptManifests = keptSnaps.flatMap(_.manifests).toSet
    expired.flatMap(snapshotAt(table, _)).flatMap(_.manifests).distinct
      .filterNot(keptManifests.contains)
      .foreach(p => Files.deleteIfExists(Paths.get(p)))
    expired.foreach(id => Files.deleteIfExists(metaDir(table).resolve(s"snapshot-$id.json")))
    (expired, deleted)
  }

  /**
   * Orphan-file cleanup (Iceberg's `remove_orphan_files`) — the third leg
   * of the maintenance triad next to [[compact]] and [[expireSnapshots]].
   * The commit protocol writes data/delete files FIRST and swaps the
   * snapshot pointer LAST, so a crash between the two (or an optimistic-
   * concurrency retry that re-wrote under a new layout) strands files no
   * snapshot references — invisible to [[expireSnapshots]], which only
   * reaps files the EXPIRED snapshots referenced. This walks `data/`,
   * `deletes/`, and `blooms/`, deletes every file absent from ALL retained
   * snapshots' manifests, and prunes directories left empty.
   *
   * `olderThanMillis` is the concurrent-writer guard (Iceberg defaults to
   * 3 days): a writer that has written its files but not yet committed its
   * snapshot looks exactly like crash residue, so only files whose mtime is
   * older than `now - olderThanMillis` are eligible. Pass 0 only when no
   * other writer can be in flight (tests, single-writer maintenance
   * windows). Write residue (`_SUCCESS`, `.crc`) is kept wherever the
   * directory still holds referenced parquet and reaped with the directory
   * otherwise. Idempotent: a re-run finds nothing. Returns
   * (files deleted, bytes reclaimed).
   */
  def removeOrphanFiles(table: String,
                        olderThanMillis: Long = 3L * 24 * 3600 * 1000,
                        nowMillis: Long = System.currentTimeMillis): (Int, Long) = {
    val referenced = snapshots(table).flatMap(snapshotAt(table, _)).flatMap(referencedPaths)
      .map(p => Paths.get(p.stripPrefix("file:")).toAbsolutePath.normalize).toSet
    val cutoff = nowMillis - olderThanMillis
    var deleted = 0
    var bytes = 0L
    Seq("data", "deletes", "blooms").map(Paths.get(table, _)).filter(Files.exists(_)).foreach { root =>
      val st = Files.walk(root)
      val all = try st.iterator().asScala.toVector finally st.close()
      val (dirs, files) = all.partition(Files.isDirectory(_))
      val survivors = scala.collection.mutable.Set.empty[Path] // dirs still holding data
      files.foreach { f =>
        val abs = f.toAbsolutePath.normalize
        val isData = abs.toString.endsWith(".parquet") || abs.toString.endsWith(".bloom")
        val orphan = isData && !referenced.contains(abs) &&
          Files.getLastModifiedTime(f).toMillis < cutoff
        if (orphan) {
          bytes += Files.size(f); Files.delete(f); deleted += 1
        } else if (isData) survivors += abs.getParent
      }
      // residue and empty dirs: deepest-first, keep any dir (or ancestor of
      // one) that still holds referenced data
      def keeps(d: Path): Boolean = survivors.exists(_.startsWith(d.toAbsolutePath.normalize))
      dirs.sortBy(-_.getNameCount).filterNot(_ == root).foreach { d =>
        if (Files.exists(d) && !keeps(d)) {
          val ls = Files.list(d)
          val residueOnly = try ls.iterator().asScala.forall { c =>
            val n = c.getFileName.toString
            !Files.isDirectory(c) && (n == "_SUCCESS" || n.endsWith(".crc")) &&
              Files.getLastModifiedTime(c).toMillis < cutoff
          } finally ls.close()
          if (residueOnly) graft.Fs.deleteRecursively(d)
        }
      }
    }
    // stranded manifests: written before a CURRENT swap that never happened
    // (crash, lost commit race) — referenced by no snapshot, same age guard
    val keptManifests = snapshots(table).flatMap(snapshotAt(table, _))
      .flatMap(_.manifests).map(p => Paths.get(p).toAbsolutePath.normalize).toSet
    val md = metaDir(table)
    if (Files.exists(md)) {
      val st = Files.list(md)
      val manifests = try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("manifest-")).toVector
      finally st.close()
      manifests.foreach { m =>
        if (!keptManifests.contains(m.toAbsolutePath.normalize) &&
            Files.getLastModifiedTime(m).toMillis < cutoff) {
          bytes += Files.size(m); Files.delete(m); deleted += 1
        }
      }
    }
    (deleted, bytes)
  }

  /** Every data, delete and Bloom sidecar file `s` references — what
    * retention and the orphan sweep must keep while `s` is retained. */
  private def referencedPaths(s: Snapshot): Seq[String] =
    s.files.map(_.path) ++ s.deletes.map(_.path) ++ s.files.flatMap(_.bloom.values)

  /** Rollback (Iceberg's `rollback_to_snapshot`): a METADATA-ONLY commit
    * that restores the table to snapshot `id`'s exact state (files, schema,
    * renames, pending deletes) under a NEW snapshot id — history is never
    * rewritten, so the rolled-back-over snapshots still time-travel and a
    * second rollback can restore them. O(1) at any table size. `id` may be
    * ANY retained snapshot — Iceberg's `set_current_snapshot` semantics —
    * including a tagged restore point whose intermediate lineage has
    * expired, or (explicitly, as an admin override) a staged branch
    * snapshot; the guarded publish path for branches is [[fastForward]]. */
  def rollbackTo(table: String, id: Long): Snapshot = retryOnConflict() {
    val target = requireSnapshot(table, id)
    val curSnap = current(table)
    // ledger is the union: the rolled-back-over commits WERE committed, and
    // a crash-retry of one of them after the rollback must stay a no-op
    commitSnapshot(table, Some(curSnap), target.copy(id = curSnap.id + 1, parent = curSnap.id,
      commitIds = curSnap.commitIds ++ target.commitIds))
  }

  /** The file selection of every pruned read: a file survives iff its
    * partition values can satisfy `part` ([[partitionPrune]]; evaluated
    * first, each value the degenerate range [v, v]) and its manifest
    * min/max can satisfy `b`. [[merge]]'s file targeting is the same
    * [[Bounds.admits]] test on the batch's key ranges. */
  private def surviving(files: Seq[FileEntry], b: Bounds,
                        part: Bounds = Bounds()): Seq[FileEntry] =
    files.filter(f => part.admits(f.partition, f.partition) && b.admits(f.min, f.max))

  /** Read the current snapshot, pruning files against manifest min/max:
    * `prune` takes numeric ranges, `pruneStr` lexicographic string ranges
    * (a point lookup is `(v, v)` — e.g. a band-name filter against a
    * nested-span stats entry). A file is skipped iff its recorded range
    * PROVABLY misses; files without the stat are conservatively kept. */
  def read(spark: SparkSession, table: String,
           prune: Map[String, (Double, Double)] = Map.empty,
           pruneStr: Map[String, (String, String)] = Map.empty): DataFrame = {
    val snap = current(table)
    readFiles(spark, snap, surviving(snap.files, Bounds.closed(prune, pruneStr)))
  }

  /**
   * Filter-pushdown read (what a DataSourceV2 `SupportsPushDownFilters`
   * would hand the scan): extract conjunctive range constraints on
   * top-level columns from `predicate`, prune the snapshot's files against
   * the manifest min/max BEFORE the scan, then apply the full predicate to
   * the surviving rows. The manifest is the coarse layer ABOVE parquet's
   * own row-group skipping — at 100 TB it is the difference between
   * opening every file and opening only candidates. Anything not
   * expressible as a per-column bound (OR trees, UDFs, multi-column
   * expressions) simply contributes no pruning — results are always the
   * plain `read(...).where(predicate)`.
   */
  def readWhere(spark: SparkSession, table: String, predicate: Column): DataFrame = {
    val snap = current(table)
    readPruned(spark, snap, snap.files, predicate)
  }

  /** [[readWhere]] at a retained historical snapshot — pruned time travel
    * (a tagged release + an AOI/key predicate opens only that release's
    * matching files). The snapshot's own manifest stats, partition values,
    * and Bloom sidecars drive the pruning, so a historical read scales the
    * same way a current one does. */
  def readWhereAt(spark: SparkSession, table: String, id: Long,
                  predicate: Column): DataFrame = {
    val snap = requireSnapshot(table, id)
    readPruned(spark, snap, snap.files, predicate)
  }

  /** Prune-then-filter: `files` (of `snap`) through partition values,
    * manifest min/max and Bloom sidecars, then the full predicate on the
    * surviving rows. */
  private def readPruned(spark: SparkSession, snap: Snapshot, files: Seq[FileEntry],
                         predicate: Column): DataFrame = {
    val b = extractBounds(spark, snap, predicate)
    val kept = surviving(files, b, partitionPrune(snap, b)).filter(bloomKeeps(snap, _, b))
    readFiles(spark, snap, kept).where(predicate)
  }

  /** Sidecar byte cache for [[bloomKeeps]] — filters are immutable once
    * written, so staleness is impossible; crude size bound only. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  /** Bloom probe for one file against the predicate's equality points: the
    * file survives unless SOME conjunct's whole value set provably misses
    * its filter. Missing sidecars, unprobeable types, and lossy literal
    * casts all conservatively keep the file — the residual predicate runs
    * regardless, so this can only skip work, never rows. */
  private def bloomKeeps(snap: Snapshot, f: FileEntry, b: Bounds): Boolean = {
    if (f.bloom.isEmpty || b.points.isEmpty) return true
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val schema = snap.schema
    def filterBytes(path: String): Option[Array[Byte]] =
      Option(bloomCache.computeIfAbsent(path, { p =>
        try {
          if (bloomCache.size > 512) bloomCache.clear()
          Files.readAllBytes(Paths.get(p.stripPrefix("file:")))
        } catch { case _: java.io.IOException => null } // keep conservatively
      }))
    // a point contributes a definite hash only if the literal converts to
    // the column's stored type LOSSLESSLY (the analyzer may have widened the
    // column side: intCol = 5L arrives as a LongType literal)
    def hashOf(v: Any, vt: DataType, ct: DataType): Option[Long] =
      if (vt == ct) Some(Bloom.hashLiteral(v, ct))
      else if (Cast.canCast(vt, ct) && Cast.canCast(ct, vt)) {
        val down = Cast(Literal.create(v, vt), ct).eval(null)
        val back = if (down == null) null else Cast(Literal.create(down, ct), vt).eval(null)
        if (down != null && back == v) Some(Bloom.hashLiteral(down, ct)) else None
      } else None
    b.points.forall { case (c, conjuncts) =>
      (f.bloom.get(c), schema.fields.find(_.name == c).map(_.dataType)) match {
        case (Some(path), Some(ct)) => filterBytes(path).forall { bytes =>
          conjuncts.forall(set => set.exists {
            case (v, vt) => hashOf(v, vt, ct).forall(Bloom.mightContain(bytes, _))
          })
        }
        case _ => true // no filter for this column (or unknown type): keep
      }
    }
  }

  /**
   * Map the predicate's per-SOURCE-column bounds ([[extractBounds]]) through
   * the table's partition spec into bounds on partition FIELDS, which
   * [[surviving]] checks against each file's exact partition values — the
   * layer Iceberg evaluates before any column stats (a file without a value
   * for a field, from a pre-spec commit or a null partition, is kept). Each
   * transform maps bounds conservatively: identity passes them through,
   * `bucket[N]` maps equality points/IN-lists to their murmur3 bucket,
   * `truncate[W]` floors numeric bounds (truncation is monotone), and
   * `year`/`month`/`day` take the ISO-string prefix (also monotone). Value
   * sets on numeric identity fields collapse to their envelope here — the
   * stats layer still exploits the gaps per file. `cell[]` fields contribute
   * nothing (spatial pruning is [[readAoi]]'s cover-range check).
   */
  private[table] def partitionPrune(snap: Snapshot, b: Bounds): Bounds = {
    import org.apache.spark.sql.types._
    if (snap.spec.isEmpty) return Bounds()
    val schema = snap.schema
    var in = Map.empty[String, Set[String]]
    var rn = Map.empty[String, (Double, Double)]
    var rs = Map.empty[String, (Option[String], Option[String])]
    snap.spec.foreach { f =>
      val srcT = schema.fields.find(_.name == f.source).map(_.dataType)
      f.transform match {
        case "identity" =>
          b.num.get(f.source).foreach(r => rn += f.name -> r)
          b.inNum.get(f.source).filter(_.nonEmpty)
            .foreach(vs => rn += f.name -> (vs.min, vs.max))
          if (srcT.contains(StringType) || srcT.contains(DateType)) {
            // timestamp partition values are URL-escaped in paths (colons)
            // — no lexicographic guarantee, so only strings/dates prune here
            b.str.get(f.source).foreach(r => rs += f.name -> r)
            b.inStr.get(f.source).foreach(vs => in += f.name -> vs.toSet)
          }
        case BucketT(n) =>
          val pts: Seq[Any] = srcT match {
            case Some(LongType) =>
              b.num.get(f.source).collect { case (lo, hi) if lo == hi && lo.isWhole => Seq(lo.toLong) }
                .getOrElse(b.inNum.getOrElse(f.source, Nil).filter(_.isWhole).map(_.toLong))
            case Some(IntegerType) =>
              b.num.get(f.source).collect { case (lo, hi) if lo == hi && lo.isWhole => Seq(lo.toInt) }
                .getOrElse(b.inNum.getOrElse(f.source, Nil).filter(_.isWhole).map(_.toInt))
            case Some(StringType) =>
              b.str.get(f.source).collect { case (Some(lo), Some(hi)) if lo == hi => Seq(lo) }
                .getOrElse(b.inStr.getOrElse(f.source, Nil))
            case _ => Nil
          }
          if (pts.nonEmpty)
            in += f.name -> pts.map(v => bucketOf(v, srcT.get, n.toInt).toString).toSet
        case TruncateT(w) => srcT match {
          case Some(_: NumericType) => b.num.get(f.source).foreach { case (lo, hi) =>
            def tr(x: Double) =
              if (x.isInfinite) x else math.floor(x / w.toInt) * w.toInt
            rn += f.name -> (tr(lo), tr(hi))
          }
          case Some(StringType) => b.str.get(f.source).foreach { case (lo, hi) =>
            rs += f.name -> (lo.map(_.take(w.toInt)), hi.map(_.take(w.toInt)))
          }
          case _ => ()
        }
        case "year" => b.str.get(f.source).foreach { case (lo, hi) =>
          rs += f.name -> (lo.map(_.take(4)), hi.map(_.take(4))) }
        case "month" => b.str.get(f.source).foreach { case (lo, hi) =>
          rs += f.name -> (lo.map(_.take(7)), hi.map(_.take(7))) }
        case "day" => b.str.get(f.source).foreach { case (lo, hi) =>
          rs += f.name -> (lo.map(_.take(10)), hi.map(_.take(10))) }
        case _ => ()
      }
    }
    Bounds(rn, rs, inStr = in.map { case (n, vs) => n -> vs.toSeq })
  }

  /** The bucket a literal lands in — the same murmur3 (seed 42) + pmod the
    * spec-aware write's `pmod(hash(col), N)` computes, evaluated on the
    * driver via the identical Catalyst expressions. */
  private def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(Literal.create(v, dt))), Literal(n))
      .eval(null).asInstanceOf[Int]
  }

  /**
   * AOI-scoped read of a `cell[R]`-partitioned table: candidate cells =
   * the AOI's cover at R; a file survives iff its auto-collected
   * `cover_<field>` range ([[commitWritten]]) can contain a candidate —
   * partition-grouped files carry tight cover ranges, so an AOI read opens
   * only the partitions the AOI touches, under full snapshot isolation.
   * Exactness does not depend on the pruning: footprints spanning several
   * cells are stored once (min cell) but their file's cover range includes
   * every spanned cell, and the residual `st_intersects` filter runs on all
   * surviving rows. Files without cover stats are conservatively kept.
   *
   * The cover-range check stays outside [[surviving]] on purpose: it
   * compares cell ids as exact longs, while [[Bounds.admits]] compares
   * numeric stats as doubles. A cell id carries its resolution above bit
   * 58, so every id is ≥ 2^58, where adjacent doubles are 64 apart —
   * routing the check through `Bounds` would change which files open.
   */
  def readAoi(spark: SparkSession, table: String, aoiWkt: String): DataFrame = {
    val snap = current(table)
    val (f, res) = snap.spec.collectFirst {
      case pf @ PartitionField(_, _, CellT(r)) => (pf, r.toInt)
    }.getOrElse(throw new IllegalArgumentException(
      s"$table has no cell[] partition field"))
    val cells = graft.geom.Geo.cellCoverWkt(aoiWkt, res).sorted
    val statName = s"cover_${f.name}"
    val files = snap.files.filter { fe =>
      (fe.min.get(statName), fe.max.get(statName)) match {
        case (Some(mn), Some(mx)) if mn != "null" && mx != "null" =>
          val lo = mn.toLong; val hi = mx.toLong
          var i = java.util.Arrays.binarySearch(cells, lo)
          if (i < 0) i = -i - 1
          i < cells.length && cells(i) <= hi
        case _ => true
      }
    }
    readFiles(spark, snap, files)
      .where(graft.plans.SpatialColumns.stIntersects(lit(aoiWkt), col(f.source)))
  }

  /** `points` carries the RAW typed equality constraints (each inner Seq is
    * one `= v` / `IN (…)` conjunct's value set, kept exact for [[Bloom]]
    * membership probes — the num/str views above collapse types to the
    * stats domain, which is fine for ranges but loses the bits hashing
    * needs). */
  private[table] case class Bounds(num: Map[String, (Double, Double)] = Map.empty,
                                   str: Map[String, (Option[String], Option[String])] = Map.empty,
                                   inNum: Map[String, Seq[Double]] = Map.empty,
                                   inStr: Map[String, Seq[String]] = Map.empty,
                                   points: Map[String, Seq[Seq[(Any, org.apache.spark.sql.types.DataType)]]] = Map.empty) {
    /** The min/max overlap test: can a file whose recorded per-column
      * ranges are `min`/`max` hold a row inside these bounds? False only
      * when a range PROVABLY misses; a missing stat or an all-null file is
      * conservatively kept. One-sided string bounds are sound on their own:
      * max < lo (or min > hi) proves every row misses, whatever the other
      * side. */
    def admits(min: Map[String, String], max: Map[String, String]): Boolean = {
      def stats(c: String): Option[(String, String)] =
        (min.get(c), max.get(c)) match {
          case (Some(mn), Some(mx)) if mn != "null" && mx != "null" => Some((mn, mx))
          case _ => None
        }
      num.forall { case (c, (lo, hi)) =>
        stats(c).forall { case (mn, mx) => !(mx.toDouble < lo || mn.toDouble > hi) }
      } && str.forall { case (c, (lo, hi)) =>
        stats(c).forall { case (mn, mx) => !(lo.exists(mx < _) || hi.exists(mn > _)) }
      } && inNum.forall { case (c, vs) =>
        // IN-list: kept iff ANY candidate value can be in the file's range —
        // tighter than collapsing the set to its [min,max] envelope when the
        // set has gaps spanning whole files
        stats(c).forall { case (mn, mx) =>
          val (lo, hi) = (mn.toDouble, mx.toDouble); vs.exists(v => v >= lo && v <= hi)
        }
      } && inStr.forall { case (c, vs) =>
        stats(c).forall { case (mn, mx) => vs.exists(v => v >= mn && v <= mx) }
      }
    }
  }

  private[table] object Bounds {
    /** [[read]]'s public form: numeric ranges and closed lexicographic ones. */
    def closed(num: Map[String, (Double, Double)], str: Map[String, (String, String)]): Bounds =
      Bounds(num, str.map { case (c, (lo, hi)) => c -> (Some(lo), Some(hi)) })
  }

  /** Conjunctive per-column bound extraction from an arbitrary predicate.
    * Handles literal-vs-attribute comparisons (either side), IN lists,
    * StartsWith (prefix → lexicographic range), monotone up-CASTs wrapping
    * the attribute (the shape type coercion produces for `intCol > 5L`),
    * foldable expressions on the literal side (Cast of a literal), and
    * DATE/TIMESTAMP columns — whose manifest stats are `cast(c AS string)`
    * ISO forms, lexicographically order-consistent, so bounds convert to
    * conservative ISO strings (timestamps to whole-second precision).
    * Anything else contributes no bound; the full predicate is always
    * re-applied to surviving rows, so bounds only ever need to be
    * conservative, never exact. */
  private[table] def extractBounds(spark: SparkSession, snap: Snapshot,
                                   predicate: Column): Bounds = {
    import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualNullSafe, EqualTo,
      Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual,
      AttributeReference, StartsWith}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types._
    val schema = snap.schema
    def fieldType(c: String) = schema.fields.find(_.name == c).map(_.dataType)
    val num = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val str = scala.collection.mutable.Map.empty[String, (Option[String], Option[String])]
    val inNum = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val inStr = scala.collection.mutable.Map.empty[String, Seq[String]]
    val points = scala.collection.mutable.Map.empty[String, Seq[Seq[(Any, DataType)]]]
    def addPoints(c: String, vs: Seq[(Any, DataType)]): Unit =
      points(c) = points.getOrElse(c, Nil) :+ vs
    // attribute possibly wrapped in a monotone widening cast (what type
    // coercion inserts): the bound transfers to the underlying column
    def name(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case c: Cast => name(c.child).filter(n =>
        fieldType(n).exists(ft => Cast.canUpCast(ft, c.dataType)))
      case _ => None
    }
    def litVal(e: Expression): Option[(Any, DataType)] =
      if (e.foldable) Option(e.eval(null)).map(v => (v, e.dataType)) else None
    // convert an evaluated literal to this column's STAT domain: numeric
    // columns compare as doubles; string columns lexicographically; date /
    // timestamp columns through their `cast AS string` ISO forms (floor'd
    // to days / whole seconds — conservative in both directions because the
    // residual predicate runs regardless)
    val sessionZone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def tsSecondString(micros: Long): String = {
      val fl = Math.floorDiv(micros, 1000000L)
      java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochSecond(fl), sessionZone)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    }
    def dateString(v: Any, vt: DataType): Option[String] = vt match {
      case DateType => Some(java.time.LocalDate.ofEpochDay(v.toString.toLong).toString)
      case TimestampType => Some(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(Math.floorDiv(v.toString.toLong, 1000000L)),
        sessionZone).toLocalDate.toString)
      case _ => None
    }
    def addNum(c: String, lo: Option[Double], hi: Option[Double]): Unit = {
      val (l0, h0) = num.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
      num(c) = (lo.map(math.max(l0, _)).getOrElse(l0), hi.map(math.min(h0, _)).getOrElse(h0))
    }
    def addStr(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = str.getOrElse(c, (None, None))
      str(c) = (lo.map(v => l0.filter(_ > v).getOrElse(v)).orElse(l0),
        hi.map(v => h0.filter(_ < v).getOrElse(v)).orElse(h0))
    }
    def add(c: String, lo: Option[(Any, DataType)], hi: Option[(Any, DataType)]): Unit =
      fieldType(c) match {
        case Some(_: NumericType) =>
          addNum(c, lo.map(_._1.toString.toDouble), hi.map(_._1.toString.toDouble))
        case Some(StringType) =>
          addStr(c, lo.collect { case (v, StringType) => v.toString },
            hi.collect { case (v, StringType) => v.toString })
        case Some(DateType) =>
          addStr(c, lo.flatMap((dateString _).tupled), hi.flatMap((dateString _).tupled))
        case Some(TimestampType) =>
          // whole-second bounds; hi extended past any sub-second suffix
          addStr(c, lo.collect { case (v, TimestampType) => tsSecondString(v.toString.toLong) },
            hi.collect { case (v, TimestampType) => tsSecondString(v.toString.toLong) + "\uffff" })
        case _ => () // non-atomic or unknown column: no pruning from this leaf
      }
    def addIn(c: String, vs: Seq[(Any, DataType)]): Unit = fieldType(c) match {
      case Some(_: NumericType) =>
        val set = vs.map(_._1.toString.toDouble)
        inNum(c) = inNum.get(c).map(_.intersect(set)).getOrElse(set)
      case Some(StringType) | Some(DateType) =>
        val set = vs.flatMap { case (v, vt) =>
          if (vt == StringType) Some(v.toString) else dateString(v, vt) }
        if (set.size == vs.size) // every value converted, else no pruning
          inStr(c) = inStr.get(c).map(_.intersect(set)).getOrElse(set)
      case _ => ()
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a, b) => cmpEq(a, b)
      case EqualNullSafe(a, b) => cmpEq(a, b)
      case GreaterThan(a, b) => cmpGt(a, b)
      case GreaterThanOrEqual(a, b) => cmpGt(a, b)
      case LessThan(a, b) => cmpGt(b, a)
      case LessThanOrEqual(a, b) => cmpGt(b, a)
      case In(a, list) if list.forall(_.foldable) =>
        name(a).foreach { c =>
          val vs = list.flatMap(litVal)
          if (vs.size == list.size && vs.nonEmpty) { addIn(c, vs); addPoints(c, vs) }
        }
      case StartsWith(a, p) =>
        // any string with prefix P sorts in [P, P + U+FFFF...]; closed
        // interval keeps edge files, residual predicate trims rows
        name(a).zip(litVal(p)).foreach {
          case (c, (v, StringType)) if fieldType(c).contains(StringType) =>
            addStr(c, Some(v.toString), Some(v.toString + "\uffff"))
          case _ => ()
        }
      case _ => () // OR / UDF / complex leaf: contributes no bound
    }
    def cmpEq(a: Expression, b: Expression): Unit = {
      name(a).zip(litVal(b)).foreach { case (c, v) => add(c, Some(v), Some(v)); addPoints(c, Seq(v)) }
      name(b).zip(litVal(a)).foreach { case (c, v) => add(c, Some(v), Some(v)); addPoints(c, Seq(v)) }
    }
    // a > b (and a >= b — closed intervals make them the same bound)
    def cmpGt(a: Expression, b: Expression): Unit = {
      name(a).zip(litVal(b)).foreach { case (c, v) => add(c, Some(v), None) }
      name(b).zip(litVal(a)).foreach { case (c, v) => add(c, None, Some(v)) }
    }
    // analyze the predicate against an EMPTY frame carrying the snapshot
    // schema: the analyzer resolves attributes/casts exactly as the real
    // scan will, and the walk sees plain Catalyst comparison nodes (the
    // raw Column is a lazy ColumnNode wrapper in Spark 4)
    val analyzed = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .where(predicate).queryExecution.analyzed
    analyzed.collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .foreach(walk)
    Bounds(num.toMap, str.toMap, inNum.toMap, inStr.toMap, points.toMap)
  }

  /** Files [[read]] selects under the same pruning (for tests/metrics). */
  def selectedFiles(table: String, prune: Map[String, (Double, Double)],
                    pruneStr: Map[String, (String, String)] = Map.empty): Seq[String] =
    readSnapshot(table).toSeq.flatMap(s =>
      surviving(s.files, Bounds.closed(prune, pruneStr)).map(_.path))

  // --- metadata codec (Jackson) ------------------------------------------

  /** Compact output with lowercase hex in control-character escapes, as
    * earlier releases wrote them; only backspace and form feed now take
    * their short escapes (`\b`, `\f`), which decode alike. */
  private val Json = JsonMapper.builder().disable(JsonWriteFeature.WRITE_HEX_UPPER_CASE).build()

  /** A JSON object with its fields in the given order: `None` omits the
    * field, `Some(v)` writes `v`. */
  private def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val o = new java.util.LinkedHashMap[String, Any]()
    fields.foreach {
      case (_, None) => ()
      case (k, Some(v)) => o.put(k, v)
      case (k, v) => o.put(k, v)
    }
    o
  }

  private def sorted(m: Map[String, String]): java.util.Map[String, String] =
    new java.util.TreeMap(m.asJava)
  private def optMap(m: Map[String, String]) = if (m.isEmpty) None else Some(sorted(m))
  private def optSeq(xs: Seq[Any]) = if (xs.isEmpty) None else Some(xs.asJava)

  private def fileEntryJson(f: FileEntry): java.util.Map[String, Any] =
    obj("path" -> f.path, "rows" -> f.rows, "min" -> sorted(f.min), "max" -> sorted(f.max),
      "seq" -> f.seq, "partition" -> optMap(f.partition), "bloom" -> optMap(f.bloom))

  /** Snapshot-file JSON. Two-level layout: when the snapshot has a
    * manifest plan, the file list lives in the (shared, immutable) manifest
    * files and the snapshot carries only their paths; otherwise the files
    * are inline (the legacy form). */
  private[table] def renderSnapshot(s: Snapshot): String = Json.writeValueAsString(obj(
    "id" -> s.id, "parent" -> s.parent, "schema" -> s.schemaJson,
    if (s.manifests.nonEmpty) "manifests" -> s.manifests.asJava
    else "files" -> s.files.map(fileEntryJson).asJava,
    "renames" -> optMap(s.renames),
    "deletes" -> optSeq(s.deletes.map(d =>
      obj("path" -> d.path, "seq" -> d.seq, "keys" -> d.keys.asJava))),
    "commit_ids" -> optSeq(s.commitIds.toSeq.sorted),
    "spec" -> optSeq(s.spec.map(f =>
      obj("name" -> f.name, "source" -> f.source, "transform" -> f.transform))),
    "order" -> s.order.map(o => obj("cols" -> o.cols.asJava, "zorder" -> o.zorder))))

  // absent fields read as empty: `path` yields a MissingNode, which has no
  // properties and no elements
  private def strMap(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private def strs(n: JsonNode): List[String] = n.asScala.map(_.asText).toList

  private def parseFileEntry(f: JsonNode): FileEntry =
    FileEntry(f.get("path").asText, f.get("rows").asLong,
      strMap(f.path("min")), strMap(f.path("max")), f.path("seq").asLong(0L),
      strMap(f.path("partition")), strMap(f.path("bloom")))

  /** Manifest-file loads (cache misses) since JVM start — the metadata-read
    * meter for the two-level layout: re-reading a table whose manifests are
    * cached costs zero manifest loads however long its history. */
  val manifestLoads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Manifest files are IMMUTABLE once written (never appended, never
    * rewritten under the same path), so caching by path can never go stale.
    * Crude size bound only. */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()

  private def loadManifest(path: String): Seq[FileEntry] =
    manifestCache.computeIfAbsent(path, { p =>
      manifestLoads.incrementAndGet()
      if (manifestCache.size > 4096) manifestCache.clear()
      Json.readTree(Paths.get(p).toFile).asScala.map(parseFileEntry).toList
    })

  /** Parse a snapshot file, materializing its file list from the manifests
    * (or the legacy inline `files`). Counted in [[metaParses]]. */
  private[table] def parseSnapshot(js: String): Snapshot = {
    metaParses.incrementAndGet()
    val o = Json.readTree(js)
    val manifests = strs(o.path("manifests"))
    Snapshot(o.get("id").asLong, o.get("parent").asLong, o.get("schema").asText,
      manifests.flatMap(loadManifest) ++ o.path("files").asScala.map(parseFileEntry),
      strMap(o.path("renames")),
      o.path("deletes").asScala.map(d =>
        DeleteEntry(d.get("path").asText, d.get("seq").asLong, strs(d.path("keys")))).toList,
      strs(o.path("commit_ids")).toSet,
      o.path("spec").asScala.map(f => PartitionField(f.get("name").asText,
        f.get("source").asText, f.get("transform").asText)).toList,
      Option(o.get("order")).map(ord => SortOrder(strs(ord.path("cols")), ord.get("zorder").asBoolean)),
      manifests)
  }
}
