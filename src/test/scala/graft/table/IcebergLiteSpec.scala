package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}
import java.nio.file.Files

class IcebergLiteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpTable(): String =
    TestDirs.create("graft_iceberg").resolve("t").toString

  test("append/read roundtrip with snapshot lineage") {
    val t = tmpTable()
    val df1 = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(4)
    IcebergLite.append(spark, df1, t, Seq("k"), "c1")
    assert(IcebergLite.read(spark, t).count() == 100)
    val df2 = (100 until 150).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val snap2 = IcebergLite.append(spark, df2, t, Seq("k"), "c2")
    assert(snap2.id == 1 && snap2.parent == 0)
    assert(IcebergLite.read(spark, t).count() == 150)
    assert(IcebergLite.read(spark, t).select(sum($"k")).as[Long].head() == (0 until 150).sum)
  }

  test("time travel: readAt sees the table exactly as of each snapshot") {
    val t = tmpTable()
    IcebergLite.append(spark, (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.append(spark, (40 until 90).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, Seq("k"), "c2")
    IcebergLite.append(spark, (90 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, Seq("k"), "c3")
    assert(IcebergLite.snapshots(t) == Seq(0L, 1L, 2L))
    assert(IcebergLite.readAt(spark, t, 0).count() == 40)
    assert(IcebergLite.readAt(spark, t, 1).count() == 90)
    assert(IcebergLite.readAt(spark, t, 2).count() == 100)
    assert(IcebergLite.read(spark, t).count() == 100)
    intercept[IllegalArgumentException](IcebergLite.readAt(spark, t, 7))
  }

  test("manifest min/max pruning skips files that provably miss the range") {
    val t = tmpTable()
    // 4 files with disjoint key ranges (repartitionByRange keeps them sorted)
    val df = (0 until 400).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .repartitionByRange(4, $"k")
    IcebergLite.append(spark, df, t, Seq("k"), "c1")
    val all = IcebergLite.selectedFiles(t, Map.empty)
    assert(all.size == 4)
    val some = IcebergLite.selectedFiles(t, Map("k" -> (0.0, 50.0)))
    assert(some.size < all.size, s"pruning selected ${some.size}/${all.size}")
    // pruned read is still correct
    val rows = IcebergLite.read(spark, t, Map("k" -> (0.0, 50.0)))
      .where($"k" <= 50).count()
    assert(rows == 51)
  }

  test("compact: live snapshot references only rewritten files; history time-travels") {
    val t = tmpTable()
    (0 until 6).foreach { c =>
      IcebergLite.append(spark,
        (c * 10 until (c + 1) * 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
          .repartition(3), t, Seq("k"), s"c$c")
    }
    val before = IcebergLite.readSnapshot(t).get
    assert(before.files.size == 18, s"expected 6 commits x 3 files, got ${before.files.size}")

    val compacted = IcebergLite.compact(spark, t, Seq("k"), "compact1")
    assert(compacted.files.size < before.files.size,
      s"compaction must shrink the file list: ${compacted.files.size}")
    assert(compacted.files.forall(_.path.contains("compact1")),
      "live snapshot must reference only the rewritten files")
    // content identical
    assert(IcebergLite.read(spark, t).select(sum($"k")).as[Long].head() == (0 until 60).sum)
    assert(IcebergLite.read(spark, t).count() == 60)
    // pre-compaction snapshots still readable (old files untouched)
    assert(IcebergLite.readAt(spark, t, before.id).count() == 60)
    assert(IcebergLite.readAt(spark, t, 0).count() == 10)
    // min/max stats recomputed for the compacted files: pruning still works
    val pruned = IcebergLite.selectedFiles(t, Map("k" -> (0.0, 1.0)))
    assert(pruned.size <= compacted.files.size)
  }

  test("addColumn: metadata-only evolution, null backfill, time travel across schemas") {
    val t = tmpTable()
    IcebergLite.append(spark, (0 until 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      t, Seq("k"), "c1")
    val preEvo = IcebergLite.currentSnapshotId(t).get
    val filesBefore = IcebergLite.readSnapshot(t).get.files

    val evolved = IcebergLite.addColumn(t, "score", "double")
    // metadata-only: identical file list, no rewrite
    assert(evolved.files == filesBefore)
    // old rows read back with the new column null-backfilled
    val backfilled = IcebergLite.read(spark, t)
    assert(backfilled.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(backfilled.where($"score".isNull).count() == 20)

    // new writes carry the column; mixed-era reads see both
    IcebergLite.append(spark,
      (20 until 30).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("k", "v", "score"),
      t, Seq("k"), "c2")
    val all = IcebergLite.read(spark, t)
    assert(all.count() == 30)
    assert(all.where($"score".isNotNull).count() == 10)
    assert(all.where($"k" === 25).select($"score").as[Double].head() == 12.5)

    // time travel to the pre-evolution snapshot: old schema, no column
    val old = IcebergLite.readAt(spark, t, preEvo)
    assert(old.schema.fieldNames.toSeq == Seq("k", "v") && old.count() == 20)

    intercept[IllegalArgumentException](IcebergLite.addColumn(t, "score", "double"))
  }

  test("renameColumn: metadata-only, appends stay uniform, time travel sees old name") {
    val t = tmpTable()
    IcebergLite.append(spark, (0 until 30).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      t, Seq("k"), "c1")
    val preRename = IcebergLite.currentSnapshotId(t).get
    val filesBefore = IcebergLite.readSnapshot(t).get.files.map(_.path).toSet

    IcebergLite.renameColumn(t, "v", "val")
    // metadata-only: identical file list, no data rewritten
    assert(IcebergLite.readSnapshot(t).get.files.map(_.path).toSet == filesBefore)
    val renamed = IcebergLite.read(spark, t)
    assert(renamed.schema.fieldNames.toSeq == Seq("k", "val"))
    assert(renamed.where($"val" === "v7").count() == 1)

    // append AFTER the rename: logical names in, physical names stored
    IcebergLite.append(spark, (30 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "val"),
      t, Seq("k"), "c2")
    val all = IcebergLite.read(spark, t)
    assert(all.count() == 40)
    assert(all.select(countDistinct($"val")).as[Long].head() == 40) // both eras readable
    // physical uniformity: the new files really carry the ORIGINAL name
    val newFiles = spark.read.parquet(s"$t/data/c2")
    assert(newFiles.schema.fieldNames.contains("v"))

    // time travel: pre-rename snapshot still shows the old name
    assert(IcebergLite.readAt(spark, t, preRename).schema.fieldNames.toSeq == Seq("k", "v"))
    // adding a column whose name equals the RETIRED physical name mints a
    // fresh physical name — the old files' bytes must NOT resurface
    IcebergLite.addColumn(t, "v", "string")
    val withNew = IcebergLite.read(spark, t)
    assert(withNew.schema.fieldNames.toSeq == Seq("k", "val", "v"))
    assert(withNew.where($"v".isNotNull).count() == 0,
      "retired physical column resurrected under the re-added name")
    assert(withNew.where($"val".isNotNull).count() == 40)
    IcebergLite.dropColumn(t, "v")
    // compaction keeps the mapping working (files rewritten under physical names)
    IcebergLite.compact(spark, t, Seq("k"), "compact1")
    val compacted = IcebergLite.read(spark, t)
    assert(compacted.schema.fieldNames.toSeq == Seq("k", "val") && compacted.count() == 40)
  }

  test("dropColumn: metadata-only; time travel resurrects the column") {
    val t = tmpTable()
    IcebergLite.append(spark, (0 until 20).map(i => (i.toLong, s"v$i", i * 2)).toDF("k", "v", "w"),
      t, Seq("k"), "c1")
    val preDrop = IcebergLite.currentSnapshotId(t).get
    val filesBefore = IcebergLite.readSnapshot(t).get.files.map(_.path).toSet
    IcebergLite.dropColumn(t, "v")
    assert(IcebergLite.readSnapshot(t).get.files.map(_.path).toSet == filesBefore)
    assert(IcebergLite.read(spark, t).schema.fieldNames.toSeq == Seq("k", "w"))
    assert(IcebergLite.readAt(spark, t, preDrop).where($"v" === "v3").count() == 1)
    // drop of a renamed column clears its mapping too
    IcebergLite.renameColumn(t, "w", "width")
    IcebergLite.dropColumn(t, "width")
    assert(IcebergLite.read(spark, t).schema.fieldNames.toSeq == Seq("k"))
    assert(IcebergLite.readSnapshot(t).get.renames.isEmpty)
    // drop then re-add the SAME name: null backfill, never resurrection
    IcebergLite.addColumn(t, "v", "string")
    val readded = IcebergLite.read(spark, t)
    assert(readded.where($"v".isNotNull).count() == 0,
      "dropped column's data resurfaced after re-adding its name")
    // and new appends land under the fresh physical name, readable as v
    IcebergLite.append(spark,
      (100L until 105L).map(k => (k, s"new$k")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(IcebergLite.read(spark, t).where($"v".isNotNull).count() == 5)
  }

  test("merge upsert: updates replace by key, inserts land, retry is a no-op") {
    val t = tmpTable()
    IcebergLite.append(spark,
      (0 until 10).map(i => (i.toLong, s"old$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val preMerge = IcebergLite.currentSnapshotId(t).get
    val updates = Seq((3L, "NEW3"), (7L, "NEW7"), (100L, "NEW100")).toDF("k", "v")
    IcebergLite.merge(spark, t, updates, Seq("k"), Seq("k"), "m1")
    val got = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got.size == 11)
    assert(got(3L) == "NEW3" && got(7L) == "NEW7" && got(100L) == "NEW100")
    assert(got(4L) == "old4") // untouched rows rewritten intact
    // crash-retry with the same commitId: metadata-checked no-op
    IcebergLite.merge(spark, t, updates, Seq("k"), Seq("k"), "m1")
    assert(IcebergLite.read(spark, t).count() == 11)
    // pre-merge snapshot time-travels intact
    assert(IcebergLite.readAt(spark, t, preMerge).as[(Long, String)]
      .collect().toMap.apply(3L) == "old3")
    // duplicate keys within one update batch make the upsert ambiguous —
    // refuse instead of landing multiple rows per key
    intercept[IllegalArgumentException] {
      IcebergLite.merge(spark, t, Seq((5L, "X"), (5L, "Y")).toDF("k", "v"),
        Seq("k"), Seq("k"), "m2")
    }
    assert(IcebergLite.read(spark, t).count() == 11) // refused merge left no trace
  }

  test("merge is file-targeted: key-disjoint files carried by reference, untouched bytes") {
    val t = tmpTable()
    // two commits with provably disjoint key ranges, key stats collected
    IcebergLite.append(spark,
      (0L until 100L).map(i => (i, s"lo$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq("k"), "c1")
    IcebergLite.append(spark,
      (1000L until 1100L).map(i => (i, s"hi$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq("k"), "c2")
    val before = IcebergLite.readSnapshot(t).get
    val loFiles = before.files.filter(_.path.contains("/data/c1/"))
    assert(loFiles.size == 2)
    val loBytes = loFiles.map(f => f.path ->
      Files.readAllBytes(java.nio.file.Paths.get(f.path.stripPrefix("file:"))).toSeq).toMap

    // updates hit only the hi range → lo files must NOT be rewritten
    val updates = Seq((1003L, "NEW1003"), (2000L, "NEW2000")).toDF("k", "v")
    val after = IcebergLite.merge(spark, t, updates, Seq("k"), Seq("k"), "m1")
    val afterPaths = after.files.map(_.path).toSet
    loFiles.foreach { f =>
      assert(afterPaths.contains(f.path), s"carried file dropped: ${f.path}")
      assert(Files.readAllBytes(java.nio.file.Paths.get(f.path.stripPrefix("file:"))).toSeq
        == loBytes(f.path), s"carried file rewritten: ${f.path}")
    }
    assert(!afterPaths.exists(_.contains("/data/c2/")),
      "touched-range files must be rewritten into the merge commit")
    // carried entries keep manifest stats (pruning still works post-merge)
    assert(IcebergLite.selectedFiles(t, Map("k" -> (0.0, 50.0)))
      .forall(_.contains("/data/c1/")))
    // and the result is the correct relational merge
    val got = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got.size == 201 && got(1003L) == "NEW1003" && got(2000L) == "NEW2000"
      && got(3L) == "lo3" && got(1005L) == "hi1005")
  }

  test("merge on a string key and on a two-column key carries key-disjoint files by reference") {
    def bytesOf(t: String, commit: String): Map[String, Seq[Byte]] =
      IcebergLite.readSnapshot(t).get.files.filter(_.path.contains(s"/data/$commit/"))
        .map(f => f.path ->
          Files.readAllBytes(java.nio.file.Paths.get(f.path.stripPrefix("file:"))).toSeq).toMap
    def assertCarried(before: Map[String, Seq[Byte]], after: IcebergLite.Snapshot): Unit = {
      assert(before.size == 2)
      val afterPaths = after.files.map(_.path).toSet
      before.foreach { case (p, bytes) =>
        assert(afterPaths.contains(p), s"carried file dropped: $p")
        assert(Files.readAllBytes(java.nio.file.Paths.get(p.stripPrefix("file:"))).toSeq == bytes,
          s"carried file rewritten: $p")
      }
    }

    // string key: min/max compare lexicographically
    val s = tmpTable()
    IcebergLite.append(spark, (0 until 100).map(i => (f"a$i%03d", i.toLong)).toDF("k", "n")
      .repartitionByRange(2, $"k"), s, Seq("k"), "c1")
    IcebergLite.append(spark, (0 until 100).map(i => (f"m$i%03d", i.toLong)).toDF("k", "n")
      .repartitionByRange(2, $"k"), s, Seq("k"), "c2")
    val sLo = bytesOf(s, "c1")
    val sAfter = IcebergLite.merge(spark, s, Seq(("m003", -1L), ("z999", -2L)).toDF("k", "n"),
      Seq("k"), Seq("k"), "m1")
    assertCarried(sLo, sAfter)
    assert(!sAfter.files.exists(_.path.contains("/data/c2/")))
    val sGot = IcebergLite.read(spark, s).as[(String, Long)].collect().toMap
    assert(sGot.size == 201 && sGot("m003") == -1L && sGot("z999") == -2L
      && sGot("a003") == 3L && sGot("m005") == 5L)

    // two-column key: one provably-disjoint column clears a file — c1 on
    // the string column, c2 on the numeric one; only c3 overlaps on both
    val t = tmpTable()
    def rows(r: String, from: Long) = (from until from + 100L).map(i => (r, i, s"$r$i"))
    IcebergLite.append(spark, rows("east", 0L).toDF("r", "id", "v")
      .repartitionByRange(2, $"id"), t, Seq("r", "id"), "c1")
    IcebergLite.append(spark, rows("west", 0L).toDF("r", "id", "v")
      .repartitionByRange(2, $"id"), t, Seq("r", "id"), "c2")
    IcebergLite.append(spark, rows("west", 1000L).toDF("r", "id", "v")
      .repartitionByRange(2, $"id"), t, Seq("r", "id"), "c3")
    val (east, west) = (bytesOf(t, "c1"), bytesOf(t, "c2"))
    val after = IcebergLite.merge(spark, t,
      Seq(("west", 1003L, "NEW"), ("west", 2000L, "NEW2")).toDF("r", "id", "v"),
      Seq("r", "id"), Seq("r", "id"), "m1")
    assertCarried(east, after)
    assertCarried(west, after)
    assert(!after.files.exists(_.path.contains("/data/c3/")))
    val got = IcebergLite.read(spark, t).as[(String, Long, String)].collect()
      .map { case (r, id, v) => (r, id) -> v }.toMap
    assert(got.size == 301 && got(("west", 1003L)) == "NEW" && got(("west", 2000L)) == "NEW2"
      && got(("west", 3L)) == "west3" && got(("east", 3L)) == "east3"
      && got(("west", 1005L)) == "west1005")
  }

  test("merge on a stat-less table is conservative but SELF-HEALING: rewrite collects key stats") {
    val t = tmpTable()
    // no key stats at all (autoStats off = a table written before stats
    // existed) → first merge cannot prune (full rewrite, still correct)
    IcebergLite.writeData((0L until 50L).map(i => (i, s"a$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), t, "c1")
    IcebergLite.commitWritten(spark,
      (0L until 1L).map(i => (i, "x")).toDF("k", "v").schema.json, t, Seq.empty, "c1",
      autoStats = false)
    assert(IcebergLite.readSnapshot(t).get.files.forall(_.min.isEmpty))
    IcebergLite.merge(spark, t, Seq((3L, "B3")).toDF("k", "v"), Seq("k"), Seq.empty, "m1")
    val afterFirst = IcebergLite.readSnapshot(t).get
    assert(afterFirst.files.forall(_.path.contains("/data/m1/")), "stat-less files all rewritten")
    assert(afterFirst.files.forall(_.min.contains("k")), "merge must auto-collect key stats")
    // second merge on a key OUTSIDE every file range now carries untouched files
    val m1Paths = afterFirst.files.map(_.path).toSet
    val afterSecond = IcebergLite.merge(spark, t,
      Seq((9999L, "NEW")).toDF("k", "v"), Seq("k"), Seq.empty, "m2")
    assert(m1Paths.subsetOf(afterSecond.files.map(_.path).toSet),
      "disjoint insert-only merge must carry every existing file by reference")
    assert(IcebergLite.read(spark, t).count() == 51)
  }

  test("auto-stats: a stats-naive append still yields prunable manifests and file-targeted merge") {
    val t = tmpTable()
    // caller never names statsCols — auto-collection indexes the atomic columns
    IcebergLite.append(spark,
      (0L until 100L).map(i => (i, s"lo$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq.empty, "c1")
    IcebergLite.append(spark,
      (1000L until 1100L).map(i => (i, s"hi$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq.empty, "c2")
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.forall(f => f.min.contains("k") && f.min.contains("v")),
      "auto-stats must index every atomic column")
    // pruned read works without any explicit stats request ever made
    assert(IcebergLite.selectedFiles(t, Map("k" -> (0.0, 50.0)))
      .forall(_.contains("/data/c1/")))
    // and a merge touching only the hi range carries the lo files by reference
    val loPaths = snap.files.filter(_.path.contains("/data/c1/")).map(_.path).toSet
    val after = IcebergLite.merge(spark, t,
      Seq((1003L, "NEW")).toDF("k", "v"), Seq("k"), Seq.empty, "m1")
    assert(loPaths.subsetOf(after.files.map(_.path).toSet),
      "auto-collected key stats must drive file-targeted merge")
    assert(IcebergLite.read(spark, t).count() == 200)
  }

  test("merge runs in 3 jobs: the duplicate-key refusal is folded into the range probe") {
    val t = tmpTable()
    IcebergLite.append(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"), t, Seq("k"), "c1")
    spark.sparkContext.setJobGroup("graft-merge-jobcount", "merge job count")
    IcebergLite.merge(spark, t, Seq((3L, "N3"), (99L, "N99")).toDF("k", "v"),
      Seq("k"), Seq("k"), "m1")
    spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-merge-jobcount").length
    // THREE actions: probe (dups + key ranges in ONE agg), rewrite write,
    // manifest stats (schema passed explicitly — no footer-inference job).
    // AQE splits the two shuffling aggs into multiple jobs → 7 observed.
    // The pre-round-5 separate duplicate groupBy/count ACTION added its own
    // AQE-split jobs on top; this bound fails if it ever comes back.
    assert(jobs <= 7, s"merge issued $jobs jobs, expected <= 7 (3 actions under AQE)")
    assert(IcebergLite.read(spark, t).count() == 51)
  }

  test("mergeOnRead: O(updates) write, equality deletes applied at read, compact resets") {
    val t = tmpTable()
    IcebergLite.append(spark,
      (0L until 10L).map(i => (i, s"old$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val preMerge = IcebergLite.currentSnapshotId(t).get
    val dataBefore = IcebergLite.readSnapshot(t).get.files.map(_.path).toSet

    val up1 = Seq((3L, "NEW3"), (100L, "NEW100")).toDF("k", "v")
    val s1 = IcebergLite.mergeOnRead(spark, t, up1, Seq("k"), Seq("k"), "mor1")
    // no existing file touched: prior entries all carried, one delete entry added
    assert(dataBefore.subsetOf(s1.files.map(_.path).toSet))
    assert(s1.deletes.size == 1 && s1.deletes.head.keys == Seq("k"))
    val got1 = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got1.size == 11 && got1(3L) == "NEW3" && got1(100L) == "NEW100" && got1(4L) == "old4")

    // a second MoR on the same key supersedes the first (seq ordering)
    IcebergLite.mergeOnRead(spark, t, Seq((3L, "NEWER3")).toDF("k", "v"),
      Seq("k"), Seq("k"), "mor2")
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toMap.apply(3L) == "NEWER3")
    // crash-retry idempotence
    IcebergLite.mergeOnRead(spark, t, Seq((3L, "NEWER3")).toDF("k", "v"),
      Seq("k"), Seq("k"), "mor2")
    assert(IcebergLite.read(spark, t).count() == 11)
    // duplicate keys in one batch refused, no trace
    intercept[IllegalArgumentException] {
      IcebergLite.mergeOnRead(spark, t, Seq((5L, "X"), (5L, "Y")).toDF("k", "v"),
        Seq("k"), Seq("k"), "mor3")
    }
    assert(IcebergLite.read(spark, t).count() == 11)

    // time travel across delete commits: each snapshot's own visible rows
    assert(IcebergLite.readAt(spark, t, preMerge).as[(Long, String)]
      .collect().toMap.apply(3L) == "old3")
    assert(IcebergLite.readAt(spark, t, s1.id).as[(Long, String)]
      .collect().toMap.apply(3L) == "NEW3")

    // compact applies all pending deletes and resets to clean scans
    val compacted = IcebergLite.compact(spark, t, Seq("k"), "compactM")
    assert(compacted.deletes.isEmpty)
    val gotC = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(gotC.size == 11 && gotC(3L) == "NEWER3" && gotC(100L) == "NEW100")
    // history still time-travels (delete files retained on disk)
    assert(IcebergLite.readAt(spark, t, s1.id).as[(Long, String)]
      .collect().toMap.apply(3L) == "NEW3")
  }

  test("CoW merge after MoR carries pending deletes for untouched files") {
    val t = tmpTable()
    IcebergLite.append(spark,
      (0L until 100L).map(i => (i, s"a$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq("k"), "c1")
    IcebergLite.append(spark,
      (1000L until 1100L).map(i => (i, s"b$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq("k"), "c2")
    // MoR delete-rewrites one key in EACH range
    IcebergLite.mergeOnRead(spark, t,
      Seq((5L, "MOR5"), (1005L, "MOR1005")).toDF("k", "v"), Seq("k"), Seq("k"), "mor1")
    // CoW merge touching only the hi range: lo files carried, but the MoR
    // delete against k=5 (in a carried file) must survive the commit
    val after = IcebergLite.merge(spark, t,
      Seq((1007L, "COW1007")).toDF("k", "v"), Seq("k"), Seq("k"), "cow1")
    assert(after.deletes.nonEmpty, "pending delete on a carried file must be kept")
    val got = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got.size == 200 && got(5L) == "MOR5" && got(1005L) == "MOR1005"
      && got(1007L) == "COW1007" && got(6L) == "a6")
    // renamed key column: MoR still merges (physical-name delete keys)
    IcebergLite.renameColumn(t, "k", "key")
    IcebergLite.mergeOnRead(spark, t, Seq((6L, "MOR6")).toDF("key", "v"),
      Seq("key"), Seq("key"), "mor2")
    val got2 = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got2(6L) == "MOR6" && got2(5L) == "MOR5" && got2.size == 200)
  }

  test("nested-span stats (statsExprs) prune band-filter scans at the file level") {
    val t = tmpTable()
    // two commits with DISJOINT band vocabularies → two prunable file sets
    def doc(id: Long, bands: Seq[String]) =
      (id, bands.map(b => (("band", b, s"ref_$id$b", 0))))
    val low = (0L until 20L).map(doc(_, Seq("B02", "B03", "B04"))).toDF("doc_id", "spans")
    val high = (20L until 40L).map(doc(_, Seq("B08", "B11", "B12"))).toDF("doc_id", "spans")
    val bandLo = expr("array_min(transform(spans, s -> s._2))")
    val bandHi = expr("array_max(transform(spans, s -> s._2))")
    IcebergLite.writeData(low.repartition(2), t, "c1")
    IcebergLite.commitWritten(spark, low.schema.json, t, Seq("doc_id"), "c1",
      statsExprs = Map("band" -> (bandLo, bandHi)))
    IcebergLite.writeData(high.repartition(2), t, "c2")
    IcebergLite.commitWritten(spark, high.schema.json, t, Seq("doc_id"), "c2",
      statsExprs = Map("band" -> (bandLo, bandHi)))

    val all = IcebergLite.selectedFiles(t, Map.empty).toSet
    val b08 = IcebergLite.selectedFiles(t, Map.empty, Map("band" -> ("B08", "B08"))).toSet
    assert(b08.nonEmpty && b08.subsetOf(all) && b08.size < all.size,
      s"pruning skipped nothing: ${b08.size} of ${all.size}")
    assert(b08.forall(_.contains("/data/c2/")), "kept a file that cannot contain B08")
    // pruned read ≡ unpruned filter (completeness under pruning)
    val prunedRows = IcebergLite.read(spark, t, Map.empty, Map("band" -> ("B08", "B08")))
      .where(expr("exists(spans, s -> s._2 = 'B08')")).count()
    val fullRows = IcebergLite.read(spark, t)
      .where(expr("exists(spans, s -> s._2 = 'B08')")).count()
    assert(prunedRows == fullRows && fullRows == 20)
  }

  test("readWhere: predicate bounds prune files at the manifest; results equal plain filter") {
    val t = tmpTable()
    IcebergLite.append(spark,
      (0L until 100L).map(i => (i, s"lo$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq("k", "v"), "c1")
    IcebergLite.append(spark,
      (1000L until 1100L).map(i => (i, s"hi$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      t, Seq("k", "v"), "c2")
    // conjunctive numeric range: only c2's files are in the scan
    val q = IcebergLite.readWhere(spark, t, $"k" >= 1000L && $"k" < 1050L)
    assert(q.inputFiles.nonEmpty && q.inputFiles.forall(_.contains("/data/c2/")),
      "pruned scan must not list c1 files")
    assert(q.count() == 50)
    // equality on a string column prunes too (point range)
    val qs = IcebergLite.readWhere(spark, t, $"v" === "hi1005")
    assert(qs.inputFiles.forall(_.contains("/data/c2/")))
    assert(qs.count() == 1)
    // literal-on-the-left comparisons extract the mirrored bound
    val qm = IcebergLite.readWhere(spark, t, lit(1050L) <= $"k")
    assert(qm.inputFiles.forall(_.contains("/data/c2/")))
    assert(qm.count() == 50)
    // an OR tree contributes no pruning but stays correct
    val qo = IcebergLite.readWhere(spark, t, $"k" === 3L || $"k" === 1003L)
    assert(qo.count() == 2)
    // strict bound on a file edge: closed-interval pruning keeps the file,
    // the residual predicate drops the row
    assert(IcebergLite.readWhere(spark, t, $"k" > 99L && $"k" < 1000L).count() == 0)
  }

  test("readWhere: IN-lists, StartsWith, up-CASTs and date/timestamp bounds all prune") {
    val t = tmpTable()
    // two commits with disjoint id ranges, distinct name prefixes and months
    IcebergLite.append(spark,
      (0 until 100).map(i => (i, s"alpha$i", java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"),
        java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:30:00")))
        .toDF("k", "name", "d", "ts").repartitionByRange(2, $"k"),
      t, Seq("k", "name", "d", "ts"), "c1")
    IcebergLite.append(spark,
      (1000 until 1100).map(i => (i, s"beta$i", java.sql.Date.valueOf(f"2024-06-${i % 28 + 1}%02d"),
        java.sql.Timestamp.valueOf(f"2024-06-${i % 28 + 1}%02d 10:30:00")))
        .toDF("k", "name", "d", "ts").repartitionByRange(2, $"k"),
      t, Seq("k", "name", "d", "ts"), "c2")
    def onlyC2(q: org.apache.spark.sql.DataFrame) =
      q.inputFiles.nonEmpty && q.inputFiles.forall(_.contains("/data/c2/"))
    // IN-list: every candidate value in c2's range — c1's files are skipped,
    // and tighter than the [min,max] envelope (1005..1090 spans both c2 files
    // but each value hits only where it lands)
    val qin = IcebergLite.readWhere(spark, t, $"k".isin(1005, 1017, 1090))
    assert(onlyC2(qin) && qin.count() == 3)
    // IN-list with a gap: values {5, 1005} must keep BOTH commits' low files
    assert(IcebergLite.readWhere(spark, t, $"k".isin(5, 1005)).count() == 2)
    // StartsWith: prefix range [beta, beta￿] misses every alpha file
    val qsw = IcebergLite.readWhere(spark, t, $"name".startsWith("beta"))
    assert(onlyC2(qsw) && qsw.count() == 100)
    // up-CAST wrapping the attribute (int column, long literal): the bound
    // transfers through the widening cast the analyzer inserts
    val qc = IcebergLite.readWhere(spark, t, $"k" >= 1000L)
    assert(onlyC2(qc) && qc.count() == 100)
    // DATE bounds: stats are ISO strings, lexicographically order-true
    val qd = IcebergLite.readWhere(spark, t, $"d" >= lit("2024-06-01").cast("date"))
    assert(onlyC2(qd) && qd.count() == 100)
    // TIMESTAMP bounds (whole-second conservative)
    val qt = IcebergLite.readWhere(spark, t,
      $"ts" >= lit("2024-05-31 23:59:59").cast("timestamp"))
    assert(onlyC2(qt) && qt.count() == 100)
    // date IN-list
    val qdi = IcebergLite.readWhere(spark, t,
      $"d".isin(java.sql.Date.valueOf("2024-06-03"), java.sql.Date.valueOf("2024-06-04")))
    assert(onlyC2(qdi) && qdi.count() ==
      IcebergLite.read(spark, t).where($"d".isin("2024-06-03", "2024-06-04")).count())
    // edge: strict timestamp bound on the second boundary stays correct
    assert(IcebergLite.readWhere(spark, t,
      $"ts" > lit("2024-06-28 10:30:00").cast("timestamp")).count() == 0)
  }

  test("readIncremental: metadata-only append delta; refuses replacing/delete commits") {
    val t = tmpTable()
    val s0 = IcebergLite.append(spark,
      (0L until 40L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val s1 = IcebergLite.append(spark,
      (100L until 130L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c2")
    val s2 = IcebergLite.append(spark,
      (200L until 220L).map(i => (i, s"c$i")).toDF("k", "v"), t, Seq("k"), "c3")
    // delta (s0, s2] = commits 2+3 only; base files never in the scan
    val inc = IcebergLite.readIncremental(spark, t, s0.id, s2.id)
    assert(inc.count() == 50)
    assert(inc.agg(min($"k")).as[Long].head() == 100L)
    // (s1, s2] = commit 3 only
    assert(IcebergLite.readIncremental(spark, t, s1.id, s2.id).count() == 20)
    // fromId = -1: everything since table creation
    assert(IcebergLite.readIncremental(spark, t, -1L, s2.id).count() == 90)
    // empty range is an empty frame with the snapshot schema
    assert(IcebergLite.readIncremental(spark, t, s2.id, s2.id).count() == 0)
    // schema evolution in range is additive - the scan crosses it fine
    IcebergLite.addColumn(t, "w", "string")
    val s4 = IcebergLite.append(spark,
      Seq((300L, "d", "x")).toDF("k", "v", "w"), t, Seq("k"), "c4")
    assert(IcebergLite.readIncremental(spark, t, s2.id, s4.id).count() == 1)
    // a replacing commit (compact) in range is refused
    val s5 = IcebergLite.compact(spark, t, Seq("k"), "cc")
    assertThrows[IllegalArgumentException](
      IcebergLite.readIncremental(spark, t, s4.id, s5.id))
    // a delete commit (MoR upsert) in range is refused
    val s6 = IcebergLite.mergeOnRead(spark, t, Seq((0L, "A0", "y")).toDF("k", "v", "w"),
      Seq("k"), Seq("k"), "mor1")
    assertThrows[IllegalArgumentException](
      IcebergLite.readIncremental(spark, t, s5.id, s6.id))
    // non-ancestor ranges are refused
    assertThrows[IllegalArgumentException](
      IcebergLite.readIncremental(spark, t, s6.id, s5.id))
  }

  test("expireSnapshots: unreferenced files deleted, kept history intact, idempotent") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 20L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.append(spark, (20L until 40L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c2")
    // replacing commits strand the c1/c2 files behind history-only refs
    IcebergLite.compact(spark, t, Seq("k"), "comp1")
    IcebergLite.merge(spark, t, Seq((5L, "M5")).toDF("k", "v"), Seq("k"), Seq("k"), "m1")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(t, "data", "c1")))

    val (expired, deleted) = IcebergLite.expireSnapshots(t, keepLast = 2)
    assert(expired == Seq(0L, 1L) && deleted > 0)
    // expired snapshots no longer time travel; kept ones still do
    intercept[Exception](IcebergLite.readAt(spark, t, 0).count())
    assert(IcebergLite.readAt(spark, t, 2).count() == 40)
    val got = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got.size == 40 && got(5L) == "M5" && got(7L) == "a7")
    // c1/c2's files (referenced by nothing kept) are really gone from disk
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "data", "c1")))
    // idempotent re-run: nothing left to expire
    assert(IcebergLite.expireSnapshots(t, keepLast = 2) == ((Nil, 0)))
    // files shared with kept snapshots are NEVER deleted: the merge commit
    // carried comp1's untouched file by reference, and it must survive
    assert(IcebergLite.readSnapshot(t).get.files.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f.path.stripPrefix("file:")))))
  }

  test("append enforces the pinned schema: order-free, type/column drift refused") {
    val t = tmpTable()
    IcebergLite.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), "c1")
    // reordered columns are aligned by name, schema json stays the table's
    IcebergLite.append(spark, Seq(("b", 2L)).toDF("v", "k"), t, Seq("k"), "c2")
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    // a type change must be refused, not become a schema replacement
    assertThrows[IllegalArgumentException](IcebergLite.append(spark,
      Seq((3, "c")).toDF("k", "v"), t, Seq("k"), "c3"))
    // missing and extra columns likewise
    assertThrows[IllegalArgumentException](IcebergLite.append(spark,
      Seq(Tuple1(4L)).toDF("k"), t, Seq("k"), "c4"))
    assertThrows[IllegalArgumentException](IcebergLite.append(spark,
      Seq((5L, "e", 1.0)).toDF("k", "v", "w"), t, Seq("k"), "c5"))
    // the refused commits left nothing behind; explicit evolution still works
    assert(IcebergLite.read(spark, t).count() == 2)
    IcebergLite.addColumn(t, "w", "double")
    IcebergLite.append(spark, Seq((5L, "e", 1.0)).toDF("k", "v", "w"), t, Seq("k"), "c5")
    assert(IcebergLite.read(spark, t).count() == 3)
    // the merge pair enforces the same shape (select-by-name alone would
    // write parquet the pinned schema can't read back)
    assertThrows[IllegalArgumentException](IcebergLite.merge(spark, t,
      Seq((1, "x", 0.0)).toDF("k", "v", "w"), Seq("k"), Seq("k"), "m_bad"))
    assertThrows[IllegalArgumentException](IcebergLite.mergeOnRead(spark, t,
      Seq((1, "x", 0.0)).toDF("k", "v", "w"), Seq("k"), Seq("k"), "mr_bad"))
  }

  test("zvalue: Spark column matches the reference interleave") {
    val lo = 0.0; val hi = 3.0
    val maxQ = (1L << ZOrder.Bits) - 1
    def q(v: Double): Long = // the exact double arithmetic quantize() runs
      math.min(maxQ, math.max(0L, math.floor((v - lo) / (hi - lo) * maxQ).toLong))
    val pts = for { x <- 0 to 3; y <- 0 to 3 } yield (x.toDouble, y.toDouble)
    val got = pts.toDF("x", "y")
      .select(ZOrder.zvalue(Seq($"x" -> (lo, hi), $"y" -> (lo, hi))).as("z"))
      .as[Long].collect()
    val want = pts.map { case (x, y) => ZOrder.zvalueRef(Seq(q(x), q(y))) }
    assert(got.toSeq == want)
    // 3-dim variant round-trips through spread3
    val got3 = Seq((1.0, 2.0, 3.0)).toDF("x", "y", "w")
      .select(ZOrder.zvalue(Seq($"x" -> (lo, hi), $"y" -> (lo, hi), $"w" -> (lo, hi))).as("z"))
      .as[Long].head()
    assert(got3 == ZOrder.zvalueRef(Seq(q(1.0), q(2.0), q(3.0))))
  }

  test("compact zorderBy: conjunctive-range reads prune multiplicatively; content identical") {
    // 128×128 lattice appended hash-shuffled: every pre-compact file spans
    // the whole domain, so NOTHING prunes before the rewrite
    val rows = for { x <- 0 until 128; y <- 0 until 128 }
      yield (x * 128L + y, x.toDouble, y.toDouble)
    val pred = $"x" >= 32.0 && $"x" <= 47.0 && $"y" >= 32.0 && $"y" <= 47.0

    def stage(t: String): Set[(Long, Double, Double)] = {
      IcebergLite.append(spark, rows.toDF("id", "x", "y").repartition(8, $"id"),
        t, Seq("x", "y"), "c1")
      IcebergLite.read(spark, t).as[(Long, Double, Double)].collect().toSet
    }
    def fileBytes(t: String): Long = IcebergLite.readSnapshot(t).get.files.map { f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(f.path.stripPrefix("file:")))
    }.sum

    val tz = tmpTable(); val before = stage(tz)
    // ~64 files → each ≈ a 16×16 morton block; the AOI is one such block
    IcebergLite.compact(spark, tz, Seq("x", "y"), "z1",
      targetFileBytes = fileBytes(tz) / 64 + 1, zorderBy = Seq("x", "y"))
    val zTotal = IcebergLite.readSnapshot(tz).get.files.size
    assert(zTotal >= 32, s"want many files for a meaningful prune, got $zTotal")
    assert(IcebergLite.read(spark, tz).as[(Long, Double, Double)].collect().toSet == before)
    val zq = IcebergLite.readWhere(spark, tz, pred)
    assert(zq.count() == 256)
    val zFiles = zq.inputFiles.length

    val tl = tmpTable(); stage(tl) // same data, LINEAR (x, y) sort
    IcebergLite.compact(spark, tl, Seq("x", "y"), "l1",
      targetFileBytes = fileBytes(tl) / 64 + 1, sortBy = Seq("x", "y"))
    val lq = IcebergLite.readWhere(spark, tl, pred)
    assert(lq.count() == 256)
    val lFiles = lq.inputFiles.length

    // linear: x prunes to ~1/8 of files, y prunes nothing (each x-stripe
    // spans all y). z-order: BOTH prune — the AOI is ~area/total of files
    assert(zFiles < lFiles, s"z-order opened $zFiles, linear $lFiles")
    assert(zFiles <= zTotal / 8, s"z-order opened $zFiles of $zTotal")
    // strategies are mutually exclusive
    assertThrows[IllegalArgumentException](IcebergLite.compact(spark, tz,
      Seq("x"), "bad", sortBy = Seq("x"), zorderBy = Seq("x", "y")))
  }

  test("two-level manifests: appends write O(delta) metadata, manifests shared and reaped") {
    import java.nio.file.{Files => F, Paths => P}
    val t = tmpTable()
    (0 until 12).foreach { i =>
      IcebergLite.append(spark,
        Seq((i.toLong, s"a$i")).toDF("k", "v").coalesce(1), t, Seq("k"), s"c$i")
    }
    val metaP = (id: Long) => P.get(t, "_graft_meta", s"snapshot-$id.json")
    // snapshot JSON size stays ~flat as files stack: the file list lives in
    // shared manifests, the snapshot carries only paths (inline layout
    // would grow ~12x here)
    val early = F.size(metaP(2)); val late = F.size(metaP(11))
    assert(late < early * 3, s"snapshot json grew $early -> $late: not O(delta)")
    // consecutive snapshots SHARE manifest files; each commit added exactly one
    val s10 = IcebergLite.snapshotAt(t, 10).get
    val s11 = IcebergLite.snapshotAt(t, 11).get
    assert(s11.manifests.size == 12 && s10.manifests.size == 11)
    assert(s10.manifests.forall(s11.manifests.contains))
    // each shared manifest holds just its commit's delta
    assert(s11.manifests.forall(m =>
      F.readString(P.get(m)).count(_ == '{') <= 4)) // 1 entry (+nested maps)
    assert(IcebergLite.read(spark, t).count() == 12)
    // a metadata-only commit reuses EVERY manifest (writes none)
    val before = s11.manifests.toSet
    IcebergLite.setSortOrder(t, Some(IcebergLite.SortOrder(Seq("k"))))
    assert(IcebergLite.readSnapshot(t).get.manifests.toSet == before)
    // compact rewrites to one manifest; expire reaps the unreferenced ones
    IcebergLite.setSortOrder(t, None)
    IcebergLite.compact(spark, t, Seq("k"), "cc")
    assert(IcebergLite.readSnapshot(t).get.manifests.size == 1)
    IcebergLite.expireSnapshots(t, keepLast = 1)
    before.foreach(m => assert(!F.exists(P.get(m)), s"expired manifest $m survives"))
    assert(IcebergLite.read(spark, t).count() == 12)
    // a stranded manifest (crashed commit) is orphan-swept, referenced kept
    val stranded = P.get(t, "_graft_meta", "manifest-999-1.json")
    F.writeString(stranded, "[]")
    val (n, _) = IcebergLite.removeOrphanFiles(t, olderThanMillis = 0)
    assert(n == 1 && !F.exists(stranded))
    assert(IcebergLite.read(spark, t).count() == 12)
  }

  test("declared sort order: writers cluster automatically, compact defaults to it") {
    import java.lang.Double.parseDouble
    val t = tmpTable()
    val rows = (0L until 8000L).map(i => (i, (i * 7919 % 8000).toDouble))
    IcebergLite.append(spark, rows.toDF("k", "x").repartition(8, $"k"), t, Seq("x"), "c1")
    // unordered: hash-distributed files all span ~the full x domain
    def spans(tbl: String): Seq[(Double, Double)] =
      IcebergLite.readSnapshot(tbl).get.files.map(f =>
        (parseDouble(f.min("x")), parseDouble(f.max("x"))))
    assert(spans(t).forall { case (lo, hi) => hi - lo > 4000 })

    IcebergLite.setSortOrder(t, Some(IcebergLite.SortOrder(Seq("x"))))
    // a PLAIN append now lands range-clustered — no caller-side layout code.
    // (AQE's size-aware coalesce folds this tiny test batch into ONE range
    // partition — the right call at real scale, where partitions are
    // GB-sized; shrink its thresholds so clustering is observable across
    // multiple files here. parallelismFirst mode coalesces by
    // minPartitionSize, not the advisory size.)
    val tuned = Map(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    val s2 = try IcebergLite.append(spark,
      (8000L until 16000L).map(i => (i, (i * 7919 % 8000).toDouble))
        .toDF("k", "x").repartition(8, $"k"), t, Seq("x"), "c2")
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val newSpans = s2.files.filter(_.seq == s2.id)
      .map(f => (parseDouble(f.min("x")), parseDouble(f.max("x"))))
    assert(newSpans.size > 1 && newSpans.forall { case (lo, hi) => hi - lo < 2600 },
      s"ordered append should write tight x ranges, got $newSpans")

    // compact with NO explicit clustering unifies the WHOLE table to the order
    IcebergLite.compact(spark, t, Seq("x"), "cc", targetFileBytes = 16 << 10)
    val unified = spans(t)
    assert(unified.size > 1 && unified.forall { case (lo, hi) => hi - lo < 2600 },
      s"compact should default to the declared order, got $unified")
    assert(IcebergLite.read(spark, t).count() == 16000)

    // order follows renames; dropping an ordered column is refused
    IcebergLite.renameColumn(t, "x", "y")
    assert(IcebergLite.readSnapshot(t).get.order.get.cols == Seq("y"))
    assertThrows[IllegalArgumentException](IcebergLite.dropColumn(t, "y"))
    // z-order validation: non-numeric and wrong arity refused
    assertThrows[IllegalArgumentException](IcebergLite.setSortOrder(t,
      Some(IcebergLite.SortOrder(Seq("y"), zorder = true))))
    // clear: appends stop clustering (metadata-only, nothing rewritten)
    IcebergLite.setSortOrder(t, None)
    assert(IcebergLite.readSnapshot(t).get.order.isEmpty)
  }

  test("bloom sidecars: point lookups prune hash-distributed files; always conservative") {
    val t = tmpTable()
    // 32 hash-distributed files: every file spans ~the full key range, so
    // min/max prunes NOTHING for a point lookup — only the bloom can
    val df = (0L until 64000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(32, $"k")
    IcebergLite.append(spark, df, t, Seq("k"), "c1", bloomCols = Seq("k"))
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.size == 32 && snap.files.forall(_.bloom.contains("k")))

    // single-point lookup: k lives in exactly one file; fp may add a couple
    val q1 = IcebergLite.readWhere(spark, t, $"k" === 12345L)
    assert(q1.as[(Long, String)].collect().toSeq == Seq((12345L, "v12345")))
    assert(q1.inputFiles.length <= 4, s"bloom should prune to ~1 file, got ${q1.inputFiles.length}")

    // IN-list: ≤ one file per key (+fp), and exact results
    val keys = Seq(5L, 999L, 31007L, 63999L)
    val q2 = IcebergLite.readWhere(spark, t, $"k".isin(keys: _*))
    assert(q2.as[(Long, String)].collect().map(_._1).sorted.toSeq == keys)
    assert(q2.inputFiles.length <= keys.size + 3)

    // absent key: bloom may prune ALL files — still a correct empty result
    assert(IcebergLite.readWhere(spark, t, $"k" === -1L).count() == 0)
    // int literal against the long column: analyzer widens, probe downcasts
    assert(IcebergLite.readWhere(spark, t, $"k" === 777).count() == 1)
    // lossy literal (5.5 can never equal a long): conservative, not wrong
    assert(IcebergLite.readWhere(spark, t, $"k" === 5.5).count() == 0)
    // string column on the same table has no bloom: no pruning, right rows
    assert(IcebergLite.readWhere(spark, t, $"v" === "v42").count() == 1)
    // range predicates don't consult blooms (points only)
    assert(IcebergLite.readWhere(spark, t, $"k" >= 63990L).count() == 10)

    // maintenance: compacting away the bloomed files then expiring reaps
    // the sidecars; orphan sweep never touches referenced ones
    assert(IcebergLite.removeOrphanFiles(t, olderThanMillis = 0) == ((0, 0L)))
    IcebergLite.compact(spark, t, Seq("k"), "cc")
    IcebergLite.expireSnapshots(t, keepLast = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t, "blooms", "c1")))
    assert(IcebergLite.read(spark, t).count() == 64000)
  }

  test("removeOrphanFiles: crash residue reaped, referenced files kept, writer guard") {
    import java.nio.file.{Files => F, Paths => P}
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 20L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.mergeOnRead(spark, t, Seq((5L, "M5")).toDF("k", "v"), Seq("k"), Seq("k"), "m1")
    // crash residue: data written, snapshot swap never happened — an aborted
    // append and an aborted MoR upsert (its delete file included)
    IcebergLite.writeData(Seq((900L, "zz")).toDF("k", "v"), t, "aborted1")
    val abortedDel = P.get(t, "deletes", "aborted2")
    Seq(Tuple1(5L)).toDF("k").coalesce(1).write.parquet(abortedDel.toString)
    assert(F.exists(P.get(t, "data", "aborted1")) && F.exists(abortedDel))

    // default 3-day guard: fresh files look like an in-flight writer — kept
    assert(IcebergLite.removeOrphanFiles(t) == ((0, 0L)))
    assert(F.exists(P.get(t, "data", "aborted1")))
    // olderThan 0 (single-writer window): the residue goes, dirs pruned
    val (n, bytes) = IcebergLite.removeOrphanFiles(t, olderThanMillis = 0)
    assert(n > 0 && bytes > 0)
    assert(!F.exists(P.get(t, "data", "aborted1")) && !F.exists(abortedDel))
    // every referenced file (data AND the live MoR delete) survives; the
    // table and its full history read exactly as before
    val got = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got.size == 20 && got(5L) == "M5" && got(7L) == "a7")
    assert(IcebergLite.readAt(spark, t, 0).count() == 20)
    // idempotent: a re-run finds nothing
    assert(IcebergLite.removeOrphanFiles(t, olderThanMillis = 0) == ((0, 0L)))
  }

  test("rollbackTo: metadata-only restore; rolled-over history still travels") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val snapA = IcebergLite.currentSnapshotId(t).get
    IcebergLite.merge(spark, t, Seq((3L, "BAD")).toDF("k", "v"), Seq("k"), Seq("k"), "bad")
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toMap.apply(3L) == "BAD")

    val rolled = IcebergLite.rollbackTo(t, snapA)
    assert(rolled.id == 2 && rolled.parent == 1)
    val got = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(got.size == 10 && got(3L) == "a3")
    // the bad commit still time-travels (history never rewritten)
    assert(IcebergLite.readAt(spark, t, 1).as[(Long, String)]
      .collect().toMap.apply(3L) == "BAD")
    // table remains fully writable after rollback
    IcebergLite.append(spark, Seq((100L, "z")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(IcebergLite.read(spark, t).count() == 11)
    intercept[IllegalArgumentException](IcebergLite.rollbackTo(t, 99L))
  }

  test("uncommitted data (no pointer swap) is invisible — crash atomicity") {
    val t = tmpTable()
    IcebergLite.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), "c1")
    // simulate a crash: data written but snapshot never pointed to
    Seq((99L, "zz")).toDF("k", "v").write.parquet(s"$t/data/crashed")
    assert(IcebergLite.read(spark, t).count() == 1)
  }

  test("idempotence guard is O(1): constant metadata parses however deep the history") {
    val t = tmpTable()
    (0 until 12).foreach { c =>
      IcebergLite.appendIdempotent(spark,
        Seq((c.toLong, s"v$c")).toDF("k", "v"), t, Seq("k"), s"c$c")
    }
    assert(IcebergLite.read(spark, t).count() == 12)
    // a replayed commitId over 12 snapshots of history: the guard reads the
    // CURRENT snapshot's ledger only — a bounded handful of parses, not one
    // per historical snapshot
    val before = IcebergLite.metaParses.get()
    IcebergLite.appendIdempotent(spark,
      Seq((3L, "dup")).toDF("k", "v"), t, Seq("k"), "c3")
    val parses = IcebergLite.metaParses.get() - before
    assert(parses <= 4, s"replay guard did $parses metadata parses (O(history)?)")
    assert(IcebergLite.read(spark, t).count() == 12, "replay must be a no-op")
    // the ledger survives EXPIRY of the original commit's snapshots (the
    // historical-scan guard could not: the expired files no longer witness
    // the commit, and a replay would append duplicates)
    IcebergLite.expireSnapshots(t, keepLast = 2)
    IcebergLite.appendIdempotent(spark,
      Seq((1L, "dup")).toDF("k", "v"), t, Seq("k"), "c1")
    assert(IcebergLite.read(spark, t).count() == 12, "replay after expiry must stay a no-op")
    // ...and a ROLLBACK past a commit keeps it too (union ledger)
    IcebergLite.rollbackTo(t, IcebergLite.snapshots(t).head)
    IcebergLite.appendIdempotent(spark,
      Seq((5L, "dup")).toDF("k", "v"), t, Seq("k"), "c5")
    assert(!IcebergLite.read(spark, t).as[(Long, String)].collect().contains((5L, "dup")))
  }

  test("schema evolution preserves pending equality deletes (MoR + addColumn)") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.mergeOnRead(spark, t, Seq((3L, "M3")).toDF("k", "v"), Seq("k"), Seq("k"), "m1")
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toMap.apply(3L) == "M3")
    // a metadata-only evolution commit must CARRY the pending delete — if it
    // dropped it, the superseded (3, "a3") row would resurrect
    IcebergLite.addColumn(t, "extra", "int")
    val got = IcebergLite.read(spark, t).select($"k", $"v").as[(Long, String)].collect().toMap
    assert(got.size == 10 && got(3L) == "M3", "addColumn dropped pending equality deletes")
    IcebergLite.renameColumn(t, "v", "val")
    val got2 = IcebergLite.read(spark, t).select($"k", $"val").as[(Long, String)].collect().toMap
    assert(got2.size == 10 && got2(3L) == "M3", "renameColumn dropped pending equality deletes")
    // dropping a pending delete-key column is refused (compact first)
    intercept[IllegalArgumentException](IcebergLite.dropColumn(t, "k"))
    IcebergLite.compact(spark, t, Seq("k"), "comp")
    IcebergLite.dropColumn(t, "k") // clean after compaction
  }

  test("readIncremental refuses a delete-entry swap and pre-upgrade (seq-less) manifests") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 5L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.append(spark, (5L until 9L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(IcebergLite.readIncremental(spark, t, 0, 1).count() == 4)
    val meta = java.nio.file.Paths.get(t, "_graft_meta", "snapshot-1.json")
    val js = java.nio.file.Files.readString(meta)
    val render = classOf[IcebergLite.type].getDeclaredMethods
      .find(_.getName == "renderSnapshot").get
    render.setAccessible(true)
    // simulate a pre-upgrade snapshot: INLINE file list (manifests = Nil
    // renders the legacy "files" form) with the seq field stripped
    val inline1 = render.invoke(IcebergLite,
      IcebergLite.parseSnapshot(js).copy(manifests = Nil)).asInstanceOf[String]
    java.nio.file.Files.writeString(meta, inline1.replaceAll(""","seq":\d+""", ""))
    val e = intercept[IllegalArgumentException](IcebergLite.readIncremental(spark, t, 0, 1))
    assert(e.getMessage.contains("pre-upgrade"), e.getMessage)
    // full-range scan is still well-defined (seq 0 > -1 keeps every file)
    assert(IcebergLite.readIncremental(spark, t, -1, 1).count() == 9)
    java.nio.file.Files.writeString(meta, js) // restore
    // a same-SIZE delete set whose entries differ is a refused commit shape
    val snap1 = IcebergLite.parseSnapshot(js)
    val forged = snap1.copy(deletes = Seq(IcebergLite.DeleteEntry("/nowhere.parquet", 2, Seq("k"))))
    val snap0js = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_graft_meta", "snapshot-0.json"))
    val withDel = IcebergLite.parseSnapshot(snap0js)
      .copy(deletes = Seq(IcebergLite.DeleteEntry("/elsewhere.parquet", 2, Seq("k"))))
    java.nio.file.Files.writeString(meta, render.invoke(IcebergLite, forged).asInstanceOf[String])
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_graft_meta", "snapshot-0.json"),
      render.invoke(IcebergLite, withDel).asInstanceOf[String])
    val e2 = intercept[IllegalArgumentException](IcebergLite.readIncremental(spark, t, 0, 1))
    assert(e2.getMessage.contains("replacing or delete commit"), e2.getMessage)
  }

  test("expireSnapshots honors the registered-consumer retention floor") {
    val t = tmpTable()
    (0 until 5).foreach { c =>
      IcebergLite.append(spark,
        Seq((c.toLong, s"v$c")).toDF("k", "v"), t, Seq("k"), s"c$c")
    }
    IcebergLite.registerConsumer(t, "follower-a", 1L)
    // keepLast=1 would expire 0..3, but the floor pins 1..4
    val (expired, _) = IcebergLite.expireSnapshots(t, keepLast = 1)
    assert(expired == Seq(0L), s"floor violated: expired $expired")
    assert(IcebergLite.readIncremental(spark, t, 1, 4).count() == 3,
      "the follower's next incremental tick must stay readable")
    // consumer advances -> floor rises; deregistering removes it entirely
    IcebergLite.registerConsumer(t, "follower-a", 3L)
    assert(IcebergLite.expireSnapshots(t, keepLast = 1)._1 == Seq(1L, 2L))
    IcebergLite.deregisterConsumer(t, "follower-a")
    assert(IcebergLite.expireSnapshots(t, keepLast = 1)._1 == Seq(3L))
  }

  test("maintain: MoR delete debt beyond policy triggers compact, resets read path") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 100L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    // 3 stacked MoR batches: below the policy (max 8 files) → no-op
    (1 to 3).foreach { i =>
      IcebergLite.mergeOnRead(spark, t,
        Seq((i.toLong, s"M$i")).toDF("k", "v"), Seq("k"), Seq("k"), s"m$i")
    }
    assert(IcebergLite.pendingDeletes(t)._1 == 3)
    assert(IcebergLite.maintain(spark, t, Seq("k"), "maint0").compacted.isEmpty,
      "below policy: no-op")
    // tight policy → compact fires, deletes cleared, content identical
    val before = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    val rep = IcebergLite.maintain(spark, t, Seq("k"), "maint1",
      IcebergLite.MaintenancePolicy(maxPendingDeleteFiles = 2))
    assert(rep.compacted.isDefined && rep.compacted.get.deletes.isEmpty,
      "policy must compact and clear deletes")
    val after = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(after == before && after(2L) == "M2" && after.size == 100)
    // idempotent follow-up: debt is zero now
    assert(IcebergLite.maintain(spark, t, Seq("k"), "maint2",
      IcebergLite.MaintenancePolicy(maxPendingDeleteFiles = 0)).compacted.isEmpty)
    // full-policy tick: retention + orphan legs run in the same call
    val rep2 = IcebergLite.maintain(spark, t, Seq("k"), "maint3",
      IcebergLite.MaintenancePolicy(keepSnapshots = Some(1),
        orphansOlderThanMillis = Some(0L)))
    assert(rep2.compacted.isEmpty && rep2.expiredSnapshots.nonEmpty)
    assert(IcebergLite.snapshots(t).size == 1)
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toMap == before)
  }

  test("sorted compact re-clusters: disjoint file ranges, pruning restored, order-insensitive content") {
    val t = tmpTable()
    IcebergLite.append(spark,
      spark.range(1000).selectExpr("id AS k", "concat('a', id) AS v")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("k")),
      t, Seq("k"), "c1")
    // stack MoR upserts that touch every base file (strided keys)
    (1 to 4).foreach { i =>
      IcebergLite.mergeOnRead(spark,  t,
        spark.range(10).selectExpr(s"id * 100 + $i AS k", s"'M$i' AS v"),
        Seq("k"), Seq("k"), s"m$i")
    }
    val before = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    IcebergLite.compact(spark, t, Seq("k"), "sorted", sortBy = Seq("k"))
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.deletes.isEmpty)
    // every compacted file carries k stats and the ranges are disjoint
    val ranges = snap.files.map(f => (f.min("k").toLong, f.max("k").toLong)).sortBy(_._1)
    assert(ranges.size > 1, "rewrite should produce multiple files")
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges must be disjoint after sorted compact: $ranges")
    }
    // a narrow range read opens only the matching file(s)
    val q = IcebergLite.readWhere(spark, t,
      org.apache.spark.sql.functions.col("k").between(10, 20))
    assert(q.inputFiles.length < snap.files.size,
      s"pruning must skip files: ${q.inputFiles.length} of ${snap.files.size}")
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toMap == before)
  }

  test("optimistic concurrency: racing appends all land, none lost") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = tmpTable()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 8).map { i => Future {
        IcebergLite.append(spark,
          spark.range(i * 10, i * 10 + 10).selectExpr("id AS k", "concat('w', id) AS v"),
          t, Seq("k"), s"writer$i")
      }}
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val snap = IcebergLite.readSnapshot(t).get
    val lineage = IcebergLite.snapshots(t).map(id =>
      IcebergLite.snapshotAt(t, id).map(s =>
        s"id=${s.id} parent=${s.parent} cids=${s.commitIds.toSeq.sorted}").getOrElse(s"id=$id ?"))
    assert(snap.commitIds.filter(_.startsWith("writer")).size == 8,
      s"all 8 commits in the ledger: ${snap.commitIds}; lineage:\n${lineage.mkString("\n")}")
    val rows = IcebergLite.read(spark, t).as[(Long, String)].collect()
    assert(rows.length == 80 && rows.map(_._1).toSet == (0L until 80L).toSet,
      s"no commit may be lost: ${rows.length} rows")
    // every file's seq matches a real snapshot lineage (rebase restamped)
    assert(snap.files.forall(f => f.seq >= 0 && f.seq <= snap.id))
  }

  test("optimistic concurrency: racing appendIdempotent with one commitId lands once") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = tmpTable()
    IcebergLite.append(spark, Seq((0L, "base")).toDF("k", "v"), t, Seq("k"), "base")
    val batch = spark.range(100, 110).selectExpr("id AS k", "'dup' AS v")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 4).map { _ => Future {
        IcebergLite.appendIdempotent(spark, batch, t, Seq("k"), "same_commit")
      }}
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val rows = IcebergLite.read(spark, t).as[(Long, String)].collect()
    assert(rows.length == 11, s"the shared commitId must land exactly once: ${rows.length}")
  }

  test("commit lock: a stale orphaned lock is broken, commits proceed") {
    val t = tmpTable()
    IcebergLite.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), "c1")
    val lock = java.nio.file.Paths.get(t, "_graft_meta", "COMMIT.lock")
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    IcebergLite.append(spark, Seq((2L, "b")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(IcebergLite.read(spark, t).count() == 2)
    assert(!java.nio.file.Files.exists(lock), "winner must release the broken lock")
  }

  test("readIncrementalWhere: delta files pruned by partition value before opening") {
    val t = tmpTable()
    def batch(tag: String, lo: Long) =
      (lo until lo + 40L).map(i => (i, Seq("east", "west", "north", "south")(((i - lo) / 10L).toInt), s"$tag$i"))
        .toDF("k", "r", "v")
    val s0 = IcebergLite.createPartitioned(spark, batch("a", 0L), t,
      Seq(IcebergLite.PartitionField("r", "r", "identity")), Seq("k"), "c0")
    IcebergLite.append(spark, batch("b", 100L), t, Seq("k"), "c1")
    val s2 = IcebergLite.append(spark, batch("c", 200L), t, Seq("k"), "c2")
    val q = IcebergLite.readIncrementalWhere(spark, t, s0.id, s2.id, $"r" === "east")
    // only the two delta commits' east partition opens — never c0, never
    // another region's directory
    assert(q.inputFiles.nonEmpty && q.inputFiles.forall(p =>
      (p.contains("/data/c1/") || p.contains("/data/c2/")) && p.contains("p_r=east")),
      q.inputFiles.mkString(","))
    // results ≡ the unpruned incremental scan with a row-level filter
    assert(q.count() == 20)
    assert(q.agg(min($"k"), max($"k")).as[(Long, Long)].head() == ((100L, 209L)))
    // stats pruning composes: a k-range covering one commit opens one file
    val q2 = IcebergLite.readIncrementalWhere(spark, t, s0.id, s2.id,
      $"r" === "east" && $"k" < 150L)
    assert(q2.inputFiles.forall(p => p.contains("/data/c1/") && p.contains("p_r=east")))
    assert(q2.count() == 10)
  }

  test("tags pin snapshots through expireSnapshots; readTag time-travels by name") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 20L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val s1 = IcebergLite.append(spark,
      (20L until 40L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c2")
    IcebergLite.setTag(t, "v1", s1.id)
    assertThrows[IllegalArgumentException](IcebergLite.setTag(t, "ghost", 99L))
    IcebergLite.append(spark, (40L until 50L).map(i => (i, s"c$i")).toDF("k", "v"), t, Seq("k"), "c3")
    IcebergLite.compact(spark, t, Seq("k"), "comp1") // strands pre-compact files
    val (expired, _) = IcebergLite.expireSnapshots(t, keepLast = 1)
    // untagged history around the tag expires; the tagged snapshot survives
    assert(!expired.contains(s1.id) && expired.nonEmpty)
    val tagged = IcebergLite.readTag(spark, t, "v1")
    assert(tagged.count() == 40 && tagged.agg(max($"k")).as[Long].head() == 39L)
    // dropping the tag releases the pin: the snapshot (and its last files)
    // expire on the next pass, and the name stops resolving
    IcebergLite.dropTag(t, "v1")
    val (expired2, _) = IcebergLite.expireSnapshots(t, keepLast = 1)
    assert(expired2.contains(s1.id))
    assertThrows[IllegalArgumentException](IcebergLite.readTag(spark, t, "v1"))
    assert(IcebergLite.read(spark, t).count() == 50) // live table untouched
  }

  test("rowCount answers from metadata; refuses while MoR deletes pend; compact restores") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 25L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.append(spark, (25L until 60L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(IcebergLite.rowCount(t).contains(60L))
    // pending equality deletes make per-file counts an overcount: refuse
    IcebergLite.mergeOnRead(spark, t, Seq((5L, "M5")).toDF("k", "v"), Seq("k"), Seq("k"), "m1")
    assert(IcebergLite.rowCount(t).isEmpty)
    assert(IcebergLite.read(spark, t).count() == 60) // scan stays exact
    IcebergLite.compact(spark, t, Seq("k"), "cc")
    assert(IcebergLite.rowCount(t).contains(60L))
  }

  test("readIncremental after a MoR commit: delta rows unaffected by earlier deletes") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 30L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    // a delete commit BEFORE the range is fine — equality deletes scope to
    // files with seq < delete seq, and every delta file is newer
    val m1 = IcebergLite.mergeOnRead(spark, t, Seq((5L, "M5")).toDF("k", "v"),
      Seq("k"), Seq("k"), "m1")
    val c2 = IcebergLite.append(spark,
      (100L until 120L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c2")
    val inc = IcebergLite.readIncremental(spark, t, m1.id, c2.id)
    assert(inc.count() == 20 && inc.agg(min($"k")).as[Long].head() == 100L)
    // and the full snapshot still applies the delete exactly once
    assert(IcebergLite.read(spark, t).where($"k" === 5L)
      .as[(Long, String)].collect().toSeq == Seq((5L, "M5")))
  }

  test("readWhereAt: pruned time travel at a tagged snapshot") {
    val t = tmpTable()
    def batch(tag: String, lo: Long) =
      (lo until lo + 40L).map(i => (i, Seq("e", "w")(((i - lo) / 20L).toInt), s"$tag$i"))
        .toDF("k", "r", "v")
    IcebergLite.createPartitioned(spark, batch("a", 0L), t,
      Seq(IcebergLite.PartitionField("r", "r", "identity")), Seq("k"), "c0")
    val s0 = IcebergLite.readSnapshot(t).get
    IcebergLite.setTag(t, "rel", s0.id)
    IcebergLite.append(spark, batch("b", 100L), t, Seq("k"), "c1")
    val q = IcebergLite.readWhereAt(spark, t, IcebergLite.tags(t)("rel"), $"r" === "e")
    // the historical read opens ONLY the tagged snapshot's matching partition
    assert(q.inputFiles.nonEmpty && q.inputFiles.forall(p =>
      p.contains("/data/c0/") && p.contains("p_r=e")), q.inputFiles.mkString(","))
    assert(q.count() == 20 && q.agg(max($"k")).as[Long].head() == 19L)
    // ≡ unpruned time travel + row filter
    assert(IcebergLite.readAt(spark, t, s0.id).where($"r" === "e").count() == 20)
  }

  test("deleteKeys: O(keys) row-level DELETE, folded by compact, idempotent") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 50L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val pre = IcebergLite.currentSnapshotId(t).get
    // duplicate keys in the batch are fine (distinct'd); no data rewritten
    IcebergLite.deleteKeys(spark, t, Seq(3L, 7L, 7L, 41L).toDF("k"), Seq("k"), "d1")
    val after = IcebergLite.read(spark, t)
    assert(after.count() == 47 && after.where($"k".isin(3L, 7L, 41L)).count() == 0)
    // time travel still shows the pre-delete state; rowCount refuses
    assert(IcebergLite.readAt(spark, t, pre).count() == 50)
    assert(IcebergLite.rowCount(t).isEmpty)
    // the commit wrote ONLY a delete file - every data file carried by path
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.map(_.path).toSet ==
      IcebergLite.snapshotAt(t, pre).get.files.map(_.path).toSet)
    // type-mismatched keys would silently delete nothing: refused
    assertThrows[IllegalArgumentException](
      IcebergLite.deleteKeys(spark, t, Seq(3).toDF("k"), Seq("k"), "d2")) // int vs long
    // rows appended AFTER the delete are untouched even on the same keys
    IcebergLite.append(spark, Seq((7L, "NEW7")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(IcebergLite.read(spark, t).where($"k" === 7L)
      .as[(Long, String)].collect().toSeq == Seq((7L, "NEW7")))
    // crash-retry replay is a metadata no-op
    val cur = IcebergLite.currentSnapshotId(t).get
    IcebergLite.deleteKeys(spark, t, Seq(3L).toDF("k"), Seq("k"), "d1")
    assert(IcebergLite.currentSnapshotId(t).contains(cur))
    // compact folds the deletes; the fast count path returns
    IcebergLite.compact(spark, t, Seq("k"), "cc")
    assert(IcebergLite.rowCount(t).contains(48L))
    assert(IcebergLite.read(spark, t).count() == 48)
  }

  test("snapshot JSON roundtrip") {
    val s = IcebergLite.Snapshot(3, 2, """{"type":"struct"}""",
      Seq(IcebergLite.FileEntry("/a/b \"q\".parquet", 10,
        Map("k" -> "-5"), Map("k" -> "42"), seq = 2)),
      renames = Map("val" -> "v"),
      deletes = Seq(IcebergLite.DeleteEntry("/a/del.parquet", 3, Seq("k", "k2"))),
      commitIds = Set("c1", "c2", "m \"x\""))
    val js = {
      // render via append path is file-bound; test parse on a hand render
      val m = classOf[IcebergLite.type].getDeclaredMethods
        .find(_.getName == "renderSnapshot").get
      m.setAccessible(true)
      m.invoke(IcebergLite, s).asInstanceOf[String]
    }
    assert(IcebergLite.parseSnapshot(js) == s)
  }

  test("identity string partition values with escapable chars prune correctly") {
    // partitionBy path-escapes ':', '%', '=', '#', '/' as %XX — recorded
    // partition values must be UNESCAPED or equality pruning silently drops
    // the files before the residual predicate runs
    val t = tmpTable()
    val rows = Seq(
      (1L, "a:b"), (2L, "a:b"),
      (3L, "x%y"), (4L, "p=q"), (5L, "plain")
    ).toDF("k", "region")
    IcebergLite.createPartitioned(spark, rows, t,
      Seq(IcebergLite.PartitionField("region", "region", "identity")),
      Seq("k"), "c1")
    val snap = IcebergLite.readSnapshot(t).get
    val stored = snap.files.flatMap(_.partition.get("region")).toSet
    assert(stored == Set("a:b", "x%y", "p=q", "plain"),
      s"partition values must be stored unescaped, got $stored")
    def keys(v: String): Set[Long] =
      IcebergLite.readWhere(spark, t, col("region") === v)
        .select("k").as[Long].collect().toSet
    assert(keys("a:b") == Set(1L, 2L))
    assert(keys("x%y") == Set(3L))
    assert(keys("p=q") == Set(4L))
    assert(keys("plain") == Set(5L))
    // equality pruning still prunes: a one-value read opens only that
    // partition's files
    val one = IcebergLite.readWhere(spark, t, col("region") === "plain")
    assert(one.inputFiles.length < snap.files.size)
  }

  test("unescapePathSegment inverts Spark's %XX path escaping") {
    assert(IcebergLite.unescapePathSegment("a%3Ab") == "a:b")
    assert(IcebergLite.unescapePathSegment("x%25y") == "x%y")
    assert(IcebergLite.unescapePathSegment("p%3Dq") == "p=q")
    assert(IcebergLite.unescapePathSegment("%2F") == "/")
    assert(IcebergLite.unescapePathSegment("plain") == "plain")
    assert(IcebergLite.unescapePathSegment("50%") == "50%")   // dangling %
    assert(IcebergLite.unescapePathSegment("%zz") == "%zz")   // non-hex
  }

  test("writeData refuses a commitId already committed on main's lineage") {
    val t = tmpTable()
    IcebergLite.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), "c1")
    val before = IcebergLite.read(spark, t).as[(Long, String)].collect().toSet
    // a plain replay of a committed id must be refused BEFORE any IO —
    // mode(overwrite) would clobber the files the committed snapshot holds
    val e = intercept[IllegalArgumentException](
      IcebergLite.writeData(Seq((9L, "z")).toDF("k", "v"), t, "c1"))
    assert(e.getMessage.contains("c1"))
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toSet == before)
  }

  test("appendToBranch refuses a commitId main committed after the fork") {
    val t = tmpTable()
    IcebergLite.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq("k"), "base")
    IcebergLite.createBranch(t, "stage")
    // main advances past the fork with commitId "madv"
    IcebergLite.append(spark, Seq((2L, "b")).toDF("k", "v"), t, Seq("k"), "madv")
    val mainBefore = IcebergLite.read(spark, t).as[(Long, String)].collect().toSet
    // staging the SAME id on the branch would overwrite data/madv/ — the
    // files main's committed snapshot references
    intercept[IllegalArgumentException](
      IcebergLite.appendToBranch(spark, Seq((3L, "c")).toDF("k", "v"),
        t, "stage", Seq("k"), "madv"))
    assert(IcebergLite.read(spark, t).as[(Long, String)].collect().toSet == mainBefore)
    IcebergLite.dropBranch(t, "stage")
  }

  test("compact replay with the same commitId is a metadata-checked no-op") {
    val t = tmpTable()
    IcebergLite.append(spark,
      (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(3),
      t, Seq("k"), "c1")
    IcebergLite.append(spark,
      (40 until 80).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(3),
      t, Seq("k"), "c2")
    val first = IcebergLite.compact(spark, t, Seq("k"), "cc")
    val replay = IcebergLite.compact(spark, t, Seq("k"), "cc")
    assert(replay.id == first.id, "replay must not commit a new snapshot")
    assert(replay.files.map(_.path).sorted == first.files.map(_.path).sorted)
    assert(IcebergLite.read(spark, t).select(sum($"k")).as[Long].head() ==
      (0 until 80).map(_.toLong).sum)
  }

  // Literal metadata as the earlier hand-written renderer wrote it. The
  // control-character escape is spliced in: a literal one would be decoded
  // by the compiler.
  private val u1 = "\\u0001"
  private val everyField = raw"""{"id":7,"parent":6,"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{\"comment\":\"naïve \\\"q\\\"\"}}]}","files":[{"path":"/t/data/c\"1\\x/p_p=a\nb/part-0\t.parquet","rows":12,"min":{"k":"-5","s":"é${u1}"},"max":{"k":"42","s":"ü—z"},"seq":6,"partition":{"p":"a\nb"},"bloom":{"k":"/t/blooms/c1/f0_k.bloom"}}],"renames":{"val":"v","ünï":"u\"q"},"deletes":[{"path":"/t/deletes/c2/part-0.parquet","seq":6,"keys":["k","k\\2"]}],"commit_ids":["c\"2","c1","c\\3","日本"],"spec":[{"name":"p","source":"s\tx","transform":"identity"},{"name":"b","source":"k","transform":"bucket[4]"}],"order":{"cols":["k","v"],"zorder":true}}"""
  private val legacyInline = raw"""{"id":2,"parent":1,"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}}]}","files":[{"path":"/t/data/c1/part-0.parquet","rows":5,"min":{"k":"0"},"max":{"k":"4"}},{"path":"/t/data/c2/part-0.parquet","rows":3,"min":{"k":"5"},"max":{"k":"7"}}]}"""
  private val manifestArray = raw"""[{"path":"/t/data/c3/p_r=EU/part-0.parquet","rows":9,"min":{"k":"1","r":"EU"},"max":{"k":"9","r":"EU"},"seq":3,"partition":{"r":"EU"}},{"path":"/t/data/c3/p_r=US/part-1.parquet","rows":4,"min":{},"max":{},"seq":3,"bloom":{"k":"/t/blooms/c3/f1_k.bloom"}}]"""

  test("codec: metadata written by the earlier renderer parses, and renders back byte-identical") {
    val schema = """{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,""" +
      """"metadata":{}},{"name":"s","type":"string","nullable":true,""" +
      """"metadata":{"comment":"naïve \"q\""}}]}"""
    val s = IcebergLite.parseSnapshot(everyField)
    assert(s == IcebergLite.Snapshot(7, 6, schema,
      Seq(IcebergLite.FileEntry("/t/data/c\"1\\x/p_p=a\nb/part-0\t.parquet", 12,
        Map("k" -> "-5", "s" -> "é\u0001"), Map("k" -> "42", "s" -> "ü—z"), seq = 6,
        partition = Map("p" -> "a\nb"), bloom = Map("k" -> "/t/blooms/c1/f0_k.bloom"))),
      renames = Map("val" -> "v", "ünï" -> "u\"q"),
      deletes = Seq(IcebergLite.DeleteEntry("/t/deletes/c2/part-0.parquet", 6, Seq("k", "k\\2"))),
      commitIds = Set("c1", "c\"2", "c\\3", "日本"),
      spec = Seq(IcebergLite.PartitionField("p", "s\tx", "identity"),
        IcebergLite.PartitionField("b", "k", "bucket[4]")),
      order = Some(IcebergLite.SortOrder(Seq("k", "v"), zorder = true))))
    assert(IcebergLite.renderSnapshot(s) == everyField)

    // pre-seq, pre-ledger inline snapshot: seq reads as 0, the ledger as empty
    val legacy = IcebergLite.parseSnapshot(legacyInline)
    assert(legacy.files.map(f => (f.path, f.rows, f.min, f.max, f.seq)) == Seq(
      ("/t/data/c1/part-0.parquet", 5L, Map("k" -> "0"), Map("k" -> "4"), 0L),
      ("/t/data/c2/part-0.parquet", 3L, Map("k" -> "5"), Map("k" -> "7"), 0L)))
    assert(legacy.commitIds.isEmpty && legacy.manifests.isEmpty && legacy.deletes.isEmpty)

    // a manifest file is loaded through the snapshot that references it
    val mf = TestDirs.create("graft_codec").resolve("manifest-3-1.json")
    Files.writeString(mf, manifestArray)
    val viaManifest = IcebergLite.parseSnapshot(
      s"""{"id":3,"parent":2,"schema":"{}","manifests":["$mf"]}""")
    assert(viaManifest.manifests == Seq(mf.toString))
    assert(viaManifest.files == Seq(
      IcebergLite.FileEntry("/t/data/c3/p_r=EU/part-0.parquet", 9,
        Map("k" -> "1", "r" -> "EU"), Map("k" -> "9", "r" -> "EU"), seq = 3,
        partition = Map("r" -> "EU")),
      IcebergLite.FileEntry("/t/data/c3/p_r=US/part-1.parquet", 4, Map.empty, Map.empty,
        seq = 3, bloom = Map("k" -> "/t/blooms/c3/f1_k.bloom"))))
  }

  test("codec: ids, seqs and row counts above 2^53 round-trip exactly") {
    val big = (1L << 53) + 1
    val s = IcebergLite.Snapshot(big, big - 1, "{}",
      Seq(IcebergLite.FileEntry("/t/data/c/part-0.parquet", big, Map.empty, Map.empty, seq = big)),
      deletes = Seq(IcebergLite.DeleteEntry("/t/deletes/c/part-0.parquet", big, Seq("k"))))
    assert(IcebergLite.parseSnapshot(IcebergLite.renderSnapshot(s)) == s)
  }
}
