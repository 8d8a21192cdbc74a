package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.{SparkTestSession, TestDirs}

class StreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("AvailableNow windowed counts == batch windowed counts on the events table") {
    // file streams need a directory; stage the single-file table into one
    val dir = TestDirs.create("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val batchDf = spark.read.parquet(dir)
    val stream = Streams.parquetStream(spark, dir, batchDf.schema)
    Streams.drainToMemory(
      Streams.windowedCounts(stream, "ts", "1 hour", "1 hour"),
      "win_counts", OutputMode.Append())
    val got = spark.table("win_counts")
      .select($"w_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val expected = batchDf
      .withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    // AvailableNow + watermark: closed windows are emitted; final window may
    // be held back by the watermark, so got ⊆ expected and covers ≥95%
    assert(got.subsetOf(expected), s"streaming emitted rows absent from batch: ${got diff expected}")
    assert(got.size >= (expected.size * 95) / 100, s"${got.size}/${expected.size} windows emitted")
  }

  test("streaming tile assignment (stream-static broadcast join) ≡ batch flagship") {
    val dir = TestDirs.create("graft_stream_docs").toString
    val docs = graft.model.SynthCorpus.docs(spark, 3000)
    docs.write.mode("overwrite").parquet(dir)
    val tiles = graft.model.SynthCorpus.tileGrid(spark).drop("path", "row")

    val stream = Streams.parquetStream(spark, dir, spark.read.parquet(dir).schema)
    Streams.drainToMemory(Streams.streamingTileAssign(stream, tiles),
      "stream_assign", OutputMode.Append())
    val got = spark.table("stream_assign")
      .as[(String, String)].collect().toSet

    val expected = graft.ops.TileAssign.assign(spark.read.parquet(dir), tiles)
      .select($"doc_id", $"tile_id").as[(String, String)].collect().toSet
    assert(got == expected, s"stream/batch diff: ${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
    assert(got.nonEmpty)
  }

  test("watermark drops late data; sliding windows count each event per hop") {
    import org.apache.spark.sql.streaming.Trigger
    val in = TestDirs.create("graft_late_in").toString
    val ckpt = TestDirs.create("graft_late_ck").toString
    def write(rows: Seq[(java.sql.Timestamp, String)]): Unit =
      rows.toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(in)
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")

    // batch 1: events in [10:00, 10:10) plus one at 10:21 to advance the watermark
    write(Seq((t(1), "a"), (t(2), "a"), (t(7), "b"), (t(21), "c")))
    val schema = spark.read.parquet(in).schema
    val outDir = TestDirs.create("graft_late_out").toString
    def drain(): Unit = {
      val q = Streams.windowedCounts(
          Streams.parquetStream(spark, in, schema), "ts", "10 minutes", "5 minutes")
        .writeStream.format("parquet").option("path", outDir).outputMode("append")
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // batch 2: a LATE event at 10:03 — watermark is 10:21-5min=10:16 > window
    // [10:00,10:10) end, so it must be DROPPED; plus 10:35 to advance further
    write(Seq((t(3), "a"), (t(35), "c")))
    drain()
    val emitted = spark.read.parquet(outDir)
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, e, n) => (w, e) -> n }.toMap
    // [10:00,10:10) × a finalized with count 2 (late 10:03 row NOT counted)
    assert(emitted((t(0), "a")) == 2L, s"late row leaked into finalized window: $emitted")
    assert(emitted((t(0), "b")) == 1L)

    // sliding windows: one event lands in two 10-min/5-min-hop windows
    val slide = Streams.windowedCounts(
      Seq((t(7), "x")).toDF("ts", "event_type"), "ts", "10 minutes", "0 seconds",
      slide = Some("5 minutes"))
    val wins = slide.select($"w_start").as[java.sql.Timestamp].collect().toSet
    assert(wins == Set(t(0), t(5)))
  }

  test("durable sink: kill mid-drain, resume → table byte-identical to batch, exactly-once") {
    val in = TestDirs.create("graft_durable_in").toString
    val ckpt = TestDirs.create("graft_durable_ck").toString
    val base = TestDirs.create("graft_durable_tbl").toString
    // 4 input files → 4 micro-batches under maxFilesPerTrigger=1
    val rows = (0L until 400L).map(k => (k, s"v$k"))
    rows.toDF("k", "v").repartition(4).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def stream = Streams.parquetStream(spark, in, schema, Map("maxFilesPerTrigger" -> "1"))

    // crash AFTER batch 1's table commit but BEFORE the stream checkpoint
    // advances — the worst torn state (data durable, offsets not)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.appendToTable(stream, base, "ingest", "k", ckpt,
        onBatchCommitted = id => if (id == 1) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    val midCount = graft.run.Checkpoint.committed(spark, base, "ingest").count()
    assert(midCount == 200, s"two batches should have landed before the crash, got $midCount")

    // resume with the same checkpoint: batch 1 replays (skipped on metadata),
    // batches 2..3 drain — final table must equal the input exactly once
    Streams.appendToTable(stream, base, "ingest", "k", ckpt)
    val got = graft.run.Checkpoint.committed(spark, base, "ingest")
      .select($"k", $"v").as[(Long, String)].collect()
    assert(got.length == 400, s"exactly-once violated: ${got.length} rows")
    assert(got.toSet == rows.toSet)
    // lineage log: the replayed batch's entry committed with its output in
    // the first drain, so all four batches are accounted for exactly once
    val log = graft.run.Checkpoint.log(spark, base, "ingest")
    assert(log.agg(sum($"rows_out")).as[Long].head() == 400)
    assert(log.select($"commit_id").distinct().count() == 4)

    // a THIRD drain (nothing new) is a no-op — idempotent re-runs
    Streams.appendToTable(stream, base, "ingest", "k", ckpt)
    assert(graft.run.Checkpoint.committed(spark, base, "ingest").count() == 400)
  }

  test("append-mode windowed drain: watermark closes windows, state stays bounded, re-run no-op") {
    // clear the fingerprint-keyed staging root so THIS run drains fresh
    // (a prior session's checkpoint would make it a zero-batch no-op)
    val src = "/root/testdata/sf0.001/events.parquet"
    val prefix = s"graft_str_winapp_${src.replaceAll("[^a-zA-Z0-9]", "_")}_"
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    graft.Fs.reapStaleSiblings(tmp.resolve(prefix + "nonexistent"), prefix)
    val (got, stateRows) = Streams.dailyCountsAppendDurable(spark, src)
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", $"ts".cast("timestamp"))
    val wm = events.agg(max($"ts")).head().getTimestamp(0).toInstant
      .minusSeconds(3600)
    val expected = events
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .where($"w.end".cast("timestamp") <= lit(java.sql.Timestamp.from(wm)))
      .select(date_format($"w.start", "yyyy-MM-dd").as("day"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(expected.nonEmpty, "watermark cutoff left nothing — test data degenerate")
    assert(got.select($"day", $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet == expected)
    // the LAST (still-open) day must be absent — eviction-not-yet semantics
    val lastDay = events.agg(date_format(max($"ts"), "yyyy-MM-dd")).head().getString(0)
    assert(got.where($"day" === lastDay).isEmpty,
      s"open window $lastDay must not be emitted in append mode")
    // state stayed bounded: no batch held more rows than (days × types) and
    // the final batch held LESS than the total window count (eviction ran)
    val allWindows = expected.size + 5 // + the open last-day windows
    assert(stateRows.nonEmpty && stateRows.forall(_ <= allWindows))
    assert(stateRows.last < allWindows,
      s"final state ${stateRows.last} shows no eviction (total windows $allWindows)")
    // the staged source's file mtimes (the file source's batch order)
    // ascend with the files' ts ranges
    val srcDir = graft.Fs.fixtureRoot("str_winapp", src, java.nio.file.Paths.get(src)).resolve("src")
    val staged = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(srcDir)
      try st.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      finally st.close()
    }.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min($"ts".cast("timestamp")), max($"ts".cast("timestamp"))).head()
      (java.nio.file.Files.getLastModifiedTime(f).toMillis, r.getTimestamp(0), r.getTimestamp(1))
    }.sortBy(_._1)
    assert(staged.size == 4, s"expected 4 staged ts-range files, got ${staged.size}")
    staged.sliding(2).foreach { case Seq((m0, _, hi0), (m1, lo1, _)) =>
      assert(m0 < m1 && !hi0.after(lo1), s"batch order breaks ts order: $staged")
    }
    // re-run against unchanged data: complete checkpoint, zero new batches
    val (again, _) =
      Streams.dailyCountsAppendDurable(spark, "/root/testdata/sf0.001/events.parquet")
    assert(again.count() == got.count())
  }

  test("session windows: events within the gap merge, a larger gap splits sessions") {
    def t(min: Int, sec: Int = 0) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
    // key "a": 10:00, 10:03, 10:06 (gaps 3min < 5min → ONE session 10:00-10:11),
    // then 10:20 (gap 14min → a second session); key "b": one event
    val events = Seq((t(0), "a"), (t(3), "a"), (t(6), "a"), (t(20), "a"), (t(2), "b"))
      .toDF("ts", "event_type")
    val got = Streams.sessionCounts(events, "ts", "5 minutes")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect()
      .map { case (s, e, k, n) => (s, e, k, n) }.toSet
    assert(got == Set(
      (t(0), t(11), "a", 3L),  // session end = last event + gap
      (t(20), t(25), "a", 1L),
      (t(2), t(7), "b", 1L)))
  }

  test("durable sink survives CHECKPOINT LOSS: new epoch commitIds + anti-join, no loss, no dupes") {
    val in = TestDirs.create("graft_ckloss_in").toString
    val ckpt = TestDirs.create("graft_ckloss_ck").toString
    val base = TestDirs.create("graft_ckloss_tbl").toString
    val first = (0L until 200L).map(k => (k, s"v$k"))
    first.toDF("k", "v").repartition(2).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def stream = Streams.parquetStream(spark, in, schema, Map("maxFilesPerTrigger" -> "1"))
    Streams.appendToTable(stream, base, "ingest", "k", ckpt)
    assert(graft.run.Checkpoint.committed(spark, base, "ingest").count() == 200)

    // LOSE the checkpoint entirely; new data arrives; restart at same path.
    // BatchIds restart at 0 — without epoch-scoped commitIds the metadata
    // guard would treat the new batch 0 as already committed and silently
    // DROP it; with the epoch the replayed old files dedup via the
    // anti-join and the new rows land exactly once.
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
    val extra = (200L until 300L).map(k => (k, s"v$k"))
    extra.toDF("k", "v").coalesce(1).write.mode("append").parquet(in)
    Streams.appendToTable(stream, base, "ingest", "k", ckpt)
    val got = graft.run.Checkpoint.committed(spark, base, "ingest")
      .select($"k", $"v").as[(Long, String)].collect()
    assert(got.length == 300, s"checkpoint loss lost/duplicated rows: ${got.length}")
    assert(got.toSet == (first ++ extra).toSet)
  }

  test("TTL lease tracker: lapsed leases requeue (rediswq lease_secs semantics)") {
    val ttl = 10L
    val events = Seq(
      // clean lifecycle: lease then complete inside the TTL
      Streams.Lease("clean", 1, "lease"), Streams.Lease("clean", 5, "complete"),
      // lost lease: worker stalls past TTL, another worker re-leases at 15
      Streams.Lease("lost", 1, "lease"), Streams.Lease("lost", 15, "lease"),
      // crashed worker: lease lapses with no successor by nowTs
      Streams.Lease("crash", 1, "lease"),
      // late complete: GC already requeued, complete still lands (the
      // reference's documented at-least-once hazard)
      Streams.Lease("late", 1, "lease"), Streams.Lease("late", 15, "complete")
    ).toDS()
    val out = Streams.leaseTrackerTtl(events, ttl, nowTs = 20)
      .collect().map(s => s.itemId -> s).toMap
    assert(out("clean").state == "done" && out("clean").requeues == 0)
    assert(out("lost").state == "in_flight" && out("lost").requeues == 1 &&
      out("lost").leases == 2)
    assert(out("crash").state == "requeued" && out("crash").requeues == 1)
    assert(out("late").state == "done" && out("late").requeues == 1 &&
      out("late").completes == 1)
    // evaluated BEFORE any ttl lapse (now=14): an overlapping duplicate
    // lease inside the TTL and a same-ts complete-then-lease tie add no
    // requeues — the live lease is simply the newest one
    val early = Seq(
      Streams.Lease("dup", 1, "lease"), Streams.Lease("dup", 5, "lease"),
      Streams.Lease("tie", 1, "lease"), Streams.Lease("tie", 5, "complete"),
      Streams.Lease("tie", 5, "lease")
    ).toDS()
    val out2 = Streams.leaseTrackerTtl(early, ttl, nowTs = 14)
      .collect().map(s => s.itemId -> s).toMap
    assert(out2("dup").state == "in_flight" && out2("dup").requeues == 0)
    assert(out2("tie").state == "in_flight" && out2("tie").requeues == 0 &&
      out2("tie").completes == 1)
  }

  test("TTL lease tracker accumulates across micro-batches without double-counting") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Streams.Lease]
    val q = Streams.leaseTrackerTtl(src.toDS(), ttl = 10L, nowTs = 40)
      .writeStream.format("memory").queryName("lease_ttl_mb")
      .outputMode(OutputMode.Update()).trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: job leased at 1 (will lapse), batch 2: re-lease at 20, done at 25
    src.addData(Streams.Lease("j", 1, "lease"))
    q.processAllAvailable()
    src.addData(Streams.Lease("j", 20, "lease"), Streams.Lease("j", 25, "complete"))
    q.processAllAvailable()
    val rows = spark.table("lease_ttl_mb").as[Streams.LeaseTtlStatus]
      .collect().filter(_.itemId == "j")
    q.stop()
    // first evaluation saw the lapse as an evaluation-time requeue; the
    // second counts it exactly once in carried state (lease@20 >= 1+ttl)
    val fin = rows.last
    assert(fin.state == "done" && fin.leases == 2 && fin.completes == 1 &&
      fin.requeues == 1, s"got $fin")
  }
}
