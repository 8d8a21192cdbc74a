package graft.run

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{SparkTestSession, TestDirs}
import graft.table.IcebergLite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Kill-after-stage resume semantics (SURVEY §5.2 item 5): re-running a
  * pipeline recomputes ONLY uncommitted keys and reproduces identical final
  * output. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stageCompute(df: DataFrame): DataFrame =
    df.withColumn("out", $"k" * 2)

  test("resume recomputes only uncommitted keys; output identical to one-shot run") {
    val base = TestDirs.create("graft_ckpt").toString
    val input = (0L until 100L).map(k => Tuple1(k)).toDF("k")

    // full run in one shot (reference result)
    val oneShotBase = TestDirs.create("graft_ckpt_ref").toString
    Checkpoint.runStage(spark, oneShotBase, "s1", input, "k", "c0")(stageCompute)
    val expected = IcebergLite.read(spark, Checkpoint.outputTable(oneShotBase, "s1"))
      .select($"k", $"out").as[(Long, Long)].collect().toSet

    // crashed run: only half the input was "reached" before the crash
    Checkpoint.runStage(spark, base, "s1", input.where($"k" < 50), "k", "c1")(stageCompute)
    assert(IcebergLite.read(spark, Checkpoint.outputTable(base, "s1")).count() == 50)

    // resume with the FULL input: processed count must be exactly the gap
    val acc = spark.sparkContext.longAccumulator("recomputed")
    val (_, n2) = Checkpoint.runStage(spark, base, "s1", input, "k", "c2") { df =>
      df.map { r => acc.add(1); r.getLong(0) }.toDF("k").withColumn("out", $"k" * 2)
    }
    assert(n2 == 50, s"resume must process exactly the 50 uncommitted keys, got $n2")
    assert(acc.value == 50, s"recompute touched ${acc.value} rows")

    val got = IcebergLite.read(spark, Checkpoint.outputTable(base, "s1"))
      .select($"k", $"out").as[(Long, Long)].collect().toSet
    assert(got == expected)

    // third run: nothing to do
    val (_, n3) = Checkpoint.runStage(spark, base, "s1", input, "k", "c3")(stageCompute)
    assert(n3 == 0)

    // lineage log: per-partition ranges + checksums present, status committed
    val log = Checkpoint.log(spark, base, "s1")
    val rows = log.select($"stage", $"status", $"rows_out").as[(String, String, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (s, st, _) => s == "s1" && st == "committed" })
    assert(log.agg(sum($"rows_out")).as[Long].head() == 100)
    // one commit point per stage: each committed run made one output
    // snapshot, and lineage lives beside the output, not in a second table
    assert(IcebergLite.snapshots(Checkpoint.outputTable(base, "s1")).size == 2)
    assert(!Files.exists(Paths.get(base, "s1", "commitlog")))
  }

  test("re-running a fully committed commitId never rewrites referenced data") {
    val base = TestDirs.create("graft_ckpt_retry").toString
    val input = (0L until 30L).map(k => Tuple1(k)).toDF("k")
    Checkpoint.runStage(spark, base, "s", input, "k", "cA")(stageCompute)
    val before = IcebergLite.read(spark, Checkpoint.outputTable(base, "s"))
      .select($"k", $"out").as[(Long, Long)].collect().toSet
    assert(before.size == 30)
    // a crash-retry re-issues the SAME deterministic commitId with the same
    // input: the anti-join leaves zero todo, and the already-referenced
    // data/cA dir must be left byte-identical (not overwritten by an empty
    // write while the snapshot still points at it)
    val (_, n) = Checkpoint.runStage(spark, base, "s", input, "k", "cA")(stageCompute)
    assert(n == 0)
    val after = IcebergLite.read(spark, Checkpoint.outputTable(base, "s"))
      .select($"k", $"out").as[(Long, Long)].collect().toSet
    assert(after == before)

    // and AFTER compaction (current snapshot no longer references data/cA,
    // but the pre-compaction snapshot still does for time travel): a cA
    // retry must STILL refuse, or readAt(historical) loses its files
    val preCompact = IcebergLite.currentSnapshotId(Checkpoint.outputTable(base, "s")).get
    IcebergLite.compact(spark, Checkpoint.outputTable(base, "s"), Seq("k"), "compactX")
    val (_, n2) = Checkpoint.runStage(spark, base, "s", input, "k", "cA")(stageCompute)
    assert(n2 == 0)
    assert(IcebergLite.readAt(spark, Checkpoint.outputTable(base, "s"), preCompact)
      .select($"k", $"out").as[(Long, Long)].collect().toSet == before)
  }

  test("crash between lineage write and output commit: the attempt stays invisible, retry commits it once") {
    val base = TestDirs.create("graft_ckpt_gap").toString
    val input = (0L until 25L).map(k => Tuple1(k)).toDF("k")
    val cleanBase = TestDirs.create("graft_ckpt_gap_ref").toString
    Checkpoint.runStage(spark, cleanBase, "sg", input, "k", "cG")(stageCompute)
    // simulate the torn state: cG's output and lineage written (lineage of
    // a partial run, so a retry that appended instead of overwriting would
    // show), but the process died before the output pointer swap
    val tornBase = TestDirs.create("graft_ckpt_gap_torn").toString
    Checkpoint.runStage(spark, tornBase, "sg", input.where($"k" < 10), "k", "cG")(stageCompute)
    IcebergLite.writeData(stageCompute(input), Checkpoint.outputTable(base, "sg"), "cG")
    copyTree(Paths.get(tornBase, "sg", "lineage"), Paths.get(base, "sg", "lineage"))
    assert(Files.isDirectory(Paths.get(base, "sg", "lineage", "cG")))
    assert(IcebergLite.currentSnapshotId(Checkpoint.outputTable(base, "sg")).isEmpty)
    assert(Checkpoint.log(spark, base, "sg").where($"commit_id" === "cG").isEmpty)

    // the retry under cG redoes the whole attempt: one entry set, 25 rows
    val (_, n) = Checkpoint.runStage(spark, base, "sg", input, "k", "cG")(stageCompute)
    assert(n == 25)
    val log = Checkpoint.log(spark, base, "sg")
    val entries = log.select($"commit_id", $"status", $"rows_in")
      .as[(String, String, Long)].collect()
    assert(entries.nonEmpty && entries.forall { case (c, st, ri) =>
      c == "cG" && st == "committed" && ri == 25L })
    assert(log.agg(sum($"rows_out")).as[Long].head() == 25)
    val xRetry = log.agg(expr("bit_xor(checksum)")).as[Long].head()
    val xClean = Checkpoint.log(spark, cleanBase, "sg")
      .agg(expr("bit_xor(checksum)")).as[Long].head()
    assert(xRetry == xClean)
  }

  test("checksum in lineage log detects key-set drift across equivalent runs") {
    val base = TestDirs.create("graft_ckpt2").toString
    val input = (0L until 40L).map(k => Tuple1(k)).toDF("k").repartition(1)
    Checkpoint.runStage(spark, base, "s", input, "k", "c1")(stageCompute)
    val x1 = Checkpoint.log(spark, base, "s").agg(expr("bit_xor(checksum)")).as[Long].head()
    val base2 = TestDirs.create("graft_ckpt3").toString
    Checkpoint.runStage(spark, base2, "s", input.repartition(8), "k", "c1")(stageCompute)
    val x2 = Checkpoint.log(spark, base2, "s").agg(expr("bit_xor(checksum)")).as[Long].head()
    assert(x1 == x2) // xor-of-xors is partition-layout independent
  }

  test("replay after compaction and snapshot expiry is a no-op, not a refusal") {
    val base = TestDirs.create("graft_ckpt_expired").toString
    val input = (0L until 40L).map(k => Tuple1(k)).toDF("k")
    val out = Checkpoint.outputTable(base, "s")
    Checkpoint.runStage(spark, base, "s", input.where($"k" < 20), "k", "c1")(stageCompute)
    Checkpoint.runStage(spark, base, "s", input, "k", "c2")(stageCompute)
    // compaction rewrites c1's rows under data/compactX, and expiry deletes
    // every snapshot (and file) that still referenced data/c1
    IcebergLite.compact(spark, out, Seq("k"), "compactX")
    IcebergLite.expireSnapshots(out, keepLast = 1)
    val (replayed, n) = Checkpoint.runStage(spark, base, "s", input, "k", "c1")(stageCompute)
    assert(n == 0 && replayed.isEmpty)
    assert(IcebergLite.read(spark, out).count() == 40)
  }

  test("lineage of every commit stays listed after compaction and snapshot expiry") {
    val base = TestDirs.create("graft_ckpt_lineage").toString
    val input = (0L until 40L).map(k => Tuple1(k)).toDF("k")
    val out = Checkpoint.outputTable(base, "s")
    Checkpoint.runStage(spark, base, "s", input.where($"k" < 20), "k", "c1")(stageCompute)
    Checkpoint.runStage(spark, base, "s", input, "k", "c2")(stageCompute)
    IcebergLite.compact(spark, out, Seq("k"), "compactX")
    IcebergLite.expireSnapshots(out, keepLast = 1)
    val log = Checkpoint.log(spark, base, "s")
    // compactX is on the ledger but has no lineage: skipped, not an error
    assert(log.select($"commit_id").distinct().as[String].collect().toSet == Set("c1", "c2"))
    assert(log.agg(sum($"rows_out")).as[Long].head() == 40)
  }

  test("multi-file commit: one read-back, one lineage row per data file, no Spark lineage write") {
    val base = TestDirs.create("graft_ckpt_files").toString
    val table = Checkpoint.outputTable(base, "s")
    val input = (0L until 200L).map(k => Tuple1(k)).toDF("k").repartition(4)
    val seen = new QuerySpy
    spark.listenerManager.register(seen)
    try {
      seen.drain()
      seen.queries.clear()
      Checkpoint.runStage(spark, base, "s", input.where($"k" < 120), "k", "c1")(stageCompute)
      seen.drain()
      val afterC1 = seen.queries.size
      Checkpoint.runStage(spark, base, "s", input, "k", "c2")(stageCompute)
      seen.drain()
      for ((cid, qs) <- Seq("c1" -> seen.queries.take(afterC1), "c2" -> seen.queries.drop(afterC1)))
        assert(qs.count(_._1.exists(_.endsWith(s"/data/$cid"))) == 1,
          s"$cid: queries reading data/$cid: ${qs.filter(_._1.exists(_.endsWith(s"/data/$cid")))}")
      assert(seen.queries.exists(_._2.exists(_.endsWith("/data/c2"))), "spy saw no data write")
      assert(seen.queries.forall(_._2.forall(!_.contains("/lineage/"))),
        s"Spark wrote lineage: ${seen.queries.flatMap(_._2)}")
    } finally spark.listenerManager.unregister(seen)

    val files = IcebergLite.readSnapshot(table).get.files
    val log = Checkpoint.log(spark, base, "s")
    for (cid <- Seq("c1", "c2")) {
      val entries = files.filter(_.path.contains(s"/data/$cid/")).sortBy(_.path)
      val onDisk = Files.list(Paths.get(table, "data", cid))
      val parquet = try onDisk.filter(_.toString.endsWith(".parquet")).count() finally onDisk.close()
      if (cid == "c1") assert(parquet == 4)
      val rows = log.where($"commit_id" === cid)
        .select($"partition_id", $"rows_out", $"key_lo", $"key_hi", $"checksum")
        .as[(Int, Long, String, String, Long)].collect().sortBy(_._1)
      assert(rows.length == parquet && entries.length == parquet)
      assert(rows.map(_._1).toSeq == rows.indices)
      rows.zip(entries).foreach { case ((_, n, lo, hi, x), e) =>
        assert(n == e.rows && lo == e.min("k") && hi == e.max("k"), s"$cid ${e.path}")
        assert(x == spark.read.parquet(e.path).agg(bit_xor(xxhash64($"k"))).as[Long].head(),
          s"checksum of ${e.path}")
      }
    }
    assert(log.agg(sum($"rows_out")).as[Long].head() == 200)
  }

  test("log of a fresh base is empty with the lineage schema") {
    val base = TestDirs.create("graft_ckpt_fresh").toString
    val log = Checkpoint.log(spark, base, "s")
    assert(log.isEmpty)
    assert(log.schema == StructType.fromDDL(
      "partition_id INT, key_lo STRING, key_hi STRING, rows_out BIGINT, checksum BIGINT, " +
        "stage STRING, rows_in BIGINT, wall_ms BIGINT, status STRING, commit_id STRING"))
  }

  /** Records, per successful query, the file roots it reads and the paths
    * it writes. [[drain]] waits for a marker query, so every query run
    * before it has been delivered (the listener bus keeps their order). */
  private class QuerySpy extends QueryExecutionListener {
    val queries = new java.util.concurrent.CopyOnWriteArrayList[(Seq[String], Seq[String])]().asScala
    @volatile private var marks = 0
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.analyzed.toString.contains("__spy_marker__")) marks += 1
      else queries += ((
        qe.analyzed.collect { case l: LogicalRelation => l.relation }
          .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }.flatten,
        qe.analyzed.collect { case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString }))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def drain(): Unit = {
      val want = marks + 1
      spark.range(1).select(lit("__spy_marker__")).collect()
      val deadline = System.nanoTime() + 60000000000L
      while (marks < want) {
        assert(System.nanoTime() < deadline, "listener bus did not deliver the marker")
        Thread.sleep(10)
      }
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally paths.close()
  }
}
