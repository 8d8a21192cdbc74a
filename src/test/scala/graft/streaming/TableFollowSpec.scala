package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}
import graft.table.IcebergLite
import java.nio.file.Files

/** drainTableIncrement + appendIdempotent = the exactly-once table-follow
  * contract: each source commit is delivered to the consumer exactly once,
  * across catch-up ticks, idle ticks, and a crash between the consumer's
  * table commit and its checkpoint advance. */
class TableFollowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = TestDirs.create("graft_follow")

  test("follow delivers each commit once; idle drain is a no-op; multi-commit gap is one increment") {
    val root = tmp()
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    val cp = root.resolve("c.cp").toString
    def drain() = Streams.drainTableIncrement(spark, src, cp) { (df, from, to) =>
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    // nothing to follow yet
    assert(drain().isEmpty)
    IcebergLite.append(spark, (0L until 30L).map(i => (i, s"a$i")).toDF("k", "v"), src, Seq("k"), "c1")
    assert(drain().contains((-1L, 0L)))
    assert(IcebergLite.read(spark, tgt).count() == 30)
    // caught up: no increment, no target commit
    assert(drain().isEmpty)
    assert(IcebergLite.snapshots(tgt).size == 1)
    // two source commits while the consumer slept -> ONE increment
    IcebergLite.append(spark, (100L until 120L).map(i => (i, s"b$i")).toDF("k", "v"), src, Seq("k"), "c2")
    IcebergLite.append(spark, (200L until 210L).map(i => (i, s"c$i")).toDF("k", "v"), src, Seq("k"), "c3")
    assert(drain().contains((0L, 2L)))
    assert(IcebergLite.read(spark, tgt).count() == 60)
    assert(IcebergLite.read(spark, tgt).agg(sum($"k")).as[Long].head()
      == (0L until 30L).sum + (100L until 120L).sum + (200L until 210L).sum)
  }

  test("crash between consumer commit and checkpoint advance replays exactly-once") {
    val root = tmp()
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    val cp = root.resolve("c.cp")
    IcebergLite.append(spark, (0L until 25L).map(i => (i, s"a$i")).toDF("k", "v"), src, Seq("k"), "c1")
    // first attempt: the consumer commits, then "crashes" before the
    // checkpoint write (simulated by throwing after the commit)
    intercept[RuntimeException] {
      Streams.drainTableIncrement(spark, src, cp.toString) { (df, from, to) =>
        IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
        throw new RuntimeException("crash before checkpoint")
      }
    }
    assert(!Files.exists(cp), "checkpoint must not advance past a failed process")
    assert(IcebergLite.read(spark, tgt).count() == 25, "the commit itself landed")
    // resume: the SAME increment replays; the keyed commit is a no-op
    val r = Streams.drainTableIncrement(spark, src, cp.toString) { (df, from, to) =>
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    assert(r.contains((-1L, 0L)))
    assert(IcebergLite.read(spark, tgt).count() == 25, "replayed increment must not duplicate")
    assert(IcebergLite.snapshots(tgt).size == 1, "no second target snapshot")
    // and the follow continues normally afterwards
    IcebergLite.append(spark, (50L until 60L).map(i => (i, s"b$i")).toDF("k", "v"), src, Seq("k"), "c2")
    Streams.drainTableIncrement(spark, src, cp.toString) { (df, from, to) =>
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    assert(IcebergLite.read(spark, tgt).count() == 35)
  }

  test("crash-replay range is PINNED: a source advancing mid-crash cannot duplicate") {
    val root = tmp()
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    val cp = root.resolve("c.cp").toString
    def drain() = Streams.drainTableIncrement(spark, src, cp) { (df, from, to) =>
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    IcebergLite.append(spark, (0L until 10L).map(i => (i, "a")).toDF("k", "v"), src, Seq("k"), "c1")
    drain()
    IcebergLite.append(spark, (10L until 20L).map(i => (i, "b")).toDF("k", "v"), src, Seq("k"), "c2")
    // consumer commits increment (0,1] then crashes before the checkpoint
    intercept[RuntimeException](Streams.drainTableIncrement(spark, src, cp) { (df, from, to) =>
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
      throw new RuntimeException("crash before checkpoint")
    })
    // the source ADVANCES while the consumer is down: an unpinned replay
    // would deliver (0,2] under the fresh commitId inc_0_2 and re-append
    // the 10 rows of commit c2 that already landed as inc_0_1
    IcebergLite.append(spark, (20L until 25L).map(i => (i, "c")).toDF("k", "v"), src, Seq("k"), "c3")
    assert(drain().contains((0L, 1L)), "replay must cover the pinned range, not the live head")
    assert(IcebergLite.read(spark, tgt).count() == 20, "pinned replay must not duplicate")
    assert(drain().contains((1L, 2L)))
    assert(IcebergLite.read(spark, tgt).count() == 25)
    assert(drain().isEmpty)
  }

  test("registered follower pins retention; unregistered one re-baselines after expiry") {
    val root = tmp()
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    val cp = root.resolve("c.cp").toString
    def drain(reb: Boolean) =
      Streams.drainTableIncrement(spark, src, cp, rebaseline = reb) { (df, from, to) =>
        if (from == -1L && IcebergLite.currentSnapshotId(tgt).isDefined)
          IcebergLite.overwrite(spark, df, tgt, Seq("k"), s"reb_$to")
        else
          IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
      }
    IcebergLite.append(spark, (0L until 10L).map(i => (i, "a")).toDF("k", "v"), src, Seq("k"), "c1")
    drain(reb = false)
    // a REGISTERED follower at position 0 pins snapshots >= 0
    val rcp = root.resolve("r.cp").toString
    Streams.drainTableIncrement(spark, src, rcp, registerAs = Some("reg")) { (_, _, _) => () }
    IcebergLite.append(spark, (10L until 20L).map(i => (i, "b")).toDF("k", "v"), src, Seq("k"), "c2")
    IcebergLite.append(spark, (20L until 30L).map(i => (i, "c")).toDF("k", "v"), src, Seq("k"), "c3")
    assert(IcebergLite.expireSnapshots(src, keepLast = 1)._1.isEmpty,
      "registered follower at 0 must pin the whole history")
    IcebergLite.deregisterConsumer(src, "reg")
    // now expiry strands the unregistered follower's checkpoint (at 0)
    val (expired, _) = IcebergLite.expireSnapshots(src, keepLast = 1)
    assert(expired == Seq(0L, 1L))
    intercept[Exception](drain(reb = false))
    assert(IcebergLite.read(spark, tgt).count() == 10, "failed tick must not commit")
    // re-baseline: full current snapshot delivered with from = -1; the
    // consumer REPLACES its derived table; content converges exactly-once
    assert(drain(reb = true).isDefined)
    assert(IcebergLite.read(spark, tgt).count() == 30)
    assert(IcebergLite.read(spark, tgt).agg(sum($"k")).as[Long].head() == (0L until 30L).sum)
    // and the follow continues incrementally from the new baseline
    IcebergLite.append(spark, (30L until 35L).map(i => (i, "d")).toDF("k", "v"), src, Seq("k"), "c4")
    assert(drain(reb = false).contains((2L, 3L)))
    assert(IcebergLite.read(spark, tgt).count() == 35)
  }

  test("two consumers follow the same source at independent paces") {
    val root = tmp()
    val src = root.resolve("src").toString
    val (t1, t2) = (root.resolve("t1").toString, root.resolve("t2").toString)
    val (c1, c2) = (root.resolve("c1.cp").toString, root.resolve("c2.cp").toString)
    def drain(tgt: String, cp: String) = Streams.drainTableIncrement(spark, src, cp) {
      (df, from, to) => IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    IcebergLite.append(spark, (0L until 10L).map(i => (i, "a")).toDF("k", "v"), src, Seq("k"), "c1")
    drain(t1, c1) // consumer 1 keeps up
    IcebergLite.append(spark, (10L until 30L).map(i => (i, "b")).toDF("k", "v"), src, Seq("k"), "c2")
    drain(t1, c1)
    drain(t2, c2) // consumer 2 catches up in one increment
    assert(IcebergLite.read(spark, t1).count() == 30)
    assert(IcebergLite.read(spark, t2).count() == 30)
    assert(IcebergLite.snapshots(t1).size == 2 && IcebergLite.snapshots(t2).size == 1)
  }

  test("filtered follower: predicate prunes each increment to its partition's files, exactly once") {
    val root = tmp()
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    val cp = root.resolve("c.cp").toString
    def batch(tag: String, lo: Long) =
      (lo until lo + 30L).map(i =>
        (i, Seq("east", "west", "north")(((i - lo) / 10L).toInt), s"$tag$i")).toDF("k", "r", "v")
    IcebergLite.createPartitioned(spark, batch("a", 0L), src,
      Seq(IcebergLite.PartitionField("r", "r", "identity")), Seq("k"), "c0")
    var opened = Seq.empty[String]
    def drain() = Streams.drainTableIncrement(spark, src, cp,
      predicate = Some($"r" === "east")) { (df, from, to) =>
      opened = df.inputFiles.toSeq
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    assert(drain().contains((-1L, 0L)))
    // the delivered frame opened ONLY the east partition's files
    assert(opened.nonEmpty && opened.forall(_.contains("p_r=east")), opened.mkString(","))
    assert(IcebergLite.read(spark, tgt).count() == 10)
    IcebergLite.append(spark, batch("b", 100L), src, Seq("k"), "c1")
    assert(drain().contains((0L, 1L)))
    assert(opened.nonEmpty && opened.forall(p => p.contains("/data/c1/") && p.contains("p_r=east")))
    // cumulative exactly-once on the filtered slice
    val got = IcebergLite.read(spark, tgt)
    assert(got.count() == 20 && got.where($"r" =!= "east").count() == 0)
    assert(got.agg(sum($"k")).as[Long].head() == (0L until 10L).sum + (100L until 110L).sum)
  }

  test("streamed increments land in the target's GOVERNED layout: partition spec + sort order") {
    // the consumer never writes layout code — the target table's declared
    // spec and order shape every drained increment (writeDataSpec runs
    // inside appendIdempotent), so a stream lands exactly like a batch
    val root = tmp()
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    val cp = root.resolve("c.cp").toString
    IcebergLite.createPartitioned(spark,
      Seq((-1L, -1L, "seed")).toDF("k", "b", "v"), tgt,
      Seq(IcebergLite.PartitionField("bb", "b", "bucket[4]")), Seq("k"), "c0")
    IcebergLite.setSortOrder(tgt, Some(IcebergLite.SortOrder(Seq("k"))))
    IcebergLite.append(spark,
      (0L until 400L).map(i => (i * 7919 % 400, i % 11, s"a$i")).toDF("k", "b", "v")
        .repartition(4, $"v"), src, Seq("k"), "c1")
    Streams.drainTableIncrement(spark, src, cp) { (df, from, to) =>
      IcebergLite.appendIdempotent(spark, df, tgt, Seq("k"), s"inc_${from}_$to")
    }
    val snap = IcebergLite.readSnapshot(tgt).get
    val drained = snap.files.filter(_.seq == snap.id)
    // spec applied: every drained file carries a bucket partition value
    assert(drained.nonEmpty && drained.forall(_.partition.contains("bb")))
    // order applied WITHIN partitions: per-file k ranges are tight, and
    // files of the same bucket don't overlap on k
    val byBucket = drained.groupBy(_.partition("bb"))
    byBucket.values.foreach { fs =>
      val rs = fs.map(f => (f.min("k").toDouble, f.max("k").toDouble)).sortBy(_._1)
      rs.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap in $rs")
        case _ => ()
      }
    }
    // content exactly once, through the governed layout
    assert(IcebergLite.read(spark, tgt).where($"k" >= 0).count() == 400)
  }
}
