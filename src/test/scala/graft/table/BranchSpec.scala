package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}

/** Writable branches = the write-audit-publish protocol: stage commits on a
  * branch (main readers never see them), audit the branch head, publish by
  * fast-forwarding CURRENT — or drop the branch and let maintenance reclaim
  * the staged files. */
class BranchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpTable(): String =
    TestDirs.create("graft_branch").resolve("t").toString

  test("write-audit-publish on a partitioned, sort-ordered table") {
    val t = tmpTable()
    def batch(tag: String, lo: Long) =
      (lo until lo + 40L).map(i => (i, (i % 4L).toInt, s"$tag$i")).toDF("k", "b", "v")
    IcebergLite.createPartitioned(spark, batch("a", 0L), t,
      Seq(IcebergLite.PartitionField("b", "b", "identity")), Seq("k"), "c0")
    IcebergLite.setSortOrder(t, Some(IcebergLite.SortOrder(Seq("k"))))
    IcebergLite.append(spark, batch("b", 100L), t, Seq("k"), "c1")

    IcebergLite.createBranch(t, "audit")
    val s1 = IcebergLite.appendToBranch(spark, batch("s", 1000L), t, "audit", Seq("k"), "w1")
    val s2 = IcebergLite.appendToBranch(spark, batch("t", 2000L), t, "audit", Seq("k"), "w2")
    assert(s2.parent == s1.id && IcebergLite.branches(t)("audit") == s2.id)
    // staged writes honor the table's governed layout: partition values +
    // declared sort order, exactly like a main append
    val staged = s2.files.filter(_.seq == s2.id)
    assert(staged.nonEmpty && staged.forall(_.partition.contains("b")))
    // audit: the branch sees fork + staged; MAIN readers see neither
    assert(IcebergLite.readBranch(spark, t, "audit").count() == 160)
    assert(IcebergLite.read(spark, t).count() == 80)
    assert(IcebergLite.read(spark, t).where($"k" >= 1000L).count() == 0)
    // publish: CURRENT fast-forwards to the branch head atomically
    val pub = IcebergLite.fastForward(t, "audit")
    assert(pub.id == s2.id)
    val main = IcebergLite.read(spark, t)
    assert(main.count() == 160 && main.where($"k" >= 1000L).count() == 80)
    // the published lineage is plain appends: incremental scans cross it
    // (lineage: c0, setSortOrder metadata commit, c1, w1, w2 — the delta
    // from c1 is exactly the two staged commits)
    val ids = IcebergLite.snapshots(t)
    assert(IcebergLite.readIncremental(spark, t, ids(2), pub.id).count() == 80)
    // re-publishing is a no-op swap to the same id
    assert(IcebergLite.fastForward(t, "audit").id == pub.id)
    IcebergLite.dropBranch(t, "audit")
    assert(IcebergLite.branches(t).isEmpty)
  }

  test("main advancing past the fork blocks fast-forward; staged ids never collide") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 20L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.createBranch(t, "wip")
    val staged = IcebergLite.appendToBranch(spark,
      (100L until 120L).map(i => (i, s"s$i")).toDF("k", "v"), t, "wip", Seq("k"), "w1")
    // a MAIN commit lands concurrently: it must take a globally fresh id,
    // not overwrite the staged snapshot's file
    val mainSnap = IcebergLite.append(spark,
      (200L until 210L).map(i => (i, s"m$i")).toDF("k", "v"), t, Seq("k"), "c2")
    assert(mainSnap.id != staged.id)
    assert(IcebergLite.readAt(spark, t, staged.id).count() == 40) // staged intact
    assert(IcebergLite.read(spark, t).count() == 30)              // main intact
    // publishing now would drop c2 silently — refused loudly
    assertThrows[IcebergLite.CommitConflictException](IcebergLite.fastForward(t, "wip"))
    // staging against the moved fork is the caller's re-run: new branch
    IcebergLite.dropBranch(t, "wip")
    IcebergLite.createBranch(t, "wip2")
    IcebergLite.appendToBranch(spark,
      (100L until 120L).map(i => (i, s"s$i")).toDF("k", "v"), t, "wip2", Seq("k"), "w2")
    assert(IcebergLite.fastForward(t, "wip2").id == IcebergLite.currentSnapshotId(t).get)
    assert(IcebergLite.read(spark, t).count() == 50)
  }

  test("branch guards: schema check, duplicate commitIds, cross-lineage collisions, retention pin") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.createBranch(t, "b1")
    assertThrows[IllegalArgumentException](IcebergLite.createBranch(t, "b1"))
    // staged writes are schema-checked against the branch lineage
    assertThrows[IllegalArgumentException](IcebergLite.appendToBranch(spark,
      Seq((1, "x")).toDF("k", "v"), t, "b1", Seq("k"), "w0")) // k:int vs k:long
    IcebergLite.appendToBranch(spark,
      (10L until 20L).map(i => (i, s"s$i")).toDF("k", "v"), t, "b1", Seq("k"), "w1")
    // commitId reuse refused on the branch's own lineage (incl. fork history)
    assertThrows[IllegalArgumentException](IcebergLite.appendToBranch(spark,
      Seq((99L, "x")).toDF("k", "v"), t, "b1", Seq("k"), "w1"))
    assertThrows[IllegalArgumentException](IcebergLite.appendToBranch(spark,
      Seq((99L, "x")).toDF("k", "v"), t, "b1", Seq("k"), "c1"))
    // a MAIN write reusing a staged commitId would clobber the staged files
    assertThrows[IllegalArgumentException](IcebergLite.append(spark,
      Seq((99L, "x")).toDF("k", "v"), t, Seq("k"), "w1"))
    // retention pins the staged head while the branch exists
    IcebergLite.append(spark, (20L until 30L).map(i => (i, s"m$i")).toDF("k", "v"), t, Seq("k"), "c2")
    IcebergLite.append(spark, (30L until 40L).map(i => (i, s"m$i")).toDF("k", "v"), t, Seq("k"), "c3")
    val headId = IcebergLite.branches(t)("b1")
    val (expired, _) = IcebergLite.expireSnapshots(t, keepLast = 1)
    assert(!expired.contains(headId) && expired.nonEmpty)
    assert(IcebergLite.readBranch(spark, t, "b1").count() == 20)
    // dropping the branch releases the pin
    IcebergLite.dropBranch(t, "b1")
    val (expired2, _) = IcebergLite.expireSnapshots(t, keepLast = 1)
    assert(expired2.contains(headId))
  }

  test("branch and main commits racing in parallel: unique ids, both lineages intact") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c0")
    IcebergLite.createBranch(t, "stage")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 4 main writers (rebasing appends) race 1 branch writer (branches
      // are single-writer by contract, so one staging thread of 3 commits)
      val mains = (0 until 4).map { i => Future {
        IcebergLite.append(spark,
          spark.range(100 + i * 10, 110 + i * 10).selectExpr("id AS k", "concat('m', id) AS v"),
          t, Seq("k"), s"main$i")
      }}
      val stager = Future {
        (0 until 3).foreach { j =>
          IcebergLite.appendToBranch(spark,
            spark.range(1000 + j * 10, 1010 + j * 10).selectExpr("id AS k", "concat('s', id) AS v"),
            t, "stage", Seq("k"), s"stage$j")
        }
      }
      Await.result(Future.sequence(mains :+ stager), 120.seconds)
    } finally pool.shutdown()
    // every snapshot id unique (global allocation), lineages disjoint
    val ids = IcebergLite.snapshots(t)
    assert(ids.distinct.size == ids.size && ids.size == 8) // c0 + 4 main + 3 staged
    val main = IcebergLite.read(spark, t)
    assert(main.count() == 50 && main.where($"k" >= 1000L).count() == 0)
    val branch = IcebergLite.readBranch(spark, t, "stage")
    assert(branch.count() == 40 && branch.where($"k" >= 100L && $"k" < 1000L).count() == 0)
    // the branch forked before the racing main commits: not fast-forwardable
    assertThrows[IcebergLite.CommitConflictException](IcebergLite.fastForward(t, "stage"))
  }

  test("cherryPick publishes ONE staged increment onto an advanced main; re-pick is a no-op") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c0")
    IcebergLite.createBranch(t, "stage")
    val s1 = IcebergLite.appendToBranch(spark,
      (100L until 110L).map(i => (i, s"s$i")).toDF("k", "v"), t, "stage", Seq("k"), "w1")
    val s2 = IcebergLite.appendToBranch(spark,
      (200L until 210L).map(i => (i, s"t$i")).toDF("k", "v"), t, "stage", Seq("k"), "w2")
    // main advances past the fork: whole-branch publish is off the table
    IcebergLite.append(spark, (50L until 60L).map(i => (i, s"m$i")).toDF("k", "v"), t, Seq("k"), "c1")
    assertThrows[IcebergLite.CommitConflictException](IcebergLite.fastForward(t, "stage"))
    // ...but the audited FIRST increment still publishes
    val picked = IcebergLite.cherryPick(spark, t, s1.id)
    assert(picked.commitIds.contains("w1") && !picked.commitIds.contains("w2"))
    val main = IcebergLite.read(spark, t)
    assert(main.count() == 30 && main.where($"k" >= 200L).count() == 0)
    assert(main.where($"k" >= 100L && $"k" < 110L).count() == 10)
    // adopted by reference: the picked rows come from the staged commit's files
    assert(main.inputFiles.exists(_.contains("/data/w1/")))
    // idempotent re-pick; then the second increment lands the same way
    assert(IcebergLite.cherryPick(spark, t, s1.id).id == picked.id)
    IcebergLite.cherryPick(spark, t, s2.id)
    assert(IcebergLite.read(spark, t).count() == 40)
    // a replay of the staged commit against MAIN is a no-op too (ledger)
    val before = IcebergLite.currentSnapshotId(t).get
    IcebergLite.appendIdempotent(spark,
      (100L until 110L).map(i => (i, s"s$i")).toDF("k", "v"), t, Seq("k"), "w1")
    assert(IcebergLite.currentSnapshotId(t).contains(before))
    IcebergLite.dropBranch(t, "stage")
  }

  test("cherryPick refuses a non-append snapshot: a compact and a mergeOnRead commit") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c0")
    IcebergLite.append(spark, (10L until 20L).map(i => (i, s"b$i")).toDF("k", "v"), t, Seq("k"), "c1")
    val compacted = IcebergLite.compact(spark, t, Seq("k"), "cmp")
    val mor = IcebergLite.mergeOnRead(spark, t, Seq((3L, "u3"), (30L, "n30")).toDF("k", "v"),
      Seq("k"), Seq("k"), "mor")
    val head = IcebergLite.currentSnapshotId(t).get
    Seq(compacted.id, mor.id).foreach { id =>
      val e = intercept[IllegalArgumentException](IcebergLite.cherryPick(spark, t, id))
      assert(e.getMessage.contains("not a pure append"), e.getMessage)
    }
    // the refusals committed nothing
    assert(IcebergLite.currentSnapshotId(t).contains(head))
    val main = IcebergLite.read(spark, t).as[(Long, String)].collect().toMap
    assert(main.size == 21 && main(3L) == "u3" && main(30L) == "n30")
  }

  test("abandoned branch can never evict CURRENT: retention is reachability-based") {
    val t = tmpTable()
    IcebergLite.append(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("k", "v"), t, Seq("k"), "c1")
    IcebergLite.createBranch(t, "dead")
    // two staged commits take the table's HIGHEST snapshot ids
    IcebergLite.appendToBranch(spark,
      (10L until 20L).map(i => (i, s"s$i")).toDF("k", "v"), t, "dead", Seq("k"), "w1")
    val deadHead = IcebergLite.appendToBranch(spark,
      (20L until 30L).map(i => (i, s"s$i")).toDF("k", "v"), t, "dead", Seq("k"), "w2")
    val cur = IcebergLite.currentSnapshotId(t).get
    assert(deadHead.id > cur) // the hazard: newest ids are NOT the live ones
    IcebergLite.dropBranch(t, "dead")
    val (expired, _) = IcebergLite.expireSnapshots(t, keepLast = 1)
    // an id-window policy would keep the abandoned tip and expire CURRENT
    // (dangling pointer); reachability expires the abandoned lineage instead
    assert(!expired.contains(cur) && expired.contains(deadHead.id))
    assert(IcebergLite.currentSnapshotId(t).contains(cur))
    assert(IcebergLite.read(spark, t).count() == 10)
    assertThrows[IllegalArgumentException](IcebergLite.readAt(spark, t, deadHead.id))
  }
}
