package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.table.IcebergLite

/** The table-plane fixture queries staged from nothing, re-run, and resumed
  * after a crash. Each data dir here is a fresh copy of sf0.001's
  * `orders.parquet`, so every fixture key is new and the staging code runs;
  * `QueryDigestSpec` usually finds the fixtures a previous run left behind.
  * Results are checked against the pinned `query_digest_sf0.001.tsv`. */
class TableFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private val pinned = QueryDigest.pinned("query_digest_sf0.001.tsv")

  private def digest(q: String, d: String): String =
    QueryDigest.line(q, SparkEntry.queries(q)(spark, d))

  /** A new data dir holding a copy of sf0.001's orders. */
  private def freshDir(): String = {
    val d = TestDirs.create("graft_tblfix")
    Files.copy(Paths.get(sf, "orders.parquet"), d.resolve("orders.parquet"))
    d.toString
  }

  /** Every query that stages an orders fixture, with its fixture kind and tables. */
  private val fixtures: Seq[(String, String, Seq[String])] = Seq(
    ("tbl_part", "tbl_part", Seq("t")),
    ("tbl_zorder", "tbl_zord", Seq("t")),
    ("tbl_merge", "tbl_merge", Seq("t")),
    ("tbl_mor", "tbl_mor", Seq("t")),
    ("tbl_incr", "tbl_incr", Seq("t")),
    ("tbl_incr_where", "tbl_incrw", Seq("t")),
    ("tbl_travel", "tbl_incr", Seq("t")),
    ("tbl_tag", "tbl_tag", Seq("t")),
    ("tbl_wap", "tbl_wap", Seq("t")),
    ("tbl_delete", "tbl_delete", Seq("t")),
    ("tbl_cherry", "tbl_cherry", Seq("t")),
    ("str_incr", "str_incr", Seq("src", "tgt")),
    ("tbl_maintain", "tbl_maint", Seq("t")),
    ("tbl_orphans", "tbl_orph", Seq("t")),
    ("tbl_bloom", "tbl_bloom", Seq("t")))

  private lazy val shared = freshDir()

  for ((q, kind, tables) <- fixtures)
    test(s"$q: staged fresh, then re-run without a commit, matches the digest both times") {
      val paths = tables.map(TableFixtures.path(kind, shared, _))
      assert(digest(q, shared) == pinned(q), "fresh staging")
      val before = paths.map(IcebergLite.snapshots)
      assert(before.forall(_.nonEmpty))
      assert(digest(q, shared) == pinned(q), "re-run")
      assert(paths.map(IcebergLite.snapshots) == before, "the re-run committed a snapshot")
    }

  test("tbl_orphans after a crash between its base commit and its upsert") {
    val d = freshDir()
    val table = TableFixtures.path("tbl_orph", d)
    IcebergLite.append(spark, TableFixtures.orders(spark, d).where(col("o_orderkey") % 9 === 0),
      table, Seq("o_orderkey"), "base")
    assert(digest("tbl_orphans", d) == pinned("tbl_orphans"))
    assert(IcebergLite.alreadyCommitted(table, "up1"))
  }

  test("tbl_zorder after a crash between its append and its z-order compaction") {
    val d = freshDir()
    val table = TableFixtures.path("tbl_zord", d)
    val bounds = Seq("xmin", "ymin", "xmax", "ymax")
    IcebergLite.append(spark, graft.model.SynthCorpus.scenesFromOrders(spark, d)
      .select(col("doc_id") +: bounds.map(col): _*), table, bounds, "c1")
    assert(digest("tbl_zorder", d) == pinned("tbl_zorder"))
    assert(IcebergLite.alreadyCommitted(table, "z1"))
  }

  test("tbl_cherry stages w1 on a branch from base, then main advances past the fork") {
    val d = freshDir()
    assert(digest("tbl_cherry", d) == pinned("tbl_cherry"))
    val table = TableFixtures.path("tbl_cherry", d)
    val snaps = IcebergLite.snapshots(table).flatMap(IcebergLite.snapshotAt(table, _))
    val picked = IcebergLite.readSnapshot(table).get
    val base = snaps.filter(_.commitIds == Set("base"))
    val staged = snaps.filter(s => s.commitIds.contains("w1") && s.id != picked.id)
    assert(base.size == 1 && staged.size == 1)
    assert(staged.head.parent == base.head.id, "w1's branch must fork from base")
    val mainBeforePick = IcebergLite.snapshotAt(table, picked.parent).get
    assert(mainBeforePick.commitIds.contains("madv") && !mainBeforePick.commitIds.contains("w1"))
  }
}
