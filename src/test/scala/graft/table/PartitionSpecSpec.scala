package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}
import graft.table.IcebergLite.PartitionField

/**
 * Hidden partitioning (Iceberg's partition spec) in IcebergLite: the spec
 * is table metadata, writers derive layout values automatically, and reads
 * prune on partition values BEFORE column min/max stats. The cell[] case
 * is the spatial unification the round-5 verdict asked for: the
 * cell-directory layout inside the snapshot/manifest plane, with snapshot
 * isolation and an inputFiles proof that an AOI read opens only matching
 * partitions.
 */
class PartitionSpecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpTable(): String =
    TestDirs.create("graft_part").resolve("t").toString

  test("identity partition: hidden layout, appends follow, readWhere prunes by value first") {
    val t = tmpTable()
    val df = (0 until 300).map(i => (i.toLong, s"s${i % 3}", i * 2.0)).toDF("k", "sensor", "v")
    IcebergLite.createPartitioned(spark, df, t,
      Seq(PartitionField("sensor", "sensor", "identity")), Seq("k"), "c1")
    // layout: p_sensor=<value> dirs inside the commit; manifest records them
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.spec == Seq(PartitionField("sensor", "sensor", "identity")))
    assert(snap.files.nonEmpty && snap.files.forall(f => f.partition.contains("sensor")))
    assert(snap.files.map(_.partition("sensor")).toSet == Set("s0", "s1", "s2"))
    // a plain append derives the same layout with NO spec repeated (hidden)
    IcebergLite.append(spark,
      (300 until 400).map(i => (i.toLong, s"s${i % 3}", i * 2.0)).toDF("k", "sensor", "v"),
      t, Seq("k"), "c2")
    val snap2 = IcebergLite.readSnapshot(t).get
    assert(snap2.files.forall(f => f.partition.contains("sensor")))
    assert(IcebergLite.read(spark, t).count() == 400)
    // partition-value pruning: only p_sensor=s1 files enter the scan
    val q = IcebergLite.readWhere(spark, t, $"sensor" === "s1")
    assert(q.inputFiles.nonEmpty && q.inputFiles.forall(_.contains("p_sensor=s1")),
      s"expected only s1 partition files, got ${q.inputFiles.take(3).mkString(",")}")
    assert(q.count() == IcebergLite.read(spark, t).where($"sensor" === "s1").count())
    // IN-list over partition values
    val qin = IcebergLite.readWhere(spark, t, $"sensor".isin("s0", "s2"))
    assert(qin.inputFiles.forall(f => f.contains("p_sensor=s0") || f.contains("p_sensor=s2")))
    assert(qin.count() == 267)
  }

  test("bucket/truncate/day transforms prune through their inverse mapping") {
    val t = tmpTable()
    val df = (0 until 400).map { i =>
      (i.toLong, i * 10L, java.sql.Date.valueOf(f"2024-${i % 4 + 1}%02d-${i % 28 + 1}%02d"))
    }.toDF("k", "amt", "d")
    IcebergLite.createPartitioned(spark, df, t, Seq(
      PartitionField("kb", "k", "bucket[8]"),
      PartitionField("amt_t", "amt", "truncate[1000]"),
      PartitionField("mon", "d", "month")), Seq("k"), "c1")
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.forall(f => f.partition.keySet == Set("kb", "amt_t", "mon")))
    // bucket: equality maps to exactly one bucket dir
    val qb = IcebergLite.readWhere(spark, t, $"k" === 123L)
    val bucket = qb.inputFiles.head.split('/').find(_.startsWith("p_kb=")).get
    assert(qb.inputFiles.forall(_.contains(bucket)), "equality must stay in one bucket")
    assert(qb.count() == 1)
    // truncate: a range maps to the floored partition range (closed bounds:
    // a strict `< 3000` would conservatively keep partition 3000 too)
    val qt = IcebergLite.readWhere(spark, t, $"amt" >= 2000L && $"amt" <= 2999L)
    assert(qt.inputFiles.forall(_.contains("p_amt_t=2000")))
    assert(qt.count() == 100)
    // month: date bounds map to the ISO prefix
    val qm = IcebergLite.readWhere(spark, t,
      $"d" >= lit("2024-03-01").cast("date") && $"d" <= lit("2024-03-31").cast("date"))
    assert(qm.inputFiles.forall(_.contains("p_mon=2024-03")))
    assert(qm.count() == 100)
    // correctness under pruning: results equal the unpruned filter
    assert(IcebergLite.readWhere(spark, t, $"amt" >= 2000L && $"amt" < 3000L)
      .agg(sum($"k")).as[Long].head() ==
      IcebergLite.read(spark, t).where($"amt" >= 2000L && $"amt" < 3000L)
        .agg(sum($"k")).as[Long].head())
  }

  test("cell partition: AOI read opens only matching partitions, spanning footprints survive") {
    val t = tmpTable()
    // res-4 grid: 16x16 world cells of 22.5 x 11.25 degrees. 60 docs fully
    // inside distinct cells + 1 footprint SPANNING two cells horizontally.
    val contained = (0 until 60).map { i =>
      val cx = -180.0 + 22.5 * (i % 8) + 3.0
      val cy = -90.0 + 11.25 * (i / 8 % 8) + 3.0
      (i.toLong, graft.geom.Geo.rectWkt(cx, cy, cx + 2.0, cy + 2.0))
    }
    // cell boundary at lon = -180 + 22.5 = -157.5: this footprint straddles it
    val spanning = Seq((999L, graft.geom.Geo.rectWkt(-159.0, -88.0, -156.0, -86.0)))
    val docs = (contained ++ spanning).toDF("doc_id", "wkt")
    IcebergLite.createPartitioned(spark, docs, t,
      Seq(PartitionField("cell", "wkt", "cell[4]")), Seq("doc_id"), "c1")
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.forall(f => f.partition.contains("cell")))
    // cover stats were auto-collected for the AOI pruning layer
    assert(snap.files.forall(f => f.min.contains("cover_cell") && f.max.contains("cover_cell")))
    // AOI fully inside ONE res-4 cell (the first column/row cell)
    val aoi = graft.geom.Geo.rectWkt(-179.0, -89.0, -175.0, -85.0)
    val aoiCells = graft.geom.Geo.cellCoverWkt(aoi, 4).toSet
    assert(aoiCells.size == 1)
    val q = IcebergLite.readAoi(spark, t, aoi)
    val got = q.select($"doc_id").as[Long].collect().toSet
    // oracle: plain full-scan intersect filter
    val want = IcebergLite.read(spark, t)
      .where(graft.OracleUdfs.stIntersectsUdf(lit(aoi), $"wkt"))
      .select($"doc_id").as[Long].collect().toSet
    assert(got == want && got.contains(0L))
    // the inputFiles proof: only partitions whose cell the AOI touches
    val cellDirs = q.inputFiles.flatMap(_.split('/').find(_.startsWith("p_cell="))).toSet
    assert(q.inputFiles.nonEmpty && cellDirs.subsetOf(aoiCells.map(c => s"p_cell=$c")),
      s"AOI read opened foreign partitions: $cellDirs vs $aoiCells")
    // an AOI hitting only the SPANNED-INTO cell still finds the spanning
    // footprint (stored under its min cell, found via the cover range)
    val aoi2 = graft.geom.Geo.rectWkt(-157.0, -89.5, -156.5, -85.0)
    val got2 = IcebergLite.readAoi(spark, t, aoi2).select($"doc_id").as[Long].collect().toSet
    assert(got2.contains(999L), "spanning footprint lost to partition pruning")
    // snapshot isolation: an append lands new partitions, time travel still
    // sees only the first commit
    IcebergLite.append(spark,
      Seq((1000L, graft.geom.Geo.rectWkt(-179.5, -89.5, -178.5, -88.5))).toDF("doc_id", "wkt"),
      t, Seq("doc_id"), "c2")
    assert(IcebergLite.readAoi(spark, t, aoi).count() == got.size + 1)
    assert(IcebergLite.readAt(spark, t, 0).count() == 61)
  }

  /** SynthCorpus docs written under a cell[3] spec, with the AOI the two corpus cases read. */
  private def cellCorpus(): (String, DataFrame, String) = {
    val t = tmpTable()
    val docs = graft.model.SynthCorpus.docs(spark, 1500, seed = 9L).cache()
    IcebergLite.createPartitioned(spark, docs, t,
      Seq(PartitionField("cell", "wkt", "cell[3]")), Seq("doc_id"), "c1")
    (t, docs, graft.geom.Geo.rectWkt(170.0, -25.0, 179.0, -10.0))
  }

  test("cell partition on the doc corpus: readAoi == brute force, doc once") {
    val (t, docs, aoi) = cellCorpus()
    val ids = IcebergLite.readAoi(spark, t, aoi).select($"doc_id").as[String].collect().toSeq
    assert(ids.distinct.size == ids.size, "duplicated docs across partitions")
    val want = docs.collect().filter { r =>
      graft.geom.Geo.intersects(aoi, r.getAs[String]("wkt"))
    }.map(_.getAs[String]("doc_id")).toSet
    assert(want.nonEmpty && ids.toSet == want)
    docs.unpersist()
  }

  test("cell partition on the doc corpus: spans survive the write byte-equal") {
    val (t, docs, aoi) = cellCorpus()
    // the interleaved span sequence survives the partitioned write byte-equal
    val got = IcebergLite.readAoi(spark, t, aoi)
    val back = got.select($"doc_id", to_json($"spans").as("s_out"))
    val orig = docs.select($"doc_id", to_json($"spans").as("s_in"))
    val j = back.join(orig, "doc_id")
    val n = got.count()
    assert(n > 0 && j.count() == n && j.where($"s_out" =!= $"s_in").count() == 0)
    docs.unpersist()
  }

  test("partition spec survives rename of its source and refuses its drop") {
    val t = tmpTable()
    IcebergLite.createPartitioned(spark,
      (0 until 100).map(i => (i.toLong, s"s${i % 2}")).toDF("k", "sensor"), t,
      Seq(PartitionField("sensor", "sensor", "identity")), Seq("k"), "c1")
    intercept[IllegalArgumentException](IcebergLite.dropColumn(t, "sensor"))
    IcebergLite.renameColumn(t, "sensor", "platform")
    assert(IcebergLite.readSnapshot(t).get.spec.head.source == "platform")
    // appends after the rename still derive the layout (logical -> physical)
    IcebergLite.append(spark,
      (100 until 150).map(i => (i.toLong, s"s${i % 2}")).toDF("k", "platform"),
      t, Seq("k"), "c2")
    val q = IcebergLite.readWhere(spark, t, col("platform") === "s0")
    assert(q.inputFiles.nonEmpty && q.inputFiles.forall(_.contains("p_sensor=s0")))
    assert(q.count() == 75)
  }

  test("merge and compact preserve the partitioned layout") {
    val t = tmpTable()
    IcebergLite.createPartitioned(spark,
      (0 until 200).map(i => (i.toLong, s"s${i % 2}", i * 1.0)).toDF("k", "sensor", "v"), t,
      Seq(PartitionField("sensor", "sensor", "identity")), Seq("k"), "c1")
    IcebergLite.merge(spark, t,
      Seq((4L, "s0", 999.0), (777L, "s1", 1.0)).toDF("k", "sensor", "v"),
      Seq("k"), Seq("k"), "m1")
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.forall(f => f.partition.contains("sensor")), "merge dropped the layout")
    val m = IcebergLite.read(spark, t).as[(Long, String, Double)].collect().toMap2
    assert(m((4L)) == ("s0", 999.0) && m((777L)) == ("s1", 1.0))
    assert(IcebergLite.read(spark, t).count() == 201)
    IcebergLite.compact(spark, t, Seq("k"), "comp")
    val snapC = IcebergLite.readSnapshot(t).get
    assert(snapC.files.forall(f => f.partition.contains("sensor")), "compact dropped the layout")
    val q = IcebergLite.readWhere(spark, t, col("sensor") === "s1")
    assert(q.inputFiles.forall(_.contains("p_sensor=s1")))
  }

  implicit class TupleMapOps(rows: Array[(Long, String, Double)]) {
    def toMap2: Map[Long, (String, Double)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("spec evolution: plain table gains a spec; old files conservatively kept; compact unifies") {
    val t = tmpTable()
    // starts UNPARTITIONED
    IcebergLite.append(spark,
      (0 until 200).map(i => (i.toLong, s"s${i % 4}", i * 1.0)).toDF("k", "sensor", "v"),
      t, Seq("k"), "old")
    assert(IcebergLite.readSnapshot(t).get.spec.isEmpty)
    // metadata-only evolution: future commits partition by sensor
    IcebergLite.evolveSpec(t, Seq(PartitionField("sensor", "sensor", "identity")))
    IcebergLite.append(spark,
      (200 until 400).map(i => (i.toLong, s"s${i % 4}", i * 1.0)).toDF("k", "sensor", "v"),
      t, Seq("k"), "new")
    val snap = IcebergLite.readSnapshot(t).get
    val (withVal, without) = snap.files.partition(_.partition.contains("sensor"))
    assert(withVal.nonEmpty && without.nonEmpty, "mixed layout expected")
    assert(withVal.forall(_.path.contains("/data/new/")))
    // pruning: every post-evolution file of other sensors is skipped; every
    // pre-evolution file is conservatively kept — and the result is right
    val q = IcebergLite.readWhere(spark, t, $"sensor" === "s2")
    val qFiles = q.inputFiles.toSeq
    assert(qFiles.exists(_.contains("/data/old/")), "legacy files must stay in")
    assert(!qFiles.exists(f => f.contains("p_sensor=") && !f.contains("p_sensor=s2")))
    assert(q.count() == 100)
    // compact rewrites EVERYTHING into the current spec: layout unified
    IcebergLite.compact(spark, t, Seq("k"), "unify")
    val snap2 = IcebergLite.readSnapshot(t).get
    assert(snap2.files.forall(_.partition.contains("sensor")), "unified layout")
    val q2 = IcebergLite.readWhere(spark, t, $"sensor" === "s2")
    assert(q2.inputFiles.nonEmpty && q2.inputFiles.forall(_.contains("p_sensor=s2")))
    assert(q2.count() == 100 && IcebergLite.read(spark, t).count() == 400)
  }

  test("spec evolution: drop the spec, change granularity, validation errors") {
    val t = tmpTable()
    IcebergLite.createPartitioned(spark,
      (0 until 100).map(i => (i.toLong, s"s${i % 2}", i * 1.0)).toDF("k", "sensor", "v"),
      t, Seq(PartitionField("sensor", "sensor", "identity")), Seq("k"), "c1")
    // re-bucket on k instead (different field entirely)
    IcebergLite.evolveSpec(t, Seq(PartitionField("kb", "k", "bucket[4]")))
    IcebergLite.append(spark,
      (100 until 200).map(i => (i.toLong, s"s${i % 2}", i * 1.0)).toDF("k", "sensor", "v"),
      t, Seq("k"), "c2")
    val snap = IcebergLite.readSnapshot(t).get
    assert(snap.files.filter(_.path.contains("/data/c2/")).forall(_.partition.contains("kb")))
    assert(snap.files.filter(_.path.contains("/data/c1/")).forall(f =>
      f.partition.contains("sensor") && !f.partition.contains("kb")))
    assert(IcebergLite.read(spark, t).count() == 200)
    // drop partitioning entirely: future appends are plain
    IcebergLite.evolveSpec(t, Nil)
    IcebergLite.append(spark,
      (200 until 250).map(i => (i.toLong, s"s${i % 2}", i * 1.0)).toDF("k", "sensor", "v"),
      t, Seq("k"), "c3")
    assert(IcebergLite.read(spark, t).count() == 250)
    // validation: unknown source, colliding layout column, bad transform
    intercept[IllegalArgumentException] {
      IcebergLite.evolveSpec(t, Seq(PartitionField("x", "nope", "identity")))
    }
    intercept[IllegalArgumentException] {
      IcebergLite.evolveSpec(t, Seq(PartitionField("x", "k", "wat[3]")))
    }
    // time travel still sees each era's layout metadata-consistently
    val ids = IcebergLite.snapshots(t)
    assert(IcebergLite.snapshotAt(t, ids.head).get.spec.head.name == "sensor")
  }
}
