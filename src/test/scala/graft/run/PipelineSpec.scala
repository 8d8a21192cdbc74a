package graft.run

import graft.{SparkTestSession, TestDirs}
import graft.model.SynthCorpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end Search & Discover (SURVEY §3.1): AOI → tile assignment →
 * SAC_DONE anti-join → job docs, with kill/resume and the BASELINE
 * span-sequence invariant checked per surviving doc.
 */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshBase(tag: String) = {
    val d = TestDirs.create(s"graft_pipe_$tag")
    d.toString
  }

  private lazy val docs = SynthCorpus.docs(spark, 800, seed = 5L).cache()
  private lazy val tiles = SynthCorpus.tileGrid(spark).drop("path", "row")
  private val aoi = graft.geom.Geo.rectWkt(160.0, -40.0, 180.0, 0.0) // Pacific-ish

  test("jobs exclude inventory; spans transit verbatim (span-sequence invariant)") {
    val inv = graft.ops.TileAssign.assign(
        docs.where(graft.OracleUdfs.stIntersectsUdf(lit(aoi), col("wkt"))), tiles)
      .select("doc_id", "tile_id").limit(20).cache()
    val jobs = Pipeline.searchDiscover(spark, docs, tiles, inv, aoi,
      freshBase("a"), commitId = "c1").cache()

    // exclusion
    assert(jobs.join(inv, Seq("doc_id", "tile_id"), "left_semi").count() == 0)
    assert(jobs.count() > 0)

    // span invariant: job_json's spans == the input doc's spans, in order
    val parsed = jobs.select(col("doc_id"),
      from_json(col("job_json"),
        lit("struct<doc_id:string,tile_id:string,spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>>"))
        .getField("spans").as("spans_out")).dropDuplicates("doc_id")
    val joined = parsed.join(docs.select(col("doc_id"), col("spans").as("spans_in")), "doc_id")
    assert(joined.where(to_json(col("spans_out")) =!= to_json(col("spans_in"))).count() == 0)
    assert(joined.count() == parsed.count())
  }

  test("kill/resume: partial commit is not recomputed; final output identical to fresh run") {
    val base = freshBase("b")
    val inv = spark.emptyDataFrame.sparkSession.createDataFrame(
      Seq.empty[(String, String)]).toDF("doc_id", "tile_id")

    // attempt 1: only half the AOI docs "survive" before the crash
    val aoiDocs = docs.where(graft.OracleUdfs.stIntersectsUdf(lit(aoi), col("wkt")))
    val half = aoiDocs.where(abs(xxhash64(col("doc_id"))) % 2 === 0)
    val (_, n1) = Checkpoint.runStage(spark, base, "assign", half, "doc_id", "c1") {
      todo => graft.ops.TileAssign.assign(todo, tiles).select("doc_id", "tile_id", "spans")
    }
    assert(n1 > 0)

    // attempt 2: full input — only the OTHER half is recomputed
    val (_, n2) = Checkpoint.runStage(spark, base, "assign", aoiDocs, "doc_id", "c2") {
      todo => graft.ops.TileAssign.assign(todo, tiles).select("doc_id", "tile_id", "spans")
    }
    assert(n2 > 0 && n1 + n2 == aoiDocs.count(), s"$n1 + $n2 != full")

    // attempt 3: nothing left to do
    val (_, n3) = Checkpoint.runStage(spark, base, "assign", aoiDocs, "doc_id", "c3") {
      todo => graft.ops.TileAssign.assign(todo, tiles).select("doc_id", "tile_id", "spans")
    }
    assert(n3 == 0)

    // resumed result == fresh single-shot run
    val resumed = Pipeline.searchDiscover(spark, docs, tiles, inv, aoi, base, "c4")
      .select("doc_id", "tile_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val fresh = Pipeline.searchDiscover(spark, docs, tiles, inv, aoi, freshBase("c"), "c1")
      .select("doc_id", "tile_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(resumed == fresh)

    // lineage: the log has per-partition metrics rows for both attempts
    val log = Checkpoint.log(spark, base, "assign")
    assert(log.where(col("commit_id") === "c1").count() > 0)
    assert(log.where(col("commit_id") === "c2").count() > 0)
    assert(log.select("status").distinct().collect().map(_.getString(0)).toSeq == Seq("committed"))
  }

  test("dirty rows: a null or empty footprint drops out of the AOI filter without failing the task") {
    val inv = Seq.empty[(String, String)].toDF("doc_id", "tile_id")
    val dirty = docs.orderBy("doc_id").limit(2)
      .withColumn("doc_id", concat(lit("dirty_"), col("doc_id")))
    val nullId = dirty.select("doc_id").as[String].first()
    val withDirty = docs.unionByName(dirty.withColumn("wkt",
      when(col("doc_id") === nullId, lit(null).cast("string")).otherwise(lit(""))))
    def pairs(d: org.apache.spark.sql.DataFrame, tag: String) =
      Pipeline.searchDiscover(spark, d, tiles, inv, aoi, freshBase(tag), "c1")
        .select("doc_id", "tile_id").as[(String, String)].collect().toSet
    val got = pairs(withDirty, "d")
    assert(got.nonEmpty && got.forall(!_._1.startsWith("dirty_")))
    assert(got == pairs(docs, "e"))
  }
}
