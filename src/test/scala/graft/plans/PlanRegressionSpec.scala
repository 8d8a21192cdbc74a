package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Locks in the scale-critical plan properties so optimizer/operator changes
 * that silently regress them fail CI:
 *
 *  1. the flagship count's parquet scan reads ONLY the geometry column
 *     (column pruning through the cover projection);
 *  2. no inferred filter re-evaluates the cover below the Generate
 *     (the InferFiltersFromGenerate/Constraints exclusion, see GraftSession);
 *  3. the broadcast cover join has zero shuffle exchanges over the probe;
 *  4. the shuffled path really shuffles (no silent AQE broadcast demotion);
 *  5. the SQL-form `st_intersects` join, lowered by CellCoverJoin, gets
 *     Catalyst's own broadcast and no probe-side shuffle either;
 *  6. every cover join dedups with the native `first_shared_cell` merge
 *     walk, never an allocating `array_intersect`;
 *  7. the per-pixel summary runs as builtin aggregates in a codegen'd
 *     `HashAggregate`, not an object or sort-based aggregate;
 *  8. the similarity-plane queries keep their count of shuffle and
 *     broadcast exchanges and of aggregates by kind.
 */
class PlanRegressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def corpus = {
    val dir = java.nio.file.Files.createTempDirectory("graft_planreg").toString
    graft.model.SynthCorpus.docs(spark, 300, seed = 3L).write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val tiles = graft.model.SynthCorpus.tileGrid(spark).drop("path", "row")

  private def countPlan(geomCol: String, shuffled: Boolean = false): String = {
    val docs = spark.read.parquet(corpus)
    val job = graft.ops.TileAssign.assign(docs, tiles, geomCol = geomCol, shuffled = shuffled)
      .groupBy().count()
    job.collect()
    job.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("flagship count scan is pruned to the geometry column only") {
    val plan = countPlan("wkb")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    readSchemas.foreach { rs =>
      assert(rs.contains("wkb") && !rs.contains("spans") && !rs.contains("doc_id"),
        s"scan not pruned: $rs")
    }
  }

  test("no optimizer-inferred filter duplicates the cover UDF") {
    val plan = countPlan("wkt")
    val filterConds = plan.linesIterator.filter(_.startsWith("Condition")).toSeq
    filterConds.foreach { c =>
      assert(!c.contains("UDF"), s"inferred filter re-evaluates a UDF: $c")
      assert(!c.contains("st_cell_cover"), s"inferred filter re-evaluates the cover: $c")
    }
  }

  test("WKT cover join keeps its cell equi-join plan with native cover and refine") {
    GraftExtensions.register(spark) // the lowering rule must see it and leave it as is
    for (shuffled <- Seq(false, true)) {
      val plan = countPlan("wkt", shuffled)
      assert(!plan.contains("BroadcastSpatialJoin"),
        s"the cell equi-join was replanned as a spatial-join operator (shuffled=$shuffled):\n$plan")
      assert(plan.contains("st_cell_cover("), s"cover is not the native st_cell_cover:\n$plan")
      assert(plan.contains("st_intersects("), s"refine is not the native st_intersects:\n$plan")
    }
  }

  test("WKB hot path runs the native kernel expressions, not udf wrappers") {
    val plan = countPlan("wkb")
    assert("""st_cell_cover\(wkb#\d+, 5\)""".r.findFirstIn(plan).nonEmpty,
      s"probe cover is not the native st_cell_cover over the wkb column:\n$plan")
    assert("""st_intersects\(tile_wkt#\d+, wkb#\d+\)""".r.findFirstIn(plan).nonEmpty,
      s"refine is not the native st_intersects over the wkb column:\n$plan")
  }

  test("broadcast path: no shuffle over the probe side; shuffled path: real exchange") {
    // AQE formatted output repeats nodes in the "Initial Plan" section —
    // audit only the final executed tree
    def nodes(plan0: String, name: String) = {
      val plan = plan0.split("== Initial Plan ==")(0)
      // tree form "Name (N)"; (?<![A-Za-z]) keeps "Exchange" from matching
      // inside "BroadcastExchange"
      s"""(?<![A-Za-z])$name \\(\\d+\\)""".r.findAllIn(plan).size
    }
    // AQE prints materialized stages as *QueryStage nodes in the final tree
    def broadcasts(p: String) = nodes(p, "BroadcastExchange") + nodes(p, "BroadcastQueryStage")
    def shuffles(p: String) =
      nodes(p, "Exchange") + nodes(p, "ShuffleQueryStage") + nodes(p, "AQEShuffleRead")
    val b = countPlan("wkb")
    assert(broadcasts(b) >= 1, s"no broadcast in:\n$b")
    // only the final single-partition count aggregation may exchange
    assert(nodes(b, "Exchange") <= 1, s"unexpected shuffles:\n$b")
    val s = countPlan("wkb", shuffled = true)
    assert(shuffles(s) >= 3, s"shuffled path was demoted to broadcast:\n$s")
    assert(broadcasts(s) == 0)
  }

  test("SQL st_intersects join: Catalyst's broadcast keeps the probe side shuffle-free") {
    GraftExtensions.register(spark)
    spark.read.parquet(corpus).createOrReplaceTempView("pr_docs")
    tiles.withColumnRenamed("wkt", "tile_wkt").createOrReplaceTempView("pr_tiles")
    val job = spark.sql(
      "SELECT count(*) FROM pr_docs d JOIN pr_tiles t ON st_intersects(t.tile_wkt, d.wkt)")
    job.collect()
    // the final executed tree only (AQE repeats nodes under "Initial Plan");
    // (?<![A-Za-z]) keeps "Exchange" from matching inside "BroadcastExchange"
    val formatted = job.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val plan = formatted.split("== Initial Plan ==")(0)
    def nodes(name: String) = s"""(?<![A-Za-z])$name \\(\\d+\\)""".r.findAllIn(plan).size
    assert(nodes("BroadcastExchange") + nodes("BroadcastQueryStage") >= 1, s"no broadcast in:\n$plan")
    // only the final single-partition count aggregation may exchange
    assert(nodes("Exchange") <= 1, s"unexpected shuffles:\n$plan")
    assert(formatted.contains("st_cell_cover("),
      s"join was not lowered onto the cell cover:\n$formatted")
  }

  test("cover joins dedup with native first_shared_cell, never array_intersect") {
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import org.apache.spark.sql.catalyst.plans.logical.Join
    GraftExtensions.register(spark)
    val docs = spark.read.parquet(corpus)
    docs.createOrReplaceTempView("pr_dedup_docs")
    tiles.withColumnRenamed("wkt", "tile_wkt").createOrReplaceTempView("pr_dedup_tiles")
    val joins = Seq(
      "broadcast" -> graft.ops.TileAssign.assign(docs, tiles, geomCol = "wkb"),
      "shuffled" -> graft.ops.TileAssign.assign(docs, tiles, shuffled = true),
      "salted x4" -> graft.ops.TileAssign.assign(docs, tiles, shuffled = true, saltBuckets = 4),
      "SQL-lowered" -> spark.sql(
        "SELECT * FROM pr_dedup_docs d JOIN pr_dedup_tiles t ON st_intersects(t.tile_wkt, d.wkt)"))
    for ((name, df) <- joins) {
      val conds = df.queryExecution.optimizedPlan.collect {
        case Join(_, _, _, Some(c), _) if c.exists(_.isInstanceOf[StIntersects]) => c
      }
      assert(conds.size == 1, s"$name: expected one cover join, got ${conds.size}")
      assert(conds.head.exists(_.isInstanceOf[FirstSharedCell]),
        s"$name: no first_shared_cell in ${conds.head.sql}")
      assert(!conds.head.exists(_.isInstanceOf[ArrayIntersect]),
        s"$name: array_intersect in ${conds.head.sql}")
      assert(df.count() > 0, name)
    }
  }

  test("px_summary plans as HashAggregate, never ObjectHashAggregate or SortAggregate") {
    val job = graft.SparkEntry.queries("px_summary")(spark, "/root/testdata/sf0.001")
    job.collect()
    // the final executed tree only (AQE repeats nodes under "Initial Plan");
    // (?<![A-Za-z]) keeps "HashAggregate" from matching inside "ObjectHashAggregate"
    val plan = job.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    def nodes(name: String) = s"""(?<![A-Za-z])$name \\(\\d+\\)""".r.findAllIn(plan).size
    val codegened = """\* HashAggregate \(\d+\)""".r.findAllIn(plan).size
    assert(nodes("HashAggregate") >= 2 && codegened == nodes("HashAggregate"),
      s"no codegen'd partial/final HashAggregate in:\n$plan")
    assert(nodes("ObjectHashAggregate") == 0 && nodes("SortAggregate") == 0,
      s"summary fell back to an object or sort aggregate:\n$plan")
  }

  test("similarity-plane queries keep their exchange and aggregate shapes") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    GraftExtensions.register(spark)
    // (ShuffleExchange, BroadcastExchange, HashAggregate, ObjectHashAggregate,
    // SortAggregate) in the final adaptive plan on sf0.001
    val pins = Map(
      "ann_topk" -> ((1, 1, 0, 2, 0)),
      "ann_q8" -> ((1, 1, 0, 2, 0)),
      "ann_lsh" -> ((2, 1, 2, 2, 0)),
      "ann_neardup" -> ((2, 2, 2, 0, 0)),
      "ann_ivf" -> ((1, 1, 0, 2, 0)),
      "dd_minhash" -> ((2, 2, 2, 0, 0)))
    val helper = new AdaptiveSparkPlanHelper {}
    val kinds = Seq("ShuffleExchangeExec", "BroadcastExchangeExec", "HashAggregateExec",
      "ObjectHashAggregateExec", "SortAggregateExec")
    val got = pins.keys.toSeq.sorted.map { name =>
      val job = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      job.collect()
      val names = helper.collect(job.queryExecution.executedPlan) { case p => p.getClass.getSimpleName }
      val counts = kinds.map(k => names.count(_ == k))
      name -> (counts, job.queryExecution.executedPlan)
    }
    for ((name, (counts, plan)) <- got)
      assert(counts == pins(name).productIterator.toSeq,
        s"$name: ${kinds.zip(counts)} != pinned ${pins(name)} in:\n$plan")
  }
}
