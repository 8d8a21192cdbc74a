package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * Plan audit: dumps `explain(formatted)` of the engine's key plans to
 * PLANS.md with the scale-critical properties called out — broadcast vs
 * shuffle, pushed filters / partition pruning, codegen spans, number of
 * exchanges. Re-run after operator changes: `sbt "runMain graft.tools.Plans"`.
 */
object Plans {

  private def capture(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes and codegen ids are assigned
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** `plan` without run-to-run noise: `#N` and `[plan_id=N]` renumbered per
    * section in order of first appearance; hashes, lambda and temp-dir
    * suffixes, part-file UUIDs and `Statistics(sizeInBytes=…)` masked. */
  private[tools] def stable(plan: String): String = {
    def renumber(s: String, re: String, show: Int => String): String = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.r.replaceAllIn(s, m => show(seen.getOrElseUpdate(m.group(1), seen.size + 1)))
    }
    val tmp = java.util.regex.Pattern.quote(System.getProperty("java.io.tmpdir").stripSuffix("/"))
    renumber(renumber(plan, "#(\\d+)", n => s"#$n"), "\\[plan_id=(\\d+)\\]", n => s"[plan_id=$n]")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{4,}\\b", "@<hash>")
      .replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("(Statistics\\(sizeInBytes=)[^,)]+", "$1<masked>")
      .replaceAll(s"$tmp/(graft_plans_[a-z]+)\\d+", "<tmp>/$1")
      .replaceAll("part-(\\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "part-$1-<uuid>")
  }

  private def audit(plan: String): String = {
    def nodes(name: String) = s"""\\(\\d+\\) $name""".r.findAllIn(plan).size
    val broadcasts = nodes("BroadcastExchange")
    val shuffles = nodes("Exchange") + nodes("ShuffleExchange") + nodes("AQEShuffleRead")
    val codegen = plan.linesIterator.count(_.contains("[codegen id :"))
    s"> audit: broadcastExchanges=$broadcasts, shuffleExchanges=$shuffles, " +
      s"nodes in codegen=$codegen\n"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(8)

    val sections = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]

    // flagship: cover join (broadcast path)
    val docs = graft.model.SynthCorpus.docs(spark, 10000)
    val tiles = graft.model.SynthCorpus.tileGrid(spark).drop("path", "row")
    sections += (("flagship tile-assign (broadcast cover join)",
      "one broadcast exchange, zero shuffles over the doc side; refine stays in the join filter",
      capture(graft.ops.TileAssign.assign(docs, tiles))))

    // WKB probe path (the storage-encoding flagship): pruned binary scan
    val wkbDir = java.nio.file.Files.createTempDirectory("graft_plans_wkb").toString
    graft.model.SynthCorpus.docs(spark, 5000).write.mode("overwrite").parquet(wkbDir)
    sections += (("flagship over parquet WKB corpus (count)",
      "scan pruned to ReadSchema<wkb:binary>; broadcast join; no probe-side shuffle",
      capture(graft.ops.TileAssign.assign(spark.read.parquet(wkbDir), tiles, geomCol = "wkb")
        .groupBy().count())))

    // shuffled + salted skew path
    sections += (("tile-assign shuffled + ×8 salted (skew path)",
      "dimension exploded ×salt; shuffle on the (cell, salt) key; AQE skew split applies at runtime",
      capture(graft.ops.TileAssign.assign(docs, tiles, shuffled = true, saltBuckets = 8))))

    // SQL-form spatial join: the CellCoverJoin optimizer rule
    val t2 = tiles.withColumnRenamed("wkt", "tile_wkt")
    sections += (("st_intersects join lowered onto the cell-cover join",
      "CellCoverJoin rewrites it to the cell equi-join (cover, explode, hash join on the cell, " +
        "min-shared-cell dedup, refine); Catalyst picks broadcast vs shuffle; no BroadcastNestedLoopJoin",
      capture(docs.join(t2, graft.plans.SpatialColumns.stIntersects(col("tile_wkt"), col("wkt"))))))

    // the same SQL join over the WKB corpus: lowered by the same rule
    spark.read.parquet(wkbDir).createOrReplaceTempView("plans_wkb_docs")
    t2.createOrReplaceTempView("plans_tiles")
    sections += (("SQL st_intersects join over the WKB corpus (count)",
      "`JOIN … ON st_intersects(t.tile_wkt, d.wkb)` is lowered like the WKT form: " +
        "st_cell_cover over the binary column, broadcast cell equi-join, " +
        "st_intersects(tile_wkt, wkb) refine; no BroadcastNestedLoopJoin",
      capture(spark.sql("SELECT count(*) FROM plans_wkb_docs d JOIN plans_tiles t " +
        "ON st_intersects(t.tile_wkt, d.wkb)"))))

    // pushdown / pruning over the driver tables
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    sections += (("filter + projection pushdown (lineitem)",
      "PushedFilters + 2-column ReadSchema at the parquet scan",
      capture(li.where(col("l_quantity") > 45).select("l_orderkey", "l_quantity"))))

    // q1 agg: partial/final hash aggregation
    sections += (("q1 aggregation",
      "partial_ functions before the exchange (map-side combine), final after",
      capture(graft.SparkEntry.queries("q1_agg")(spark, sfDir))))

    // kNN: expanding-ring cell join
    val pts = graft.model.SynthCorpus.scenesFromOrders(spark, sfDir)
      .withColumn("lon", col("xmin") + 0.75).withColumn("lat", col("ymin") + 0.5)
    sections += (("expanding-ring cell kNN",
      "one round per ring (1, 2, 4, 8, 15 at res 4): k-ring explode, left-outer broadcast hash " +
        "join on the cell with first_shared_cell, row_number window; a partial WindowGroupLimit " +
        "before the one doc_id exchange keeps ≤ k rows per point; later rounds add no exchange",
      capture(graft.ops.Knn.nearestTiles(pts, tiles, k = 3, res = 4))))

    // minhash-LSH candidate generation: band exchanges must be text-free
    val docsTbl = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 200)
    sections += (("minhash-LSH near-dups (candidate join)",
      "band-keyed exchanges carry (id, band, slice) only — no text column; " +
        "texts re-join by id after the ids-only pair dedup (DedupSpec locks this)",
      capture(graft.dedup.Dedup.minhashNearDups(docsTbl, "doc_id", "text"))))

    // stored IVF probe: partition-pruned posting-list read
    val embsTbl = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_plans_ivf").toString
    graft.ann.IvfIndex.write(embsTbl, ivfDir, nlist = 16)
    sections += (("stored-IVF probe (partition-pruned posting lists)",
      "PartitionFilters: cell IN (probe cells) at the posts scan — a probe reads " +
        "nprobe/nlist of the corpus; quantizer trained on a bounded sample, read from disk",
      capture(graft.ann.IvfIndex.probe(spark, ivfDir,
        embsTbl.where(col("vec_id") < 20), k = 3, nprobe = 4))))

    // geomedoid: ONE pixel-key aggregation (r7) — the geomedian buffer already
    // holds every observation the argmin needs, so finish runs both
    sections += (("px_geomedoid (single-aggregation geomedian + observed-argmin)",
      "one scan, one pixel-key exchange, zero sorts and zero joins: the " +
        "fixed-step geomedian AND the observed-point argmin both run at the " +
        "aggregate's finish over the same buffered observations",
      capture(graft.SparkEntry.queries("px_geomedoid")(spark, sfDir))))

    // px_summary: builtin sum/count/min/max over the valid values
    sections += (("px_summary (builtin per-pixel summary stats)",
      "partial and final codegen'd HashAggregate around one pixel-key exchange: " +
        "the sum stays in the integer domain, no ObjectHashAggregate and no " +
        "sort-based fallback (PlanRegressionSpec locks this)",
      capture(graft.SparkEntry.queries("px_summary")(spark, sfDir))))

    // ml_water: forest prediction as pure Column algebra
    sections += (("ml_water prediction (forest rendered as Column algebra)",
      "no ScalaUDF / Vector boxing in the predict plan — the trained trees are " +
        "nested CASE expressions inside whole-stage codegen (and nothing " +
        "task-serializes the model or its session)",
      capture(graft.SparkEntry.queries("ml_water")(spark, sfDir))))

    // CoW MERGE rewrite: broadcast anti-join against the (small) update key
    // set — the current table is rewritten in one pass, never shuffled on
    // its own account. Captured as the rewrite DataFrame merge() writes
    // (the committed read afterwards is a plain parquet scan).
    val mergeTbl = java.nio.file.Files.createTempDirectory("graft_plans_merge").resolve("t").toString
    val mergeBase = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.table.IcebergLite.append(spark, mergeBase, mergeTbl, Seq("o_orderkey"), "c1")
    val mergeUpd = mergeBase.where(col("o_orderkey") % 10 === 0)
    val mergeCur = graft.table.IcebergLite.read(spark, mergeTbl)
    sections += (("IcebergLite MERGE rewrite (the plan merge() writes)",
      "update keys broadcast into the anti-join (no shuffle of the retained " +
        "current-table side — at 100 TB the table streams through map-side); " +
        "union with the update rows is exchange-free",
      capture(mergeCur.join(mergeUpd.select(col("o_orderkey")).distinct(),
        Seq("o_orderkey"), "left_anti").unionByName(mergeUpd))))

    // MoR read: the anti-merge plan mergeOnRead taxes every scan with —
    // delete keys are dimension-sized, so they broadcast; data files stream
    // map-side through per-sequence-group anti-joins
    val morTbl = java.nio.file.Files.createTempDirectory("graft_plans_mor").resolve("t").toString
    graft.table.IcebergLite.append(spark, mergeBase, morTbl, Seq("o_orderkey"), "c1")
    graft.table.IcebergLite.mergeOnRead(spark, morTbl,
      mergeBase.where(col("o_orderkey") % 10 === 0), Seq("o_orderkey"), Seq("o_orderkey"), "m1")
    sections += (("IcebergLite merge-on-read scan (equality-delete anti-merge)",
      "the O(updates)-write upsert's read-side cost: per-sequence-group " +
        "anti-joins against the delete-key files, keys broadcast (never a " +
        "shuffle of the data side); compact() resets the table to clean scans",
      capture(graft.table.IcebergLite.read(spark, morTbl))))

    // px_rasterize: rect AOI lowered to codegen'd BETWEEN — no UDF in the mask
    sections += (("px_rasterize (rectangular-AOI fast path)",
      "the AOI mask is pure Column arithmetic inside whole-stage codegen — " +
        "no per-row point-WKT build / JTS PIP for rectangular AOIs " +
        "(general geometries keep the prepared-geometry st_intersects path; " +
        "RasterSpec proves the two agree bit-for-bit)",
      capture(graft.SparkEntry.queries("px_rasterize")(spark, sfDir))))

    // incremental append scan: the physical plan is a parquet scan over
    // ONLY the delta files — the base commit never enters the file list
    val incrTbl = java.nio.file.Files.createTempDirectory("graft_plans_incr").resolve("t").toString
    val s0 = graft.table.IcebergLite.append(spark, mergeBase, incrTbl, Seq("o_orderkey"), "c1")
    val s1 = graft.table.IcebergLite.append(spark,
      mergeBase.where(col("o_orderkey") % 100 === 0), incrTbl, Seq("o_orderkey"), "c2")
    sections += (("IcebergLite incremental append scan (tbl_incr)",
      "process-only-new-data: the scan's file list holds ONLY the files of " +
        "commits in (from, to] — a metadata-only selection by per-file " +
        "commit seq; the base commit's files are not opened or listed",
      capture(graft.table.IcebergLite.readIncremental(spark, incrTbl, s0.id, s1.id))))

    // filtered incremental scan: delta selection AND partition/stats/bloom
    // pruning both happen in metadata — the plan scans only the delta's
    // matching files, then applies the residual predicate
    sections += (("filtered incremental scan (tbl_incr_where's readIncrementalWhere)",
      "a region-scoped follower's tick: the (from, to] delta's file list " +
        "is pruned by partition value / min-max / Bloom BEFORE anything " +
        "opens, so the scan holds only the delta∩predicate files and the " +
        "residual filter is the only per-row work — at 100 TB a follower " +
        "subscribed to one region pays that region's slice of each " +
        "increment, not the append",
      capture(graft.table.IcebergLite.readIncrementalWhere(spark, incrTbl,
        s0.id, s1.id, col("o_orderkey") < 1000L))))

    sections += (("session windows (str_sessions)",
      "gap-merge runs inside the aggregate: one keyed shuffle on the group " +
        "key, session assembly map-side per key — no window-function " +
        "pass over the raw events",
      capture(graft.SparkEntry.queries("str_sessions")(spark, sfDir))))

    // hidden-partitioned AOI read: the scan's file list is pre-pruned to
    // the AOI's partitions by METADATA (partition values + cover-range
    // stats) — the plan is a plain parquet scan over only those files
    val partTbl = java.nio.file.Files.createTempDirectory("graft_plans_part").resolve("t").toString
    graft.table.IcebergLite.createPartitioned(spark,
      graft.model.SynthCorpus.docs(spark, 5000).select(col("doc_id"), col("wkt")),
      partTbl, Seq(graft.table.IcebergLite.PartitionField("cell", "wkt", "cell[3]")),
      Seq("doc_id"), "c1")
    sections += (("hidden-partitioned AOI read (tbl_part's readAoi)",
      "partition pruning happens in the MANIFEST layer before the plan " +
        "exists: the scan node lists only files whose cell-partition / " +
        "cover-range intersects the AOI; the residual st_intersects is the " +
        "only per-row work — at 100 TB the read cost tracks the AOI, not " +
        "the table",
      capture(graft.table.IcebergLite.readAoi(spark, partTbl,
        "POLYGON((0 0, 12 0, 12 10, 0 10, 0 0))"))))

    // z-order clustered AOI read: file list pre-pruned by TIGHT min/max on
    // BOTH interleaved columns — no partition dirs anywhere
    sections += (("z-order clustered AOI read (tbl_zorder's readWhere)",
      "the z-clustered layout makes every file's xmin AND ymin manifest " +
        "ranges ~√(files) tight, so the conjunctive AOI prunes " +
        "multiplicatively BEFORE the plan exists; the plan itself is a " +
        "plain codegen'd scan+filter over the few surviving files",
      capture(graft.SparkEntry.queries("tbl_zorder")(spark, sfDir))))

    // bloom point lookup: every candidate file's sidecar is probed driver-
    // side; the plan scans only membership hits
    sections += (("Bloom-sidecar point lookup (tbl_bloom's readWhere)",
      "min/max can't prune a point lookup on a hash-distributed key; the " +
        "per-file Bloom probe (driver-side, xxhash64-exact) drops every " +
        "provably-missing file, so the scan opens ~1 file per IN-list key " +
        "at any table size",
      capture(graft.SparkEntry.queries("tbl_bloom")(spark, sfDir))))

    // TTL lease tracker: one keyed exchange into mapGroupsWithState,
    // per-item replay is a handful of counters
    sections += (("TTL lease tracker (str_requeue)",
      "one hash exchange on itemId into MapGroupsWithState — the whole " +
        "rediswq lease lifecycle is per-key state, never a window or a " +
        "self-join over the event log",
      capture(graft.SparkEntry.queries("str_requeue")(spark, sfDir))))

    val md = new StringBuilder
    md.append("# PLANS — physical-plan audit (generated by graft.tools.Plans)\n\n")
    sections.foreach { case (title, why, plan) =>
      md.append(s"## $title\n\n$why\n\n")
      md.append(audit(stable(plan)))
      md.append("\n```\n").append(stable(plan).trim).append("\n```\n\n")
    }
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println(s"[plans] wrote PLANS.md with ${sections.size} sections")
    spark.stop()
  }
}
