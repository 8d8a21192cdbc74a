package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.SynthCorpus
import graft.ops.{Knn, TileAssign}
import graft.functions.GeoFunctions

/**
 * Driver contract. Every operator from SURVEY.md §2 that is implemented gets
 * a `queries` entry; every entry whose semantics are ANSI-SQL-expressible
 * gets a DuckDB oracle in `oracleSql` over the same parquet tables.
 *
 * Geo operators run over scene footprints / tile grids derived from the
 * driver tables with exact 1/16°-lattice arithmetic (SynthCorpus), so the
 * engine path (cell-cover join + JTS refine) is checked row-for-row against
 * a pure-inequality SQL oracle.
 */
object SparkEntry {
  import TableFixtures.priceCSql

  /** Flagship: spatial-join tile assignment on sf0.001 (rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    GeoQueries.tileAssign(spark, "/root/testdata/sf0.001")

  private type Query = (SparkSession, String) => DataFrame

  /** Each entry first applies [[graft.plans.GraftExtensions.register]], so a
    * query plans the same whatever ran before it in its session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, Query](
    // --- spatial core (SURVEY §2.3 J1/J2/J8) ---
    "geo_tile_assign" -> ((s, d) => GeoQueries.tileAssign(s, d)),
    "geo_name_assign" -> ((s, d) => GeoQueries.nameAssign(s, d)),
    "geo_pip" -> ((s, d) => GeoQueries.pip(s, d)),
    "geo_knn" -> ((s, d) => GeoQueries.knn(s, d)),
    "geo_assign_spans" -> ((s, d) => GeoQueries.assignSpans(s, d)),
    "geo_cell_encode" -> ((s, d) => GeoQueries.cellEncode(s, d)),
    "geo_sql_join" -> ((s, d) => GeoQueries.sqlJoin(s, d)),
    // --- relational plane (SURVEY §2.2-2.7) ---
    // --- pixel plane: wofs / masks / composites (SURVEY §2.4, §2.9) ---
    "px_wofs" -> ((s, d) => PixelQueries.wofs(s, d)),
    "px_wofs_s2" -> ((s, d) => PixelQueries.wofsS2(s, d)),
    "px_mean" -> ((s, d) => PixelQueries.mean(s, d)),
    "px_median" -> ((s, d) => PixelQueries.median(s, d)),
    "px_recent" -> ((s, d) => PixelQueries.recent(s, d)),
    "px_maxndvi" -> ((s, d) => PixelQueries.maxNdvi(s, d)),
    "px_minndvi" -> ((s, d) => PixelQueries.minNdvi(s, d)),
    "px_summary" -> ((s, d) => PixelQueries.summary(s, d)),
    // geomedian / ML / NNLS: not SQL-expressible → driver rows-only check;
    // value-level correctness lives in AggregatorSpec / MLWaterSpec / NnlsSpec
    "px_geomedian" -> ((s, d) => PixelQueries.geomedian(s, d)),
    "px_geomedoid" -> ((s, d) => PixelQueries.geomedoid(s, d)),
    "ml_water" -> ((s, d) => MLQueries.water(s, d)),
    "ml_labels" -> ((s, d) => MLQueries.waterLabels(s, d)),
    "ml_fraccover" -> ((s, d) => MLQueries.fracCover(s, d)),
    // --- training-data pipeline: dedup / text / ANN / media ---
    "dd_exact" -> ((s, d) => TrainQueries.ddExact(s, d)),
    "dd_norm" -> ((s, d) => TrainQueries.ddNorm(s, d)),
    "dd_minhash" -> ((s, d) => TrainQueries.ddMinhash(s, d)),
    "dd_simhash" -> ((s, d) => TrainQueries.ddSimhash(s, d)),
    "dd_jaccard" -> ((s, d) => TrainQueries.ddJaccard(s, d)),
    "dd_cluster" -> ((s, d) => TrainQueries.ddCluster(s, d)),
    "txt_quality" -> ((s, d) => TrainQueries.txtQuality(s, d)),
    "txt_lang" -> ((s, d) => TrainQueries.txtLang(s, d)),
    "txt_fingerprint" -> ((s, d) => TrainQueries.txtFingerprint(s, d)),
    "txt_tokens" -> ((s, d) => TrainQueries.txtTokens(s, d)),
    // the COMPOSED pipeline: lang filter → token filter → exact dedup →
    // survivor token budgets, ids-only through the dedup exchange
    "pipe_corpus" -> ((s, d) => TrainQueries.pipeCorpus(s, d)),
    "ann_topk" -> ((s, d) => TrainQueries.annTopK(s, d)),
    // int8 STORED quantization ANN (4× embedding memory reduction)
    "ann_q8" -> ((s, d) => TrainQueries.annQ8(s, d)),
    "ann_lsh" -> ((s, d) => TrainQueries.annLsh(s, d)),
    "ann_neardup" -> ((s, d) => TrainQueries.annNearDup(s, d)),
    "ann_ivf" -> ((s, d) => TrainQueries.annIvf(s, d)),
    "media_decode" -> ((s, d) => TrainQueries.mediaDecode(s, d)),
    "media_validate" -> ((s, d) => TrainQueries.mediaValidate(s, d)),
    "media_multiband" -> ((s, d) => TrainQueries.mediaMultiband(s, d)),
    "media_png" -> ((s, d) => TrainQueries.mediaPng(s, d)),
    "media_netcdf" -> ((s, d) => TrainQueries.mediaNetcdf(s, d)),
    // streaming plane (S7/§2.10): the same aggregation THROUGH the
    // streaming engine (readStream → window agg → AvailableNow drain);
    // Complete mode emits every window, so the oracle is the plain batch
    // GROUP BY — the stream ≡ batch equivalence, driver-checked
    "str_windows" -> ((s, d) =>
      graft.streaming.Streams.dailyCountsViaStream(s, s"$d/events.parquet")),
    // durable streaming ingest (§2.10/§2.11): multi-micro-batch AvailableNow
    // drain → foreachBatch → checkpointed IcebergLite commits; exactly-once
    // means the committed table ≡ the source row set, which IS the oracle
    "str_append" -> ((s, d) =>
      graft.streaming.Streams.durableEventsIngest(s, s"$d/events.parquet")),
    // watermark-driven APPEND-mode window agg → durable sink: state holds
    // only open windows (eviction), the unbounded-stream shape; committed
    // rows = windows the final watermark closed (deterministic cutoff)
    "str_windows_append" -> ((s, d) =>
      graft.streaming.Streams.dailyCountsAppendDurable(s, s"$d/events.parquet")._1),
    // session windows (gap-based, the third window family): DuckDB twin is
    // gaps-and-islands (lag + cumulative break sum)
    "str_sessions" -> ((s, d) =>
      graft.streaming.Streams.sessionCounts(
        s.read.parquet(s"$d/events.parquet"), "ts", "30 minutes")
        .select(unix_micros(col("w_start")).as("w_start_us"),
          unix_micros(col("w_end")).as("w_end_us"),
          col("event_type"), col("n"))),
    // --- relational plane (SURVEY §2.2-2.7) ---
    "q1_agg" -> ((s, d) => Relational.q1(s, d)),
    "q2_join" -> ((s, d) => Relational.q2(s, d)),
    "q3_semijoin" -> ((s, d) => Relational.q3(s, d)),
    "q4_antijoin" -> ((s, d) => Relational.q4(s, d)),
    "q5_window" -> ((s, d) => Relational.q5(s, d)),
    "q6_monthly" -> ((s, d) => Relational.q6(s, d)),
    "q7_topk" -> ((s, d) => Relational.q7(s, d)),
    "q8_setops" -> ((s, d) => Relational.q8(s, d)),
    "q9_scalar" -> ((s, d) => Relational.q9(s, d)),
    "q10_stats" -> ((s, d) => Relational.q10(s, d)),
    "q11_json" -> ((s, d) => Relational.q11(s, d)),
    "q12_rollup" -> ((s, d) => Relational.q12(s, d)),
    "q13_dates" -> ((s, d) => Relational.q13(s, d)),
    "q14_jobdoc" -> ((s, d) => Relational.q14(s, d)),
    "q15_frame" -> ((s, d) => Relational.q15(s, d)),
    "q16_bands" -> ((s, d) => Relational.q16(s, d)),
    "q17_inventory" -> ((s, d) => Relational.q17(s, d)),
    // table plane (§4.2/S12): IcebergLite CoW MERGE upsert, committed
    // table read back — exactly the anti-join ∪ updates the oracle states
    "tbl_part" -> ((s, d) => GeoQueries.tblPart(s, d)),
    "tbl_zorder" -> ((s, d) => GeoQueries.tblZorder(s, d)),
    "tbl_merge" -> ((s, d) => Relational.tblMerge(s, d)),
    "tbl_mor" -> ((s, d) => Relational.tblMor(s, d)),
    "tbl_incr" -> ((s, d) => Relational.tblIncr(s, d)),
    "tbl_incr_where" -> ((s, d) => Relational.tblIncrWhere(s, d)),
    "tbl_travel" -> ((s, d) => Relational.tblTravel(s, d)),
    "tbl_tag" -> ((s, d) => Relational.tblTag(s, d)),
    "tbl_wap" -> ((s, d) => Relational.tblWap(s, d)),
    "tbl_delete" -> ((s, d) => Relational.tblDelete(s, d)),
    "tbl_cherry" -> ((s, d) => Relational.tblCherry(s, d)),
    "str_incr" -> ((s, d) => Relational.strIncr(s, d)),
    // rediswq lease TTL lifecycle: lost leases requeue (stateful tracker
    // vs a lag()-replay DuckDB twin of the same state machine)
    "str_requeue" -> ((s, d) => Relational.strRequeue(s, d)),
    // MoR delete-debt auto-maintenance: policy-triggered compaction in the
    // read path of the query itself
    "tbl_maintain" -> ((s, d) => Relational.tblMaintain(s, d)),
    "tbl_orphans" -> ((s, d) => Relational.tblOrphans(s, d)),
    "tbl_bloom" -> ((s, d) => Relational.tblBloom(s, d)),
    "q18_timestamps" -> ((s, d) => Relational.q18(s, d)),
    "q19_priority" -> ((s, d) => Relational.q19(s, d)),
    "q20_sources" -> ((s, d) => Relational.q20(s, d)),
    "q21_csvscan" -> ((s, d) => Relational.q21(s, d)),
    "q22_jsonscan" -> ((s, d) => Relational.q22(s, d)),
    "q23_asof" -> ((s, d) => Relational.q23(s, d)),
    "px_bitmask" -> ((s, d) => PixelQueries.bitmask(s, d)),
    "px_rasterize" -> ((s, d) => PixelQueries.rasterize(s, d)),
    "px_reassemble" -> ((s, d) => PixelQueries.reassemble(s, d))
  ).map { case (name, q) =>
    name -> ((s: SparkSession, d: String) => { graft.plans.GraftExtensions.register(s); q(s, d) })
  }

  /** DuckDB twin of TrainQueries.mutatedCorpus. */
  private val mutatedCorpusSql: String =
    """SELECT doc_id, text FROM documents WHERE doc_id < 200
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, concat('zzz ', substring(text, 5, 100000)) AS text
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** Oracle SQL whose constants derive from per-sfDir trained artifacts
    * (RF trees, IVF quantizer centers). Needs a live session, so Verify
    * renders these at dump time and merges them over [[oracleSql]]; both
    * training paths are seed-deterministic, so query and oracle agree. */
  def dataDependentOracleSql(s: SparkSession, d: String): Map[String, String] = Map(
    "ml_water" -> MLQueries.waterOracleSql(s, d),
    "ann_ivf" -> TrainQueries.ivfOracleSql(s, d))

  def oracleSql: Map[String, String] = Map(
    "dd_minhash" -> graft.dedup.Dedup.minhashOracleSql(mutatedCorpusSql),
    "dd_cluster" -> graft.dedup.Dedup.componentsOracleSql(
      graft.dedup.Dedup.minhashOracleSql(mutatedCorpusSql)),
    "dd_simhash" -> graft.dedup.Dedup.simhashOracleSql(mutatedCorpusSql),
    "px_geomedian" -> ops.Composites.geomedianOracleSql(ops.Pixels.pixelsSql, iters = 32),
    "px_geomedoid" -> ops.Composites.geomedoidOracleSql(ops.Pixels.pixelsSql, iters = 32),
    "ann_lsh" -> graft.ann.Ann.lshOracleSql(
      "SELECT vec_id, embedding FROM embeddings", "vec_id < 100",
      k = 3, dim = 64, tables = 16, bits = 8),
    "ann_neardup" -> graft.ann.Ann.nearDupOracleSql(
      """SELECT vec_id, embedding FROM embeddings
        |UNION ALL
        |SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings""".stripMargin,
      dim = 64, threshold = 0.999, tables = 8, bits = 10),
    "ml_labels" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT CASE WHEN (CASE WHEN nir < swir1 THEN 80.0 ELSE 10.0 END) >= 50.0
         |            THEN 1.0 ELSE 0.0 END AS label,
         |       count(*) AS n_train
         |FROM px
         |WHERE pixel_qa <> 1 AND scene_classification <> 0
         |GROUP BY 1""".stripMargin,
    "ml_fraccover" -> graft.ml.FracCover.oracleSql(
      ops.Pixels.pixelsSql, ops.CleanMask.s2Sql("scene_classification")),
    "media_decode" -> {
      val bands = graft.model.Bands.byPlatform("SENTINEL_2")
      val sp = bands.zipWithIndex.map { case (b, i) => s"('$b', ${i + 2})" }.mkString(", ")
      s"""WITH ids AS (SELECT o_orderkey AS doc_id FROM orders WHERE o_orderkey % 30 = 0),
         |sp(band, off) AS (VALUES $sp),
         |refs AS (SELECT doc_id, band, off,
         |                concat(cast(doc_id AS varchar), '_', band, '.tif') AS ref
         |         FROM ids CROSS JOIN sp),
         |hs AS (SELECT doc_id, band, off, ${graft.media.Media.hashCodeSql("ref")} AS h FROM refs)
         |SELECT cast(doc_id AS varchar) AS doc_id, band, cast(off AS int) AS "offset",
         |       cast(16 + abs(h % 17) AS int) AS width,
         |       cast(16 + abs(h % 13) AS int) AS height,
         |       1 AS channels, 1 AS n_features
         |FROM hs""".stripMargin
    },
    "geo_tile_assign" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql}), tiles AS (${SynthCorpus.tilesSql})
         |SELECT s.doc_id AS doc_id, t.tile_id AS tile_id
         |FROM scenes s JOIN tiles t
         |  ON s.xmin <= t.txmax AND s.xmax >= t.txmin
         | AND s.ymin <= t.tymax AND s.ymax >= t.tymin""".stripMargin,
    "geo_name_assign" -> {
      val mgrs = """_T(\d{4})(_|$)"""
      val modis = """\.h(\d{2})v(\d{2})\."""
      val wrs = """^L[A-Z]\d{2}_[A-Z0-9]+_(\d{6})_"""
      s"""WITH tiles AS (${SynthCorpus.tilesSql}),
         |named AS (
         |  SELECT o_orderkey AS doc_id,
         |    CASE cast(o_orderkey % 3 AS int)
         |      WHEN 0 THEN concat('S2A_MSIL2A_20190124T221941_T',
         |                         lpad(cast(o_orderkey % 24 AS varchar), 2, '0'),
         |                         lpad(cast(o_orderkey % 18 AS varchar), 2, '0'), '_R129')
         |      WHEN 1 THEN concat('LC08_L1TP_',
         |                         lpad(cast(o_orderkey % 24 AS varchar), 3, '0'),
         |                         lpad(cast(o_orderkey % 18 AS varchar), 3, '0'),
         |                         '_20190101_20190127_01_T1')
         |      ELSE concat('MCD43A4.A2019010.h',
         |                  lpad(cast(o_orderkey % 24 AS varchar), 2, '0'), 'v',
         |                  lpad(cast(o_orderkey % 18 AS varchar), 2, '0'), '.006.2019019120153')
         |    END AS scenename
         |  FROM orders),
         |parsed AS (
         |  SELECT doc_id, scenename,
         |    CASE
         |      WHEN regexp_extract(scenename, '$mgrs', 1) <> ''
         |        THEN concat('T', regexp_extract(scenename, '$mgrs', 1))
         |      WHEN regexp_extract(scenename, '$modis', 1) <> ''
         |        THEN concat('T', regexp_extract(scenename, '$modis', 1),
         |                         regexp_extract(scenename, '$modis', 2))
         |      WHEN regexp_extract(scenename, '$wrs', 1) <> ''
         |        THEN concat('T',
         |          lpad(cast(cast(substring(regexp_extract(scenename, '$wrs', 1), 1, 3) AS int) AS varchar), 2, '0'),
         |          lpad(cast(cast(substring(regexp_extract(scenename, '$wrs', 1), 4, 3) AS int) AS varchar), 2, '0'))
         |    END AS tile_key
         |  FROM named)
         |SELECT p.doc_id AS doc_id, p.scenename AS scenename, t.tile_id AS tile_id
         |FROM parsed p JOIN tiles t ON p.tile_key = t.tile_id""".stripMargin
    },
    "geo_pip" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql}), tiles AS (${SynthCorpus.tilesSql})
         |SELECT s.doc_id AS doc_id, t.tile_id AS tile_id
         |FROM scenes s JOIN tiles t
         |  ON s.xmin + 0.75 BETWEEN t.txmin AND t.txmax
         | AND s.ymin + 0.5  BETWEEN t.tymin AND t.tymax""".stripMargin,
    "geo_knn" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql}), tiles AS (${SynthCorpus.tilesSql}),
         |cand AS (
         |  SELECT s.doc_id AS doc_id, t.tile_id AS tile_id,
         |         greatest(t.txmin - (s.xmin + 0.75), (s.xmin + 0.75) - t.txmax, 0) AS dx,
         |         greatest(t.tymin - (s.ymin + 0.5),  (s.ymin + 0.5)  - t.tymax, 0) AS dy
         |  FROM scenes s CROSS JOIN tiles t)
         |SELECT doc_id, tile_id, rank FROM (
         |  SELECT doc_id, tile_id,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY dx*dx + dy*dy, tile_id) AS rank
         |  FROM cand) WHERE rank <= 3""".stripMargin,
    "geo_assign_spans" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql}), tiles AS (${SynthCorpus.tilesSql}),
         |assign AS (
         |  SELECT s.doc_id AS doc_id, t.tile_id AS tile_id
         |  FROM scenes s JOIN tiles t
         |    ON s.xmin <= t.txmax AND s.xmax >= t.txmin
         |   AND s.ymin <= t.tymax AND s.ymax >= t.tymin),
         |sp AS (
         |  SELECT * FROM (VALUES
         |    (0, 'meta', 'platform=SENTINEL_2', 0),
         |    (1, 'band', 'blue', 1), (2, 'band', 'green', 1), (3, 'band', 'red', 1),
         |    (4, 'band', 'nir', 1), (5, 'band', 'swir1', 1), (6, 'band', 'swir2', 1),
         |    (7, 'band', 'scene_classification', 1)) AS v(off, kind, txt, isband))
         |SELECT a.doc_id AS doc_id, a.tile_id AS tile_id, sp.off AS "offset",
         |       sp.kind AS kind, sp.txt AS text,
         |       CASE WHEN sp.isband = 1
         |            THEN concat(cast(a.doc_id AS varchar), '_', sp.txt, '.tif')
         |            ELSE '' END AS media_ref
         |FROM assign a CROSS JOIN sp""".stripMargin,
    // same semantics as geo_tile_assign, but planned through the Catalyst
    // extension path: native st_intersects, lowered onto the cell-cover join
    "geo_sql_join" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql}), tiles AS (${SynthCorpus.tilesSql})
         |SELECT s.doc_id AS doc_id, t.tile_id AS tile_id
         |FROM scenes s JOIN tiles t
         |  ON s.xmin <= t.txmax AND s.xmax >= t.txmin
         | AND s.ymin <= t.tymax AND s.ymax >= t.tymin""".stripMargin,
    "geo_cell_encode" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql})
         |SELECT doc_id,
         |       cast(floor((xmin + 0.75 + 180.0) / 360.0 * 32) AS bigint) AS cx,
         |       cast(floor((ymin + 0.5  + 90.0) / 180.0 * 32) AS bigint) AS cy
         |FROM scenes""".stripMargin,
    "px_wofs" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT l_orderkey, l_linenumber,
         |       ${ops.Wofs.classifySql(ops.CleanMask.landsatSql("LANDSAT_7", "pixel_qa"))} AS wofs
         |FROM px""".stripMargin,
    "px_wofs_s2" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT l_orderkey, l_linenumber,
         |       ${ops.Wofs.classifySql(ops.CleanMask.s2Sql("scene_classification"))} AS wofs
         |FROM px""".stripMargin,
    "px_mean" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px, avg(CASE WHEN red2 <> -9999 THEN red2 END) AS mean_v
         |FROM px GROUP BY py, px""".stripMargin,
    "px_median" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px, median(CASE WHEN red2 <> -9999 THEN red2 END) AS median_v
         |FROM px GROUP BY py, px""".stripMargin,
    "px_recent" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px, l_orderkey, l_linenumber, red2 FROM (
         |  SELECT py, px, l_orderkey, l_linenumber, red2,
         |         row_number() OVER (PARTITION BY py, px
         |             ORDER BY ts DESC, l_orderkey DESC, l_linenumber DESC, red2 DESC) AS rn
         |  FROM px WHERE red2 <> -9999) WHERE rn = 1""".stripMargin,
    "px_maxndvi" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px, best_ndvi, blue, nir, red FROM (
         |  SELECT py, px, ${ops.Composites.ndviSql} AS best_ndvi, blue, nir, red,
         |         row_number() OVER (PARTITION BY py, px
         |             ORDER BY ${ops.Composites.ndviSql} DESC,
         |                      l_orderkey DESC, l_linenumber DESC) AS rn
         |  FROM px) WHERE rn = 1""".stripMargin,
    "px_minndvi" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px, best_ndvi, blue, nir, red FROM (
         |  SELECT py, px, ${ops.Composites.ndviSql} AS best_ndvi, blue, nir, red,
         |         row_number() OVER (PARTITION BY py, px
         |             ORDER BY ${ops.Composites.ndviSql} ASC,
         |                      l_orderkey ASC, l_linenumber ASC) AS rn
         |  FROM px) WHERE rn = 1""".stripMargin,
    "px_summary" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px,
         |       cast(sum(CASE WHEN red2 <> -9999 THEN red2 ELSE 0 END) AS double) AS total_data,
         |       count(CASE WHEN red2 <> -9999 THEN 1 END) AS total_clean,
         |       CASE WHEN count(CASE WHEN red2 <> -9999 THEN 1 END) > 0
         |         THEN cast(sum(CASE WHEN red2 <> -9999 THEN red2 ELSE 0 END) AS double)
         |           / count(CASE WHEN red2 <> -9999 THEN 1 END) ELSE 0.0 END AS normalized,
         |       coalesce(cast(min(CASE WHEN red2 <> -9999 THEN red2 END) AS double), 0.0) AS v_min,
         |       coalesce(cast(max(CASE WHEN red2 <> -9999 THEN red2 END) AS double), 0.0) AS v_max
         |FROM px GROUP BY py, px""".stripMargin,
    "dd_exact" ->
      """WITH d2 AS (SELECT doc_id, text FROM documents
        |            UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT md5(text) AS key, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM d2 GROUP BY md5(text)""".stripMargin,
    "dd_norm" ->
      """WITH d2 AS (SELECT doc_id, text FROM documents
        |            UNION ALL SELECT doc_id + 1000000,
        |                array_to_string(list_reverse(string_split(text, ' ')), ' ') FROM documents)
        |SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ',')) AS key,
        |       min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM d2 GROUP BY 1""".stripMargin,
    "dd_jaccard" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         list_distinct(string_split(text, ' ')) AS wa,
        |         list_distinct(string_split(concat('zzz ', substring(text, 5, 100000)), ' ')) AS wb
        |  FROM documents)
        |SELECT doc_id,
        |       cast(len(list_intersect(wa, wb)) AS bigint) AS n_inter,
        |       cast(len(list_distinct(list_concat(wa, wb))) AS bigint) AS n_union
        |FROM m""".stripMargin,
    "txt_quality" -> {
      val cols = graft.text.TextOps.qualitySqls("text")
        .map { case (n, e) => s"$e AS $n" }.mkString(",\n       ")
      s"""SELECT doc_id,
         |       $cols
         |FROM documents""".stripMargin
    },
    "txt_lang" ->
      s"""SELECT doc_id, ${graft.text.TextOps.langIdSql("text")} AS lang_pred
         |FROM documents""".stripMargin,
    "txt_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp FROM documents""",
    "txt_tokens" ->
      s"""SELECT doc_id,
         |       ${graft.text.TextOps.tokenCountSql("text")} AS n_ws_tokens,
         |       ${graft.text.TextOps.bpeTokenCountSql("text")} AS n_bpe_tokens
         |FROM documents""".stripMargin,
    "pipe_corpus" ->
      s"""WITH d2 AS (SELECT doc_id, text FROM documents
         |            UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |scored AS (
         |  SELECT doc_id, text,
         |         ${graft.text.TextOps.langIdSql("text")} AS lang_pred,
         |         ${graft.text.TextOps.tokenCountSql("text")} AS n_tokens,
         |         ${graft.text.TextOps.bpeTokenCountSql("text")} AS n_bpe_tokens,
         |         md5(text) AS fp
         |  FROM d2),
         |filtered AS (SELECT * FROM scored
         |             WHERE lang_pred = 'en' AND n_tokens >= 20),
         |keepers AS (SELECT fp, min(doc_id) AS doc_id,
         |                   cast(count(*) AS bigint) AS n_copies
         |            FROM filtered GROUP BY fp)
         |SELECT k.doc_id, k.fp, k.n_copies, f.lang_pred, f.n_tokens, f.n_bpe_tokens
         |FROM keepers k JOIN filtered f USING (doc_id)""".stripMargin,
    "ann_topk" ->
      """WITH q AS (SELECT vec_id,
        |           list_transform(embedding, x -> floor(cast(x AS double) * 1024)) AS qe
        |           FROM embeddings),
        |cand AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |                cast(list_dot_product(p.qe, c.qe) AS bigint) AS dot
        |         FROM q p JOIN q c ON p.vec_id < 100 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, rank, neighbor_id, dot FROM (
        |  SELECT probe_id, neighbor_id, dot,
        |         row_number() OVER (PARTITION BY probe_id
        |                            ORDER BY dot DESC, neighbor_id) AS rank
        |  FROM cand) WHERE rank <= 3""".stripMargin,
    "ann_q8" ->
      """WITH q AS (SELECT vec_id,
        |           list_transform(embedding,
        |             x -> cast(greatest(-127.0, least(127.0,
        |                    floor(cast(x AS double) * 127 + 0.5))) AS integer)) AS qe
        |           FROM embeddings),
        |cand AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |                cast(list_dot_product(p.qe, c.qe) AS bigint) AS dot
        |         FROM q p JOIN q c ON p.vec_id < 50 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, rank, neighbor_id, dot FROM (
        |  SELECT probe_id, neighbor_id, dot,
        |         row_number() OVER (PARTITION BY probe_id
        |                            ORDER BY dot DESC, neighbor_id) AS rank
        |  FROM cand) WHERE rank <= 3""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       cast(sum(floor(l_extendedprice * 100)) AS bigint) AS sum_price_c,
        |       count(*) AS n,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       avg(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join" ->
      """SELECT r.r_name AS region, n.n_name AS nation, count(*) AS n_orders,
        |       cast(sum(floor(o.o_totalprice)) AS bigint) AS total_floor
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name""".stripMargin,
    "q3_semijoin" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin,
    "q4_antijoin" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,
    "q5_window" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 2""".stripMargin,
    "q6_monthly" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
        |       count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY 1""".stripMargin,
    "q7_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,
    "q8_setops" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000
        |UNION
        |SELECT s_suppkey AS k FROM supplier
        |EXCEPT
        |SELECT n_nationkey::bigint AS k FROM nation WHERE n_nationkey < 3""".stripMargin,
    "q9_scalar" ->
      """SELECT doc_id,
        |       concat(upper(substring(source, 1, 4)), '_',
        |              lpad(cast(doc_id AS varchar), 10, '0'), '_', lang) AS scenename,
        |       length(text) AS n_chars2,
        |       replace(lang, 'e', 'E') AS lang_x
        |FROM documents""".stripMargin,
    "q10_stats" ->
      """SELECT user_id, count(*) AS n, count(value) AS n_valid,
        |       cast(sum(cast(floor(value * 100) AS bigint)) AS bigint) AS sum_cents,
        |       min(event_type) AS min_et, max(event_type) AS max_et
        |FROM events GROUP BY user_id""".stripMargin,
    "q11_json" ->
      """SELECT event_type, count(*) AS n,
        |       cast(sum(cast(json_extract(props, '$.k') AS bigint)) AS bigint) AS sum_k,
        |       cast(min(cast(json_extract(props, '$.k') AS bigint)) AS bigint) AS min_k,
        |       cast(max(cast(json_extract(props, '$.k') AS bigint)) AS bigint) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q12_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       cast(sum(cast(floor(o_totalprice) AS bigint)) AS bigint) AS sum_floor
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q13_dates" ->
      """SELECT o_orderkey,
        |       strftime(make_date(cast(2020 + o_orderkey % 3 AS int), 1, 1)
        |                + to_days(cast(o_orderkey % 365 AS int))
        |                + to_hours(12), '%Y-%m-%d %H:%M:%S') AS acq_s,
        |       strftime(o_orderdate + to_seconds(cast(floor(
        |                date_diff('second', o_orderdate,
        |                          o_orderdate + to_days(cast(o_orderkey % 20 AS int))) / 2)
        |                AS bigint)), '%Y-%m-%d %H:%M:%S') AS center_s
        |FROM orders""".stripMargin,
    "q14_jobdoc" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders""",
    "q15_frame" ->
      """SELECT o_custkey, o_orderkey,
        |       cast(sum(cast(floor(o_totalprice) AS bigint)) OVER w AS bigint) AS trail_sum,
        |       count(*) OVER w AS trail_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    "px_bitmask" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT l_orderkey, l_linenumber,
         |       (pixel_qa & 34) <> 0 AS cloudy_bit,
         |       (pixel_qa & 4) <> 0 AS water_bit
         |FROM px""".stripMargin,
    "q16_bands" -> {
      import graft.model.BandNames
      def list(keys: Seq[String], n: Int) =
        keys.sorted.map(k => s"'$k'").mkString("([", ", ", s"])[cast(doc_id % $n AS int) + 1]")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CASE cast(doc_id % 4 AS int)
         |      WHEN 0 THEN concat('LE07_L1TP_074072_20190101_20190127_01_T1_', ${list(BandNames.l7.keys.toSeq, BandNames.l7.size)}, '.tif')
         |      WHEN 1 THEN concat('LC08_L1TP_074072_20190101_20190127_01_T1_', ${list(BandNames.l8.keys.toSeq, BandNames.l8.size)}, '.tif')
         |      WHEN 2 THEN concat('T60KWE_20190124T221941_', ${list(BandNames.s2L2A.keys.toSeq, BandNames.s2L2A.size)}, '.tif')
         |      ELSE concat('MCD43A4.A2019010.h31v10.', ${list(BandNames.mcd43a4.keys.toSeq, BandNames.mcd43a4.size)}, '.tif')
         |    END AS fname
         |  FROM documents)
         |SELECT doc_id, fname, ${BandNames.normalizeSql("fname")} AS band
         |FROM f""".stripMargin
    },
    "q17_inventory" ->
      """WITH inv AS (
        |  SELECT concat('common_sensing/fiji/sentinel_2/S2scene',
        |                cast(l_orderkey % 500 AS varchar), '/band',
        |                cast(l_linenumber AS varchar), '.tif') AS path,
        |         cast(floor(l_extendedprice * 10) AS bigint) AS size
        |  FROM lineitem)
        |SELECT string_split(path, '/')[4] AS scenename,
        |       count(*) AS n_objects,
        |       cast(sum(size) AS bigint) AS sac_size,
        |       count(*) >= 7 AS sac_done
        |FROM inv GROUP BY 1""".stripMargin,
    "q18_timestamps" ->
      """WITH t AS (SELECT o_orderkey,
        |                  o_orderdate + to_seconds(cast(o_orderkey % 86400 AS bigint)) AS ts
        |           FROM orders)
        |SELECT o_orderkey,
        |  CASE cast(o_orderkey % 4 AS int)
        |    WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |    WHEN 1 THEN strftime(ts, '%Y/%m/%d %H:%M:%S')
        |    WHEN 2 THEN strftime(ts, '%Y%m%d')
        |    ELSE strftime(ts, '%d.%m.%Y %H:%M:%S') END AS raw,
        |  CASE WHEN cast(o_orderkey % 4 AS int) = 2
        |       THEN strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
        |       ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS parsed_s
        |FROM t""".stripMargin,
    "q19_priority" ->
      s"""WITH scenes AS (${SynthCorpus.scenesSql}), tiles AS (${SynthCorpus.tilesSql}),
         |assign AS (
         |  SELECT s.doc_id, t.tile_id
         |  FROM scenes s JOIN tiles t
         |    ON s.xmin <= t.txmax AND s.xmax >= t.txmin
         |   AND s.ymin <= t.tymax AND s.ymax >= t.tymin),
         |counts AS (SELECT tile_id, count(*) AS n_scenes FROM assign GROUP BY tile_id)
         |SELECT tile_id, n_scenes,
         |       row_number() OVER (ORDER BY n_scenes DESC, tile_id) AS priority
         |FROM counts""".stripMargin,
    "q20_sources" ->
      """WITH esa AS (SELECT o_orderkey AS scene,
        |                    cast(floor(o_totalprice) AS bigint) AS esa_size FROM orders),
        |gc AS (SELECT o_orderkey AS scene,
        |              cast(floor(o_totalprice * 2) AS bigint) AS gc_size
        |       FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT e.scene AS scene, gc.scene IS NOT NULL AS gcloud_pres,
        |       coalesce(gc.gc_size, e.esa_size) AS "size"
        |FROM esa e LEFT JOIN gc ON gc.scene = e.scene""".stripMargin,
    "q21_csvscan" ->
      """SELECT concat('S2A_MSIL1C_T',
        |              lpad(cast(o_orderkey % 24 AS varchar), 2, '0'),
        |              lpad(cast(o_orderkey % 18 AS varchar), 2, '0'),
        |              '_', lpad(cast(o_orderkey AS varchar), 10, '0')) AS product_id,
        |       cast(o_orderkey % 100 AS int) AS cloud_cover,
        |       cast(floor(o_totalprice) AS bigint) AS total_size
        |FROM orders WHERE o_orderkey % 100 < 20""".stripMargin,
    "q22_jsonscan" ->
      """SELECT concat('MCD43A4.A2019', lpad(cast(o_orderkey % 365 + 1 AS varchar), 3, '0'),
        |              '.h', lpad(cast(o_orderkey % 24 AS varchar), 2, '0'),
        |              'v', lpad(cast(o_orderkey % 18 AS varchar), 2, '0')) AS name,
        |       cast(o_orderkey % 365 + 1 AS int) AS day,
        |       cast(floor(o_totalprice) AS bigint) AS bytes
        |FROM orders WHERE o_orderkey % 365 + 1 <= 31""".stripMargin,
    "str_windows" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Append mode emits a window once the watermark (max event time − 1 h)
    // passes its END — the last (open) day never lands in the sink
    "str_windows_append" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
        |d AS (SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n
        |FROM d, wm WHERE day + INTERVAL 1 DAY <= wm.w""".stripMargin,
    // gaps-and-islands twin of session_window(ts, 30 min): a new session
    // starts when the gap to the previous event (same type) is >= the gap
    // (Spark merges strictly-inside events: ts < last_ts + gap);
    // w_end = last event + gap. Integer microseconds end to end.
    "str_sessions" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |o AS (SELECT event_type, us,
        |             CASE WHEN lag(us) OVER (PARTITION BY event_type ORDER BY us) IS NULL
        |                    OR us - lag(us) OVER (PARTITION BY event_type ORDER BY us) >= 1800000000
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |s AS (SELECT event_type, us,
        |             sum(brk) OVER (PARTITION BY event_type ORDER BY us
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT min(us) AS w_start_us, max(us) + 1800000000 AS w_end_us,
        |       event_type, count(*) AS n
        |FROM s GROUP BY event_type, sid""".stripMargin,
    "str_append" ->
      """SELECT event_id, event_type,
        |       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
        |FROM events""".stripMargin,
    // cell-partitioned table + AOI read: scenes rect-intersecting the AOI
    "tbl_part" -> {
      val (axmin, aymin, axmax, aymax) = GeoQueries.TblPartAoi
      s"""WITH scenes AS (${SynthCorpus.scenesSql})
         |SELECT doc_id, xmin, ymin FROM scenes
         |WHERE xmin <= $axmax AND xmax >= $axmin
         |  AND ymin <= $aymax AND ymax >= $aymin""".stripMargin
    },
    // same rectangle arithmetic over the z-ordered (unpartitioned) layout
    "tbl_zorder" -> {
      val (axmin, aymin, axmax, aymax) = GeoQueries.TblZorderAoi
      s"""WITH scenes AS (${SynthCorpus.scenesSql})
         |SELECT doc_id, xmin, ymin FROM scenes
         |WHERE xmin <= $axmax AND xmax >= $axmin
         |  AND ymin <= $aymax AND ymax >= $aymin""".stripMargin
    },
    "tbl_merge" ->
      ("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
        |              FROM orders WHERE o_orderkey % 7 = 0),
        |upd AS (SELECT o_orderkey, o_custkey,
        |               cast(floor(o_totalprice) + 1 AS double) AS o_totalprice
        |        FROM orders WHERE o_orderkey % 14 = 0
        |        UNION ALL
        |        SELECT o_orderkey, o_custkey, o_totalprice
        |        FROM orders WHERE o_orderkey % 7 = 3),
        |merged AS (SELECT b.* FROM base b ANTI JOIN upd u USING (o_orderkey)
        |           UNION ALL SELECT * FROM upd)
        |""".stripMargin + priceCSql("merged")),
    // merge-on-read: base %5, upsert batch 1 (%10, +1), then batch 2
    // (%20, +2 — SUPERSEDES half of batch 1 — plus %5=1 inserts); last
    // writer per key wins, exactly the sequence-number delete semantics
    "tbl_mor" ->
      ("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
        |              FROM orders WHERE o_orderkey % 5 = 0),
        |up1 AS (SELECT o_orderkey, o_custkey,
        |               cast(floor(o_totalprice) + 1 AS double) AS o_totalprice
        |        FROM orders WHERE o_orderkey % 10 = 0),
        |up2 AS (SELECT o_orderkey, o_custkey,
        |               cast(floor(o_totalprice) + 2 AS double) AS o_totalprice
        |        FROM orders WHERE o_orderkey % 20 = 0
        |        UNION ALL
        |        SELECT o_orderkey, o_custkey, o_totalprice
        |        FROM orders WHERE o_orderkey % 5 = 1),
        |m1 AS (SELECT b.* FROM base b ANTI JOIN up1 u USING (o_orderkey)
        |       UNION ALL SELECT * FROM up1),
        |m2 AS (SELECT m.* FROM m1 m ANTI JOIN up2 u USING (o_orderkey)
        |       UNION ALL SELECT * FROM up2)
        |""".stripMargin + priceCSql("m2")),
    // incremental append scan: rows of commits 2..3 only (slices %11 = 1, 2)
    "tbl_incr" -> priceCSql("orders WHERE o_orderkey % 11 IN (1, 2)"),
    // table-follow consumer: exactly-once union of the followed commits
    "str_incr" -> priceCSql("orders WHERE o_orderkey % 11 IN (0, 1, 2)"),
    // lag()-replay twin of the TTL lease state machine: after a complete
    // the pending lease resets, so the previous EVENT being a lease is
    // exactly "a lease is pending"; the tie rule (complete before lease at
    // equal ts) is the sort's second key in both engines
    "str_requeue" ->
      """WITH e AS (
        |  SELECT concat('it', lpad(cast(user_id % 200 AS varchar), 3, '0')) AS item_id,
        |         epoch_us(ts) AS us,
        |         CASE WHEN event_id % 3 = 0 THEN 'complete' ELSE 'lease' END AS ev
        |  FROM events),
        |nw AS (SELECT max(us) AS now_us FROM e),
        |o AS (
        |  SELECT item_id, us, ev,
        |         lag(ev) OVER w AS pev, lag(us) OVER w AS pus,
        |         row_number() OVER (PARTITION BY item_id
        |                            ORDER BY us DESC, (ev = 'lease') DESC) AS rl
        |  FROM e
        |  WINDOW w AS (PARTITION BY item_id ORDER BY us ASC, (ev = 'lease') ASC)),
        |a AS (
        |  SELECT item_id,
        |         cast(sum(CASE WHEN ev = 'lease' THEN 1 ELSE 0 END) AS bigint) AS leases,
        |         cast(sum(CASE WHEN ev = 'complete' THEN 1 ELSE 0 END) AS bigint) AS completes,
        |         cast(sum(CASE WHEN pev = 'lease' AND us >= pus + 3600000000 THEN 1 ELSE 0 END) AS bigint) AS rq,
        |         max(CASE WHEN rl = 1 AND ev = 'lease' THEN us END) AS pending_us
        |  FROM o GROUP BY item_id)
        |SELECT item_id, leases, completes,
        |       rq + CASE WHEN pending_us IS NOT NULL
        |                  AND now_us >= pending_us + 3600000000 THEN 1 ELSE 0 END AS requeues,
        |       CASE WHEN pending_us IS NULL THEN 'done'
        |            WHEN now_us >= pending_us + 3600000000 THEN 'requeued'
        |            ELSE 'in_flight' END AS state
        |FROM a, nw""".stripMargin,
    // five stacked MoR upserts (batch 5 supersedes batch 1's %35=0 class),
    // then policy-triggered compaction; content must survive maintenance
    "tbl_maintain" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE
        |    WHEN o_orderkey % 35 = 0 THEN (cast(floor(o_totalprice) AS bigint) + 99) * 100
        |    WHEN o_orderkey % 35 = 7 THEN (cast(floor(o_totalprice) AS bigint) + 2) * 100
        |    WHEN o_orderkey % 35 = 14 THEN (cast(floor(o_totalprice) AS bigint) + 3) * 100
        |    WHEN o_orderkey % 35 = 21 THEN (cast(floor(o_totalprice) AS bigint) + 4) * 100
        |    ELSE cast(floor(o_totalprice * 100) AS bigint)
        |  END AS price_c
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    // bloom point-lookup: the IN-list itself (absent keys return nothing)
    "tbl_bloom" ->
      priceCSql(s"orders\nWHERE o_orderkey IN (${Relational.TblBloomKeys.mkString(", ")})"),
    // base %9 slice with one MoR upsert (%18 keys bumped); crash residue is
    // injected and swept before the read — content must survive the sweep
    "tbl_orphans" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 18 = 0
        |       THEN (cast(floor(o_totalprice) AS bigint) + 5) * 100
        |       ELSE cast(floor(o_totalprice * 100) AS bigint)
        |  END AS price_c
        |FROM orders WHERE o_orderkey % 9 = 0""".stripMargin,
    // time travel to the second commit: slices %11 = 0, 1 (commit 3 invisible)
    "tbl_travel" -> priceCSql("orders WHERE o_orderkey % 11 IN (0, 1)"),
    // filtered incremental scan: the delta commits' rows, one region only
    // (partition-pruned Spark-side; row-level filter in the oracle)
    "tbl_incr_where" -> priceCSql("orders WHERE o_orderkey % 11 IN (1, 2) AND o_orderkey % 7 = 3"),
    // row-level DELETE: the table minus the equality-deleted keys
    "tbl_delete" -> priceCSql("orders WHERE o_orderkey % 11 < 2 AND o_orderkey % 13 <> 0"),
    // cherry-pick: base + the advanced main commit + the picked staged
    // increment, published alone after fastForward became impossible
    "tbl_cherry" -> priceCSql("orders WHERE o_orderkey % 11 IN (0, 1, 3)"),
    // write-audit-publish: main after the atomic fast-forward = base +
    // both staged increments (invisible to main readers until publish)
    "tbl_wap" -> priceCSql("orders WHERE o_orderkey % 11 IN (0, 1, 2)"),
    // tag time travel: the tagged (mid) snapshot = commits 1..2, readable
    // by name after keepLast=1 retention expired the untagged history
    "tbl_tag" -> priceCSql("orders WHERE o_orderkey % 11 IN (0, 1)"),
    "q23_asof" ->
      """WITH clicks AS (SELECT event_id AS probe_id, user_id, ts FROM events
        |                WHERE event_type = 'click'),
        |views AS (SELECT event_id AS b_id, user_id, ts,
        |                 CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS b_value
        |          FROM events WHERE event_type = 'view')
        |SELECT c.probe_id, c.user_id, v.b_id, v.b_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin,
    "media_validate" -> {
      val bands = graft.model.Bands.byPlatform("SENTINEL_2")
        .map(b => s"('$b')").mkString(", ")
      s"""WITH ids AS (SELECT o_orderkey AS doc_id FROM orders WHERE o_orderkey % 30 = 0),
         |sp(band) AS (VALUES $bands)
         |SELECT cast(doc_id AS varchar) AS doc_id, band,
         |       cast(doc_id % 3 AS int) = 0 AS ok,
         |       CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'ok'
         |            WHEN 1 THEN 'truncated_header'
         |            ELSE 'body_length_mismatch' END AS reason
         |FROM ids CROSS JOIN sp""".stripMargin
    },
    "media_multiband" -> {
      val nBands = graft.model.Bands.byPlatform("SENTINEL_2").size
      s"""WITH ids AS (SELECT o_orderkey AS doc_id FROM orders WHERE o_orderkey % 30 = 0),
         |refs AS (SELECT doc_id, concat(cast(doc_id AS varchar), '_multi') AS ref FROM ids),
         |hs AS (SELECT doc_id, ${graft.media.Media.hashCodeSql("ref")} AS h FROM refs)
         |SELECT cast(doc_id AS varchar) AS doc_id,
         |       cast(16 + abs(h % 17) AS int) AS width,
         |       cast(16 + abs(h % 13) AS int) AS height,
         |       $nBands AS n_bands,
         |       true AS roundtrip_ok, true AS cog_ok
         |FROM hs""".stripMargin
    },
    "media_png" ->
      s"""WITH ids AS (SELECT o_orderkey AS doc_id FROM orders WHERE o_orderkey % 30 = 0),
         |refs AS (SELECT doc_id, concat(cast(doc_id AS varchar), '_png') AS ref FROM ids),
         |hs AS (SELECT doc_id, ${graft.media.Media.hashCodeSql("ref")} AS h FROM refs)
         |SELECT cast(doc_id AS varchar) AS doc_id,
         |       cast(16 + abs(h % 17) AS int) AS width,
         |       cast(16 + abs(h % 13) AS int) AS height,
         |       3 AS channels, true AS roundtrip_ok
         |FROM hs""".stripMargin,
    "media_netcdf" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, px,
         |       cast(sum(CASE WHEN red2 = -9999 THEN 0 ELSE red2 END) AS bigint) AS v
         |FROM px GROUP BY py, px""".stripMargin,
    "px_rasterize" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT l_orderkey, l_linenumber, py, px,
         |       (px + 0.5) BETWEEN 10.5 AND 40.5 AND (py + 0.5) BETWEEN 10.5 AND 50.5 AS in_aoi
         |FROM px""".stripMargin,
    "px_reassemble" ->
      s"""WITH px AS (${ops.Pixels.pixelsSql})
         |SELECT py, string_agg(cast(red2 AS varchar), ','
         |         ORDER BY px, l_orderkey, l_linenumber, red2) AS row_values
         |FROM px GROUP BY py""".stripMargin
  )
}

/** What the table-plane fixture queries (`tbl_*`, `str_incr`) share. Each
  * fixture is an IcebergLite table under a `java.io.tmpdir` root keyed by
  * the data dir and the fingerprint of its `orders.parquet`. One staging
  * rule: every step is a commit keyed by its own commitId.
  * `appendIdempotent`, `merge`, `mergeOnRead`, `deleteKeys` and `compact`
  * skip a commitId already on the table's ledger; any other commit checks
  * `alreadyCommitted` or, on a branch, the branch's ledger
  * ([[appendToBranchOnce]]). So a re-run commits nothing, and a run after
  * a crash resumes at the first missing commit. */
private[graft] object TableFixtures {
  import graft.table.IcebergLite

  /** Table (or other entry) `sub` of fixture `kind` staged from `d`. */
  def path(kind: String, d: String, sub: String = "t"): String =
    Fs.fixtureRoot(kind, d, java.nio.file.Paths.get(d, "orders.parquet")).resolve(sub).toString

  /** The orders columns every orders fixture stages. */
  def orders(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Slice `m` of 11 disjoint key classes: one commit of a multi-commit fixture. */
  def slice(rows: DataFrame, m: Int): DataFrame = rows.where(col("o_orderkey") % 11 === m)

  /** An update batch: `rows` priced at floor(price) + `bump`. */
  def bumped(rows: DataFrame, bump: Int): DataFrame =
    rows.withColumn("o_totalprice", (floor(col("o_totalprice")) + bump).cast("double"))

  /** The read every orders fixture returns: the price in whole cents. */
  def priceC(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_custkey"), floor(col("o_totalprice") * 100).as("price_c"))

  /** The oracle twin of [[priceC]] over the relation `from`. */
  def priceCSql(from: String): String =
    "SELECT o_orderkey, o_custkey,\n" +
      "       cast(floor(o_totalprice * 100) AS bigint) AS price_c\n" +
      s"FROM $from"

  /** Stage `rows` on `branch` as commitId `cid` unless the branch's ledger
    * holds it. A missing branch forks from main's current snapshot. */
  def appendToBranchOnce(s: SparkSession, rows: DataFrame, table: String,
                         branch: String, cid: String): Unit = {
    if (!IcebergLite.branches(table).contains(branch)) IcebergLite.createBranch(table, branch)
    val ledger = IcebergLite.snapshotAt(table, IcebergLite.branches(table)(branch))
      .map(_.commitIds).getOrElse(Set.empty[String])
    if (!ledger.contains(cid))
      IcebergLite.appendToBranch(s, rows, table, branch, Seq("o_orderkey"), cid)
  }
}

/** Geo query implementations over the exact-lattice synthetic scenes. */
object GeoQueries {
  import SynthCorpus._
  import graft.table.IcebergLite

  private def tiles(s: SparkSession) = tileGrid(s).drop("path", "row")

  def tileAssign(s: SparkSession, dir: String): DataFrame =
    TileAssign.assign(scenesFromOrders(s, dir), tiles(s))
      .select(col("doc_id"), col("tile_id"))

  /** AOI used by [[tblPart]] and its oracle — one rect, stated once. */
  val TblPartAoi: (Double, Double, Double, Double) = (-60.0, -30.0, -20.0, 10.0)

  /** The flagship doc corpus in a `cell[4]`-partitioned IcebergLite table
    * (hidden partitioning — the round-6 headline: cell-directory pruning
    * unified into the snapshot/manifest plane), read
    * back through [[graft.table.IcebergLite.readAoi]]'s partition-first
    * prune. The oracle is pure rectangle arithmetic on the same scene
    * lattice, so the result checks the whole path: hidden layout at write,
    * cover-range pruning at read, exact st_intersects residual. */
  def tblPart(s: SparkSession, dir: String): DataFrame = {
    val table = TableFixtures.path("tbl_part", dir)
    if (!IcebergLite.alreadyCommitted(table, "c1"))
      IcebergLite.createPartitioned(s, scenesFromOrders(s, dir), table,
        Seq(IcebergLite.PartitionField("cell", "wkt", "cell[4]")),
        Seq("doc_id"), "c1")
    val (axmin, aymin, axmax, aymax) = TblPartAoi
    IcebergLite.readAoi(s, table, graft.geom.Geo.rectWkt(axmin, aymin, axmax, aymax))
      .select(col("doc_id"), col("xmin"), col("ymin"))
  }

  /** AOI used by [[tblZorder]] and its oracle. */
  val TblZorderAoi: (Double, Double, Double, Double) = (30.0, -10.0, 70.0, 20.0)

  /** Z-order clustering as a driver-oracled query: the scene corpus lands
    * UNpartitioned (hash-shuffled — nothing prunes), then one
    * `compact(zorderBy = xmin, ymin)` rewrite makes every file's manifest
    * min/max tight on BOTH axes, and the AOI read prunes multiplicatively
    * through [[graft.table.IcebergLite.readWhere]] with no partition dirs at
    * all — the layout-only complement of [[tblPart]]'s hidden partitioning.
    * The in-query `require` pins the pruning (≈2% AOI must open well under
    * half the files); the oracle pins exactness. */
  def tblZorder(s: SparkSession, dir: String): DataFrame = {
    val table = TableFixtures.path("tbl_zord", dir)
    val bounds = Seq("xmin", "ymin", "xmax", "ymax")
    IcebergLite.appendIdempotent(s, scenesFromOrders(s, dir)
      .select(col("doc_id") +: bounds.map(col): _*), table, bounds, "c1")
    if (!IcebergLite.alreadyCommitted(table, "z1")) { // sized from c1's files
      val bytes = IcebergLite.readSnapshot(table).get.files.map { f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(f.path.stripPrefix("file:")))
      }.sum
      IcebergLite.compact(s, table, bounds, "z1",
        targetFileBytes = bytes / 48 + 1, zorderBy = Seq("xmin", "ymin"))
    }
    val (axmin, aymin, axmax, aymax) = TblZorderAoi
    val df = IcebergLite.readWhere(s, table,
      col("xmin") <= axmax && col("xmax") >= axmin &&
        col("ymin") <= aymax && col("ymax") >= aymin)
    val total = IcebergLite.readSnapshot(table).get.files.size
    require(df.inputFiles.length < total / 2,
      s"z-order pruning regressed: opened ${df.inputFiles.length} of $total files")
    df.select(col("doc_id"), col("xmin"), col("ymin"))
  }

  /** J2 gridded-name path: scene names carrying the tile key in the three
    * reference naming families (MGRS / WRS path-row / MODIS hv), parsed and
    * broadcast-equi-joined against the grid — zero shuffles over the docs. */
  def nameAssign(s: SparkSession, dir: String): DataFrame = {
    val p2 = lpad((col("o_orderkey") % 24).cast("string"), 2, "0")
    val r2 = lpad((col("o_orderkey") % 18).cast("string"), 2, "0")
    val p3 = lpad((col("o_orderkey") % 24).cast("string"), 3, "0")
    val r3 = lpad((col("o_orderkey") % 18).cast("string"), 3, "0")
    val fam = (col("o_orderkey") % 3).cast("int")
    val named = s.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderkey").as("doc_id"),
      when(fam === 0, concat(lit("S2A_MSIL2A_20190124T221941_T"), p2, r2, lit("_R129")))
        .when(fam === 1, concat(lit("LC08_L1TP_"), p3, r3, lit("_20190101_20190127_01_T1")))
        .otherwise(concat(lit("MCD43A4.A2019010.h"), p2, lit("v"), r2, lit(".006.2019019120153")))
        .as("scenename"))
    TileAssign.assignByName(named, tileGrid(s), nameCol = "scenename")
      .select(col("doc_id"), col("scenename"), col("tile_id"))
  }

  def pip(s: SparkSession, dir: String): DataFrame = {
    val pts = scenesFromOrders(s, dir)
      .withColumn("pt_wkt", GeoFunctions.pointWktUdf(col("xmin") + 0.75, col("ymin") + 0.5))
    TileAssign.assign(pts, tiles(s), geomCol = "pt_wkt").select(col("doc_id"), col("tile_id"))
  }

  def knn(s: SparkSession, dir: String): DataFrame = {
    val pts = scenesFromOrders(s, dir)
      .withColumn("lon", col("xmin") + 0.75).withColumn("lat", col("ymin") + 0.5)
    // res 4 (22.5° × 11.25° cells): on the 15° × 10° tile grid ring 1
    // proves almost every point's top 3; measured faster than res 3 (3× the
    // candidates per point) and no slower than res 5 (one round more)
    Knn.nearestTiles(pts, tiles(s), k = 3, res = 4)
      .select(col("doc_id"), col("tile_id"), col("rank").cast("long").as("rank"))
  }

  /** Tile assignment carrying the full interleaved spans through the join —
    * exploded for the oracle; proves the span-sequence invariant end-to-end. */
  def assignSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = scenesFromOrders(s, dir)
      .withColumn("platform", lit("SENTINEL_2"))
      .withColumn("spans", spansForOracle)
    TileAssign.assign(docs, tiles(s))
      .select(col("doc_id"), col("tile_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("tile_id"), col("s.offset").as("offset"),
        col("s.kind").as("kind"), col("s.text").as("text"), col("s.media_ref").as("media_ref"))
  }

  /** spans column matching the oracle's VALUES table (platform meta + the
    * SENTINEL_2 ordered band list, `utils/genprepWater.py:185-191`). */
  private def spansForOracle = {
    val bands = graft.model.Bands.byPlatform("SENTINEL_2")
    val meta = struct(lit("meta").as("kind"), lit("platform=SENTINEL_2").as("text"),
      lit("").as("media_ref"), lit(0).as("offset"))
    val bandSpans = bands.zipWithIndex.map { case (b, i) =>
      struct(lit("band").as("kind"), lit(b).as("text"),
        concat(col("doc_id").cast("string"), lit(s"_$b.tif")).as("media_ref"),
        lit(i + 1).as("offset"))
    }
    array(meta +: bandSpans: _*)
  }

  /** Tile assignment through the Catalyst extension plane: native
    * `st_intersects` expression in a join condition, which the CellCoverJoin
    * rule lowers onto the cell-cover join (must agree with the DataFrame
    * path, geo_tile_assign). */
  def sqlJoin(s: SparkSession, dir: String): DataFrame = {
    val t = tiles(s).withColumnRenamed("wkt", "tile_wkt")
    scenesFromOrders(s, dir)
      .join(t, graft.plans.SpatialColumns.stIntersects(col("tile_wkt"), col("wkt")))
      .select(col("doc_id"), col("tile_id"))
  }

  /** Cell encode of scene centers at res 5, exposed as grid coords (the
    * packed Morton id is engine-internal; cx/cy are its SQL-checkable form). */
  def cellEncode(s: SparkSession, dir: String): DataFrame = {
    val enc = udf((lon: Double, lat: Double) => {
      val c = graft.cells.CellIndex.cell(lon, lat, 5)
      (graft.cells.CellIndex.ix(c), graft.cells.CellIndex.iy(c))
    })
    scenesFromOrders(s, dir)
      .withColumn("c", enc(col("xmin") + 0.75, col("ymin") + 0.5))
      .select(col("doc_id"), col("c._1").as("cx"), col("c._2").as("cy"))
  }
}

/** Pixel-plane queries: wofs classification, masks, composites, summary —
  * the engine forms of `dc_water_classifier` / `dc_mosaic` / `dc_utilities`
  * over the lineitem-derived synthetic pixel table. */
object PixelQueries {
  import graft.ops._

  private def px(s: SparkSession, d: String) = Pixels.pixels(s, d)

  def wofs(s: SparkSession, d: String): DataFrame =
    px(s, d).select(col("l_orderkey"), col("l_linenumber"),
      Wofs.classify(CleanMask.landsatColumn("LANDSAT_7", col("pixel_qa"))).as("wofs"))

  def wofsS2(s: SparkSession, d: String): DataFrame =
    px(s, d).select(col("l_orderkey"), col("l_linenumber"),
      Wofs.classify(CleanMask.s2Column(col("scene_classification"))).as("wofs"))

  def mean(s: SparkSession, d: String): DataFrame =
    Composites.meanComposite(px(s, d), Seq("py", "px"), "red2")

  def median(s: SparkSession, d: String): DataFrame =
    Composites.medianComposite(px(s, d), Seq("py", "px"), "red2")

  def recent(s: SparkSession, d: String): DataFrame =
    Composites.mostRecentValid(px(s, d), Seq("py", "px"), "ts",
      carried = Seq("l_orderkey", "l_linenumber", "red2"), v = "red2")
      .select("py", "px", "l_orderkey", "l_linenumber", "red2")

  def maxNdvi(s: SparkSession, d: String): DataFrame = ndvi(s, d, greatest = true)
  def minNdvi(s: SparkSession, d: String): DataFrame = ndvi(s, d, greatest = false)

  private def ndvi(s: SparkSession, d: String, greatest: Boolean): DataFrame =
    Composites.ndviComposite(px(s, d), Seq("py", "px"),
      tieBreak = Seq("l_orderkey", "l_linenumber"), bands = Seq("blue", "nir", "red"), greatest)
      .select("py", "px", "best_ndvi", "blue", "nir", "red")

  /** Geomedian of (blue, nir, red) vectors per pixel — the Weiszfeld
    * aggregate [[GeomedianVec]] (A9). Driver query runs the FIXED-STEP
    * parameterization (32 iterations, tol 0) whose arithmetic has an exact
    * SQL twin, so the oracle checks it row-for-row; converged-form parity vs
    * the scalar oracle (default 200 / 1e-9) stays in AggregatorSpec. */
  def geomedian(s: SparkSession, d: String): DataFrame =
    px(s, d).groupBy("py", "px")
      .agg(GeomedianVec(32, 0.0, medoid = false)(col("blue").cast("double"),
        col("nir").cast("double"), col("red").cast("double")).as("gm"))
      .select(col("py"), col("px"),
        round(element_at(col("gm"), 1), 6).as("gm_blue"),
        round(element_at(col("gm"), 2), 6).as("gm_nir"),
        round(element_at(col("gm"), 3), 6).as("gm_red"))

  /** Geomedoid (A9's second variant, `dc_mosaic.py:558-584`): the observed
    * (blue, nir, red) vector nearest the fixed-step geomedian. */
  def geomedoid(s: SparkSession, d: String): DataFrame =
    Composites.geomedoidComposite(px(s, d), Seq("py", "px"),
      bands = Seq("blue", "nir", "red"), iters = 32)

  /** True bitmask decode (`dc_utilities.py:199-215`): (qa & Σ2^b) ≠ 0. */
  def bitmask(s: SparkSession, d: String): DataFrame =
    px(s, d).select(col("l_orderkey"), col("l_linenumber"),
      (col("pixel_qa").bitwiseAND(lit(1 << 1 | 1 << 5)) =!= 0).as("cloudy_bit"),
      (col("pixel_qa").bitwiseAND(lit(1 << 2)) =!= 0).as("water_bit"))

  /** AOI rasterization: PIP of pixel centers on a unit grid at (0,0),
    * AOI = rect (10.5, 10.5) – (40.5, 50.5) (genprepWater.py:270-281). */
  def rasterize(s: SparkSession, d: String): DataFrame =
    Raster.rasterizeMask(px(s, d), graft.geom.Geo.rectWkt(10.5, 10.5, 40.5, 50.5),
      x0 = 0.0, y0 = 0.0, dx = 1.0, dy = 1.0)
      .select("l_orderkey", "l_linenumber", "py", "px", "in_aoi")

  /** Pixel → raster-row reassembly (per-py rows, red2 values in
    * (px, l_orderkey, l_linenumber) order). */
  def reassemble(s: SparkSession, d: String): DataFrame =
    Raster.reassembleRows(px(s, d), rowKey = Seq("py"),
      orderCols = Seq("px", "l_orderkey", "l_linenumber"), v = "red2")

  /** Per-pixel time-series summary (A6, `dc_utilities.py:126-174`): builtin
    * sum/count/min/max over the valid `red2` values, as the oracle SQL
    * writes it. The sum stays in the integer domain (exact, order-free);
    * a pixel with no valid value reads 0.0 in every double field. The
    * reference's `intermediate_product` merge is the partial/final split. */
  def summary(s: SparkSession, d: String): DataFrame = {
    val ok = Composites.valid(col("red2"))
    px(s, d).groupBy("py", "px").agg(
        sum(when(ok, col("red2")).otherwise(0)).cast("double").as("total_data"),
        count(when(ok, 1)).as("total_clean"),
        min(when(ok, col("red2"))).cast("double").as("mn"),
        max(when(ok, col("red2"))).cast("double").as("mx"))
      .select(col("py"), col("px"), col("total_data"), col("total_clean"),
        when(col("total_clean") > 0, col("total_data") / col("total_clean"))
          .otherwise(0.0).as("normalized"),
        coalesce(col("mn"), lit(0.0)).as("v_min"), coalesce(col("mx"), lit(0.0)).as("v_max"))
  }
}

/** Training-data pipeline queries: dedup, text analysis, similarity search,
  * media plumbing over the documents/embeddings tables. */
object TrainQueries {
  import graft.dedup.Dedup
  import graft.text.TextOps
  import graft.ann.Ann

  private def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  private def embs(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")

  /** documents ∪ identical copy (shifted ids): exact dedup must pair them. */
  def ddExact(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val dup = base.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    Dedup.exact(base.unionByName(dup), "doc_id", "text")
  }

  /** documents ∪ word-reversed copy: normalized (token-multiset) dedup pairs
    * them while exact dedup would not. */
  def ddNorm(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val rev = base.select((col("doc_id") + 1000000).as("doc_id"),
      concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    Dedup.normalized(base.unionByName(rev), "doc_id", "text")
  }

  /** documents ∪ lightly-mutated copy: MinHash-LSH must find the pairs
    * (no SQL oracle — checked against brute force in DedupSpec). */
  private def mutatedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text")).where(col("doc_id") < 200)
    val mut = base.select((col("doc_id") + 1000000).as("doc_id"),
      concat(lit("zzz "), substring(col("text"), 5, 100000)).as("text"))
    base.unionByName(mut)
  }

  def ddMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(mutatedCorpus(s, d), "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b")

  def ddSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(mutatedCorpus(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** Word-set Jaccard of each doc vs its mutated twin — exact integer
    * intersection/union sizes (n-gram Jaccard family, SQL-oracle-exact). */
  def ddJaccard(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val mut = base.select(col("doc_id"),
      concat(lit("zzz "), substring(col("text"), 5, 100000)).as("text_b"))
    val joined = base.join(mut, "doc_id")
    val (ni, nu) = Dedup.wordJaccardParts(col("text"), col("text_b"))
    joined.select(col("doc_id"), ni.cast("long").as("n_inter"), nu.cast("long").as("n_union"))
  }

  /** Near-dup clustering: connected components over the MinHash pair set —
    * the canonical-doc selection step (keep min-id doc per component). */
  def ddCluster(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.connectedComponents(
      graft.dedup.Dedup.minhashNearDups(mutatedCorpus(s, d), "doc_id", "text",
        threshold = 0.5).select(col("id_a"), col("id_b")))

  def txtQuality(s: SparkSession, d: String): DataFrame = {
    val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(s, d).select(col("doc_id") +: cols: _*)
  }

  def txtLang(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))

  def txtFingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))

  /** Token budgets: whitespace count vs BPE-ish pre-tokenizer count. */
  def txtTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_ws_tokens"),
      TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** The composed training-data pipeline as ONE flow (the engine's reason
    * for existing at 100 TB): language-ID filter → token-budget filter →
    * exact-content dedup (keeper = min doc_id) → per-survivor token
    * budgets. SINGLE-PASS derivation: the text-derived columns (langId,
    * token counts, fingerprint — the regex CPU over the corpus) are
    * computed on ONE scan feeding ONE map-side-combined aggregation; the
    * exchange carries (fp, doc_id, three small derived values), never the
    * text. Same fp ⟹ same text ⟹ identical derived values group-wide, so
    * min() selects exactly the keeper row's values — relationally equal to
    * the former keeper-groupBy + re-join-by-id plan, which scanned the
    * corpus (and paid the regex CPU) twice because the unpersisted lazy
    * plan was referenced on both sides of the self-join. The corpus is
    * doubled (like dd_exact) so the dedup stage provably removes rows. */
  def pipeCorpus(s: SparkSession, d: String): DataFrame = {
    val keptLang = "en" // the language-ID filter constant, single source
    val doubled = docs(s, d).select(col("doc_id"), col("text"))
      .unionByName(docs(s, d).select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val scored = doubled
      .withColumn("lang_pred", TextOps.langId(col("text")))
      .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      .withColumn("n_bpe_tokens", TextOps.bpeTokenCount(col("text")))
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .where(col("lang_pred") === keptLang && col("n_tokens") >= 20)
      .select("doc_id", "fp", "n_tokens", "n_bpe_tokens")
    // every aggregation buffer stays a mutable primitive (longs), so the
    // dedup runs as a map-side-combined HashAggregate — min over the
    // filtered-out STRING lang_pred would demote the whole aggregation to
    // SortAggregate (sort by fp on both exchange sides); post-filter the
    // value is provably the filter constant, re-attached as a literal
    scored.groupBy("fp").agg(
        min("doc_id").as("doc_id"),
        count(lit(1)).as("n_copies"),
        min("n_tokens").as("n_tokens"),
        min("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("lang_pred", lit(keptLang))
      .select("doc_id", "fp", "n_copies", "lang_pred", "n_tokens", "n_bpe_tokens")
  }

  def annTopK(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Ann.quantizedDotTopK(e.where(col("vec_id") < 100), e, k = 3)
  }

  /** Stored-int8 ANN: the corpus quantized to array<tinyint> (4× smaller
    * than float32 at rest and in cache), exact integer dot, top-k. */
  def annQ8(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Ann.i8TopK(e.where(col("vec_id") < 50), e, k = 3)
  }

  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Ann.lshTopK(e.where(col("vec_id") < 100), e, k = 3, dim = 64, tables = 16, bits = 8)
  }

  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Ann.ivfTopK(e.where(col("vec_id") < 100), e, k = 3, dim = 64, nlist = 16, nprobe = 4,
      maxTrain = 10000) // quantizer trains on a bounded sample, never the corpus
  }

  /** DuckDB twin of [[annIvf]]: retrains the quantizer (hash-ordered sample
    * + seeded local Lloyd — bit-deterministic, so it reproduces the query's
    * centers exactly) and emits them as literals into `Ann.ivfOracleSql`. */
  def ivfOracleSql(s: SparkSession, d: String): String = {
    val centers = graft.ann.IvfIndex.trainQuantizer(
      embs(s, d), nlist = 16, seed = 42L, maxTrain = 10000)
    Ann.ivfOracleSql("SELECT vec_id, embedding FROM embeddings", "vec_id < 100",
      k = 3, dim = 64, centers = centers, nprobe = 4)
  }

  def annNearDup(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d).select(col("vec_id"), col("embedding"))
    val dup = e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    Ann.cosineNearDups(e.unionByName(dup), dim = 64, threshold = 0.999)
      .orderBy("id_a", "id_b")
  }

  def mediaDecode(s: SparkSession, d: String): DataFrame = {
    val scenes = graft.model.SynthCorpus.scenesFromOrders(s, d)
      .withColumn("platform", lit("SENTINEL_2"))
      .where(col("doc_id") % 30 === 0) // deterministic subset (limit() is not)
    val withSpans = graft.model.SynthCorpus.withSpansColumn(scenes)
    graft.media.Media.decodeBandSpans(withSpans.select(col("doc_id").cast("string").as("doc_id"), col("spans")))
      .select(col("doc_id"), col("band"), col("offset"),
        col("meta.width"), col("meta.height"), col("meta.channels"),
        size(col("features")).as("n_features"))
  }

  /** Multi-band export: ALL of a scene's bands written as ONE GeoTIFF
    * (`utils/dc_import_export.py:90-139` export_xarray_to_geotiff, count =
    * len(bands)) — each doc's 7 SENTINEL_2 band planes encode into a single
    * chunky-interleaved multi-band COG, decode back bit-exact
    * (roundtrip_ok), and pass the COG validator (cog_ok). Dims derive from
    * the doc-level ref hash (DuckDB-computable); the pixel proof lives in
    * the booleans, which only the real codec round-tripping can set. */
  def mediaMultiband(s: SparkSession, d: String): DataFrame = {
    val scenes = graft.model.SynthCorpus.scenesFromOrders(s, d)
      .withColumn("platform", lit("SENTINEL_2"))
      .where(col("doc_id") % 30 === 0)
    val refs = graft.model.SynthCorpus.withSpansColumn(scenes)
      .select(col("doc_id").cast("string").as("doc_id"), explode(col("spans")).as("sp"))
      .where(col("sp.kind") === "band")
      .groupBy("doc_id")
      // band order is significant (Bands.byPlatform): sort by span offset
      .agg(expr("transform(sort_array(collect_list(struct(sp.offset, sp.media_ref))), r -> r.media_ref)").as("refs"))
    // REPARTITION_BY_NUM: AQE would coalesce the tiny post-groupBy shuffle
    // (5k rows, ~100 KB estimated) to ONE partition and run the heavy
    // encode UDF single-threaded — the rows are small but each carries
    // ~0.5 ms of codec work, the classic compute-heavy/byte-light skew
    val m = graft.media.Media.multibandRoundtripUdf(
      concat(col("doc_id"), lit("_multi")), col("refs"))
    refs.repartition(64, col("doc_id"))
      .select(col("doc_id"), m.as("m"))
      .select(col("doc_id"), col("m._1").as("width"), col("m._2").as("height"),
        col("m._3").as("n_bands"), col("m._4").as("roundtrip_ok"),
        col("m._5").as("cog_ok"))
  }

  /** S14's browse-PNG export as a driver-oracled query: per doc, a REAL
    * RGB PNG ([[graft.media.Media.pngBrowseUdf]]) flows through the media
    * plane's one file sink ([[graft.media.Media.writeFiles]]: one
    * `<doc_id>/browse.png` per doc, mapPartitions, no shuffle) and back
    * through its one file source ([[graft.media.Media.readManifestFiles]])
    * and the CRC-checked decode; roundtrip_ok compares the decoded bytes
    * against the generator. Dims derive from the doc ref hash
    * (DuckDB-computable); only a correct encoder → sink → source → decoder
    * chain can set the boolean. Staging is fingerprint-keyed, and the
    * manifest is published last ([[graft.Fs.publishOnce]]), so its
    * existence marks a complete write and re-runs skip it. Each attempt
    * writes its PNGs under a directory it owns (named after its stage
    * sibling), so the manifest points only at files no other session
    * rewrites; a race loser's directory stays until the fixture root is
    * reaped.
    *
    * The read-back is MANIFEST-driven, not a `binaryFile` glob: a glob
    * stats every per-doc directory on the driver — ~11 s for 5.5k files
    * here, unbounded at 100 TB — while the manifest read is ~1 s and fully
    * parallel. (The `binaryFile` glob over the same sink output is spec'd
    * in PngNetcdfSpec.) */
  def mediaPng(s: SparkSession, d: String): DataFrame = {
    val root = graft.Fs.fixtureRoot("media_png", d, java.nio.file.Paths.get(d, "orders.parquet"))
    val manifest = graft.Fs.publishOnce(root.resolve("manifest.parquet")) { stage =>
      val docId = col("doc_id").cast("string")
      val rows = graft.model.SynthCorpus.scenesFromOrders(s, d)
        .where(col("doc_id") % 30 === 0)
        .select(docId.as("doc_id"), concat(docId, lit("/browse.png")).as("rel"),
          graft.media.Media.pngBrowseUdf(concat(docId, lit("_png"))).as("bytes"))
      // the distributed write runs here; its manifest IS the read listing
      graft.media.Media.writeFiles(rows, s"$root/png/${stage.getFileName.toString.drop(1)}")
        .write.parquet(stage.toString)
    }
    graft.media.Media.readManifestFiles(s.read.parquet(manifest.toString))
      .select(col("path"), graft.media.Media.decodePngUdf(col("content")).as("dd"))
      .withColumn("doc_id", element_at(split(col("path"), "/"), -2))
      .select(col("doc_id"), col("dd._1").as("width"), col("dd._2").as("height"),
        col("dd._3").as("channels"),
        graft.media.Media.pngMatchesUdf(concat(col("doc_id"), lit("_png")),
          col("dd._4")).as("roundtrip_ok"))
  }

  /** S13's NetCDF export as a driver-oracled query: a bounded (py, px)
    * composite grid flows through REAL classic CDF-1 bytes
    * ([[Media.exportGridNetcdf]] → [[graft.media.NetCdf.readClassic]]) and
    * the query returns what the FILE says — matching the relational
    * GROUP BY oracle proves the codec, the coordinate variables, and the
    * dense-grid assembly. Cell value = Σ nodata-clamped red2: never null,
    * never −9999, so present-cell vs fill is unambiguous. The grid is
    * dimension-sized (≤ 64×64) by construction; the driver-side gather is
    * the sink's documented design — the pixel table never funnels through. */
  def mediaNetcdf(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val grid = graft.ops.Pixels.pixels(s, d).groupBy(col("py"), col("px"))
      .agg(sum(when(col("red2") === -9999, 0).otherwise(col("red2")))
        .cast("double").as("v"))
    val root = graft.Fs.fixtureRoot("media_nc", d, JPaths.get(d, "lineitem.parquet"))
    JFiles.createDirectories(root)
    // a file this call owns: a shared path could be rewritten under a
    // concurrent session's read-back
    val f = JFiles.createTempFile(root, ".grid", ".nc")
    val (dims, vars) =
      try {
        graft.media.Media.exportGridNetcdf(grid, "py", "px", Seq("v"), f.toString)
        graft.media.NetCdf.readClassic(JFiles.readAllBytes(f))
      } finally JFiles.deleteIfExists(f)
    val (ys, xs, v) = (vars(0).values, vars(1).values, vars(2).values)
    val nx = dims(1)._2
    val rows = for { i <- ys.indices; j <- xs.indices
      if v(i * nx + j) != -9999.0 } yield (ys(i).toLong, xs(j).toLong, v(i * nx + j).toLong)
    import s.implicits._
    rows.toDF("py", "px", "v")
  }

  /** Payload validation over a deterministically-corrupted media stream —
    * the engine twin of `cog_validate` (`prep_utils.py:637-790`):
    * doc_id % 3 picks intact / truncated-header / body-length-mismatch. */
  def mediaValidate(s: SparkSession, d: String): DataFrame = {
    val scenes = graft.model.SynthCorpus.scenesFromOrders(s, d)
      .withColumn("platform", lit("SENTINEL_2"))
      .where(col("doc_id") % 30 === 0)
    val bands = graft.model.SynthCorpus.withSpansColumn(scenes)
      .select(col("doc_id").cast("string").as("doc_id"), explode(col("spans")).as("sp"))
      .where(col("sp.kind") === "band")
      .select(col("doc_id"), col("sp.text").as("band"), col("sp.media_ref").as("media_ref"))
    val corrupt = udf { (b: Array[Byte], mode: Int) =>
      mode match {
        case 1 => b.take(4)      // header cut short
        case 2 => b.dropRight(1) // header fine, body short
        case _ => b
      }
    }
    bands
      // REAL tiled-GeoTIFF bytes; mode-1 severs the header, mode-2 cuts the
      // last main-resolution tile — the same failure classes as before, now
      // detected by the real COG validator (GeoTiff.validate)
      .withColumn("payload", graft.media.Media.geoTiffPayloadUdf(col("media_ref")))
      .withColumn("mode", (col("doc_id").cast("long") % 3).cast("int"))
      .withColumn("v", graft.media.Media.validateGeoTiffUdf(
        corrupt(col("payload"), col("mode"))))
      .select(col("doc_id"), col("band"), col("v._1").as("ok"), col("v._2").as("reason"))
  }
}

/** ML-plane queries: RF water classifier + fractional-cover unmixing
  * (`genprepMLWater.py`, `dc_fractional_coverage_classifier.py`) over the
  * synthetic pixel table. Not SQL-expressible → rows-only driver check. */
object MLQueries {
  import graft.ml.{FracCover, MLWater, RfForest}
  import graft.ops.Pixels
  import org.apache.spark.ml.classification.RandomForestClassificationModel

  private val waterBands = Seq("green", "nir", "swir1")

  private def waterPx(s: SparkSession, d: String) = Pixels.pixels(s, d)
    .withColumn("pc", when(col("nir") < col("swir1"), 80.0).otherwise(10.0))
    .withColumn("valid_img", col("pixel_qa") =!= 1)
    .withColumn("valid_lab", col("scene_classification") =!= 0)

  /** The forest `ml_water` trains (training is seed-deterministic). */
  private[graft] def waterModel(s: SparkSession, d: String): RandomForestClassificationModel =
    MLWater.train(waterPx(s, d), waterBands, "pc",
      col("valid_img"), col("valid_lab"), MLWater.Params(minPerClass = 200L))

  /** The trained forest, memoized per sfDir: the ml_water query and its
    * oracle rendering share ONE training run in the Verify process, so the
    * SQL twin carries the exact leaf constants the prediction uses. (The
    * cache is consistency insurance plus a bench speedup, not a hidden
    * source of truth.) */
  private val treeCache = scala.collection.concurrent.TrieMap[String, RfForest]()
  private def waterForest(s: SparkSession, d: String): RfForest =
    treeCache.getOrElseUpdate(d, RfForest.fromModel(waterModel(s, d)))

  /** Label rule pc>=50 derives from a deterministic band predicate so the
    * scene is learnable; predictions over the img-valid mask. */
  def water(s: SparkSession, d: String): DataFrame =
    MLWater.predictFromForest(waterForest(s, d), waterPx(s, d), waterBands,
      col("valid_img"), keys = Seq("l_orderkey", "l_linenumber"))

  /** DuckDB twin of [[water]] — the trained trees rendered as SQL CASE
    * cascades (`MLWater.oracleSql`); data-dependent, so merged into the
    * oracle dump by Verify with a live session. */
  def waterOracleSql(s: SparkSession, d: String): String =
    MLWater.oracleSql(waterForest(s, d), Pixels.pixelsSql,
      validSql = "pixel_qa <> 1", bands = waterBands,
      keys = Seq("l_orderkey", "l_linenumber"))

  /** The deterministic half of the ML-water pipeline, oracle-checked: the
    * persistence label rule (pc >= 50 -> 1.0, `genprepMLWater.py:286-289`),
    * the inner valid mask (`:281-283`), and the per-class training counts
    * that feed the >= minPerClass guard (`:299-302`). Only the RF fit/predict
    * (spark.ml internals) stays rows-only, in ml_water. */
  def waterLabels(s: SparkSession, d: String): DataFrame =
    waterPx(s, d).where(col("valid_img") && col("valid_lab"))
      .withColumn("label", MLWater.waterLabel(col("pc")))
      .groupBy("label").agg(count(lit(1)).as("n_train"))

  def fracCover(s: SparkSession, d: String): DataFrame =
    FracCover.classify(Pixels.pixels(s, d),
      graft.ops.CleanMask.s2Column(col("scene_classification")))
      .select("l_orderkey", "l_linenumber", "pv", "npv", "bs")
}

/** Relational operators over the driver's TPC-H-ish tables (SURVEY §2.2-2.7).
  * Aggregates stay on exactly-representable values (integer-valued doubles,
  * floor()ed cents) so Spark and DuckDB agree bit-for-bit. */
object Relational {
  import graft.table.IcebergLite
  import TableFixtures._
  private def t(s: SparkSession, d: String, n: String) = s.read.parquet(s"$d/$n.parquet")

  def q1(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
      sum("l_quantity").as("sum_qty"),
      sum(floor(col("l_extendedprice") * 100)).as("sum_price_c"),
      count(lit(1)).as("n"),
      min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
      avg("l_quantity").as("avg_qty"))

  def q2(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"), sum(floor(col("o_totalprice"))).as("total_floor"))

  def q3(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").join(
      t(s, d, "orders").where(col("o_totalprice") > 100000),
      col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  def q4(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").join(t(s, d, "orders").where(col("o_totalprice") > 300000),
      col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  def q5(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, d, "orders").withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 2).select("o_custkey", "o_orderkey", "rnk")
  }

  def q6(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), countDistinct("o_custkey").as("n_cust"))

  def q7(s: SparkSession, d: String): DataFrame =
    t(s, d, "part").orderBy(col("p_retailprice").desc, col("p_partkey")).limit(10)
      .select("p_partkey", "p_name", "p_retailprice")

  def q8(s: SparkSession, d: String): DataFrame = {
    val a = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val b = t(s, d, "orders").where(col("o_totalprice") > 50000).select(col("o_custkey").as("k"))
    val c = t(s, d, "supplier").select(col("s_suppkey").as("k"))
    val e = t(s, d, "nation").where(col("n_nationkey") < 3).select(col("n_nationkey").cast("long").as("k"))
    a.intersect(b).union(c).distinct().except(e)
  }

  def q9(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id"),
      concat(upper(substring(col("source"), 1, 4)), lit("_"),
        lpad(col("doc_id").cast("string"), 10, "0"), lit("_"), col("lang")).as("scenename"),
      length(col("text")).cast("long").as("n_chars2"),
      regexp_replace(col("lang"), "e", "E").as("lang_x"))

  def q10(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").groupBy("user_id").agg(
      count(lit(1)).as("n"), count(col("value")).as("n_valid"),
      sum(floor(col("value") * 100).cast("long")).as("sum_cents"),
      min("event_type").as("min_et"), max("event_type").as("max_et"))

  /** JSON payload parse (S11/worker `json.loads`): from_json on props. */
  def q11(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("k", from_json(col("props"), lit("struct<k:long>")).getField("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  /** Rollup pivot (A15 convenience; reference does separate groupbys). */
  def q12(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(floor(col("o_totalprice"))).as("sum_floor"))

  /** Date/time surgery (§2.8): day-of-year arithmetic (`prepMOD.py:87-94`)
    * + center-time midpoint (`prep_utils.py:252-258`), emitted as strings. */
  def q13(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .withColumn("yr", (lit(2020) + col("o_orderkey") % 3).cast("int"))
      .withColumn("dy", (lit(1) + col("o_orderkey") % 365).cast("int"))
      // datetime(yr,1,1) + (dy-1) days + 12 h — the MODIS acquisition time
      .withColumn("acq_ts", expr(
        "timestampadd(HOUR, 12, timestampadd(DAY, dy - 1, cast(make_date(yr, 1, 1) AS timestamp)))"))
      // center_dt = t0 + (t1 − t0)/2 at second precision
      .withColumn("t1", expr("timestampadd(DAY, cast(o_orderkey % 20 AS int), o_orderdate)"))
      .withColumn("center_dt", expr(
        "timestampadd(SECOND, cast(floor((unix_timestamp(t1) - unix_timestamp(o_orderdate)) / 2) AS int), o_orderdate)"))
      .select(col("o_orderkey"),
        date_format(col("acq_ts"), "yyyy-MM-dd HH:mm:ss").as("acq_s"),
        date_format(col("center_dt"), "yyyy-MM-dd HH:mm:ss").as("center_s"))

  /** Frame-spec window (W5): trailing 3-order spend per customer. */
  def q15(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
      sum(floor(col("o_totalprice")).cast("long")).over(w).as("trail_sum"),
      count(lit(1)).over(w).as("trail_n"))
  }

  /** Band-name normalization (P2): synthesize one product file name per doc
    * across the four sensor families, normalize to the canonical band. */
  def q16(s: SparkSession, d: String): DataFrame = {
    import graft.model.BandNames
    val fam = (col("doc_id") % 4).cast("int")
    def pick(keys: Seq[String], n: org.apache.spark.sql.Column) =
      element_at(typedLit(keys.sorted), (n % keys.size + 1).cast("int"))
    val fname =
      when(fam === 0, concat(lit("LE07_L1TP_074072_20190101_20190127_01_T1_"),
        pick(BandNames.l7.keys.toSeq, col("doc_id")), lit(".tif")))
      .when(fam === 1, concat(lit("LC08_L1TP_074072_20190101_20190127_01_T1_"),
        pick(BandNames.l8.keys.toSeq, col("doc_id")), lit(".tif")))
      .when(fam === 2, concat(lit("T60KWE_20190124T221941_"),
        pick(BandNames.s2L2A.keys.toSeq, col("doc_id")), lit(".tif")))
      .otherwise(concat(lit("MCD43A4.A2019010.h31v10."),
        pick(BandNames.mcd43a4.keys.toSeq, col("doc_id")), lit(".tif")))
    t(s, d, "documents").select(col("doc_id"), fname.as("fname"))
      .withColumn("band", BandNames.normalizeColumn(col("fname")))
  }

  /** S3 inventory rollup (S1 + A1 + P1, cells 26-28): derive scenename from
    * the object path (`path.split('/')[3]`), group, sum sizes, flag done. */
  def q17(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(concat(lit("common_sensing/fiji/sentinel_2/S2scene"),
        (col("l_orderkey") % 500).cast("string"), lit("/band"),
        col("l_linenumber").cast("string"), lit(".tif")).as("path"),
        floor(col("l_extendedprice") * 10).cast("long").as("size"))
      .withColumn("scenename", element_at(split(col("path"), "/"), 4))
      .groupBy("scenename")
      .agg(count(lit(1)).as("n_objects"), sum("size").as("sac_size"))
      .withColumn("sac_done", col("n_objects") >= 7)

  /** The table plane's MERGE upsert as a driver-oracled query (S12's ODC
    * index-sink semantics, Iceberg CoW MERGE): build a keyed IcebergLite
    * table from a deterministic base slice of `orders`, merge an
    * update+insert batch, read the COMMITTED table back. The oracle is the
    * merge's relational definition (anti-join ∪ updates) in plain SQL.
    * Staged by [[TableFixtures]]' commitId rule. */
  def tblMerge(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_merge", d)
    val rows = orders(s, d)
    IcebergLite.appendIdempotent(s, rows.where(col("o_orderkey") % 7 === 0),
      table, Seq("o_orderkey"), "base")
    val updates = bumped(rows.where(col("o_orderkey") % 14 === 0), 1)
      .unionByName(rows.where(col("o_orderkey") % 7 === 3))
    IcebergLite.merge(s, table, updates, Seq("o_orderkey"), Seq("o_orderkey"), "m1")
    priceC(IcebergLite.read(s, table))
  }

  /** The table plane's MERGE-ON-READ upsert as a driver-oracled query —
    * Iceberg-v2 equality deletes: the upsert commit writes ONLY the update
    * rows plus a delete file of their keys (O(updates), no rewrite); the
    * read path anti-merges deletes by sequence number. Same relational
    * oracle as tbl_merge (the two strategies must agree on content);
    * distinct update recipe so the two queries can't mask each other. */
  def tblMor(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_mor", d)
    val rows = orders(s, d)
    IcebergLite.appendIdempotent(s, rows.where(col("o_orderkey") % 5 === 0),
      table, Seq("o_orderkey"), "base")
    // batch 1 updates existing keys; batch 2 later SUPERSEDES some of them
    // and inserts new keys — the read must resolve both by commit sequence
    val up1 = bumped(rows.where(col("o_orderkey") % 10 === 0), 1)
    val up2 = bumped(rows.where(col("o_orderkey") % 20 === 0), 2)
      .unionByName(rows.where(col("o_orderkey") % 5 === 1))
    IcebergLite.mergeOnRead(s, table, up1, Seq("o_orderkey"), Seq("o_orderkey"), "mor1")
    IcebergLite.mergeOnRead(s, table, up2, Seq("o_orderkey"), Seq("o_orderkey"), "mor2")
    priceC(IcebergLite.read(s, table))
  }

  /** The three-commit staged table shared by tbl_incr and tbl_travel:
    * disjoint deterministic `orders` slices (%11 = 0, 1, 2) appended as
    * separate snapshots, each keyed by its commitId. Returns (table path,
    * snapshot ids oldest-first). */
  private def stagedIncrTable(s: SparkSession, d: String): (String, Seq[Long]) = {
    val table = path("tbl_incr", d)
    val rows = orders(s, d)
    Seq("base", "day1", "day2").zipWithIndex.foreach { case (cid, m) =>
      IcebergLite.appendIdempotent(s, slice(rows, m), table, Seq("o_orderkey"), cid)
    }
    (table, IcebergLite.snapshots(table))
  }

  /** Incremental append scan as a driver-oracled query (Iceberg's
    * `incrementalAppendScan`, the process-only-new-data primitive of the
    * reference's re-scan-driven pipeline runs): read ONLY the rows
    * [[stagedIncrTable]] added after its first commit. The delta is a
    * metadata-only file selection (per-file commit seq), so the base
    * commit's files are never opened. */
  def tblIncr(s: SparkSession, d: String): DataFrame = {
    val (table, ids) = stagedIncrTable(s, d)
    priceC(IcebergLite.readIncremental(s, table, ids.head, ids.last))
  }

  /** Incremental table-follow as a driver-oracled query (the streaming
    * read of a table): a consumer drains a source IcebergLite table's new
    * snapshots through [[graft.streaming.Streams.drainTableIncrement]] into
    * a TARGET table, committing each increment via `appendIdempotent` keyed
    * by its snapshot range — the layered exactly-once contract. The source
    * is staged in three commits with a drain after the first and after the
    * third, so the consumer really follows (two increments, not one bulk
    * copy); every step is crash-resumable and re-runs are metadata-only
    * no-ops. The query returns the CONSUMER's table. */
  def strIncr(s: SparkSession, d: String): DataFrame = {
    val src = path("str_incr", d, "src")
    val tgt = path("str_incr", d, "tgt")
    val cp = path("str_incr", d, "consumer.cp")
    val rows = orders(s, d)
    def drain(): Unit = graft.streaming.Streams.drainTableIncrement(s, src, cp) {
      (df, from, to) =>
        IcebergLite.appendIdempotent(s, df, tgt, Seq("o_orderkey"), s"inc_${from}_$to")
    }
    def commit(m: Int): Unit =
      IcebergLite.appendIdempotent(s, slice(rows, m), src, Seq("o_orderkey"), s"c${m + 1}")
    commit(0)
    drain()
    commit(1)
    commit(2)
    drain()
    priceC(IcebergLite.read(s, tgt))
  }

  /** The full `rediswq` lease lifecycle as a driver-oracled query
    * (`rediswq.py:58-101`): deterministic lease/complete events derived
    * from the `events` table flow through
    * [[graft.streaming.Streams.leaseTrackerTtl]]; the DuckDB twin replays
    * the same state machine with `lag()` — a requeue is any lease or
    * complete arriving a full TTL after the still-pending previous lease,
    * plus the evaluation-time lapse of an uncompleted final lease. One
    * keyed exchange; per-item state is a handful of counters. */
  def strRequeue(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Streams
    import s.implicits._
    val ev = t(s, d, "events").select(
      concat(lit("it"), lpad((col("user_id") % 200).cast("string"), 3, "0")).as("itemId"),
      unix_micros(col("ts").cast("timestamp")).as("ts"), // NTZ → UTC instant
      when(col("event_id") % 3 === 0, "complete").otherwise("lease").as("event"))
    val nowTs = ev.agg(max("ts")).head.getLong(0)
    Streams.leaseTrackerTtl(ev.as[Streams.Lease], ttl = 3600L * 1000000L, nowTs = nowTs)
      .toDF().select(col("itemId").as("item_id"), col("leases"),
        col("completes"), col("requeues"), col("state"))
  }

  /** MoR auto-maintenance as a driver-oracled query: five equality-delete
    * upsert commits stack on a base table (batch 5 superseding batch 1's
    * keys), then [[graft.table.IcebergLite.maintain]] under a tight policy
    * compacts the debt — the returned read goes through the post-compact
    * snapshot, so a maintenance bug that loses or resurrects rows breaks
    * the relational oracle. Every step is keyed by its commitId, so
    * crash/re-runs land on the same content. */
  def tblMaintain(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_maint", d)
    val rows = orders(s, d)
    IcebergLite.appendIdempotent(s, rows.where(col("o_orderkey") % 7 === 0),
      table, Seq("o_orderkey"), "base")
    Seq((0, 1), (7, 2), (14, 3), (21, 4), (0, 99)).zipWithIndex.foreach {
      case ((klass, bump), i) =>
        IcebergLite.mergeOnRead(s, table,
          bumped(rows.where(col("o_orderkey") % 35 === klass), bump),
          Seq("o_orderkey"), Seq("o_orderkey"), s"m${i + 1}")
    }
    IcebergLite.maintain(s, table, Seq("o_orderkey"), "maint",
      IcebergLite.MaintenancePolicy(maxPendingDeleteFiles = 2))
    priceC(IcebergLite.read(s, table))
  }

  /** Orphan-file cleanup as a driver-oracled query (Iceberg's
    * `remove_orphan_files`): crash residue — an aborted append's data dir
    * and an aborted upsert's delete dir, re-injected every run — is swept
    * by [[graft.table.IcebergLite.removeOrphanFiles]] while a LIVE
    * merge-on-read delete file sits in the same `deletes/` tree. The
    * returned read goes through the swept table, so a sweep that reaps a
    * referenced file (or misses the residue — the `require`s) breaks the
    * relational oracle. */
  def tblOrphans(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val table = path("tbl_orph", d)
    val rows = orders(s, d)
    IcebergLite.appendIdempotent(s, rows.where(col("o_orderkey") % 9 === 0),
      table, Seq("o_orderkey"), "base")
    // live MoR state: its delete file shares deletes/ with the residue
    // below and must survive the sweep for the oracle to match
    IcebergLite.mergeOnRead(s, table, bumped(rows.where(col("o_orderkey") % 18 === 0), 5),
      Seq("o_orderkey"), Seq("o_orderkey"), "up1")
    val orphData = Paths.get(table, "data", "crash_append")
    val orphDel = Paths.get(table, "deletes", "crash_upsert")
    if (!Files.exists(orphData)) // aborted append: files written, no snapshot swap
      IcebergLite.writeData(rows.limit(10), table, "crash_append")
    if (!Files.exists(orphDel)) // aborted upsert's key file
      rows.limit(5).select(col("o_orderkey")).coalesce(1)
        .write.mode("overwrite").parquet(orphDel.toString)
    val (nDeleted, _) = IcebergLite.removeOrphanFiles(table, olderThanMillis = 0)
    require(nDeleted > 0, "orphan sweep found nothing — injection or sweep broken")
    require(!Files.exists(orphData) && !Files.exists(orphDel),
      "orphan residue survived the sweep")
    priceC(IcebergLite.read(s, table))
  }

  /** The IN-list keys [[tblBloom]] and its oracle share. */
  val TblBloomKeys: Seq[Long] = Seq(1L, 7L, 32L, 1000L, 4999L, 77777L)

  /** Per-file Bloom sidecars as a driver-oracled query: orders land
    * HASH-distributed across 32 files (every file spans ~the whole key
    * range — manifest min/max is provably useless for a point lookup) with
    * `bloomCols = o_orderkey`, then an IN-list read goes through
    * [[graft.table.IcebergLite.readWhere]]'s membership probe. The
    * in-query `require` pins the pruning (≤ one file per key plus false
    * positives, never half the table); the oracle pins exactness —
    * including keys that don't exist, which a broken filter would
    * resurrect or a false-negative would drop. */
  def tblBloom(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_bloom", d)
    if (!IcebergLite.alreadyCommitted(table, "c1"))
      IcebergLite.append(s, orders(s, d).repartition(32, col("o_custkey")),
        table, Seq("o_custkey"), "c1", bloomCols = Seq("o_orderkey"))
    val df = IcebergLite.readWhere(s, table, col("o_orderkey").isin(TblBloomKeys: _*))
    val total = IcebergLite.readSnapshot(table).get.files.size
    require(df.inputFiles.length < total / 2,
      s"bloom pruning regressed: opened ${df.inputFiles.length} of $total files")
    priceC(df)
  }

  /** Snapshot time travel as a driver-oracled query (Iceberg's
    * `VERSION AS OF`): the table exactly as of the SECOND commit — later
    * files invisible. Shares [[stagedIncrTable]]'s staging, so the two
    * queries cross-check the same lineage from both ends: tbl_travel sees
    * commits 1..2, tbl_incr the complement 2..3. */
  def tblTravel(s: SparkSession, d: String): DataFrame = {
    val (table, ids) = stagedIncrTable(s, d)
    priceC(IcebergLite.readAt(s, table, ids(1)))
  }

  /** The partitioned twin of [[stagedIncrTable]]: same three disjoint
    * `orders` slices, laid out under an identity partition spec on a
    * derived `region` (o_orderkey % 7) so the filtered incremental scan
    * has partition directories to prune. Staged by the same commitId rule. */
  private def stagedIncrPartTable(s: SparkSession, d: String): (String, Seq[Long]) = {
    val table = path("tbl_incrw", d)
    val rows = orders(s, d)
    def regioned(m: Int) = slice(rows, m).withColumn("region", (col("o_orderkey") % 7).cast("int"))
    if (!IcebergLite.alreadyCommitted(table, "base"))
      IcebergLite.createPartitioned(s, regioned(0), table,
        Seq(IcebergLite.PartitionField("region", "region", "identity")),
        Seq("o_orderkey"), "base")
    Seq(1, 2).zip(Seq("day1", "day2")).foreach { case (m, cid) =>
      IcebergLite.appendIdempotent(s, regioned(m), table, Seq("o_orderkey"), cid)
    }
    (table, IcebergLite.snapshots(table))
  }

  /** Filtered incremental scan: the `(base, day2]` delta of a partitioned
    * table, pruned to one region's partition directories BEFORE any file
    * opens ([[graft.table.IcebergLite.readIncrementalWhere]]) — the
    * region-scoped-follower read path. The oracle is the same delta slice
    * with the predicate applied row-level. */
  def tblIncrWhere(s: SparkSession, d: String): DataFrame = {
    val (table, ids) = stagedIncrPartTable(s, d)
    priceC(IcebergLite.readIncrementalWhere(s, table, ids.head, ids.last,
      col("region") === 3))
  }

  /** Write-audit-publish through a writable branch (Iceberg branch refs):
    * two increments are STAGED on an audit branch (main readers never see
    * them — asserted in the query itself), audited via readBranch, then
    * published atomically with fastForward; the branch is dropped after.
    * Staging checks the branch ledger, and a re-run after publish finds
    * `w2` on main's ledger and skips straight to the read. The oracle is
    * the union of all three slices — what main shows only AFTER the
    * publish. */
  def tblWap(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_wap", d)
    val rows = orders(s, d)
    IcebergLite.appendIdempotent(s, slice(rows, 0), table, Seq("o_orderkey"), "base")
    if (!IcebergLite.alreadyCommitted(table, "w2")) { // not yet published
      appendToBranchOnce(s, slice(rows, 1), table, "audit", "w1")
      appendToBranchOnce(s, slice(rows, 2), table, "audit", "w2")
      // audit: staged rows visible on the branch, invisible on main
      require(IcebergLite.readBranch(s, table, "audit").count() >
        IcebergLite.read(s, table).count(), "staged rows leaked to main")
      IcebergLite.fastForward(table, "audit")
    }
    IcebergLite.dropBranch(table, "audit") // deleteIfExists semantics
    priceC(IcebergLite.read(s, table))
  }

  /** Row-level DELETE as a driver query: an O(keys) equality-delete commit
    * ([[graft.table.IcebergLite.deleteKeys]]) removes every 13-divisible
    * key — no data files rewritten (the commit writes ONE delete file) —
    * and the read anti-merges it. Both commits are keyed by commitId. */
  def tblDelete(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_delete", d)
    val base = orders(s, d).where(col("o_orderkey") % 11 < 2)
    IcebergLite.appendIdempotent(s, base, table, Seq("o_orderkey"), "base")
    IcebergLite.deleteKeys(s, table,
      base.where(col("o_orderkey") % 13 === 0).select(col("o_orderkey")), Seq("o_orderkey"), "d1")
    priceC(IcebergLite.read(s, table))
  }

  /** Cherry-pick as a driver query: one increment (`w1`) is staged on a
    * branch forked from `base`, then MAIN advances past the fork (`madv`),
    * so fastForward is impossible, and [[graft.table.IcebergLite.cherryPick]]
    * publishes the increment alone — files adopted by reference into main's
    * lineage. Staging checks the branch ledger; a re-run after the pick
    * finds `w1` on main's ledger and skips straight to the read. */
  def tblCherry(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_cherry", d)
    val rows = orders(s, d)
    IcebergLite.appendIdempotent(s, slice(rows, 0), table, Seq("o_orderkey"), "base")
    if (!IcebergLite.alreadyCommitted(table, "w1")) { // not yet picked
      appendToBranchOnce(s, slice(rows, 1), table, "stage", "w1")
      IcebergLite.appendIdempotent(s, slice(rows, 3), table, Seq("o_orderkey"), "madv")
      IcebergLite.cherryPick(s, table, IcebergLite.branches(table)("stage"))
    }
    IcebergLite.dropBranch(table, "stage")
    priceC(IcebergLite.read(s, table))
  }

  /** Named-tag time travel under retention (Iceberg tag refs): the staged
    * table's mid snapshot is tagged, history behind it expires with
    * keepLast=1, and only the tag's pin keeps the snapshot readable. Every
    * step is idempotent (appendIdempotent ledger, atomic tag replace,
    * re-expire finds nothing), so re-runs are metadata no-ops. */
  def tblTag(s: SparkSession, d: String): DataFrame = {
    val table = path("tbl_tag", d)
    val rows = orders(s, d)
    Seq("base", "day1", "day2").zipWithIndex.foreach { case (cid, m) =>
      IcebergLite.appendIdempotent(s, slice(rows, m), table, Seq("o_orderkey"), cid)
    }
    val ids = IcebergLite.snapshots(table)
    if (ids.size == 3) { // first run (pre-expire lineage intact)
      IcebergLite.setTag(table, "release", ids(1))
      IcebergLite.expireSnapshots(table, keepLast = 1)
    }
    priceC(IcebergLite.readTag(s, table, "release"))
  }

  /** Multi-format timestamp fallback parsing (`utils/prepLS.py:210-218`:
    * several strptime patterns tried in order, dateutil as last resort) —
    * the Spark form is a coalesced `try_to_timestamp` chain: each pattern
    * yields null on mismatch, the first success wins. Raw strings are
    * synthesized in four formats cycling by key; output is the canonical
    * re-rendering of the parsed instant. */
  def q18(s: SparkSession, d: String): DataFrame = {
    val ts = expr("timestampadd(SECOND, cast(o_orderkey % 86400 AS int), cast(o_orderdate AS timestamp))")
    val fam = (col("o_orderkey") % 4).cast("int")
    val raw = when(fam === 0, date_format(ts, "yyyy-MM-dd HH:mm:ss"))
      .when(fam === 1, date_format(ts, "yyyy/MM/dd HH:mm:ss"))
      .when(fam === 2, date_format(ts, "yyyyMMdd"))
      .otherwise(date_format(ts, "dd.MM.yyyy HH:mm:ss"))
    t(s, d, "orders")
      .select(col("o_orderkey"), raw.as("raw"))
      .withColumn("parsed", coalesce(
        expr("try_to_timestamp(raw, 'yyyy-MM-dd HH:mm:ss')"),
        expr("try_to_timestamp(raw, 'yyyy/MM/dd HH:mm:ss')"),
        expr("try_to_timestamp(raw, 'yyyyMMdd')"),
        expr("try_to_timestamp(raw, 'dd.MM.yyyy HH:mm:ss')")))
      .select(col("o_orderkey"), col("raw"),
        date_format(col("parsed"), "yyyy-MM-dd HH:mm:ss").as("parsed_s"))
  }

  /** Per-tile completeness ranking (cells 212-217): tile assignment →
    * per-tile scene counts → priority rank (count desc, tile asc) — the
    * computed form of the reference's hand-maintained priority list. The
    * global window runs over the TILE GRID (dimension-sized, 432 rows),
    * never the doc side. */
  def q19(s: SparkSession, d: String): DataFrame = {
    val counts = GeoQueries.tileAssign(s, d).groupBy("tile_id")
      .agg(count(lit(1)).as("n_scenes"))
    counts.withColumn("priority",
      row_number().over(Window.orderBy(col("n_scenes").desc, col("tile_id"))).cast("long"))
  }

  /** Multi-source fallback (cells 29-31: GCLOUD_PRES flag + size from the
    * Google index when present, ESA otherwise): left join + coalesce — the
    * declarative form of the reference's per-row try-gcloud-else-esa. */
  def q20(s: SparkSession, d: String): DataFrame = {
    val esa = t(s, d, "orders").select(col("o_orderkey").as("scene"),
      floor(col("o_totalprice")).cast("long").as("esa_size"))
    val gcloud = t(s, d, "orders").where(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("scene"),
        floor(col("o_totalprice") * 2).cast("long").as("gc_size"))
    esa.join(gcloud, Seq("scene"), "left")
      .select(col("scene"), col("gc_size").isNotNull.as("gcloud_pres"),
        coalesce(col("gc_size"), col("esa_size")).as("size"))
  }

  /** CSV.gz catalog scan (S2: the GCloud index / USGS bulk-metadata CSVs,
    * cells 20/65/74 — read with header + declared schema, filtered
    * immediately, the reference's "takes too long" hand-optimization that
    * predicate pushdown makes free). The catalog file is synthesized
    * deterministically from orders, written gzipped once per source
    * fingerprint ([[graft.Fs.publishOnce]]: generation never runs inside a
    * timed query body after the first touch), then read through the REAL
    * `spark.read.csv` path. */
  def q21(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Fs.publishOnce(graft.Fs.fixtureRoot("csv_catalog", d,
        java.nio.file.Paths.get(d, "orders.parquet"))) { stage =>
      t(s, d, "orders").select(
        concat(lit("S2A_MSIL1C_T"),
          lpad((col("o_orderkey") % 24).cast("string"), 2, "0"),
          lpad((col("o_orderkey") % 18).cast("string"), 2, "0"),
          lit("_"), lpad(col("o_orderkey").cast("string"), 10, "0")).as("PRODUCT_ID"),
        (col("o_orderkey") % 100).cast("int").as("CLOUD_COVER"),
        floor(col("o_totalprice")).cast("long").as("TOTAL_SIZE"))
        .coalesce(1).write
        .option("header", true).option("compression", "gzip").csv(stage.toString)
    }
    s.read.option("header", true)
      .schema("PRODUCT_ID STRING, CLOUD_COVER INT, TOTAL_SIZE LONG")
      .csv(dir.toString)
      .where(col("CLOUD_COVER") < 20) // pushed into the CSV scan
      .select(col("PRODUCT_ID").as("product_id"), col("CLOUD_COVER").as("cloud_cover"),
        col("TOTAL_SIZE").as("total_size"))
  }

  /** JSON catalog scan (S4's structural Spark mapping: the LAADS per-day
    * JSON responses, cells 166/188 — `spark.read.format("json")` with a
    * declared schema over line-delimited documents, nested field access +
    * filter). The catalog is synthesized deterministically, written as
    * json.gz once per source fingerprint (as q21's), then read through the
    * REAL json source. */
  def q22(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Fs.publishOnce(graft.Fs.fixtureRoot("json_catalog", d,
        java.nio.file.Paths.get(d, "orders.parquet"))) { stage =>
      t(s, d, "orders").select(to_json(struct(
        concat(lit("MCD43A4.A2019"), lpad((col("o_orderkey") % 365 + 1).cast("string"), 3, "0"),
          lit(".h"), lpad((col("o_orderkey") % 24).cast("string"), 2, "0"),
          lit("v"), lpad((col("o_orderkey") % 18).cast("string"), 2, "0")).as("name"),
        struct((col("o_orderkey") % 365 + 1).cast("int").as("day"),
          floor(col("o_totalprice")).cast("long").as("bytes")).as("meta"))).as("value"))
        .coalesce(1).write.option("compression", "gzip").text(stage.toString)
    }
    s.read.schema("name STRING, meta STRUCT<day: INT, bytes: LONG>").json(dir.toString)
      .where(col("meta.day") <= 31) // January acquisitions only
      .select(col("name"), col("meta.day").as("day"), col("meta.bytes").as("bytes"))
  }

  /** As-of join (J9, beyond parity): each click event picks up the user's
    * latest prior (or simultaneous) view event — union + single-sort window,
    * never a per-key theta-join explosion. Oracle: DuckDB's native
    * ASOF LEFT JOIN. */
  def q23(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("probe_id"))
    // b_value deterministically nulled on ~1/7 of builds: the oracle then
    // checks that ALL asof_* attributes come from the single matched row
    // (a per-column null-skipping carry would resurrect an older value)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("b_id"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")).as("b_value"))
    graft.ops.AsOf.join(clicks, views, key = "user_id", ts = "ts",
      probeCols = Seq("probe_id"), buildCols = Seq("b_id", "b_value"))
      .select(col("probe_id"), col("user_id"),
        col("asof_b_id").as("b_id"), col("asof_b_value").as("b_value"))
  }

  /** Job-doc sink semantics (S11): to_json job payload, then from_json
    * re-parse — the exact worker handshake (`worker-s2.ipynb` cell 2).
    * Oracle = identity projection, so the roundtrip must be lossless. */
  def q14(s: SparkSession, d: String): DataFrame = {
    val jobs = t(s, d, "orders").select(
      to_json(struct(col("o_orderkey").as("scene"), col("o_totalprice").as("size"),
        col("o_orderpriority").as("prio"))).as("job"))
    jobs.select(from_json(col("job"),
        lit("struct<scene:long,size:double,prio:string>")).as("j"))
      .select(col("j.scene").as("o_orderkey"), col("j.size").as("o_totalprice"),
        col("j.prio").as("o_orderpriority"))
  }
}
