package graft.ml

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Per-scene random-forest water classifier (SURVEY §2.9; reference
 * `utils/genprepMLWater.py:255-358`), re-expressed on spark.ml over the
 * long-form pixel table instead of scikit-learn over stacked numpy arrays.
 *
 * Reference semantics preserved:
 *  - label: WOfS-summary persistence `pc >= 50` → water(1), else 0
 *    (`:286-289`, water_thresh = 50)
 *  - training rows: inner valid mask (img ∧ lab) (`:281-283`)
 *  - class-count guard: ≥ `minPerClass` (2000) samples per class (`:299-302`)
 *  - model: 4 trees, depth 5, sqrt feature subset, bootstrap (`:317-323`)
 *  - outputs: water_mask ∈ {0, 1}, water_prob = P(water)·100 as int,
 *    −9999 outside the image valid mask (`:329-358`)
 *
 * Prediction is NOT `model.transform`: the trained forest is read in
 * memory from the fitted model into [[RfForest]]'s arrays
 * ([[RfForest.fromModel]]), which a native expression evaluates with the
 * `predictRaw` + probability-normalize + argmax arithmetic op for op. That
 * buys three things at once:
 *  - whole-stage codegen on the hot path (no ScalaUDF, no Vector boxing);
 *  - no task-serialized model closure — spark.ml's transform UDF captures
 *    the model, whose trainingSummary drags the whole SparkSession (and its
 *    non-serializable ObservationManager once any `Dataset.observe` ran in
 *    the session) into the task binary;
 *  - the SAME arrays render an ANSI-SQL twin ([[oracleSql]]), so the
 *    trained model's predictions are DuckDB-oracle-checkable bit for bit.
 */
object MLWater {

  final case class Params(
      waterThresh: Double = 50.0,
      minPerClass: Long = 2000L,
      numTrees: Int = 4,
      maxDepth: Int = 5,
      seed: Long = 42L,
      // FIXED training layout: RF bootstrap sampling is partition-dependent,
      // so the spread must not track session parallelism — a fixed width
      // keeps the trained model (hence predictions) byte-identical across
      // cluster sizes (the local[2] ≡ local[16] determinism sweep).
      trainPartitions: Int = 32)

  val Nodata: Int = -9999

  /** Reference `:286-289`: persistence ≥ thresh → 1.0 else 0.0 (NULL-safe). */
  def waterLabel(pc: Column, thresh: Double = 50.0): Column =
    when(pc >= thresh, 1.0).otherwise(0.0)

  /** Guard `:299-302`: every class must clear `minPerClass`, and both
    * classes must be present. Throws like the reference (log-and-raise). */
  def assertClassCounts(labeled: DataFrame, labelCol: String, minPerClass: Long): Unit = {
    val counts = labeled.groupBy(labelCol).count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    require(counts.size == 2 && counts.values.forall(_ >= minPerClass),
      s"class counts below training minimum $minPerClass: $counts")
  }

  /** Train on the inner-valid-mask rows of `px`. */
  def train(px: DataFrame, bands: Seq[String], pcCol: String,
            validImg: Column, validLab: Column,
            p: Params = Params()): RandomForestClassificationModel = {
    val selected = px.where(validImg && validLab)
      .withColumn("label", waterLabel(col(pcCol), p.waterThresh))
      .select(col("label") +: bands.map(b => col(b).cast("double")): _*)
    // RF runs one distributed pass per tree level: with fewer input splits
    // than cores those passes run underparallelized (measured: 3 partitions
    // on the sf0.1 pixel table) — spread the persisted training set first,
    // to a FIXED width (see Params.trainPartitions)
    val labeled = selected.repartition(p.trainPartitions)
      .persist() // guard pass + RF's tree-depth passes reuse it, then release
    try {
      assertClassCounts(labeled, "label", p.minPerClass)
      val assembled = new VectorAssembler()
        .setInputCols(bands.toArray).setOutputCol("features")
        .setHandleInvalid("keep")
        .transform(labeled)
      new RandomForestClassifier()
        .setNumTrees(p.numTrees)
        .setMaxDepth(p.maxDepth)
        .setFeatureSubsetStrategy("sqrt")
        .setSeed(p.seed)
        .fit(assembled)
    } finally labeled.unpersist()
  }

  /** Predict over the image-valid rows; invalid rows → −9999 on both
    * outputs (reference `:329-358`). Keeps `keys` passthrough columns.
    * water_mask = argmax(probability) (ties → class 0, Vector.argmax);
    * water_prob = ⌊P(water)·100⌋ as int — exactly model.transform's
    * outputs (MLWaterSpec proves bit-parity vs predictProbability).
    * The per-tree vote folds run inside [[RfForestVotes]] — a native
    * codegen'd expression (see its scaladoc for why not CASE cascades). */
  def predictFromForest(forest: RfForest, px: DataFrame, bands: Seq[String],
                        validImg: Column, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftShims
    val feats = bands.map(b => col(b).cast("double"))
    val votesCol = GraftShims.column(
      RfForestVotes(forest, feats.map(GraftShims.expression)))
    val v0 = col("__votes").getItem(0)
    val v1 = col("__votes").getItem(1)
    val prob1 = v1 / (v0 + v1) // normalizeToProbabilitiesInPlace
    // a row with any NULL band is unclassifiable → nodata on both outputs,
    // same rule the oracle SQL applies (a null would otherwise fall through
    // a CASE cascade's ELSE arms and fabricate a prediction)
    val valid = bands.map(col(_).isNotNull).foldLeft(validImg)(_ && _)
    px.withColumn("__valid", valid).withColumn("__votes", votesCol).select(
      keys.map(col) :+
        when(col("__valid"), when(v1 > v0, 1).otherwise(0)).otherwise(Nodata).as("water_mask") :+
        when(col("__valid"), (prob1 * 100).cast("int")).otherwise(Nodata).as("water_prob"): _*)
  }

  /** [[predictFromForest]] with the forest read from `model` (one-shot callers). */
  def predict(model: RandomForestClassificationModel, px: DataFrame,
              bands: Seq[String], validImg: Column, keys: Seq[String]): DataFrame =
    predictFromForest(RfForest.fromModel(model), px, bands, validImg, keys)

  // ---------------- DuckDB oracle rendering ----------------

  private def classTermSql(forest: RfForest, t: Int, id: Int, feats: Seq[String],
                           cls: Int): String =
    if (forest.left(t)(id) == -1) (if (cls == 0) forest.p0 else forest.p1)(t)(id).toString
    else
      s"CASE WHEN ${feats(forest.feature(t)(id))} <= ${forest.threshold(t)(id)} " +
        s"THEN ${classTermSql(forest, t, forest.left(t)(id), feats, cls)} " +
        s"ELSE ${classTermSql(forest, t, forest.right(t)(id), feats, cls)} END"

  private def votesSql(forest: RfForest, feats: Seq[String], cls: Int): String =
    forest.feature.indices.foldLeft("0.0")((acc, t) =>
      s"($acc + ${classTermSql(forest, t, 0, feats, cls)})")

  /** ANSI-SQL twin of [[predictFromForest]] over `pixelsSql`: tree CASE
    * cascades whose leaf literals are the forest's own `p0`/`p1`, the
    * identical left-assoc vote folds, majority vote, truncated percent —
    * bit-exact vs the engine because every double op matches in value and
    * order. */
  def oracleSql(forest: RfForest, pixelsSql: String, validSql: String,
                bands: Seq[String], keys: Seq[String]): String = {
    val feats = bands.map(b => s"cast($b AS double)")
    val ks = keys.mkString(", ")
    val validAll = (s"($validSql)" +: bands.map(b => s"$b IS NOT NULL")).mkString(" AND ")
    s"""WITH px AS ($pixelsSql),
       |t AS (SELECT $ks, ($validAll) AS valid,
       |  ${votesSql(forest, feats, 0)} AS v0,
       |  ${votesSql(forest, feats, 1)} AS v1
       |  FROM px)
       |SELECT $ks,
       |  CASE WHEN valid THEN (CASE WHEN v1 > v0 THEN 1 ELSE 0 END) ELSE -9999 END AS water_mask,
       |  CASE WHEN valid THEN cast(trunc((v1 / (v0 + v1)) * 100) AS int) ELSE -9999 END AS water_prob
       |FROM t""".stripMargin
  }
}
