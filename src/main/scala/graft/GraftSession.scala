package graft

import org.apache.spark.sql.SparkSession

/**
 * Canonical session factory: the configuration the engine is designed for.
 * AQE on (skew-join splitting + partition coalescing are part of the skew
 * story, SURVEY §4.2), shuffle partitions sized to the machine rather than
 * the 200 default, UTC sessions, and the graft Catalyst extensions
 * (native spatial expressions + the CellCoverJoin rule) installed. Other
 * sessions get the runtime part from [[graft.plans.GraftExtensions.register]].
 */
object GraftSession {

  /** The cover join explodes `st_cell_cover`. InferFiltersFromGenerate
    * infers `size(cells) > 0 AND isnotnull(cells)` from that explode and
    * InferFiltersFromConstraints re-adds the isnotnull; predicate pushdown
    * then SUBSTITUTES the geometry parse + cover into a filter below the
    * upstream exchange, running it 1-2 extra times per row (measured with the
    * cover as a UDF: flagship join 25-40% slower with either rule on). The
    * filters buy nothing: a null or empty geometry's cover explodes to no
    * row anyway. A nondeterministic fence on the cover would also stop the
    * substitution but kills column pruning through the projection (1.5×
    * scan cost: the scan then reads the spans it doesn't need). */
  val ExcludedRules: String = Seq(
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
  ).mkString(",")

  /** Object aggregates (geomedian, percentile, struct extrema,
    * collect_list) fall back to SORT-based aggregation after 128 distinct
    * keys per partition by default, sorting every input row by group key.
    * The pixel plane has thousands of live groups per partition with compact
    * flat buffers; keeping them hashed is faster (measured ~0.3 s on
    * px_geomedian at sf0.1). The cost: the sort fallback is also
    * ObjectHashAggregate's only spill path, so buffers stay in memory until
    * a task holds this many groups. Purely physical: results are unaffected. */
  val ObjectAggFallbackThresholdKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjectAggFallbackThreshold = "65536"

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      .config(ObjectAggFallbackThresholdKey, ObjectAggFallbackThreshold)
      .config("spark.sql.session.timeZone", "UTC")

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
