package graft

import org.apache.spark.sql.SparkSession

/**
 * Canonical session factory: the configuration the engine is designed for.
 * AQE on (skew-join splitting + partition coalescing are part of the skew
 * story, SURVEY §4.2), shuffle partitions sized to the machine rather than
 * the 200 default, UTC sessions, and the graft Catalyst extensions
 * (native spatial expressions + the CellCoverJoin rule) installed.
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

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      // object aggregates (geomedian, collect_list) fall back to SORT-based
      // aggregation after 128 distinct keys per partition by default —
      // sorting every input row by group key. The pixel plane has thousands
      // of live groups per partition with compact flat buffers; keeping them
      // hashed is both faster (measured ~0.3 s on px_geomedian at sf0.1)
      // and the right 100 TB posture (buffer memory is bounded by
      // groups-per-partition, not input rows)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")

  /** The object-aggregate hash-vs-sort posture for sessions the engine did
    * NOT build (the frozen driver mains construct their own sessions):
    * runtime-settable, so operators whose aggregation buffers are objects
    * (geomedian's flat GmBuf, percentile, struct extrema, collect_list) apply
    * it at query-build time. Identical rationale to the builder config
    * above — with the 128-key default every partition of a
    * thousands-of-groups pixel aggregation abandons hashing and SORTS every
    * input row by group key; hashed buffers are bounded by
    * groups-per-partition, the right posture at any scale. Purely physical:
    * results are unaffected. */
  def tuneObjectAgg(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    s
  }

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
