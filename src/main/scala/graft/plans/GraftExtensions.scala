package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Session extensions wiring the spatial plane into Catalyst:
 *
 *   - SQL functions `st_intersects`, `st_distance`, `st_cell_cover`
 *     (native expressions, codegen'd — SURVEY §2.8 geo)
 *   - [[CellCoverJoin]], an optimizer rule: an inner join on `st_intersects`
 *     with no equi-join keys is lowered onto the cell-cover join instead of
 *     a nested-loop cross product
 *
 * `graft.GraftSession.builder` installs them through `spark.sql.extensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => CellCoverJoin)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.plans", null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("st_intersects"),
      info("st_intersects",
        "st_intersects(a, b) - exact intersection of two WKT or WKB geometries (not both WKB)"),
      (c: Seq[Expression]) => StIntersects(c(0), c(1))),
    (FunctionIdentifier("st_distance"),
      info("st_distance", "st_distance(aWkt, bWkt) - planar distance in degrees"),
      (c: Seq[Expression]) => StDistance(c(0), c(1))),
    (FunctionIdentifier("st_cell_cover"),
      info("st_cell_cover",
        "st_cell_cover(geom, res) - AM-safe hierarchical cell cover of a WKT or WKB geometry"),
      (c: Seq[Expression]) => StCellCover(c(0), c(1))),
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - exact cosine similarity of float embeddings"),
      (c: Seq[Expression]) => graft.ann.CosineSim(c(0), c(1))),
    (FunctionIdentifier("quantized_dot"),
      info("quantized_dot", "quantized_dot(a, b) - sum of floor(1024*a_i)*floor(1024*b_i)"),
      (c: Seq[Expression]) => graft.ann.QuantizedDot(c(0), c(1)))
  )

  /** The one place the engine writes session state: retrofits the engine's
    * runtime settings onto a session it did not build (`graft.Verify` and
    * `graft.Bench` build their own) — the functions, the rule unless the
    * session's extensions already run it, the optimizer-rule exclusions
    * merged with the host's own, and the object-aggregate threshold.
    * Idempotent; on a `GraftSession.builder` session it changes nothing.
    * `SparkEntry.queries` calls it before every query. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    val installed = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      spark.experimental.extraOptimizations
    if (!installed.contains(CellCoverJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CellCoverJoin
    val existing = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val merged = (existing ++ graft.GraftSession.ExcludedRules.split(",")).distinct
    spark.conf.set("spark.sql.optimizer.excludedRules", merged.mkString(","))
    spark.conf.set(graft.GraftSession.ObjectAggFallbackThresholdKey,
      graft.GraftSession.ObjectAggFallbackThreshold)
  }
}
