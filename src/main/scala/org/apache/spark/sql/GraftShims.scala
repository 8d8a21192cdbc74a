package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ⇄ Expression and LogicalPlan → DataFrame bridge. Spark 4 made the
 * classic converters `private[sql]`; extension libraries that ship native
 * Catalyst expressions and plans (our graft.plans spatial plane)
 * conventionally expose them through a shim in the `org.apache.spark.sql`
 * package — the same pattern Sedona/Delta use.
 */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
