package org.apache.spark.ml

import org.apache.spark.ml.tree.Node

/**
 * Per-class training counts of a trained tree node. `Node.impurityStats` is
 * `private[ml]` (public in bytecode); reading it from this package lets
 * graft.ml walk a fitted forest in memory, in the style of
 * `org.apache.spark.sql.GraftShims`.
 */
object GraftMlShims {
  def classCounts(node: Node): Array[Double] = node.impurityStats.stats
}
