package graft.ml

import org.apache.spark.ml.GraftMlShims
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, Node}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/**
 * Array-encoded random forest for O(trees × depth) per-row vote evaluation.
 *
 * Why not render the forest as nested `when`/CASE Columns: a depth-5 tree is
 * ~63 CASE nodes, and the two per-class vote folds across 4 trees inline the
 * cascades into every consuming output expression — the generated Java
 * method exceeds HotSpot's 8 KB JIT limit and the whole stage runs in the
 * bytecode INTERPRETER (measured: ~7 µs/row, ~5 s over the sf0.1 pixel
 * table, unchanged across reruns). This expression walks the same trees as
 * compact arrays behind one tiny JIT-friendly static-shaped call: ~20
 * comparisons/row.
 *
 * Arithmetic is bit-identical to `RandomForestClassificationModel.predictRaw`
 * (and to the DuckDB CASE-cascade oracle): per-tree leaf contributions
 * `p_c = stats_c / ((0.0 + s0) + s1)` are precomputed by [[RfForest.fromModel]]
 * with that exact fold, and votes accumulate `v_c += p_c` in tree order. The
 * oracle SQL renders its leaf literals from the same `p0`/`p1`.
 */
final class RfForest(
    val feature: Array[Array[Int]], val threshold: Array[Array[Double]],
    val left: Array[Array[Int]], val right: Array[Array[Int]],
    val p0: Array[Array[Double]], val p1: Array[Array[Double]]) extends Serializable {

  def votes(f: Array[Double]): GenericArrayData = {
    var v0 = 0.0
    var v1 = 0.0
    var t = 0
    while (t < feature.length) {
      var n = 0
      while (left(t)(n) != -1) {
        n = if (f(feature(t)(n)) <= threshold(t)(n)) left(t)(n) else right(t)(n)
      }
      v0 += p0(t)(n)
      v1 += p1(t)(n)
      t += 1
    }
    new GenericArrayData(Array(v0, v1))
  }
}

object RfForest {
  /** The trained forest, read in memory from each tree's `rootNode` in
    * `model.trees` order (the order `predictRaw` visits). Nodes are numbered
    * in preorder as spark.ml's own export (`NodeData.build`) numbers them:
    * left = id + 1, right = last id of the left subtree + 1. Leaves carry
    * feature −1, threshold 0.0 and children −1. Only a `ContinuousSplit`
    * routes on `feature <= threshold`, so any other split kind throws
    * instead of being misread as a threshold. */
  def fromModel(model: RandomForestClassificationModel): RfForest = {
    val enc = model.trees.zipWithIndex.map { case (tree, t) =>
      val n = tree.numNodes
      val fe = Array.fill(n)(-1); val th = new Array[Double](n)
      val lf = Array.fill(n)(-1); val rt = Array.fill(n)(-1)
      val a0 = new Array[Double](n); val a1 = new Array[Double](n)
      // fills node `id` and its subtree; returns the subtree's last id
      def walk(node: Node, id: Int): Int = {
        val c = GraftMlShims.classCounts(node)
        val total = (0.0 + c(0)) + c(1) // Array[Double].sum fold order
        // predictRaw skips trees whose leaf stats sum to 0 (adds nothing to
        // the votes) — a 0/0 here would instead poison the fold with NaN
        a0(id) = if (total == 0.0) 0.0 else c(0) / total
        a1(id) = if (total == 0.0) 0.0 else c(1) / total
        node match {
          case in: InternalNode =>
            in.split match {
              case s: ContinuousSplit => fe(id) = s.featureIndex; th(id) = s.threshold
              case s => throw new IllegalArgumentException(
                s"tree $t node $id: ${s.getClass.getSimpleName} on feature ${s.featureIndex}" +
                  " (only continuous splits are supported)")
            }
            lf(id) = id + 1
            val lastLeft = walk(in.leftChild, id + 1)
            rt(id) = lastLeft + 1
            walk(in.rightChild, lastLeft + 1)
          case _ => id
        }
      }
      walk(tree.rootNode, 0)
      (fe, th, lf, rt, a0, a1)
    }
    new RfForest(enc.map(_._1), enc.map(_._2), enc.map(_._3),
      enc.map(_._4), enc.map(_._5), enc.map(_._6))
  }
}

/** `rf_votes(f0, f1, ...)` → array(v0, v1): the forest's per-class raw votes
  * as a native codegen'd expression (one reference-object call per row). */
case class RfForestVotes(forest: RfForest, features: Seq[Expression]) extends Expression {
  override def children: Seq[Expression] = features
  override def nullable: Boolean = features.exists(_.nullable)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // eval asInstanceOf[Double]s each child — fail at analysis, not mid-task
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    features.find(_.dataType != DoubleType) match {
      case None => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case Some(bad) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires double features, got ${bad.dataType}")
    }

  override def eval(input: InternalRow): Any = {
    val f = new Array[Double](features.length)
    var i = 0
    while (i < features.length) {
      val v = features(i).eval(input)
      if (v == null) return null
      f(i) = v.asInstanceOf[Double]
      i += 1
    }
    forest.votes(f)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rfForest", forest, classOf[RfForest].getName)
    val evals = features.map(_.genCode(ctx))
    val fArr = ctx.freshName("rfFeat")
    val fill = evals.zipWithIndex.map { case (e, i) => s"$fArr[$i] = ${e.value};" }
      .mkString("\n")
    val anyNull =
      if (nullable) evals.map(_.isNull).mkString("(", " || ", ")") else "false"
    ev.copy(code = code"""
      ${evals.map(_.code.toString).mkString("\n")}
      boolean ${ev.isNull} = $anyNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        double[] $fArr = new double[${features.length}];
        $fill
        ${ev.value} = $ref.votes($fArr);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RfForestVotes = copy(features = newChildren)
  override def prettyName: String = "rf_votes"
}
