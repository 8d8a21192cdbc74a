package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Expression, JoinedRow, PredicateHelper, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.index.strtree.STRtree

import scala.jdk.CollectionConverters._

/**
 * Planner strategy: an inner join whose condition contains a native
 * [[StIntersects]] predicate linking the two sides is planned as a
 * [[BroadcastSpatialJoinExec]] — the smaller side (by logical-plan stats) is
 * collected, broadcast, and indexed in a partition-local JTS STRtree; the big
 * side is probed streaming, envelope-first, exact-refine second.
 *
 * This is the `SparkSessionExtensions` form of the engine's core operator:
 * without it Catalyst can only plan `a JOIN b ON st_intersects(...)` as a
 * BroadcastNestedLoopJoin (O(N·M) — exactly the reference's per-row shapely
 * loop flagged "takes too long", `master_Search_Discover_example.ipynb`
 * cell 10). The R-tree probe makes it O(N·log M).
 *
 * It declines (returns Nil, leaving Catalyst's default) any join with
 * equi-join keys: that is no nested loop, Catalyst plans it as a hash join
 * with `st_intersects` as residual — how the cell-cover join
 * ([[graft.ops.SpatialJoin.intersectJoin]]) keeps its plan. It also declines
 * when broadcasting is off or the smaller side exceeds 8× the threshold.
 */
object SpatialJoinStrategy extends SparkStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractEquiJoinKeys(_, _, _, _, _, _, _, _) => Nil
    case Join(left, right, Inner, Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val matched = conjuncts.collectFirst {
        case si @ StIntersects(a, b)
            if a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet) =>
          (si, a, b)
        case si @ StIntersects(a, b)
            if b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet) =>
          (si, b, a)
      }
      matched match {
        case Some((si, leftWkt, rightWkt)) =>
          val rest = conjuncts.filterNot(_ eq si).reduceOption(And)
          val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
          // a user who disabled broadcasting (threshold <= 0) must never get a
          // driver collect from this strategy — decline and let the caller use
          // the shuffled cell-cover join
          if (threshold <= 0) return Nil
          val maxBuild = math.max(threshold, 10L << 20) * 8
          val buildRightSide = right.stats.sizeInBytes <= left.stats.sizeInBytes
          val buildStats = (if (buildRightSide) right else left).stats.sizeInBytes
          if (buildStats > maxBuild) Nil // too big to broadcast; caller should cell-cover join
          else if (buildRightSide)
            BroadcastSpatialJoinExec(planLater(left), planLater(right),
              leftWkt, rightWkt, rest, buildRight = true) :: Nil
          else
            BroadcastSpatialJoinExec(planLater(right), planLater(left),
              rightWkt, leftWkt, rest, buildRight = false) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}

/**
 * Physical spatial join: `build` (small) side collected + broadcast once,
 * STRtree built once per task over its parsed geometries; `streamed` rows
 * probe by envelope then refine with a prepared-geometry exact intersects.
 *
 * @param streamedWkt WKT expression over the streamed side's output
 * @param buildWkt    WKT expression over the build side's output
 * @param extraCond   remaining conjuncts of the join condition, evaluated on
 *                    the joined row
 * @param buildRight  true if `build` is the logical right side (controls
 *                    output column order)
 */
case class BroadcastSpatialJoinExec(
    streamed: SparkPlan, build: SparkPlan,
    streamedWkt: Expression, buildWkt: Expression,
    extraCond: Option[Expression], buildRight: Boolean) extends SparkPlan {

  override def children: Seq[SparkPlan] = Seq(streamed, build)

  override def output: Seq[Attribute] =
    if (buildRight) streamed.output ++ build.output else build.output ++ streamed.output

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[SparkPlan]): SparkPlan =
    copy(streamed = newChildren(0), build = newChildren(1))

  protected override def doExecute(): RDD[InternalRow] = {
    val buildRows = build.executeCollect().map(_.copy())
    val bc = sparkContext.broadcast(buildRows)
    val buildWktBound = BindReferences.bindReference(buildWkt, build.output)
    val streamWktBound = BindReferences.bindReference(streamedWkt, streamed.output)
    val condBound = extraCond.map(BindReferences.bindReference(_, output))
    val buildIsRight = buildRight
    val outAttrs = output

    streamed.execute().mapPartitions { iter =>
      val tree = new STRtree()
      bc.value.foreach { r =>
        val w = buildWktBound.eval(r)
        if (w != null) {
          val g = graft.geom.Geo.fromWkt(w.asInstanceOf[UTF8String].toString)
          tree.insert(g.getEnvelopeInternal, (g, r))
        }
      }
      tree.build()
      val joined = new JoinedRow
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      iter.flatMap { srow =>
        val w = streamWktBound.eval(srow)
        if (w == null) Iterator.empty
        else {
          val g = graft.geom.Geo.fromWkt(w.asInstanceOf[UTF8String].toString)
          val prep = PreparedGeometryFactory.prepare(g)
          tree.query(g.getEnvelopeInternal).asScala.iterator
            .map(_.asInstanceOf[(Geometry, InternalRow)])
            .filter { case (bg, _) => prep.intersects(bg) }
            .map { case (_, brow) =>
              if (buildIsRight) joined(srow, brow) else joined(brow, srow)
            }
            .filter(r => condBound.forall(c => java.lang.Boolean.TRUE == c.eval(r)))
            .map(toUnsafe)
        }
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"BroadcastSpatialJoinExec [STRtree on ${if (buildRight) "right" else "left"}] " +
      s"probe=${streamedWkt.sql} build=${buildWkt.sql}"
}
