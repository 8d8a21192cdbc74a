package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Explode, Expression, Literal, Pmod, PredicateHelper, XxHash64}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN

/**
 * The engine's one spatial join algorithm, as a logical plan (SURVEY §2.3
 * J1/J2): both sides are covered by spatial cells at resolution `res`,
 * exploded to one row per cell, equi-joined on the cell id, deduplicated
 * without a shuffle and refined with an exact JTS intersects.
 *
 * [[build]] is the only place that plan is written.
 * [[graft.ops.TileAssign.assign]] calls it with an explicit broadcast or
 * shuffle-hash hint; this object, installed as an optimizer rule by
 * [[GraftExtensions]], calls it for SQL-form joins. Without the rule
 * Catalyst can only plan `a JOIN b ON st_intersects(...)` as a
 * BroadcastNestedLoopJoin (O(N·M) — exactly the reference's per-row shapely
 * loop flagged "takes too long", `master_Search_Discover_example.ipynb`
 * cell 10).
 *
 * The rule rewrites an inner join with no equi-join keys whose condition
 * holds an [[StIntersects]] linking its two sides, over WKT or WKB; the
 * other conjuncts stay in the join condition. Broadcast vs shuffle is left
 * to Catalyst's JoinSelection and AQE. A join that already has equi-join
 * keys (the cell join itself included) is left as it is.
 */
object CellCoverJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** Cell resolution of the SQL form: the `TileAssign.assign` default. */
  val SqlResolution = 5

  /**
   * cover → explode → cell equi-join → min-shared-cell dedup → exact refine.
   * Output: `probe.output ++ dim.output`.
   *
   * Two per-row kernels run here. The cover (`Geo.cellCover`) decides each
   * candidate cell per leaf part of the geometry, with an envelope test for
   * rectangles and a JTS intersects only for other leaves. The dedup
   * ([[FirstSharedCell]]) is one merge walk over the two sorted covers that
   * keeps a pair only on its smallest shared cell.
   *
   * @param probeGeom probe geometry: WKT (string) or WKB (binary, the
   *                  storage-side encoding — ~5× cheaper to parse)
   * @param dimGeom   dimension geometry, WKT or WKB; at most one of the two
   *                  is WKB. The refine prepares the WKT one (the dim side
   *                  when both are WKT) once per task via the LRU
   * @param saltBuckets >1 adds a deterministic salt as a second join key on
   *                  the probe side and explodes the dim side ×S
   * @param rest      extra conjuncts kept in the join condition
   */
  def build(probe: LogicalPlan, probeGeom: Expression, dim: LogicalPlan, dimGeom: Expression,
            res: Int, hint: JoinHint, saltBuckets: Int = 1,
            rest: Option[Expression] = None): LogicalPlan = {
    val r = Literal(res)
    val pCells = Alias(StCellCover(probeGeom, r), "__cells")()
    val dCells = Alias(StCellCover(dimGeom, r), "__tcells")()
    val (pc, pCell) = explode(pCells.toAttribute, "__cell", Project(probe.output :+ pCells, probe))
    val (dc, dCell) = explode(dCells.toAttribute, "__cell", Project(dim.output :+ dCells, dim))
    val (pk, dk, keys) =
      if (saltBuckets <= 1) (pc, dc, Seq(EqualTo(pCell, dCell)))
      else {
        // probe rows get one deterministic salt; dim rows replicate ×S; both
        // salts are longs, so (__cell, __salt) is a typed two-column key
        val pSalt = Alias(Pmod(new XxHash64(Seq(probeGeom)), Literal(saltBuckets.toLong)), "__salt")()
        val (ds, dSalt) = explode(Literal((0L until saltBuckets.toLong).toArray), "__salt", dc)
        (Project(pc.output :+ pSalt, pc), ds,
          Seq(EqualTo(pCell, dCell), EqualTo(pSalt.toAttribute, dSalt)))
      }
    // shuffle-free dedup: a pair sharing k cells is emitted only on its
    // smallest shared cell (the reporting-cell trick), never dropDuplicates;
    // one allocation-free merge walk over the two sorted covers
    val dedup = FirstSharedCell(pCell, pCells.toAttribute, dCells.toAttribute)
    // exact geometric refine (reference: shapely intersects, cell 10)
    val refine = StIntersects(dimGeom, probeGeom)
    Project(probe.output ++ dim.output,
      Join(pk, dk, Inner, Some((Seq(dedup, refine) ++ rest ++ keys).reduce(And)), hint))
  }

  private def explode(array: Expression, name: String, child: LogicalPlan): (Generate, Attribute) = {
    val gen = Explode(array)
    val field = gen.elementSchema.head
    val out = AttributeReference(name, field.dataType, field.nullable)()
    (Generate(gen, Nil, outer = false, None, Seq(out), child), out)
  }

  private def within(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(left, right, Inner, Some(cond), hint) if ExtractEquiJoinKeys.unapply(j).isEmpty =>
        val conjuncts = splitConjunctivePredicates(cond)
        conjuncts.collectFirst {
          case si @ StIntersects(a, b) if si.deterministic && within(a, left) && within(b, right) =>
            (si, a, b)
          case si @ StIntersects(a, b) if si.deterministic && within(b, left) && within(a, right) =>
            (si, b, a)
        }.fold(j: LogicalPlan) { case (si, leftGeom, rightGeom) =>
          build(left, leftGeom, right, rightGeom, SqlResolution, hint,
            rest = conjuncts.filterNot(_ eq si).reduceOption(And))
        }
    }
}
