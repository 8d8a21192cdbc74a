package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the geometry predicates (SURVEY §2.8 geo).
 *
 * These are real `Expression`s with `doGenCode` (static-call codegen, no
 * lambda boxing), so filters/joins built on them stay inside whole-stage
 * codegen — the preference order the engine follows over opaque Scala UDFs.
 * A geometry argument is WKT (string, the reference's boundary
 * representation, `utils/query_utils.py:24-27`) or WKB (binary, the
 * storage-side encoding, ~5× cheaper to parse); parsed/prepared geometries
 * are cached per-thread in [[graft.geom.Geo]].
 */
object GeoCodegen {
  // static forwarders — referenced from generated Java, which picks the
  // overload by the argument's Java type (UTF8String for WKT, byte[] for
  // WKB). An empty geometry intersects nothing and covers no cell (dirty
  // rows drop out of joins and filters instead of failing the task)
  def intersects(a: UTF8String, b: UTF8String): Boolean =
    a.numBytes() > 0 && b.numBytes() > 0 && graft.geom.Geo.intersects(a.toString, b.toString)
  def intersects(wkt: UTF8String, wkb: Array[Byte]): Boolean =
    wkt.numBytes() > 0 && wkb.length > 0 && graft.geom.Geo.intersectsWkb(wkt.toString, wkb)
  def intersects(wkb: Array[Byte], wkt: UTF8String): Boolean = intersects(wkt, wkb)
  def distance(a: UTF8String, b: UTF8String): Double =
    graft.geom.Geo.distance(a.toString, b.toString)
  def cellCover(wkt: UTF8String, res: Int): ArrayData =
    if (wkt.numBytes() == 0) new GenericArrayData(Array.empty[Long])
    else new GenericArrayData(graft.geom.Geo.cellCoverWkt(wkt.toString, res))
  def cellCover(wkb: Array[Byte], res: Int): ArrayData =
    if (wkb.length == 0) new GenericArrayData(Array.empty[Long])
    else new GenericArrayData(graft.geom.Geo.cellCoverWkb(wkb, res))
  /** Merge walk over two sorted, distinct cell arrays: is `cell` their
    * smallest shared id? Stops at the first shared id, or as soon as either
    * side passes `cell`; reads in place, allocates nothing. */
  def firstSharedCell(cell: Long, a: ArrayData, b: ArrayData): Boolean = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x > cell || y > cell) return false
      if (x < y) i += 1
      else if (x > y) j += 1
      else return x == cell
    }
    false
  }
}

/** `st_intersects(a, b)` — exact JTS intersects of two geometries, each WKT
  * or WKB but not both WKB. The WKT argument (the left one when both are
  * WKT) is prepared and kept in the per-thread LRU; the other is parsed
  * through a one-slot memo. A null or empty geometry intersects nothing, so
  * the result is never null. [[CellCoverJoin]] lowers a join whose
  * condition holds this node onto the cell-cover join. */
case class StIntersects(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (_: StringType, (_: StringType) | BinaryType) | (BinaryType, _: StringType) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure("st_intersects takes WKT (string) or WKB " +
      s"(binary) geometries, at most one of them WKB; got (${a.simpleString}, ${b.simpleString})")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = (left.eval(input), right.eval(input)) match {
    case (a: UTF8String, b: UTF8String) => GeoCodegen.intersects(a, b)
    case (a: UTF8String, b: Array[Byte]) => GeoCodegen.intersects(a, b)
    case (a: Array[Byte], b: UTF8String) => GeoCodegen.intersects(a, b)
    case _ => false
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (a, b) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      boolean ${ev.value} = !${a.isNull} && !${b.isNull} &&
        graft.plans.GeoCodegen.intersects(${a.value}, ${b.value});""", isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersects =
    copy(left = l, right = r)
  override def prettyName: String = "st_intersects"
}

/** `st_distance(aWkt, bWkt)` — planar JTS distance in degrees. */
case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoCodegen.distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GeoCodegen.distance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistance =
    copy(left = l, right = r)
  override def prettyName: String = "st_distance"
}

/** `st_cell_cover(geom, res)` — AM-safe hierarchical cell cover of a WKT or
  * WKB geometry (the engine's Generator input: `explode(st_cell_cover(...))`). */
case class StCellCover(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case ((_: StringType) | BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (g, r) => TypeCheckResult.TypeCheckFailure("st_cell_cover takes a WKT (string) or WKB " +
      s"(binary) geometry and an int resolution; got (${g.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any = a match {
    case wkt: UTF8String => GeoCodegen.cellCover(wkt, b.asInstanceOf[Int])
    case wkb: Array[Byte] => GeoCodegen.cellCover(wkb, b.asInstanceOf[Int])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GeoCodegen.cellCover($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCellCover =
    copy(left = l, right = r)
  override def prettyName: String = "st_cell_cover"
}

/** `first_shared_cell(cell, cells, tcells)` — the cover join's shuffle-free
  * dedup: a pair sharing k cells meets in k equi-join rows and is kept only
  * on its smallest shared cell (the reporting-cell trick). Equal to
  * `cell = array_min(array_intersect(cells, tcells))` wherever that is
  * non-null, and false where it is null (no shared cell, or a null input).
  *
  * Precondition: `cells` and `tcells` are sorted ascending, distinct and
  * null-free — what `st_cell_cover` (and `CellIndex.kRing`) return. The
  * merge walk reads them in place and allocates nothing per pair. */
case class FirstSharedCell(cell: Expression, cells: Expression, tcells: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def first: Expression = cell
  override def second: Expression = cells
  override def third: Expression = tcells
  override def inputTypes: Seq[DataType] = Seq(LongType, ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    (cell.eval(input), cells.eval(input), tcells.eval(input)) match {
      case (c: Long, a: ArrayData, b: ArrayData) => GeoCodegen.firstSharedCell(c, a, b)
      case _ => false
    }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (c, a, b) = (cell.genCode(ctx), cells.genCode(ctx), tcells.genCode(ctx))
    ev.copy(code = code"""
      ${c.code}
      ${a.code}
      ${b.code}
      boolean ${ev.value} = !${c.isNull} && !${a.isNull} && !${b.isNull} &&
        graft.plans.GeoCodegen.firstSharedCell(${c.value}, ${a.value}, ${b.value});""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      c: Expression, a: Expression, b: Expression): FirstSharedCell =
    copy(cell = c, cells = a, tcells = b)
  override def prettyName: String = "first_shared_cell"
}

/** Column-API sugar over the native expressions. */
object SpatialColumns {
  def stIntersects(a: Column, b: Column): Column =
    GraftShims.column(StIntersects(GraftShims.expression(a), GraftShims.expression(b)))
  def stDistance(a: Column, b: Column): Column =
    GraftShims.column(StDistance(GraftShims.expression(a), GraftShims.expression(b)))
  def stCellCover(a: Column, res: Column): Column =
    GraftShims.column(StCellCover(GraftShims.expression(a), GraftShims.expression(res)))
  /** Alias of [[stCellCover]], which takes WKB as well as WKT. */
  def stCellCoverWkb(a: Column, res: Column): Column = stCellCover(a, res)
  def firstSharedCell(cell: Column, cells: Column, tcells: Column): Column =
    GraftShims.column(FirstSharedCell(GraftShims.expression(cell),
      GraftShims.expression(cells), GraftShims.expression(tcells)))
}
