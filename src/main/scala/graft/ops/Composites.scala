package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders

/**
 * Per-pixel temporal composites (SURVEY §2.4 A7–A11) — Spark-first forms of
 * `utils/dc_mosaic.py`:
 *  - mean (`:121-165`): `avg(when(valid, v))` — partial+final hash agg
 *  - median (`:168-212`): exact `percentile` (parity); `percentile_approx`
 *    is the documented 100 TB alternative
 *  - most-recent-valid (`:55-119`): `max_by`-style lexicographic struct max —
 *    no window shuffle, single agg
 *  - max-NDVI (`:215-345`): argmax via struct max carrying all bands
 *  - OR-fold of masks through time (`dc_clean_mask.py:44-64`): `bool_or`
 *
 * All are algebraic aggregates: map-side partial combine keeps shuffle
 * volume at |pixels| regardless of time depth.
 */
object Composites {

  def valid(v: Column, nodata: Int = -9999): Column = v =!= nodata

  def meanComposite(px: DataFrame, keys: Seq[String], v: String): DataFrame =
    px.groupBy(keys.map(col): _*)
      .agg(avg(when(valid(col(v)), col(v))).as("mean_v"))

  def medianComposite(px: DataFrame, keys: Seq[String], v: String): DataFrame =
    px.groupBy(keys.map(col): _*)
      .agg(percentile(when(valid(col(v)), col(v)), lit(0.5)).as("median_v"))

  /** Most-recent valid observation of all carried columns; deterministic via
    * full lexicographic tie-break (ts, then carried cols). Aggregated with
    * [[StructExtremum]] (hashed argmax) — `max(struct)` would plan a
    * SortAggregate, sorting every row by pixel key on both exchange sides. */
  def mostRecentValid(px: DataFrame, keys: Seq[String], ts: String,
                      carried: Seq[String], v: String): DataFrame = {
    val packed = struct((col(ts) +: carried.map(col)): _*)
    val agged = px.where(valid(col(v)))
      .groupBy(keys.map(col): _*)
      .agg(StructExtremum.structMax(packed).as("__top"))
    carried.foldLeft(agged)((df, c) => df.withColumn(c, col(s"__top.$c"))).drop("__top")
  }

  /** NDVI = (nir − red) / (nir + red) (`utils/prepS2.py:299-323`,
    * `dc_mosaic.py:266`). */
  def ndvi: Column = (col("nir") - col("red")).cast("double") / (col("nir") + col("red"))
  val ndviSql: String = "(cast(nir - red AS double) / (nir + red))"

  /** Argmax-of-NDVI composite carrying all bands; ties broken by the carried
    * key columns (lexicographic struct max ≡ ORDER BY ... DESC LIMIT 1). */
  def maxNdviComposite(px: DataFrame, keys: Seq[String], tieBreak: Seq[String],
                       bands: Seq[String]): DataFrame = {
    val packed = struct((ndvi.as("__ndvi") +: tieBreak.map(col)) ++ bands.map(col): _*)
    val agged = px.groupBy(keys.map(col): _*)
      .agg(StructExtremum.structMax(packed).as("__top"))
    bands.foldLeft(agged)((df, b) => df.withColumn(b, col(s"__top.$b")))
      .withColumn("best_ndvi", col("__top.__ndvi")).drop("__top")
  }

  /** Argmin-of-NDVI composite (`dc_mosaic.py:215-345` min_ndvi kwarg). */
  def minNdviComposite(px: DataFrame, keys: Seq[String], tieBreak: Seq[String],
                       bands: Seq[String]): DataFrame = {
    val packed = struct((ndvi.as("__ndvi") +: tieBreak.map(col)) ++ bands.map(col): _*)
    val agged = px.groupBy(keys.map(col): _*)
      .agg(StructExtremum.structMin(packed).as("__top"))
    bands.foldLeft(agged)((df, b) => df.withColumn(b, col(s"__top.$b")))
      .withColumn("best_ndvi", col("__top.__ndvi")).drop("__top")
  }

  /** OR-fold of boolean masks through time (A12). */
  def anyThroughTime(px: DataFrame, keys: Seq[String], mask: Column): DataFrame =
    px.groupBy(keys.map(col): _*).agg(max(mask.cast("int")).cast("boolean").as("any_mask"))

  /**
   * DuckDB twin of the fixed-step geomedian ([[GeomedianVec]] with
   * `tol = 0`): one chained CTE per Weiszfeld iteration, each mirroring
   * [[Weiszfeld.weiszfeld]]'s arithmetic op for op — the 1/dist weights,
   * the Vardi–Zhang coincident-point correction (r̃ = num − den·cur,
   * ‖r̃‖ ≤ η ⇒ stay), and the den = 0 freeze. The start (per-band mean) is
   * integer-sum exact; the only cross-engine leak is float summation order
   * inside one aggregate, ~1e-13 relative, absorbed by the 6-dp rounding of
   * the emitting query. */
  def geomedianOracleSql(pixelsSql: String, iters: Int): String =
    s"""${weiszfeldCtes(pixelsSql, iters)}
       |SELECT py, px, round(cb, 6) AS gm_blue, round(cn, 6) AS gm_nir, round(cr, 6) AS gm_red
       |FROM it$iters""".stripMargin

  /** The shared fixed-step Weiszfeld CTE chain (pts, it0, it1..itN) —
    * composed by both the geomedian and the geomedoid oracle. */
  private def weiszfeldCtes(pixelsSql: String, iters: Int): String = {
    def dist2(b: String, n: String, r: String, cb: String, cn: String, cr: String) =
      s"((($b - $cb) * ($b - $cb) + ($n - $cn) * ($n - $cn)) + ($r - $cr) * ($r - $cr))"
    def step(i: Int): String = {
      val prev = if (i == 1) "it0" else s"it${i - 1}"
      s"""ag$i AS (
         |  SELECT c.py, c.px, c.cb, c.cn, c.cr,
         |    sum(p.b * (1.0 / sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")})))
         |      FILTER (WHERE sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")}) >= 1e-12) AS numb,
         |    sum(p.n * (1.0 / sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")})))
         |      FILTER (WHERE sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")}) >= 1e-12) AS numn,
         |    sum(p.r * (1.0 / sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")})))
         |      FILTER (WHERE sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")}) >= 1e-12) AS numr,
         |    sum(1.0 / sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")}))
         |      FILTER (WHERE sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")}) >= 1e-12) AS den,
         |    count(*) FILTER (WHERE sqrt(${dist2("p.b", "p.n", "p.r", "c.cb", "c.cn", "c.cr")}) < 1e-12) AS eta
         |  FROM $prev c JOIN pts p ON p.py = c.py AND p.px = c.px
         |  GROUP BY c.py, c.px, c.cb, c.cn, c.cr),
         |rn$i AS (
         |  SELECT *, sqrt(((numb - den * cb) * (numb - den * cb)
         |                  + (numn - den * cn) * (numn - den * cn))
         |                 + (numr - den * cr) * (numr - den * cr)) AS rnorm
         |  FROM ag$i),
         |it$i AS MATERIALIZED (
         |  SELECT py, px,
         |    CASE WHEN den IS NULL THEN cb
         |         WHEN eta > 0 AND rnorm <= eta THEN cb
         |         WHEN eta > 0 THEN (1.0 - eta / rnorm) * (numb / den) + (eta / rnorm) * cb
         |         ELSE numb / den END AS cb,
         |    CASE WHEN den IS NULL THEN cn
         |         WHEN eta > 0 AND rnorm <= eta THEN cn
         |         WHEN eta > 0 THEN (1.0 - eta / rnorm) * (numn / den) + (eta / rnorm) * cn
         |         ELSE numn / den END AS cn,
         |    CASE WHEN den IS NULL THEN cr
         |         WHEN eta > 0 AND rnorm <= eta THEN cr
         |         WHEN eta > 0 THEN (1.0 - eta / rnorm) * (numr / den) + (eta / rnorm) * cr
         |         ELSE numr / den END AS cr
         |  FROM rn$i)""".stripMargin
    }
    s"""WITH px AS ($pixelsSql),
       |pts AS MATERIALIZED (SELECT py, px, cast(blue AS double) AS b, cast(nir AS double) AS n,
       |               cast(red AS double) AS r FROM px),
       |it0 AS MATERIALIZED (SELECT py, px, sum(b) / count(*) AS cb, sum(n) / count(*) AS cn,
       |               sum(r) / count(*) AS cr
       |        FROM pts GROUP BY py, px),
       |${(1 to iters).map(step).mkString(",\n")}""".stripMargin
  }

  /**
   * Geomedoid composite (A9's second variant, `utils/dc_mosaic.py:558-584`):
   * the OBSERVED band vector nearest the geomedian — guarantees the
   * composite is a real spectrum, not a synthetic point. Two aggregations,
   * both shuffled on the pixel key only: the fixed-step geomedian, then an
   * argmin via lexicographic struct-min (no window, map-side combinable).
   *
   * The center is rounded to 6 dp BEFORE the argmin (this is the operator's
   * defined parameterization, like the fixed-step iteration count): both
   * engines then measure distances from the identical doubles, so the
   * argmin — including its (d², bands…) tie order — is oracle-exact.
   */
  def geomedoidComposite(px: DataFrame, keys: Seq[String], bands: Seq[String],
                         iters: Int = 32): DataFrame = {
    // ONE buffered aggregation: [[GeomedoidVec]] runs the fixed-step
    // geomedian AND the argmin over the buffered observations at finish —
    // the former two-aggregation form (geomedian agg → re-join the pixel
    // table → struct-min agg) scanned the pixel table twice and shipped it
    // through a second aggregation just to re-see the same observations the
    // geomedian buffer already held. Arithmetic is replicated op for op
    // (6-dp HALF_UP center, ((t0²+t1²)+t2²) association, (d², bands…) tie
    // order), so results — and the DuckDB oracle hashes — are unchanged.
    val agged = px.groupBy(keys.map(col): _*)
      .agg(GeomedoidVec(iters, 0.0)(bands.map(col(_).cast("double")): _*).as("__md"))
    bands.zipWithIndex.foldLeft(agged) { case (df, (b, i)) =>
      df.withColumn(s"md_$b",
        element_at(col("__md"), i + 1).cast(px.schema(b).dataType))
    }.drop("__md")
  }

  /** DuckDB twin of [[geomedoidComposite]]: the shared Weiszfeld chain,
    * 6-dp-rounded center, then row_number argmin ordered (d², b, n, r). */
  def geomedoidOracleSql(pixelsSql: String, iters: Int): String = {
    def t(v: String, c: String) = s"(p.$v - c.$c)"
    val d2 = s"((${t("b", "cb")} * ${t("b", "cb")} + ${t("n", "cn")} * ${t("n", "cn")}) + ${t("r", "cr")} * ${t("r", "cr")})"
    s"""${weiszfeldCtes(pixelsSql, iters)},
       |ctr AS (SELECT py, px, round(cb, 6) AS cb, round(cn, 6) AS cn, round(cr, 6) AS cr
       |        FROM it$iters),
       |cand AS (SELECT p.py, p.px, p.b, p.n, p.r, $d2 AS d2
       |         FROM pts p JOIN ctr c ON c.py = p.py AND c.px = p.px)
       |SELECT py, px, cast(b AS bigint) AS md_blue, cast(n AS bigint) AS md_nir,
       |       cast(r AS bigint) AS md_red FROM (
       |  SELECT py, px, b, n, r,
       |         row_number() OVER (PARTITION BY py, px ORDER BY d2, b, n, r) AS rn
       |  FROM cand) WHERE rn = 1""".stripMargin
  }
}

/**
 * WOfS per-pixel time-series summary (SURVEY §2.4 A6) — the algebraic form
 * of `perform_timeseries_analysis` (`utils/dc_utilities.py:126-174`):
 * total_data=Σv, total_clean=count, normalized=Σ/count, min, max. The
 * reference's `intermediate_product` incremental merge IS Spark's
 * partial/final aggregation contract; SummarySpec checks merge associativity
 * (two halves merged == one pass).
 */
case class WofsObs(v: Double)
case class WofsStatsBuf(var sum: Double, var cnt: Long, var mn: Double, var mx: Double)
case class WofsSummary(total_data: Double, total_clean: Long,
                       normalized: Double, min: Double, max: Double)

object WofsStatsAgg extends Aggregator[Double, WofsStatsBuf, WofsSummary] {
  def zero: WofsStatsBuf = WofsStatsBuf(0.0, 0L, Double.PositiveInfinity, Double.NegativeInfinity)
  def reduce(b: WofsStatsBuf, v: Double): WofsStatsBuf = {
    if (v != -9999.0) {
      b.sum += v; b.cnt += 1
      if (v < b.mn) b.mn = v
      if (v > b.mx) b.mx = v
    }
    b
  }
  def merge(a: WofsStatsBuf, b: WofsStatsBuf): WofsStatsBuf = {
    a.sum += b.sum; a.cnt += b.cnt
    if (b.mn < a.mn) a.mn = b.mn
    if (b.mx > a.mx) a.mx = b.mx
    a
  }
  def finish(b: WofsStatsBuf): WofsSummary =
    WofsSummary(b.sum, b.cnt, if (b.cnt == 0) 0.0 else b.sum / b.cnt,
      if (b.cnt == 0) 0.0 else b.mn, if (b.cnt == 0) 0.0 else b.mx)
  def bufferEncoder: Encoder[WofsStatsBuf] = Encoders.product[WofsStatsBuf]
  def outputEncoder: Encoder[WofsSummary] = Encoders.product[WofsSummary]
}

/** Flat d-strided observation buffer for the geomedian aggregators: one
  * primitive `Array[Double]` per pixel (amortized-doubling growth, `used`
  * marks the live prefix) instead of a `Seq[Seq[Double]]` of boxed rows.
  * The per-element cost through the ObjectHashAggregate exchange drops from
  * a nested ArrayData-of-ArrayData (object header + generic traversal per
  * observation) to 8 contiguous bytes; the unused capacity tail (< 2×) is
  * still far below the boxed form's constant factor. */
case class GmBuf(var d: Int, var used: Int, var data: Array[Double]) {
  def addRaw(v: Array[Double]): GmBuf = {
    if (d == 0) d = v.length
    reserve(used + d)
    System.arraycopy(v, 0, data, used, d)
    used += d
    this
  }
  def absorb(b: GmBuf): GmBuf = {
    if (d == 0) d = b.d
    reserve(used + b.used)
    System.arraycopy(b.data, 0, data, used, b.used)
    used += b.used
    this
  }
  private def reserve(n: Int): Unit =
    if (data.length < n) {
      val grown = new Array[Double](math.max(n, math.max(16, data.length * 2)))
      System.arraycopy(data, 0, grown, 0, used)
      data = grown
    }
}

object GmBuf {
  def empty: GmBuf = GmBuf(0, 0, Array.emptyDoubleArray)
}

/**
 * Native Catalyst form of the fixed-step geomedian aggregate — a
 * `TypedImperativeAggregate[GmBuf]` whose `update` reads the band doubles
 * straight off the `InternalRow`. The `udaf(Aggregator)` bridge pays a
 * per-row deserialization (array construction + `Seq[Double]` boxing)
 * that measured ~1.1 s of px_geomedian's 1.4 s wall at sf0.1 (skeleton
 * groupBy 0.23 s, udaf-with-0-iterations 1.33 s — the Weiszfeld math
 * itself is <0.1 s); this expression removes that entire path. A later
 * warm sf0.1 decomposition: skeleton 0.23 s, native collect_list ~1.0 s,
 * this expression at 32 iterations ~1.5 s, the udaf bridge at 32 ~1.9 s
 * and at 0 ~1.8 s — what remains is the object-aggregation per-row
 * machinery shared with collect_list, not buffer serialization. Identical
 * arithmetic: the same [[Weiszfeld.weiszfeld]] (sorted, Vardi–Zhang
 * corrected) runs at eval, so results — and the DuckDB oracle hashes —
 * are bit-equal to the Aggregator form (the `GeomedianAgg` parity
 * reference in test sources, AggregatorSpec).
 */
case class GeomedianVec(bands: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                        maxIter: Int, tol: Double,
                        mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[GmBuf] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.types._

  override def children: Seq[Expression] = bands
  // inputs must already be DoubleType (callers cast; AbstractDataType is
  // private[sql], so ImplicitCastInputTypes is unavailable to extensions)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (bands.forall(_.dataType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"geomedian expects DOUBLE bands, got ${bands.map(_.dataType.simpleString).mkString(", ")}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "geomedian"

  override def createAggregationBuffer(): GmBuf = GmBuf.empty

  // per-band extractors resolved ONCE from the bound children: a direct
  // row.getDouble/getInt beats the interpreted Expression.eval tree walk
  // (megamorphic dispatch per row per band) on the 600k-row hot path;
  // anything unrecognized falls back to eval
  @transient private lazy val getters: Array[InternalRow => Any] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
    bands.map {
      case BoundReference(ord, DoubleType, _) =>
        (row: InternalRow) => if (row.isNullAt(ord)) null else row.getDouble(ord)
      case c: Cast if c.dataType == DoubleType => c.child match {
        case BoundReference(ord, IntegerType, _) =>
          (row: InternalRow) => if (row.isNullAt(ord)) null else row.getInt(ord).toDouble
        case BoundReference(ord, LongType, _) =>
          (row: InternalRow) => if (row.isNullAt(ord)) null else row.getLong(ord).toDouble
        case _ => (row: InternalRow) => c.eval(row)
      }
      case e => (row: InternalRow) => e.eval(row)
    }.toArray
  }

  override def update(b: GmBuf, row: InternalRow): GmBuf = {
    val d = bands.length
    val vs = new Array[Double](d)
    var i = 0
    while (i < d) {
      val v = getters(i)(row)
      // null or nodata in ANY band drops the whole observation — the same
      // row filter as the Aggregator form's reduce
      if (v == null) return b
      val dv = v.asInstanceOf[Double]
      if (dv == -9999.0) return b
      vs(i) = dv
      i += 1
    }
    b.addRaw(vs)
  }

  override def merge(a: GmBuf, b: GmBuf): GmBuf = a.absorb(b)

  override def eval(b: GmBuf): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Weiszfeld.weiszfeldFlat(b.data, b.d, b.used, maxIter, tol))

  override def serialize(b: GmBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * b.used)
    bb.putInt(b.d); bb.putInt(b.used)
    var i = 0
    while (i < b.used) { bb.putDouble(b.data(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): GmBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val d = bb.getInt; val used = bb.getInt
    val data = new Array[Double](used)
    var i = 0
    while (i < used) { data(i) = bb.getDouble; i += 1 }
    GmBuf(d, used, data)
  }

  override def withNewMutableAggBufferOffset(n: Int): GeomedianVec =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GeomedianVec =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]): GeomedianVec =
    copy(bands = newChildren)
}

object GeomedianVec {
  /** Column form: `geomedian(maxIter, tol)(blue, nir, red)` — an array of
    * the band-space geometric median. */
  def apply(maxIter: Int, tol: Double)(bands: Column*): Column =
    org.apache.spark.sql.GraftShims.column(
      new GeomedianVec(bands.map(org.apache.spark.sql.GraftShims.expression),
        maxIter, tol).toAggregateExpression())
}

/**
 * Geomedoid in ONE aggregation: same buffering as [[GeomedianVec]]
 * (nodata/null observations dropped on input — the pixel-plane bands carry
 * no −9999, so the candidate set equals the oracle's unfiltered `pts`);
 * at finish, the fixed-step geomedian runs over the buffer, the center is
 * rounded to 6 dp HALF_UP (Spark `round` semantics, the operator's defined
 * parameterization), and the argmin over the SAME buffered observations is
 * returned — distance `((t0²+t1²)+t2²)` in the Column form's association
 * order, ties broken lexicographically on the band vector. Replaces a
 * geomedian agg + pixel re-join + struct-min agg with one exchange and no
 * second scan; values are arithmetically identical (AggregatorSpec).
 */
case class GeomedoidVec(bands: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                        maxIter: Int, tol: Double,
                        mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[GmBuf] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.types._

  override def children: Seq[Expression] = bands
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (bands.forall(_.dataType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"geomedoid expects DOUBLE bands, got ${bands.map(_.dataType.simpleString).mkString(", ")}")
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "geomedoid"

  override def createAggregationBuffer(): GmBuf = GmBuf.empty

  // shared input path with GeomedianVec: a delegate instance provides the
  // bound-reference getters and buffer ops, so the two stay bit-identical
  @transient private lazy val in = GeomedianVec(bands, maxIter, tol)
  override def update(b: GmBuf, row: InternalRow): GmBuf = in.update(b, row)
  override def merge(a: GmBuf, b: GmBuf): GmBuf = a.absorb(b)
  override def serialize(b: GmBuf): Array[Byte] = in.serialize(b)
  override def deserialize(bytes: Array[Byte]): GmBuf = in.deserialize(bytes)

  override def eval(b: GmBuf): Any = {
    if (b.used == 0 || b.d == 0) return null
    val gm = Weiszfeld.weiszfeldFlat(b.data, b.d, b.used, maxIter, tol)
    val d = b.d
    val c = new Array[Double](d)
    var i = 0
    while (i < d) {
      // Spark round(col, 6) on DoubleType: BigDecimal HALF_UP via valueOf
      c(i) = java.math.BigDecimal.valueOf(gm(i))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      i += 1
    }
    val n = b.used / d
    var best = -1
    var bestD2 = 0.0
    var p = 0
    while (p < n) {
      var d2 = 0.0 // ascending accumulation ≡ the reduceLeft association
      var j = 0
      while (j < d) { val t = b.data(p * d + j) - c(j); d2 += t * t; j += 1 }
      val take =
        if (best < 0) true
        else if (d2 != bestD2) d2 < bestD2
        else { // tie: lexicographic on the band vector (the struct order)
          var j2 = 0
          var cmp = 0
          while (j2 < d && cmp == 0) {
            cmp = java.lang.Double.compare(b.data(p * d + j2), b.data(best * d + j2))
            j2 += 1
          }
          cmp < 0
        }
      if (take) { best = p; bestD2 = d2 }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(d)(j => b.data(best * d + j)))
  }

  override def withNewMutableAggBufferOffset(n: Int): GeomedoidVec =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GeomedoidVec =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]): GeomedoidVec =
    copy(bands = newChildren)
}

object GeomedoidVec {
  /** Column form: `geomedoid(maxIter, tol)(blue, nir, red)` — the observed
    * band vector nearest the 6-dp-rounded fixed-step geomedian. */
  def apply(maxIter: Int, tol: Double)(bands: Column*): Column =
    org.apache.spark.sql.GraftShims.column(
      new GeomedoidVec(bands.map(org.apache.spark.sql.GraftShims.expression),
        maxIter, tol).toAggregateExpression())
}

/**
 * Geometric median (geomedian) — multi-band joint median per pixel via
 * Weiszfeld iteration (`utils/dc_mosaic.py:506-584`, hdstats
 * `nangeomedian`): the arithmetic [[GeomedianVec]] and [[GeomedoidVec]] run
 * at finish over their buffered band vectors.
 */
object Weiszfeld {
  /** Deterministic Weiszfeld with the Vardi–Zhang (2000) correction for
    * iterates landing on a data point. Points are sorted first so the result
    * is independent of partition merge order. */
  def weiszfeld(pts0: Seq[Seq[Double]], maxIter: Int = 200, tol: Double = 1e-9): Seq[Double] =
    if (pts0.isEmpty) Seq.empty
    else weiszfeldCore(pts0.map(_.toArray).toArray, maxIter, tol).toSeq

  /** [[weiszfeld]] straight off a [[GmBuf]]'s flat d-strided buffer — the
    * hot finish path: no per-observation `Seq[Double]` boxing (600k boxed
    * rows per eval pass at sf0.1). Same sort key (`mkString(",")` over the
    * same doubles) and the same arithmetic in the same order, so the result
    * is bit-identical to the boxed form (AggregatorSpec pins the parity). */
  def weiszfeldFlat(data: Array[Double], d: Int, used: Int,
                    maxIter: Int, tol: Double): Array[Double] = {
    if (used == 0 || d == 0) return Array.emptyDoubleArray
    val n = used / d
    val pts = Array.tabulate(n) { p =>
      val row = new Array[Double](d)
      System.arraycopy(data, p * d, row, 0, d)
      row
    }
    weiszfeldCore(pts, maxIter, tol)
  }

  private def weiszfeldCore(ptsIn: Array[Array[Double]],
                            maxIter: Int, tol: Double): Array[Double] = {
    val pts = ptsIn.sortBy(_.mkString(","))
    val d = pts.head.length
    var cur = Array.tabulate(d)(i => pts.map(_(i)).sum / pts.length)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIter && moved > tol) {
      val num = new Array[Double](d)
      var den = 0.0
      var eta = 0 // multiplicity of data points coincident with cur
      pts.foreach { p =>
        var dist2 = 0.0
        var i = 0
        while (i < d) { val dx = p(i) - cur(i); dist2 += dx * dx; i += 1 }
        val dist = math.sqrt(dist2)
        if (dist < 1e-12) eta += 1
        else {
          val w = 1.0 / dist
          i = 0
          while (i < d) { num(i) += p(i) * w; i += 1 }
          den += w
        }
      }
      if (den == 0.0) moved = 0.0 // all points coincide with cur
      else {
        val tMap = num.map(_ / den) // plain Weiszfeld step over non-coincident points
        val next =
          if (eta == 0) tMap
          else {
            // r̃ = Σ_{p≠cur} (p−cur)/‖p−cur‖ ; ‖r̃‖ ≤ η ⇒ cur IS the geomedian
            val rt = Array.tabulate(d)(i => num(i) - den * cur(i))
            val rNorm = math.sqrt(rt.map(x => x * x).sum)
            if (rNorm <= eta) cur
            else {
              val a = 1.0 - eta / rNorm
              Array.tabulate(d)(i => a * tMap(i) + (eta / rNorm) * cur(i))
            }
          }
        moved = math.sqrt(next.zip(cur).map { case (a, b) => (a - b) * (a - b) }.sum)
        cur = next
      }
      it += 1
    }
    cur
  }
}
