package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Per-pixel temporal composites (SURVEY §2.4 A7–A11) — Spark-first forms of
 * `utils/dc_mosaic.py`, one aggregate each:
 *  - mean (`:121-165`): `avg(when(valid, v))` — partial+final hash agg
 *  - median (`:168-212`): exact `percentile` (parity); `percentile_approx`
 *    is the documented 100 TB alternative
 *  - most-recent-valid (`:55-119`): `max_by`-style lexicographic struct max —
 *    no window shuffle, single agg
 *  - max/min-NDVI (`:215-345`): one argmax/argmin body over a
 *    [[StructExtremum]] carrying all bands
 *  - geomedian and geomedoid (`:506-584`): [[GeomedianVec]], one Weiszfeld
 *    aggregate whose `medoid` mode returns the nearest observation
 *
 * Mean, most-recent and NDVI keep a bounded buffer per pixel, so map-side
 * partial combine keeps shuffle volume at |pixels| regardless of time depth;
 * median and the geomedian buffer every valid observation. The per-pixel
 * summary (A6) is builtin sum/count/min/max (`PixelQueries.summary`) and the
 * OR-fold of masks through time (A12) is Spark's builtin `bool_or`.
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

  /** Argmax (`greatest`) or argmin of NDVI composite carrying all bands
    * (`dc_mosaic.py:215-345`, its min_ndvi kwarg picks the argmin); ties
    * broken by the carried key columns (lexicographic struct max/min ≡
    * ORDER BY ... DESC/ASC LIMIT 1). */
  def ndviComposite(px: DataFrame, keys: Seq[String], tieBreak: Seq[String],
                    bands: Seq[String], greatest: Boolean): DataFrame = {
    val packed = struct((ndvi.as("__ndvi") +: tieBreak.map(col)) ++ bands.map(col): _*)
    val agged = px.groupBy(keys.map(col): _*)
      .agg(StructExtremum.column(packed, greatest).as("__top"))
    bands.foldLeft(agged)((df, b) => df.withColumn(b, col(s"__top.$b")))
      .withColumn("best_ndvi", col("__top.__ndvi")).drop("__top")
  }

  /**
   * DuckDB twin of the fixed-step geomedian ([[GeomedianVec]] with
   * `tol = 0`): one chained CTE per Weiszfeld iteration, each mirroring
   * [[Weiszfeld.weiszfeldFlat]]'s arithmetic op for op — the 1/dist weights,
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
   * composite is a real spectrum, not a synthetic point. One aggregation,
   * shuffled on the pixel key only: [[GeomedianVec]] in medoid mode buffers
   * the observations, runs the fixed-step geomedian over them at finish and
   * returns the nearest buffered one (no re-join, no second scan).
   *
   * The center is rounded to 6 dp BEFORE the argmin (this is the operator's
   * defined parameterization, like the fixed-step iteration count): both
   * engines then measure distances from the identical doubles, so the
   * argmin — including its (d², bands…) tie order — is oracle-exact.
   */
  def geomedoidComposite(px: DataFrame, keys: Seq[String], bands: Seq[String],
                         iters: Int = 32): DataFrame = {
    val agged = px.groupBy(keys.map(col): _*)
      .agg(GeomedianVec(iters, 0.0, medoid = true)(bands.map(col(_).cast("double")): _*)
        .as("__md"))
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
 * straight off the `InternalRow` into one flat d-strided buffer per group
 * (no per-row array or `Seq[Double]` boxing) and whose `eval` runs
 * [[Weiszfeld.weiszfeldFlat]] over it. The `GeomedianAgg` udaf in test
 * sources runs the same kernel through the `Aggregator` bridge and is pinned
 * bit-equal to this form (AggregatorSpec).
 *
 * `medoid = true` is the geomedoid (`dc_mosaic.py:558-584`) over the same
 * buffer: after the geomedian, the center is rounded to 6 dp HALF_UP (Spark
 * `round` semantics, the operator's defined parameterization) and the
 * nearest buffered observation is returned — distance `((t0²+t1²)+t2²)` in
 * the oracle SQL's association order, ties broken lexicographically on the
 * band vector. An empty group gives an empty array as geomedian and null as
 * geomedoid.
 */
case class GeomedianVec(bands: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                        maxIter: Int, tol: Double, medoid: Boolean,
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
      s"$prettyName expects DOUBLE bands, got ${bands.map(_.dataType.simpleString).mkString(", ")}")
  override def nullable: Boolean = medoid
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = if (medoid) "geomedoid" else "geomedian"
  // the mode is in the name; plan strings list the remaining arguments
  override protected def stringArgs: Iterator[Any] =
    Iterator(bands, maxIter, tol, mutableAggBufferOffset, inputAggBufferOffset)

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

  override def eval(b: GmBuf): Any = {
    val gm = Weiszfeld.weiszfeldFlat(b.data, b.d, b.used, maxIter, tol)
    if (!medoid) new org.apache.spark.sql.catalyst.util.GenericArrayData(gm)
    else if (gm.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(nearestObservation(b, gm))
  }

  /** The buffered observation nearest the 6-dp-rounded center `gm`, ties
    * broken by the (d², bands…) order. */
  private def nearestObservation(b: GmBuf, gm: Array[Double]): Array[Double] = {
    val d = b.d
    // Spark round(col, 6) on DoubleType: BigDecimal HALF_UP via valueOf
    val c = gm.map(java.math.BigDecimal.valueOf(_)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    val n = b.used / d
    var best = -1
    var bestD2 = 0.0
    var p = 0
    while (p < n) {
      var d2 = 0.0 // ascending accumulation ≡ ((t0²+t1²)+t2²)
      var j = 0
      while (j < d) { val t = b.data(p * d + j) - c(j); d2 += t * t; j += 1 }
      val take =
        if (best < 0) true
        else if (d2 != bestD2) d2 < bestD2
        else { // tie: lexicographic on the band vector (the oracle's ORDER BY d2, b, n, r)
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
    java.util.Arrays.copyOfRange(b.data, best * d, best * d + d)
  }

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
    * the band-space geometric median, or with `medoid` the observed band
    * vector nearest its 6-dp rounding. */
  def apply(maxIter: Int, tol: Double, medoid: Boolean)(bands: Column*): Column =
    org.apache.spark.sql.GraftShims.column(
      new GeomedianVec(bands.map(org.apache.spark.sql.GraftShims.expression),
        maxIter, tol, medoid).toAggregateExpression())
}

/**
 * Geometric median (geomedian) — multi-band joint median per pixel via
 * Weiszfeld iteration (`utils/dc_mosaic.py:506-584`, hdstats
 * `nangeomedian`): the arithmetic [[GeomedianVec]] runs at finish over its
 * buffered band vectors, in both its geomedian and geomedoid modes.
 */
object Weiszfeld {
  /** Deterministic Weiszfeld with the Vardi–Zhang (2000) correction for
    * iterates landing on a data point, over a [[GmBuf]]'s flat d-strided
    * buffer (`used / d` observations). The observations are first sorted by
    * their `mkString(",")` key, so the result does not depend on partition
    * merge order. Each key is built once and an index permutation is sorted
    * stably, which gives the order of sorting the rows by that key; a
    * numeric order would change the summation order, hence the bits. The
    * iteration runs in primitive loops over one sorted copy. */
  def weiszfeldFlat(data: Array[Double], d: Int, used: Int,
                    maxIter: Int, tol: Double): Array[Double] = {
    if (used == 0 || d == 0) return Array.emptyDoubleArray
    val n = used / d
    val keys = Array.tabulate(n)(p => data.slice(p * d, p * d + d).mkString(","))
    val order = Array.range(0, n).sortBy(keys(_))
    val pts = new Array[Double](n * d)
    for (p <- 0 until n) System.arraycopy(data, order(p) * d, pts, p * d, d)
    var cur = Array.tabulate(d) { i => // the per-band mean, summed left to right
      var s = pts(i)
      for (p <- 1 until n) s += pts(p * d + i)
      s / n
    }
    var next = new Array[Double](d)
    val num = new Array[Double](d)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIter && moved > tol) {
      java.util.Arrays.fill(num, 0.0)
      var den = 0.0
      var eta = 0 // multiplicity of data points coincident with cur
      var o = 0
      while (o < pts.length) {
        var dist2 = 0.0
        var i = 0
        while (i < d) { val dx = pts(o + i) - cur(i); dist2 += dx * dx; i += 1 }
        val dist = math.sqrt(dist2)
        if (dist < 1e-12) eta += 1
        else {
          val w = 1.0 / dist
          i = 0
          while (i < d) { num(i) += pts(o + i) * w; i += 1 }
          den += w
        }
        o += d
      }
      if (den == 0.0) moved = 0.0 // all points coincide with cur
      else {
        var i = 0 // plain Weiszfeld step over non-coincident points
        while (i < d) { next(i) = num(i) / den; i += 1 }
        if (eta > 0) {
          // r̃ = Σ_{p≠cur} (p−cur)/‖p−cur‖ ; ‖r̃‖ ≤ η ⇒ cur IS the geomedian
          var r2 = 0.0
          i = 0
          while (i < d) { val r = num(i) - den * cur(i); r2 += r * r; i += 1 }
          val rNorm = math.sqrt(r2)
          if (rNorm <= eta) System.arraycopy(cur, 0, next, 0, d)
          else {
            val a = 1.0 - eta / rNorm
            i = 0
            while (i < d) { next(i) = a * next(i) + (eta / rNorm) * cur(i); i += 1 }
          }
        }
        var m2 = 0.0
        i = 0
        while (i < d) { val t = next(i) - cur(i); m2 += t * t; i += 1 }
        moved = math.sqrt(m2)
        val swap = cur; cur = next; next = swap
      }
      it += 1
    }
    cur
  }
}
