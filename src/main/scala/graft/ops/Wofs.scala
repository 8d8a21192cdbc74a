package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * WOfS water classification — the reference's 23-leaf regression tree
 * (`utils/dc_water_classifier.py:121-246`, Mueller et al. 2015) transcribed
 * as data and rendered BOTH as a Catalyst `Column` expression tree (nested
 * `when` — codegen-friendly, no UDF on the hot path) and as ANSI SQL (the
 * DuckDB oracle). Single source of truth ⇒ engine/oracle parity by
 * construction; WofsSpec checks leaf coverage + a scalar re-implementation.
 *
 * Band mapping at the reference call site (`:271-288`):
 * band1=blue band2=green band3=red band4=nir band5=swir1 band7=swir2;
 * ndi_52=(swir1-green)/(swir1+green), ndi_43=(nir-red)/(nir+red),
 * ndi_72=(swir2-green)/(swir2+green). Output 1=water 0=not, nodata −9999
 * where the clean mask is false (`:252-255`).
 */
object Wofs {

  sealed trait Node
  final case class Leaf(v: Int) extends Node
  /** feature <= thr ? le : gt */
  final case class Split(feat: String, thr: Double, le: Node, gt: Node) extends Node

  // Transcription of _run_regression, dc_water_classifier.py:124-246.
  // Left branch (ndi_52 <= -0.01):
  private val left: Node =
    Split("blue", 2083.5,
      le = Split("swir2", 323.5,
        le = Split("ndi_43", 0.61, Leaf(1) /*N6*/, Leaf(0) /*N7*/),
        gt = Split("blue", 1400.5,
          le = Split("ndi_72", -0.23,
            le = Split("ndi_43", 0.22,
              le = Leaf(1) /*N17*/,
              gt = Split("blue", 473.0, Leaf(1) /*N19*/, Leaf(0) /*N20*/)),
            gt = Split("blue", 379.0, Leaf(1) /*N14*/, Leaf(0) /*N15*/)),
          gt = Split("ndi_43", -0.01, Leaf(1) /*N10*/, Leaf(0) /*N11*/))),
      gt = Leaf(0) /*N3*/)

  // Right branch (ndi_52 > -0.01):
  private val right: Node =
    Split("ndi_52", 0.23,
      le = Split("blue", 334.5,
        le = Split("ndi_43", 0.54,
          le = Split("ndi_52", 0.12,
            le = Leaf(1) /*N27*/,
            gt = Split("red", 364.5,
              le = Split("blue", 129.5, Leaf(1) /*N31*/, Leaf(0) /*N32*/),
              gt = Split("blue", 300.5, Leaf(1) /*N33*/, Leaf(0) /*N34*/))),
          gt = Leaf(0) /*N25*/),
        gt = Leaf(0) /*N23*/),
      gt = Split("ndi_52", 0.34,
        le = Split("blue", 249.5,
          le = Split("ndi_43", 0.45,
            le = Split("red", 364.5,
              le = Split("blue", 129.5, Leaf(1) /*N44*/, Leaf(0) /*N45*/),
              gt = Leaf(0) /*N42*/),
            gt = Leaf(0) /*N40*/),
          gt = Leaf(0) /*N38*/),
        gt = Leaf(0) /*N36*/))

  val tree: Node = Split("ndi_52", -0.01, left, right)

  // --- feature rendering (shared by Column + SQL paths) -----------------

  private def featCol(f: String): Column = f match {
    case "ndi_52" => (col("swir1") - col("green")).cast("double") / (col("swir1") + col("green"))
    case "ndi_43" => (col("nir") - col("red")).cast("double") / (col("nir") + col("red"))
    case "ndi_72" => (col("swir2") - col("green")).cast("double") / (col("swir2") + col("green"))
    case b => col(b).cast("double")
  }

  private def featSql(f: String): String = f match {
    case "ndi_52" => "(cast(swir1 - green AS double) / (swir1 + green))"
    case "ndi_43" => "(cast(nir - red AS double) / (nir + red))"
    case "ndi_72" => "(cast(swir2 - green AS double) / (swir2 + green))"
    case b => s"cast($b AS double)"
  }

  private def render(n: Node): Column = n match {
    case Leaf(v) => lit(v)
    case Split(f, thr, le, gt) => when(featCol(f) <= thr, render(le)).otherwise(render(gt))
  }

  private def renderSql(n: Node): String = n match {
    case Leaf(v) => v.toString
    case Split(f, thr, le, gt) =>
      s"CASE WHEN ${featSql(f)} <= $thr THEN ${renderSql(le)} ELSE ${renderSql(gt)} END"
  }

  /** Pure expression tree over columns blue/green/red/nir/swir1/swir2. */
  def classifyColumn: Column = render(tree)

  /** wofs with clean-mask gating: −9999 where not clean (`:252-255`). */
  def classify(clean: Column): Column =
    when(clean, classifyColumn).otherwise(lit(-9999)).cast("int")

  def classifySql: String = renderSql(tree)

  def classifySql(cleanSql: String): String =
    s"cast(CASE WHEN $cleanSql THEN ${renderSql(tree)} ELSE -9999 END AS int)"

  /** Scalar oracle (same semantics, plain Scala) — used by WofsSpec only. */
  def classifyScalar(blue: Int, green: Int, red: Int, nir: Int, swir1: Int, swir2: Int): Int = {
    def feat(f: String): Double = f match {
      case "ndi_52" => (swir1 - green).toDouble / (swir1 + green)
      case "ndi_43" => (nir - red).toDouble / (nir + red)
      case "ndi_72" => (swir2 - green).toDouble / (swir2 + green)
      case "blue" => blue.toDouble
      case "green" => green.toDouble
      case "red" => red.toDouble
      case "nir" => nir.toDouble
      case "swir1" => swir1.toDouble
      case "swir2" => swir2.toDouble
      case other => throw new IllegalArgumentException(other)
    }
    @annotation.tailrec
    def go(n: Node): Int = n match {
      case Leaf(v) => v
      case Split(f, thr, le, gt) => if (feat(f) <= thr) go(le) else go(gt)
    }
    go(tree)
  }

  /** Leaves reached for coverage accounting (23 leaves: nodes 3..20 left
    * branch, 23..45 right branch of `_run_regression`). */
  def leaves(n: Node = tree): Seq[Leaf] = n match {
    case l: Leaf => Seq(l)
    case Split(_, _, le, gt) => leaves(le) ++ leaves(gt)
  }
}

/**
 * Per-platform QA clean masks (SURVEY §2.9): pixel-value-set membership
 * decodes transcribed from `utils/dc_mosaic.py:366-504` (`unpack_qa` tables)
 * and the SENTINEL_2 clearsky set at `utils/genprepWater.py:244-250`.
 * Rendered as Column + SQL from the same value sets.
 */
object CleanMask {
  /** clear ∪ water values per Landsat platform (landsat_qa_clean_mask with
    * default cover_types=['clear','water'], dc_clean_mask.py:152-203). */
  val landsatClearWater: Map[String, Seq[Int]] = Map(
    "LANDSAT_4" -> (Seq(66, 130) ++ Seq(68, 132)),
    "LANDSAT_5" -> (Seq(66, 130) ++ Seq(68, 132)),
    "LANDSAT_7" -> (Seq(66, 130) ++ Seq(68, 132)),
    "LANDSAT_8" -> (Seq(322, 386, 834, 898, 1346) ++ Seq(324, 388, 836, 900, 1348))
  )

  /** SENTINEL_2 SCL clearsky classes {DARK_AREA_PIXELS, VEGETATION,
    * NON_VEGETATION, WATER, UNCLASSIFIED} (`genprepWater.py:244-250`). */
  val s2Clearsky: Seq[Int] = Seq(2, 4, 5, 6, 7)

  def landsatColumn(platform: String, qa: Column): Column =
    qa.isin(landsatClearWater(platform): _*)

  def landsatSql(platform: String, qaCol: String): String =
    s"$qaCol IN (${landsatClearWater(platform).mkString(", ")})"

  def s2Column(scl: Column): Column = scl.isin(s2Clearsky: _*)
  def s2Sql(sclCol: String): String = s"$sclCol IN (${s2Clearsky.mkString(", ")})"
}
