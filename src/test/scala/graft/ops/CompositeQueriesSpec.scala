package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.{QueryDigest, SparkTestSession}

/** The two Weiszfeld driver queries, pinned end to end on the committed
  * test data: row count, schema (nullability included) and an
  * order-independent row hash. The pins were taken before the flat
  * `weiszfeldFlat` kernel replaced the boxed one, so any drift in the
  * kernel's rounding reaching the 6-dp outputs fails here. `ml_water`, whose
  * forest is trained and read per data directory, is pinned the same way. */
class CompositeQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** (query, sf) → (rows, schema, row hash). */
  private val pins: Map[(String, String), (Long, String, String)] = {
    val gm = "py:bigint:true,px:bigint:true,gm_blue:double:true,gm_nir:double:true,gm_red:double:true"
    val md = "py:bigint:true,px:bigint:true,md_blue:bigint:true,md_nir:bigint:true,md_red:bigint:true"
    val mw = "l_orderkey:bigint:true,l_linenumber:int:true,water_mask:int:false,water_prob:int:true"
    Map(
      ("px_geomedian", "sf0.001") -> ((3155L, gm, "03b9f65c43fe2fdf")),
      ("px_geomedian", "sf0.01") -> ((4096L, gm, "b39b803a0f8ccb61")),
      ("px_geomedoid", "sf0.001") -> ((3155L, md, "0a30dd81fac18026")),
      ("px_geomedoid", "sf0.01") -> ((4096L, md, "d947659cf331c01b")),
      ("ml_water", "sf0.001") -> ((6000L, mw, "1eb192cab8de7fb5")),
      ("ml_water", "sf0.01") -> ((60000L, mw, "1d74dba9d12afdf2")))
  }

  for (q <- Seq("px_geomedian", "px_geomedoid", "ml_water"); sf <- Seq("sf0.001", "sf0.01"))
    test(s"$q on $sf: row count, schema and row hash match the pins") {
      val df = graft.SparkEntry.queries(q)(spark, s"/root/testdata/$sf")
      val schema = QueryDigest.schema(df)
      val (n, hash) = QueryDigest.rowHash(df)
      assert(pins.get((q, sf)).contains((n, schema, hash)),
        s"$q on $sf: got ($n, \"$schema\", \"$hash\"), pinned ${pins.get((q, sf))}")
    }
}
