package graft

import org.scalatest.funsuite.AnyFunSuite

/** DuckDB oracle renderings, pinned by the SHA-256 of their text: the
  * similarity plane's, with the arguments `SparkEntry.oracleSql` passes, the
  * table plane's `price_c` texts, and `ml_water`'s on sf0.001 and sf0.01. The
  * similarity pins were taken before the renderers were refactored to share
  * their CTEs, the `price_c` pins before those texts shared one renderer, and
  * the `ml_water` pins before its forest was read from the model instead of
  * from the model's export, so any byte of drift in the emitted SQL fails
  * here, not only at a DuckDB compare outside the suite. */
class OracleSqlPinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Fixed literal centers for the IVF rendering (the query's own centers
    * are trained per data directory). */
  private val centers: Array[Array[Double]] =
    Array.tabulate(16, 64)((c, i) => ((c * 64 + i) % 11 - 5) * 0.0625)

  /** The table-plane oracles that end in the `price_c` projection. */
  private val priceCTexts = Seq("tbl_merge", "tbl_mor", "tbl_incr", "str_incr", "tbl_bloom",
    "tbl_travel", "tbl_incr_where", "tbl_delete", "tbl_cherry", "tbl_wap", "tbl_tag")

  private val rendered: Seq[(String, String)] = Seq(
    "ann_lsh" -> SparkEntry.oracleSql("ann_lsh"),
    "ann_neardup" -> SparkEntry.oracleSql("ann_neardup"),
    "ann_ivf" -> graft.ann.Ann.ivfOracleSql("SELECT vec_id, embedding FROM embeddings",
      "vec_id < 100", k = 3, dim = 64, centers = centers, nprobe = 4),
    "dd_minhash" -> SparkEntry.oracleSql("dd_minhash"),
    "dd_simhash" -> SparkEntry.oracleSql("dd_simhash"),
    "dd_cluster" -> SparkEntry.oracleSql("dd_cluster")) ++
    priceCTexts.map(n => n -> SparkEntry.oracleSql(n))

  private val pins: Map[String, String] = Map(
    "ann_lsh" -> "63ce0105d27f952c9b755a6843848fbf6995f1821774c013792bad4eb4a15eb3",
    "ann_neardup" -> "c176cac3725f318e5bb203e7e28086905cd4504689555bf26c960ed372d2d13c",
    "ann_ivf" -> "4391cb42495c53f574370d02cc7fd8fc5614d848bcb23c8827053618472815fa",
    "dd_minhash" -> "3ae52190e5366e2ebf5f6649a19103585c32d45ff59b8b226fa1de97182364cd",
    "dd_simhash" -> "06846343eca9bac6483b590d8128a5e4e63165f557697149e72eaf5c57165070",
    "dd_cluster" -> "888fe35a42919390f36dcd15cfbc720a21a3c370045f688ac3e7c94aa53306cb",
    "tbl_merge" -> "8a2d56c9a22d5e61e0d330f5aa38ab0dcac957a354115e108750559bca57bde7",
    "tbl_mor" -> "0477a24ae187572476b6aa06d7929eb9d24dab4a36bdd5ff0145ea74d69fb8a8",
    "tbl_incr" -> "460f7620937f4c6994971bf6002b1e3010c624988d89a4c8a4ce91d1a1e55b83",
    "str_incr" -> "7d2fb94768613a0bcf16b31aa32be9e2ab2d165b6b74bce5a737a3c2a5b41037",
    "tbl_bloom" -> "a1bb739ddb781f8638f746b856189248e550ee046fc7c26d8af64f49dc47e758",
    "tbl_travel" -> "10c4935ce4dd135d22cdef375ebab2c5f5ac8e803f6acaa4e3922dd6ce042cd0",
    "tbl_incr_where" -> "fba51e1bd240d5df7f2bdac03fec8c03ae86b667e1351e2d100948a083e791d8",
    "tbl_delete" -> "84754e6929aeb508325cba6ca76ddda230f62c5c7cdae68dad603522ca8f0d00",
    "tbl_cherry" -> "878e2677d48974f31ac4d318fafa10bad78d665a2388d112d2279d2e7ac9bf71",
    "tbl_wap" -> "7d2fb94768613a0bcf16b31aa32be9e2ab2d165b6b74bce5a737a3c2a5b41037",
    "tbl_tag" -> "10c4935ce4dd135d22cdef375ebab2c5f5ac8e803f6acaa4e3922dd6ce042cd0")

  for ((name, sql) <- rendered) test(s"$name oracle SQL renders byte-identically") {
    assert(sha256(sql) == pins(name), s"$name oracle text changed:\n$sql")
  }

  /** `ml_water`'s oracle is rendered from the forest trained on each data
    * directory, so it needs a live session; Verify dumps the same text. */
  private val waterPins: Seq[(String, String)] = Seq(
    "sf0.001" -> "37eaa28aa58a45ade6c07ac0ffe80f88b2472731f4dcf5b91f9cebed29999502",
    "sf0.01" -> "4da2f890cd16f10818b3faeb97a0bcbb916dcb86c337e808a944b7260ff0b3f3")

  for ((sf, pin) <- waterPins) test(s"ml_water oracle SQL on $sf renders byte-identically") {
    val sql = MLQueries.waterOracleSql(SparkTestSession.spark, s"/root/testdata/$sf")
    assert(sha256(sql) == pin, s"ml_water oracle text on $sf changed:\n$sql")
  }
}
