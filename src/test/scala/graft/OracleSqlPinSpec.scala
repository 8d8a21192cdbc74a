package graft

import org.scalatest.funsuite.AnyFunSuite

/** The similarity plane's DuckDB oracle renderings, pinned by the SHA-256
  * of their text with the arguments `SparkEntry.oracleSql` passes. The pins
  * were taken before the renderers were refactored to share their CTEs, so
  * any byte of drift in the emitted SQL fails here, not only at a DuckDB
  * compare outside the suite. */
class OracleSqlPinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Fixed literal centers for the IVF rendering (the query's own centers
    * are trained per data directory). */
  private val centers: Array[Array[Double]] =
    Array.tabulate(16, 64)((c, i) => ((c * 64 + i) % 11 - 5) * 0.0625)

  private val rendered: Seq[(String, String)] = Seq(
    "ann_lsh" -> SparkEntry.oracleSql("ann_lsh"),
    "ann_neardup" -> SparkEntry.oracleSql("ann_neardup"),
    "ann_ivf" -> graft.ann.Ann.ivfOracleSql("SELECT vec_id, embedding FROM embeddings",
      "vec_id < 100", k = 3, dim = 64, centers = centers, nprobe = 4),
    "dd_minhash" -> SparkEntry.oracleSql("dd_minhash"),
    "dd_simhash" -> SparkEntry.oracleSql("dd_simhash"),
    "dd_cluster" -> SparkEntry.oracleSql("dd_cluster"))

  private val pins: Map[String, String] = Map(
    "ann_lsh" -> "63ce0105d27f952c9b755a6843848fbf6995f1821774c013792bad4eb4a15eb3",
    "ann_neardup" -> "c176cac3725f318e5bb203e7e28086905cd4504689555bf26c960ed372d2d13c",
    "ann_ivf" -> "4391cb42495c53f574370d02cc7fd8fc5614d848bcb23c8827053618472815fa",
    "dd_minhash" -> "3ae52190e5366e2ebf5f6649a19103585c32d45ff59b8b226fa1de97182364cd",
    "dd_simhash" -> "06846343eca9bac6483b590d8128a5e4e63165f557697149e72eaf5c57165070",
    "dd_cluster" -> "888fe35a42919390f36dcd15cfbc720a21a3c370045f688ac3e7c94aa53306cb")

  for ((name, sql) <- rendered) test(s"$name oracle SQL renders byte-identically") {
    assert(sha256(sql) == pins(name), s"$name oracle text changed:\n$sql")
  }
}
