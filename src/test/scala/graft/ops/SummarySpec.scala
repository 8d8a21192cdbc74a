package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}

/** `PixelQueries.summary` (builtin sum/count/min/max) against the
  * `udaf(WofsStatsAgg)` reference, over a lineitem split into several files
  * so every pixel's rows meet only in the partial/final merge. */
class SummarySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("px summary builtins match the WofsStats udaf, including an all-nodata pixel") {
    // pixel (py, px) = (5, 32) holds only these rows: (orderkey + partkey) % 37
    // == 0, so every red2 is −9999
    val nodata = Seq((5L, 32L), (5L + 64 * 37, 32L), (5L, 32L + 64 * 37))
      .flatMap { case (o, p) => (1 to 3).map(ln => (o, p, 7L * ln, ln)) }
    val rnd = new scala.util.Random(41)
    val rest = Seq.fill(3000)((rnd.nextInt(20000).toLong, rnd.nextInt(20000).toLong,
        rnd.nextInt(1000).toLong, rnd.nextInt(7) + 1))
      .filterNot { case (o, p, _, _) => o % 64 == 5 && p % 64 == 32 }
    val dir = TestDirs.create("graft_summary").toString
    (nodata ++ rest).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .withColumn("l_shipdate", lit(java.sql.Date.valueOf("2020-01-01")))
      .repartition(6).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(Pixels.pixels(spark, dir).rdd.getNumPartitions > 1)

    val got = graft.PixelQueries.summary(spark, dir)
    assert(got.columns.toSeq ==
      Seq("py", "px", "total_data", "total_clean", "normalized", "v_min", "v_max"))
    assert(got.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "bigint", "double", "bigint", "double", "double", "double"))
    val rows = got.as[(Long, Long, Double, Long, Double, Double, Double)].collect()

    val wofsUdaf = udaf(WofsStatsAgg)
    val ref = Pixels.pixels(spark, dir).groupBy("py", "px")
      .agg(wofsUdaf(col("red2").cast("double")).as("st"))
      .select($"py", $"px", $"st.total_data", $"st.total_clean", $"st.normalized",
        $"st.min", $"st.max")
      .as[(Long, Long, Double, Long, Double, Double, Double)].collect()
    assert(rows.length == ref.length && rows.toSet == ref.toSet)
    assert(rows.filter(r => r._1 == 5L && r._2 == 32L).toSeq ==
      Seq((5L, 32L, 0.0, 0L, 0.0, 0.0, 0.0)))
  }
}
