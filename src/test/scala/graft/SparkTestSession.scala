package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM-wide, lazy). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.optimizer.excludedRules", graft.GraftSession.ExcludedRules)
      .config("spark.sql.warehouse.dir",
        TestDirs.create("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
