package graft.tools

/** Time one `SparkEntry.queries` entry N times in a warm session:
  * `sbt "runMain graft.tools.TimeQuery <name> [sfDir] [reps]"`, on
  * `local[SPARK_GRAFT_CPUS]` (default 32).
  * Separates first-query JVM/codegen warmup from the operator's own cost —
  * the per-round bench runs queries alphabetically, so whichever sorts
  * first absorbs the session warmup. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    // "noop" (default, matches Bench.materialize — keeps every output
    // column alive) or "count" (lets Catalyst prune unreferenced columns,
    // INCLUDING deterministic UDFs — times the skeleton, not the work)
    val mode = if (args.length > 3) args(3) else "noop"
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (mode == "count") println(s"[timequery] rows=${df.count()}")
      else df.write.format("noop").mode("overwrite").save()
      println(f"[timequery] $name rep $r ($mode): ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
