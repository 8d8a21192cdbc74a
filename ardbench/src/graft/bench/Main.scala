package graft.bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/**
 * Benchmark entry point: runs one workload (or `all`) closed-loop, one
 * client submitting each job after the previous one ends, on
 * `local[nproc]`, checks the outputs and prints one metric per line; the
 * last stdout line is the JSON result.
 *
 *   --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
 *   [--size bench|tiny] [--setups <n>] [--root <work dir>] [--pins <file>] [--record-pins]
 *
 * `setup_s` is the median of `--setups` (default 3) set-ups. `--workload all`
 * also measures the N -> 4N scaling efficiency of the workloads that define
 * it (a second session at local[max(1, nproc / 4)]).
 *
 * With `--trace 0` the result holds the end-to-end metrics, with `--trace 1`
 * the per-layer metrics of a traced run (spans are written under
 * `<root>/traces`).
 */
object Main {
  /** Minimum untimed run time before the measured window. */
  val SettleSeconds = 4.5
  /** Jobs at the low parallelism level for the scaling efficiency. */
  val ScalingReps = 2

  val endToEnd: Seq[String] = Seq("input_rows_per_s", "job_p50_s", "setup_s", "peak_rss_mb")
  /** The per-layer metrics of the result line: those that are not a time
    * reading a constant 0 on some workload. All of [[Workloads.layerNames]]
    * are printed and saved with the spans. */
  val perLayer: Seq[String] = Seq(
    "scan.s", "plan.s", "task.cpu_s", "cover.cells_per_doc", "probe.candidate_pairs",
    "probe.pairs_after_dedup", "refine.pass_ratio", "exchange.write_bytes", "exchange.read_bytes",
    "task.straggler_ratio", "checkpoint.done_set_rows", "table.meta_parses", "table.manifest_loads",
    "table.snapshot_files", "table.bytes", "agg.spill_bytes", "agg.peak_exec_mem_bytes",
    "task.count", "task.failed", "trace.overhead_ratio")

  final case class Outcome(workload: String, attempted: Long, failed: Long, correct: Boolean,
                           metrics: Seq[Metric])

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // Spark's non-daemon threads would otherwise keep the JVM up
    }

  def run(args: Array[String]): Unit = {
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") && i + 1 < args.length && !args(i + 1).startsWith("--") =>
        args(i).drop(2) -> args(i + 1)
    }.toMap
    val recordPins = args.contains("--record-pins")
    val names = opts.getOrElse("workload", sys.error("--workload is required"))
    val workloads =
      if (names == "all") Workloads.all
      else names.split(",").toSeq.map(n => Workloads.all.find(_.name == n)
        .getOrElse(sys.error(s"unknown workload $n; one of ${Workloads.all.map(_.name).mkString(", ")}")))
    val cpus = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(
      root = Paths.get(opts.getOrElse("root", ".work")).toAbsolutePath,
      size = Size.all.getOrElse(opts.getOrElse("size", "bench"), sys.error("--size is bench or tiny")),
      seed = opts.getOrElse("seed", "1").toLong,
      seconds = opts.getOrElse("seconds", "10").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      cpus = cpus,
      setups = opts.getOrElse("setups", "3").toInt)
    val pins = new Pins(opts.get("pins").map(Paths.get(_)), recordPins)
    say(f"host: nproc=$cpus sessions=local[$cpus] fixture synthesis=local[$cpus] " +
      f"size=${ctx.size.name} seed=${ctx.seed} seconds=${ctx.seconds}%.0f trace=${if (ctx.trace) 1 else 0}")

    // the scaling pass adds a second session and ~2 jobs at low parallelism,
    // so it runs with the one-command full run only
    val scaling = names == "all"
    val outcomes = workloads.map(w => runWorkload(w, ctx, pins, scaling))
    val single = outcomes.size == 1
    val metrics = outcomes.flatMap { o =>
      val keep = (if (ctx.trace) perLayer else endToEnd).toSet
      o.metrics.filter(m => keep(m.name))
        .map(m => if (single) m else m.copy(name = s"${o.workload}.${m.name}"))
    }
    val body = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    println(s"""{"correct": ${outcomes.forall(_.correct)}, "attempted": ${outcomes.map(_.attempted).sum}, """ +
      s""""failed": ${outcomes.map(_.failed).sum}, "metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(0)
  }

  def say(line: String): Unit = println(s"[ardbench] $line")

  def session(ctx: Ctx, cpus: Int, app: String, parallelism: Int = 0): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .appName(s"ardbench-$app")
      .config("spark.default.parallelism", math.max(cpus, parallelism).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def runWorkload(w: Workload, ctx: Ctx, pins: Pins, scaling: Boolean): Outcome = {
    val key = s"${w.name}-${ctx.size.name}-${ctx.seed}"
    val (dir, fixtureS) = new FixtureStore(ctx.root).obtain(key) { d =>
      // four synthesis tasks (and so input files) per core: the measured
      // scans then run several task waves
      val s = session(ctx, ctx.cpus, s"fixture-${w.name}", parallelism = 4 * ctx.cpus)
      try w.synthesize(s, d, ctx) finally s.stop()
    }
    say(f"${w.name} fixture $key: " +
      (if (fixtureS == 0) "cached" else f"synthesized in $fixtureS%.3f s at local[${ctx.cpus}]"))

    // set-up: a fresh session, the workload opened in it, its warm-up
    var spark: SparkSession = null
    var runner: Runner = null
    val setups = (1 to ctx.setups).map { _ =>
      if (spark != null) spark.stop()
      Stats.timed {
        spark = session(ctx, ctx.cpus, w.name)
        runner = w.open(spark, dir, ctx)
        runner.warmup()
      }._2
    }

    // untimed rounds at full input size, at least two and for at least
    // SettleSeconds, bring JIT and caches to steady state; the set-up
    // warm-ups only run slices
    val settle0 = System.nanoTime()
    var settled = 0
    while (settled < 2 || (System.nanoTime() - settle0) / 1e9 < SettleSeconds) {
      runner.round()
      settled += 1
    }

    // measured window, closed loop; a job that throws is a failed job
    val tracer = new Tracer(spark, enabled = ctx.trace)
    val untraced = mutable.ArrayBuffer.empty[Job]
    val traced = mutable.ArrayBuffer.empty[Job]
    var errors = 0L
    def attempt(into: mutable.ArrayBuffer[Job])(round: => Seq[Job]): Unit =
      try into ++= round
      catch {
        case e: Exception =>
          errors += 1
          System.err.println(s"[ardbench] ${w.name}: job failed: $e")
      }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a round is not started when it would likely end more than half a
    // round past the window, so long rounds give a stable job count
    var lastRound = 0.0
    while (untraced.size + traced.size + errors == 0 || elapsed + lastRound / 2 < ctx.seconds) {
      val r0 = elapsed
      attempt(untraced)(runner.round())
      if (ctx.trace) {
        tracer.attach()
        attempt(traced)(runner.tracedRound(tracer))
        tracer.detach()
      }
      lastRound = elapsed - r0
    }
    val window = elapsed
    val rss = peakRssMb()

    val jobs = (untraced ++ traced).toSeq
    val (gateFailures, digest) =
      try runner.gates()
      catch { case e: Exception => (Seq(s"${w.name}: gates failed: $e"), Digest(-1, "")) }
    val pinFailure = pins.check(w.name, ctx.size.name, ctx.seed, digest)
    val failures = gateFailures ++ pinFailure
    val badJobs = jobs.count(!_.ok) + errors
    val failed = badJobs + (if (failures.nonEmpty && badJobs == 0) 1 else 0)
    val attempted = jobs.size + errors
    failures.foreach(f => say(s"CHECK FAILED $f"))
    say(s"${w.name} output $digest (${if (failures.isEmpty) "all gates passed" else "gates FAILED"})")

    val walls = untraced.map(_.wall).toSeq
    val metrics = mutable.ArrayBuffer.empty[Metric]
    metrics += Metric("input_rows_per_s", untraced.map(_.rows).sum / math.max(1e-9, walls.sum), "1/s")
    metrics += Metric("job_p50_s", Stats.median(walls), "s")
    metrics += Metric("setup_s", Stats.median(setups), "s")
    metrics += Metric("peak_rss_mb", rss, "MB")
    metrics += Metric("error_rate", failed.toDouble / math.max(1L, attempted), "ratio")
    metrics ++= runner.extras()
    say(f"${w.name} jobs=${untraced.size} (+${traced.size} traced) window=$window%.3f s " +
      f"walls=${walls.map(x => f"$x%.3f").mkString(",")} s " +
      f"setups=${setups.map(s => f"$s%.3f").mkString(",")} s fixture_s=$fixtureS%.3f")

    if (ctx.trace) {
      val layers = runner.layers(tracer)
      Workloads.layerNames.foreach { case (n, u) => metrics += Metric(n, layers.getOrElse(n, 0.0), u) }
      metrics += Metric("trace.overhead_ratio",
        Stats.median(traced.map(_.wall).toSeq) / Stats.median(walls), "ratio")
      val spans = ctx.root.resolve("traces").resolve(s"$key-${ProcessHandle.current().pid()}.jsonl")
      tracer.write(spans)
      say(s"${w.name} spans written to $spans")
    }
    runner.close()
    spark.stop()

    if (scaling && w.scaling && !ctx.trace && ctx.cpus > 1)
      metrics ++= scalingMetrics(w, ctx, dir, untraced.map(_.rows).headOption.getOrElse(0L), Stats.median(walls))

    metrics.foreach(m => say(f"${w.name} ${m.name} = ${Json.num(m.value)} ${m.unit}"))
    Outcome(w.name, attempted, failed, failed == 0, metrics.toSeq)
  }

  /** N -> 4N scaling: the same job at local[max(1, nproc / 4)] against the
    * measured window's median at local[nproc]. */
  def scalingMetrics(w: Workload, ctx: Ctx, dir: Path, rows: Long, highWall: Double): Seq[Metric] = {
    val low = math.max(1, ctx.cpus / 4)
    val s = session(ctx, low, s"${w.name}-scaling")
    try {
      val r = w.open(s, dir, ctx)
      val lowWall = Stats.median((1 to ScalingReps).flatMap(_ => r.round()).map(_.wall))
      val (rateLow, rateHigh) = (rows / lowWall, rows / highWall)
      Seq(
        Metric("scaling_efficiency", (rateHigh / rateLow) / (ctx.cpus.toDouble / low), "ratio"),
        Metric(s"rate_local_$low", rateLow, "1/s"),
        Metric(s"rate_local_${ctx.cpus}", rateHigh, "1/s"))
    } finally s.stop()
  }
}

/** Pinned output digests per (workload, size, seed), one tab-separated
  * line each: workload, size, seed, rows, hash. */
final class Pins(file: Option[Path], record: Boolean) {
  private val pinned: Map[(String, String, Long), Digest] = file.filter(Files.exists(_)).map { f =>
    import scala.jdk.CollectionConverters._
    Files.readAllLines(f).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(w, s, seed, rows, hash) = l.split("\t")
      (w, s, seed.toLong) -> Digest(rows.toLong, hash)
    }.toMap
  }.getOrElse(Map.empty)

  /** A failure message when a pin exists and differs. */
  def check(workload: String, size: String, seed: Long, got: Digest): Option[String] =
    pinned.get((workload, size, seed)) match {
      case Some(want) if want != got => Some(s"$workload: output $got != pinned $want")
      case Some(_) => None
      case None =>
        if (record && got.rows >= 0) file.foreach { f =>
          Files.write(f, s"$workload\t$size\t$seed\t${got.rows}\t${got.hash}\n".getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        }
        None
    }
}
