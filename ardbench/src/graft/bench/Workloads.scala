package graft.bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.functions.GeoFunctions.cellCoverUdf
import graft.model.SynthCorpus
import graft.ops.{SpatialJoin, TileAssign}
import graft.plans.SpatialColumns
import graft.run.{Checkpoint, Pipeline}
import graft.table.IcebergLite

/** One run's settings. `cpus` is the parallelism of every session. */
final case class Ctx(root: Path, size: Size, seed: Long, seconds: Double, trace: Boolean,
                     cpus: Int, setups: Int)

/** One timed job: wall seconds, input rows it consumed, and whether its
  * output passed the per-job gate. */
final case class Job(wall: Double, rows: Long, ok: Boolean)

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The first parquet data file of a directory, in name order. */
  def firstParquet(dir: Path): Path = {
    val s = Files.list(dir)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).sorted().findFirst().get()
    finally s.close()
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

/** A workload opened in one live session. */
trait Runner {
  /** The warm-up ending each set-up: the workload's engine calls over a
    * slice of its input, so per-session costs (planning, codegen, broadcast)
    * land in set-up without set-up scaling with the input size. */
  def warmup(): Unit

  /** One closed-loop round of timed jobs. */
  def round(): Seq[Job]

  /** Correctness gates over the outputs, run after the measured window;
    * returns the failures and the engine output digest that is pinned. */
  def gates(): (Seq[String], Digest)

  /** Workload-specific end-to-end metrics, measured with tracing off. */
  def extras(): Seq[Metric] = Nil

  /** One traced round: spans around staged calls; returns its jobs. */
  def tracedRound(tracer: Tracer): Seq[Job]

  /** Per-layer metrics from all traced rounds. */
  def layers(tracer: Tracer): Map[String, Double]

  /** Removes what the rounds left on disk. */
  def close(): Unit = ()
}

abstract class Workload(val name: String) {
  /** Whether the run also measures N -> 4N scaling efficiency. */
  def scaling: Boolean = false
  def synthesize(spark: SparkSession, dir: Path, ctx: Ctx): Unit
  def open(spark: SparkSession, dir: Path, ctx: Ctx): Runner
}

object Workloads {
  val Res = 5
  /** Area of interest of the discover workload: the band |lat| <= 45. */
  val AoiWkt = "POLYGON ((-180 -45, 180 -45, 180 45, -180 45, -180 -45))"

  val all: Seq[Workload] = Seq(AssignBroadcast, AssignSkewShuffled, SearchDiscover, PixelComposite)

  def tiles(spark: SparkSession): DataFrame = SynthCorpus.tileGrid(spark).drop("path", "row")

  def writeOracle(dir: Path, lines: Seq[String]): Unit =
    Files.write(dir.resolve("oracle.tsv"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  def readOracle(dir: Path): IndexedSeq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(dir.resolve("oracle.tsv")).asScala.toIndexedSeq.filter(_.nonEmpty)
  }

  def medianOf(spans: Seq[Span], name: String): Double =
    Stats.median(spans.filter(_.name == name).map(_.seconds))

  /** Layer metrics every workload reports; layers a workload does not run
    * stay 0. */
  val layerNames: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "cover.s" -> "s", "cover.cells_per_doc" -> "count",
    "probe.s" -> "s", "probe.candidate_pairs" -> "count", "probe.pairs_after_dedup" -> "count",
    "refine.s" -> "s", "refine.pass_ratio" -> "ratio",
    "exchange.write_bytes" -> "bytes", "exchange.read_bytes" -> "bytes",
    "exchange.fetch_wait_s" -> "s", "task.straggler_ratio" -> "ratio",
    "plan.s" -> "s", "checkpoint.stage_s" -> "s", "checkpoint.done_set_rows" -> "count",
    "table.meta_parses" -> "count", "table.manifest_loads" -> "count",
    "table.snapshot_files" -> "count", "table.bytes" -> "bytes", "pipeline.emit_s" -> "s",
    "agg.spill_bytes" -> "bytes", "agg.peak_exec_mem_bytes" -> "bytes",
    "task.cpu_s" -> "s", "task.gc_s" -> "s", "task.count" -> "count", "task.failed" -> "count")

  /** Executor, exchange and planning metrics of the spans named `name`
    * (medians over those spans). */
  def workOf(spans: Seq[Span], name: String): Map[String, Double] = {
    val ws = spans.filter(_.name == name).map(_.work)
    def med(f: Work => Double) = Stats.median(ws.map(f))
    if (ws.isEmpty) Map.empty
    else Map(
      "exchange.write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "exchange.read_bytes" -> med(_.shuffleReadBytes.toDouble),
      "exchange.fetch_wait_s" -> med(_.fetchWaitMs / 1e3),
      "task.straggler_ratio" -> med(_.stragglerRatio),
      "plan.s" -> med(_.planMs / 1e3),
      "agg.spill_bytes" -> med(_.spillBytes.toDouble),
      "agg.peak_exec_mem_bytes" -> med(_.peakExecMem.toDouble),
      "task.cpu_s" -> med(_.cpuNs / 1e9),
      "task.gc_s" -> med(_.gcMs / 1e3),
      "task.count" -> med(_.tasks.toDouble),
      "task.failed" -> ws.map(_.failedTasks).sum.toDouble)
  }
}

/**
 * Staged calls over the spatial join, for difference-based self times:
 * scan only, + cell cover, + probe (cover-explode equi-join with the
 * min-shared-cell dedup, as `SpatialJoin.intersectJoin` builds it), and the
 * full `TileAssign.assign`. Each stage is one span.
 */
final class SpatialStages(spark: SparkSession, geomCol: String, shuffled: Boolean, salt: Int) {
  import Workloads.Res

  /** The engine's cell-cover expression for the geometry column's encoding. */
  private def cover(docs: DataFrame): Column =
    if (docs.schema(geomCol).dataType == BinaryType) SpatialColumns.stCellCoverWkb(col(geomCol), lit(Res))
    else SpatialColumns.stCellCover(col(geomCol), lit(Res))

  /** Runs the four stages once; returns the full assignment count. */
  def run(tracer: Tracer, docs: DataFrame): Long = {
    val g = col(geomCol)
    val docCount = tracer.span("scan") {
      docs.agg(sum(length(g)), count(lit(1))).head().getLong(1)
    }
    tracer.span("cover", (c: Long) => Map[String, Any]("cells" -> c, "docs" -> docCount)) {
      docs.agg(sum(size(cover(docs)))).head().getLong(0)
    }
    // candidate pairs: the equi-join output before the dedup predicate,
    // which the optimizer folds into the join condition of the probe stage
    val candidates = probe(docs, dedup = false).count()
    tracer.span("probe", (c: Long) => Map[String, Any]("pairs_after_dedup" -> c, "candidates" -> candidates)) {
      probe(docs, dedup = true).count()
    }
    tracer.span("TileAssign.assign", (c: Long) => Map[String, Any]("assignments" -> c)) {
      TileAssign.assign(docs, Workloads.tiles(spark), Res, shuffled, salt, geomCol).count()
    }
  }

  private def probe(docs: DataFrame, dedup: Boolean): DataFrame = {
    val p = docs.select(col(geomCol), cover(docs).as("__cells"))
    val d = Workloads.tiles(spark).select(col("tile_id"), cellCoverUdf(col("wkt"), lit(Res)).as("__tcells"))
    val (pk, dk, cellKey) =
      if (salt <= 1)
        (p.withColumn("__cell", explode(col("__cells"))),
         d.withColumn("__cell", explode(col("__tcells"))), col("__cell"))
      else
        (p.withColumn("__cell0", explode(col("__cells")))
           .withColumn("__cell", concat_ws(":", col("__cell0"), pmod(xxhash64(col(geomCol)), lit(salt))))
           .drop("__cell0"),
         d.withColumn("__salt", explode(lit((0 until salt).toArray)))
           .withColumn("__cell0", explode(col("__tcells")))
           .withColumn("__cell", concat_ws(":", col("__cell0"), col("__salt")))
           .drop("__cell0", "__salt"),
         split(col("__cell"), ":").getItem(0).cast("long"))
    val joined = pk.join(if (shuffled) dk.hint("shuffle_hash") else broadcast(dk), "__cell")
    if (dedup) joined.where(cellKey === array_min(array_intersect(col("__cells"), col("__tcells"))))
    else joined
  }
}

object SpatialStages {
  /** Self times and counts from the recorded stage spans. */
  def layers(spans: Seq[Span]): Map[String, Double] = {
    import Workloads.medianOf
    val (scan, cov, prb, full) = (medianOf(spans, "scan"), medianOf(spans, "cover"),
      medianOf(spans, "probe"), medianOf(spans, "TileAssign.assign"))
    def last(name: String) = spans.filter(_.name == name).last
    val c = last("cover").attrs
    val dedup = last("probe").attrs("pairs_after_dedup").asInstanceOf[Long]
    val assigned = last("TileAssign.assign").attrs("assignments").asInstanceOf[Long]
    Map(
      "scan.s" -> scan, "cover.s" -> (cov - scan), "probe.s" -> (prb - cov),
      "refine.s" -> (full - prb),
      "cover.cells_per_doc" -> c("cells").asInstanceOf[Long].toDouble / math.max(1L, c("docs").asInstanceOf[Long]),
      "probe.candidate_pairs" -> last("probe").attrs("candidates").asInstanceOf[Long].toDouble,
      "probe.pairs_after_dedup" -> dedup.toDouble,
      "refine.pass_ratio" -> assigned.toDouble / math.max(1L, dedup))
  }
}

/** Shared body of the two assignment workloads: one job = assign + count. */
abstract class AssignWorkload(name: String, hotspot: Double, shuffled: Boolean)
    extends Workload(name) {

  def docs(ctx: Ctx): Long

  def synthesize(spark: SparkSession, dir: Path, ctx: Ctx): Unit = {
    Synth.corpus(spark, docs(ctx), ctx.seed, hotspot).write.parquet(dir.resolve("corpus").toString)
    val d = Digest.of(Oracle.assign(spark.read.parquet(dir.resolve("corpus").toString)),
      Seq("doc_id", "tile_id"))
    Workloads.writeOracle(dir, Seq(Digest.render(d)))
  }

  /** Salt buckets of the timed join path. */
  def saltBuckets(spark: SparkSession, corpus: DataFrame, ctx: Ctx): Int = 1

  def open(spark: SparkSession, dir: Path, ctx: Ctx): Runner = new Runner {
    private val path = dir.resolve("corpus").toString
    private val expected = Digest.parse(Workloads.readOracle(dir).head)
    private val corpus = spark.read.parquet(path)
    private val rows = corpus.count()
    private val salt = saltBuckets(spark, corpus, ctx)
    private val stages = new SpatialStages(spark, "wkb", shuffled, salt)

    private def assign(shuffledPath: Boolean, saltN: Int): DataFrame =
      TileAssign.assign(spark.read.parquet(path), Workloads.tiles(spark), Workloads.Res,
        shuffledPath, saltN, geomCol = "wkb")

    private def job(): Job = {
      val (n, wall) = Stats.timed(assign(shuffled, salt).count())
      Job(wall, rows, n == expected.rows)
    }

    def warmup(): Unit = {
      val slice = Stats.firstParquet(Paths.get(path)).toString
      TileAssign.assign(spark.read.parquet(slice), Workloads.tiles(spark), Workloads.Res,
        shuffled, salt, geomCol = "wkb").count()
    }
    def round(): Seq[Job] = Seq(job())

    def gates(): (Seq[String], Digest) = {
      val got = Digest.of(assign(shuffled, salt), Seq("doc_id", "tile_id"))
      val fails = Seq(
        Option.when(got != expected)(s"$name: engine $got != oracle $expected"),
        // the other join path (shuffled and salted, or broadcast) must
        // produce the identical assignment set
        {
          val other = Digest.of(assign(!shuffled, if (shuffled) 1 else 2), Seq("doc_id", "tile_id"))
          Option.when(other != got)(s"$name: other join path $other != $got")
        }).flatten
      (fails, got)
    }

    override def extras(): Seq[Metric] = Seq(Metric("salt_buckets", salt, "count"))

    def tracedRound(tracer: Tracer): Seq[Job] = {
      val n = stages.run(tracer, spark.read.parquet(path))
      Seq(Job(tracer.spans.last.seconds, rows, n == expected.rows))
    }

    def layers(tracer: Tracer): Map[String, Double] =
      SpatialStages.layers(tracer.spans) ++ Workloads.workOf(tracer.spans, "TileAssign.assign")
  }
}

/** The flagship: cover, broadcast probe and refine dominate; no exchange,
  * no table IO. */
object AssignBroadcast extends AssignWorkload("assign_broadcast", hotspot = 0.2, shuffled = false) {
  def docs(ctx: Ctx): Long = ctx.size.assignDocs
  override def scaling: Boolean = true
}

/** The same operator forced onto the shuffled, salted path over a corpus
  * where one cell dominates: exchange and skew splitting. */
object AssignSkewShuffled extends AssignWorkload("assign_skew_shuffled", hotspot = 0.8, shuffled = true) {
  def docs(ctx: Ctx): Long = ctx.size.skewDocs

  private val suggested = scala.collection.mutable.Map.empty[Ctx, Int]

  /** The engine's own histogram-based suggestion, with one task's even
    * share of the corpus as the bucket target. Made by the first set-up of
    * a run; the later set-ups reuse it (it depends on the input only). */
  override def saltBuckets(spark: SparkSession, corpus: DataFrame, ctx: Ctx): Int =
    suggested.getOrElseUpdate(ctx, {
      val (n, wall) = Stats.timed(SpatialJoin.suggestSaltBuckets(corpus, "wkt", Workloads.Res,
        targetPerBucket = math.max(1L, ctx.size.skewDocs / ctx.cpus)))
      Main.say(f"$name suggestSaltBuckets = $n in $wall%.3f s")
      n
    })
}

/**
 * Search & Discover, incrementally: increment i offers the docs of parts
 * 0..i (cumulative), each with a new commitId, into one checkpoint root, and
 * materializes the job docs. A round is one cycle of increments on a fresh
 * root, ended by a replay of the last commitId. The checkpointed write path:
 * anti-join against a growing done-set, commits, table metadata, WKT join.
 */
object SearchDiscover extends Workload("search_discover_incremental") {

  private val spansSchema =
    "struct<doc_id:string,tile_id:string,spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>>"

  def synthesize(spark: SparkSession, dir: Path, ctx: Ctx): Unit = {
    val (n, k) = (ctx.size.discoverDocs, ctx.size.increments)
    // doc i belongs to increment i % k; increment i offers parts 0..i
    def inc(docId: Column) = (substring(docId, 13, 12).cast("long") % k).cast("int")
    SynthCorpus.docs(spark, n, ctx.seed, 0.2)
      .select(col("doc_id"), col("xmin"), col("ymin"), col("xmax"), col("ymax"), col("wkt"),
        col("spans"), inc(col("doc_id")).as("inc"))
      .coalesce(ctx.cpus).write.partitionBy("inc").parquet(dir.resolve("docs").toString)
    val docs = spark.read.parquet(dir.resolve("docs").toString)
    // already-produced products: a fifth of the first increment's assignments
    Oracle.assign(docs.where(col("inc") === 0))
      .where(pmod(xxhash64(col("doc_id"), col("tile_id")), lit(5)) === 0)
      .write.parquet(dir.resolve("inventory").toString)
    val inventory = spark.read.parquet(dir.resolve("inventory").toString)
    // expected job docs: AOI docs' assignments minus the inventory, digested
    // per increment and accumulated (xor, sum and count add over disjoint parts)
    val jobs = Oracle.assign(docs.where(col("ymax") >= -45.0 && col("ymin") <= 45.0))
      .join(inventory, Seq("doc_id", "tile_id"), "left_anti")
    val h = xxhash64(col("doc_id"), col("tile_id"))
    val parts = jobs.groupBy(inc(col("doc_id"))).agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L))))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val lines = (0 until k).scanLeft((0L, 0L, 0L, 0L)) { case ((offered, rows, x, sm), i) =>
      val (pn, px, ps) = parts.getOrElse(i, (0L, 0L, 0L))
      (offered + (n - i + k - 1) / k, rows + pn, x ^ px, sm + ps)
    }.tail.map { case (offered, rows, x, sm) =>
      s"$offered\t${Digest.render(Digest(rows, if (rows == 0) "0:0" else f"$x%016x:$sm"))}"
    }
    Workloads.writeOracle(dir, lines)
  }

  def open(spark: SparkSession, dir: Path, ctx: Ctx): Runner = new Runner {
    private val k = ctx.size.increments
    private val oracle = Workloads.readOracle(dir).map(_.split("\t", 2))
    private val offeredRows = oracle.map(_(0).toLong)
    private val expected = oracle.map(o => Digest.parse(o(1)))
    private val parts = (0 until k).map(i => dir.resolve(s"docs/inc=$i").toString)
    private val inputBytes = (0 until k).map(i => Stats.bytesUnder(dir.resolve(s"docs/inc=$i"))).sum
    private val inventory = spark.read.parquet(dir.resolve("inventory").toString)
    private val work = ctx.root.resolve("run").resolve(s"discover-${ProcessHandle.current().pid()}")
    private var cycle = 0
    private val resumeWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    private val amplification = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** checkpoint and table readings after each traced increment */
    private val tableStats = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

    private def cycleDir(c: Int) = work.resolve(s"cycle-$c")
    private def offered(i: Int): DataFrame = spark.read.parquet(parts.take(i + 1): _*)

    /** An eighth of the first increment's docs, for the set-up warm-up. */
    private def slice: DataFrame = offered(0).where(pmod(xxhash64(col("doc_id")), lit(8)) === 0)

    /** searchDiscover + job-doc materialization of one increment. */
    private def increment(tracer: Tracer, base: Path, docs: DataFrame, commit: String, out: Path): Unit = {
      val jobs = tracer.span("Pipeline.searchDiscover") {
        Pipeline.searchDiscover(spark, docs, Workloads.tiles(spark), inventory,
          Workloads.AoiWkt, base.toString, commit)
      }
      tracer.span("emit") { jobs.write.parquet(out.toString) }
    }

    private def cycleRun(tracer: Tracer): Seq[Job] = {
      cycle += 1
      graft.Fs.deleteRecursively(cycleDir(cycle - 1))
      val base = cycleDir(cycle).resolve("ckpt")
      val jobs = (0 until k).map { i =>
        val doneRows =
          if (tracer.enabled && i > 0) Checkpoint.committed(spark, base.toString, "assign").count() else 0L
        val (m0, l0) = (IcebergLite.metaParses.get(), IcebergLite.manifestLoads.get())
        val out = cycleDir(cycle).resolve(s"jobs-$i")
        val (_, wall) = Stats.timed(tracer.span("increment") {
          increment(tracer, base, offered(i), s"c$cycle-i$i", out)
        })
        if (tracer.enabled) {
          val table = Checkpoint.outputTable(base.toString, "assign")
          val files = IcebergLite.readSnapshot(table).map(_.files.size).getOrElse(0)
          tableStats += Map(
            "checkpoint.done_set_rows" -> doneRows.toDouble,
            "table.meta_parses" -> (IcebergLite.metaParses.get() - m0).toDouble,
            "table.manifest_loads" -> (IcebergLite.manifestLoads.get() - l0).toDouble,
            "table.snapshot_files" -> files.toDouble,
            "table.bytes" -> Stats.bytesUnder(base).toDouble,
            "checkpoint.stage_s" -> Checkpoint.log(spark, base.toString, "assign")
              .where(col("commit_id") === s"c$cycle-i$i").agg(max("wall_ms")).head().getLong(0) / 1e3)
        }
        val n = spark.read.parquet(out.toString).count()
        Job(wall, offeredRows(i), n == expected(i).rows)
      }
      // resume: replay the committed last increment under its own commitId
      val (_, resume) = Stats.timed(increment(tracer, base, offered(k - 1), s"c$cycle-i${k - 1}",
        cycleDir(cycle).resolve("replay")))
      resumeWalls += resume
      amplification += Stats.bytesUnder(base).toDouble / inputBytes
      jobs
    }

    private val off = new Tracer(spark, enabled = false)

    def warmup(): Unit = {
      val base = work.resolve("warmup")
      increment(off, base.resolve("ckpt"), slice, "warmup", base.resolve("jobs"))
      graft.Fs.deleteRecursively(base)
    }

    def round(): Seq[Job] = cycleRun(off)

    override def close(): Unit = graft.Fs.deleteRecursively(work)

    def gates(): (Seq[String], Digest) = {
      val last = cycleDir(cycle)
      val jobs = spark.read.parquet(last.resolve(s"jobs-${k - 1}").toString)
      val got = Digest.of(jobs, Seq("doc_id", "tile_id"))
      val replay = Digest.of(spark.read.parquet(last.resolve("replay").toString), Seq("doc_id", "tile_id"))
      // every job doc carries its input doc's spans unchanged, in order
      val parsed = jobs.select(col("doc_id"), col("tile_id"),
        from_json(col("job_json"), org.apache.spark.sql.types.DataType.fromDDL(spansSchema)).as("j"))
      val input = offered(k - 1).select(col("doc_id").as("in_id"), col("spans").as("in_spans"))
      val spanMismatch = parsed.join(input, col("doc_id") === col("in_id"), "left")
        .where(!(col("j.spans") <=> col("in_spans")) || col("j.doc_id") =!= col("doc_id") ||
          col("j.tile_id") =!= col("tile_id") || col("in_id").isNull)
        .count()
      val fails = Seq(
        Option.when(got != expected(k - 1))(s"$name: job docs $got != oracle ${expected(k - 1)}"),
        Option.when(replay != got)(s"$name: replay $replay != last increment $got"),
        Option.when(spanMismatch != 0)(s"$name: $spanMismatch job docs whose spans differ from the input doc"))
        .flatten
      (fails, got)
    }

    override def extras(): Seq[Metric] = Seq(
      Metric("resume_s", Stats.median(resumeWalls.toSeq), "s"),
      Metric("storage_amplification", Stats.median(amplification.toSeq), "ratio"))

    def tracedRound(tracer: Tracer): Seq[Job] = {
      val jobs = cycleRun(tracer)
      val stages = new SpatialStages(spark, "wkt", shuffled = false, salt = 1)
      stages.run(tracer, offered(k - 1))
      jobs
    }

    def layers(tracer: Tracer): Map[String, Double] = {
      val spans = tracer.spans
      val table = tableStats.toSeq
      def med(key: String) = Stats.median(table.map(_(key)))
      SpatialStages.layers(spans) ++
        Workloads.workOf(spans, "increment") ++
        Map(
          "pipeline.emit_s" -> Workloads.medianOf(spans, "emit"),
          "checkpoint.stage_s" -> med("checkpoint.stage_s"),
          "table.meta_parses" -> med("table.meta_parses"),
          "table.manifest_loads" -> med("table.manifest_loads"),
          "checkpoint.done_set_rows" -> table.last("checkpoint.done_set_rows"),
          "table.snapshot_files" -> table.last("table.snapshot_files"),
          "table.bytes" -> table.last("table.bytes"))
    }
  }
}

/** The two observation-buffering composites over a seeded pixel table:
  * aggregation buffers and their exchange, no spatial join. */
object PixelComposite extends Workload("pixel_composite") {

  private val Iters = 32

  def synthesize(spark: SparkSession, dir: Path, ctx: Ctx): Unit = {
    Synth.lineitem(spark, ctx.size.pixelRows, ctx.seed).coalesce(ctx.cpus)
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    // a twentieth of the rows, for the set-up warm-up
    spark.read.parquet(dir.resolve("lineitem.parquet").toString).where(col("l_orderkey") % 20 === 0)
      .write.parquet(dir.resolve("warmup").resolve("lineitem.parquet").toString)
    val groups = graft.ops.Pixels.pixels(spark, dir.toString).select("py", "px").distinct().count()
    Workloads.writeOracle(dir, Seq(groups.toString))
  }

  def open(spark: SparkSession, dir: Path, ctx: Ctx): Runner = new Runner {
    private val d = dir.toString
    private val groups = Workloads.readOracle(dir).head.toLong
    private val rows = ctx.size.pixelRows
    private var lastMedian: Array[Row] = Array.empty
    private var lastMedoid: Array[Row] = Array.empty

    private def query(q: String): Array[Row] = graft.SparkEntry.queries(q)(spark, d).collect()

    private def job(tracer: Tracer): Job = {
      val (_, wall) = Stats.timed {
        lastMedian = tracer.span("px_geomedian")(query("px_geomedian"))
        lastMedoid = tracer.span("px_geomedoid")(query("px_geomedoid"))
      }
      Job(wall, rows, lastMedian.length == groups && lastMedoid.length == groups)
    }

    private val off = new Tracer(spark, enabled = false)

    def warmup(): Unit = {
      graft.SparkEntry.queries("px_geomedian")(spark, dir.resolve("warmup").toString).collect()
      graft.SparkEntry.queries("px_geomedoid")(spark, dir.resolve("warmup").toString).collect()
    }
    def round(): Seq[Job] = Seq(job(off))

    def gates(): (Seq[String], Digest) = {
      val px = graft.ops.Pixels.pixels(spark, d)
        .select(col("py"), col("px"), col("blue").cast("double"), col("nir").cast("double"),
          col("red").cast("double")).collect()
      val obs = px.groupBy(r => (r.getLong(0), r.getLong(1)))
        .map { case (k, rs) => k -> rs.map(r => Array(r.getDouble(2), r.getDouble(3), r.getDouble(4))) }
      val medians = lastMedian.map(r => (r.getLong(0), r.getLong(1)) ->
        Array(r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val badMedian = obs.count { case (k, o) =>
        val ref = Oracle.geomedian(o, Iters)
        medians.get(k).forall(g => (0 until 3).exists(i => math.abs(g(i) - ref(i)) > 1e-5))
      }
      // the medoid must be an observation of its pixel at minimum distance
      // from the (reference) rounded geomedian
      val badMedoid = lastMedoid.count { r =>
        val k = (r.getLong(0), r.getLong(1))
        val m = Array(r.getLong(2).toDouble, r.getLong(3).toDouble, r.getLong(4).toDouble)
        val o = obs.getOrElse(k, Array.empty[Array[Double]])
        val c = Oracle.geomedian(o, Iters)
        def d2(p: Array[Double]) = (0 until 3).map(i => (p(i) - c(i)) * (p(i) - c(i))).sum
        o.isEmpty || !o.exists(_.sameElements(m)) || d2(m) > o.map(d2).min * (1 + 1e-9) + 1e-9
      }
      val rowsDf = spark.createDataFrame(
        spark.sparkContext.parallelize((lastMedian ++ lastMedoid).map(r => Row(r.mkString("|"))).toSeq),
        org.apache.spark.sql.types.StructType.fromDDL("r string"))
      val got = Digest.of(rowsDf, Seq("r"))
      val fails = Seq(
        Option.when(lastMedian.length != obs.size || lastMedoid.length != obs.size)(
          s"$name: ${lastMedian.length}/${lastMedoid.length} output pixels, expected ${obs.size}"),
        Option.when(badMedian > 0)(s"$name: $badMedian geomedians off the reference by > 1e-5"),
        Option.when(badMedoid > 0)(s"$name: $badMedoid geomedoids not a nearest observation")).flatten
      (fails, got)
    }

    def tracedRound(tracer: Tracer): Seq[Job] = {
      tracer.span("scan") {
        graft.ops.Pixels.pixels(spark, d)
          .agg(sum(col("blue") + col("nir") + col("red")), count(lit(1))).head()
      }
      Seq(job(tracer))
    }

    def layers(tracer: Tracer): Map[String, Double] = {
      val spans = tracer.spans
      val gm = Workloads.workOf(spans, "px_geomedian")
      val md = Workloads.workOf(spans, "px_geomedoid")
      // the two composites run back to back: add their work, keep the worse ratio
      gm.map { case (key, v) =>
        key -> (if (key == "task.straggler_ratio" || key == "agg.peak_exec_mem_bytes")
                  math.max(v, md(key)) else v + md(key))
      } + ("scan.s" -> Workloads.medianOf(spans, "scan"))
    }
  }
}
