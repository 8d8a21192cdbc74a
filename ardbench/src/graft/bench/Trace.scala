package graft.bench

import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine-side work counted while one span was open: Spark task metrics
  * plus Catalyst planning time of the queries run. */
final class Work {
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var planMs = 0L
  /** stage id -> task durations (ms), for the straggler ratio */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Adds a finished child span's work into this (enclosing) span's. */
  def add(o: Work): Unit = synchronized {
    tasks += o.tasks; failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    planMs += o.planMs
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max / median task time of the stage with the most total task time */
  def stragglerRatio: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val heaviest = stageTaskMs.values.maxBy(_.sum).sorted
      val med = heaviest(heaviest.size / 2)
      heaviest.last.toDouble / math.max(1L, med)
    }
}

/**
 * Collects task metrics (SparkListener) and query planning time
 * (QueryExecutionListener) into the [[Work]] of whichever span is current.
 * Runs are closed-loop, so draining the listener bus when a span opens and
 * closes attributes every event to the right span.
 */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var current: Work = new Work

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = current
    w.synchronized {
      w.tasks += 1
      if (e.reason != Success) w.failedTasks += 1
      w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val w = current
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    w.synchronized { w.planMs += planMs }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Any], work: Work) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder around calls into the engine. With tracing off
 * (`enabled = false`) `span` only runs the body and nothing is recorded.
 * The Spark listeners are installed only between `attach` and `detach`, so
 * untraced jobs in the same session carry no tracing cost.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new LayerListener
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Installs the listeners; spans opened while detached record no work. */
  def attach(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def detach(): Unit = if (enabled) {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  def spans: Seq[Span] = recorded.toSeq

  /** Runs `body` as a span named `name`. */
  def span[T](name: String)(body: => T): T = span(name, (_: T) => Map.empty[String, Any])(body)

  /** Runs `body` as a span named `name`; `attrs` are computed from its result. */
  def span[T](name: String, attrs: T => Map[String, Any])(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      ListenerBusDrain(spark.sparkContext)
      val outer = listener.current
      val work = new Work
      listener.current = work
      stack = id :: stack
      val t0 = System.nanoTime()
      try {
        val r = body
        val t1 = System.nanoTime()
        ListenerBusDrain(spark.sparkContext)
        recorded += Span(id, parent, name, t0, t1, attrs(r), work)
        r
      } finally {
        stack = stack.tail
        listener.current = outer
        outer.add(work)
      }
    }

  /** Writes the spans as JSON lines, one per span, with parent ids. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = recorded.map { s =>
      val w = s.work
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.value(v)}""" }
      (Seq(s""""id":${s.id}""", s""""parent":${s.parent}""", s""""name":${Json.str(s.name)}""",
        s""""start_ns":${s.startNs}""", s""""end_ns":${s.endNs}""",
        s""""tasks":${w.tasks}""", s""""cpu_ns":${w.cpuNs}""", s""""plan_ms":${w.planMs}""",
        s""""shuffle_write_bytes":${w.shuffleWriteBytes}""",
        s""""shuffle_read_bytes":${w.shuffleReadBytes}""") ++ attrs).mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result line and span files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Long => n.toString
    case s => str(String.valueOf(s))
  }
}
