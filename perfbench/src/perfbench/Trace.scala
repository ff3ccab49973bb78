package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into `graft.*`: name, start,
  * end, parent span and run id. Kept in memory; written once, when the run
  * ends. A disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  private val origin = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Self time per span name (duration minus the part its children cover),
    * summed over the spans below the first span named `root`.
    */
  def selfSeconds(root: String): Map[String, Double] = {
    val byId = done.map(s => s.id -> s).toMap
    def under(s: Span): Boolean =
      byId.get(s.parent).exists(p => p.name == root || under(p))
    val inside = done.filter(under)
    val childNs = done.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    inside.groupBy(_.name).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }

  def json: String = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Driver and executor counters of one window of work (see [[Counters]]). */
final case class Window(wallS: Double, values: Map[String, Double])

/** Spark listener + query-execution listener accumulating the per-layer
  * counters. [[measure]] brackets a body: it drains the listener bus before
  * and after, so every event of the body lands in its own window.
  */
final class Counters(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var maxTaskMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    add("driver.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("driver.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("executor.tasks", 1)
    maxTaskMs = math.max(maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("executor.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("executor.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("executor.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"driver.${p}_s", s.durationMs / 1e3))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def measure[A](body: => A): (A, Window) = {
    PerfbenchBus.drain(spark.sparkContext)
    val before = synchronized { maxTaskMs = 0L; sums.toMap }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val delta = Counters.Keys.map(k => k -> (sums(k) - before.getOrElse(k, 0.0))).toMap
      val covered = Counters.unionMs(jobSpans.toSeq, t0, t1) / 1e3
      (a, Window(wall, delta ++ Map(
        "executor.max_task_s" -> maxTaskMs / 1e3,
        "driver.job_gap_s" -> math.max(0.0, wall - covered),
        "executor.core_util" -> (if (wall > 0) delta("executor.run_s") / (wall * cores) else 0.0))))
    }
  }
}

object Counters {
  val Keys: Seq[String] = Seq("driver.analysis_s", "driver.optimization_s",
    "driver.planning_s", "driver.jobs", "driver.stages", "executor.tasks",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.shuffle_write_bytes", "executor.spill_bytes", "executor.output_bytes")

  /** Every counter a window reports, in a fixed order. */
  val All: Seq[String] = Keys ++ Seq("driver.job_gap_s", "executor.max_task_s",
    "executor.core_util")

  /** Milliseconds of [t0, t1] covered by at least one of `spans`. */
  def unionMs(spans: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
