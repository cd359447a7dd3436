package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerSync
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters, summed by a listener the benchmark owns. */
final class Counters extends SparkListener with QueryExecutionListener {
  private def c() = new AtomicLong(0L)
  val jobs, stages, tasks = c()
  val taskDurationMs, runTimeMs, cpuNs = c()
  val records, shuffleWrite, shuffleRead, spill = c()
  val analysisMs, optimizationMs, planningMs = c()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskDurationMs.addAndGet(e.taskInfo.duration)
      runTimeMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      records.addAndGet(m.inputMetrics.recordsRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms(QueryPlanningTracker.ANALYSIS))
    optimizationMs.addAndGet(ms(QueryPlanningTracker.OPTIMIZATION))
    planningMs.addAndGet(ms(QueryPlanningTracker.PLANNING))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** One traced interval. Spans of one run share the run's process, so the
  * parent id is enough to rebuild the tree; `jobs` is the number of Spark
  * jobs started inside the span.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, jobs: Long)

/** Spans kept in memory and written out when the run ends, plus the
  * counter window they are read against. With `enabled = false` every
  * call runs its body and records nothing, so the untraced run pays no
  * listener and no bus drain.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters = new Counters
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0
  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }

  private var blockedNs = 0L

  /** Waits until the listener bus has delivered every queued event, so
    * a counter read right after an action includes that action.
    */
  def drain(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    ListenerSync.drain(spark.sparkContext)
    blockedNs += System.nanoTime() - t0
  }

  /** Time the caller spent waiting on tracing: the bus drains at span
    * edges and counter reads. The listener itself runs on Spark's bus
    * thread.
    */
  def blockedSeconds: Double = blockedNs / 1e9

  private var paused = false

  /** Runs `body` with spans off, for the untraced passes of a traced run. */
  def suspended[T](body: => T): T = {
    paused = true
    try body finally paused = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      drain()
      val id = nextId
      nextId += 1
      val jobs0 = counters.jobs.get
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        drain()
        spans += Span(id, stack.head, name, t0, t1, counters.jobs.get - jobs0)
      }
    }

  /** Sum of the durations and jobs of every span with this name. */
  def total(name: String): (Double, Long) = {
    val s = spans.filter(_.name == name)
    (s.map(x => (x.endNs - x.startNs) / 1e9).sum, s.map(_.jobs).sum)
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Process-wide counters that need no listener: codegen and GC. */
object JvmCounters {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

/** A snapshot of every counter, subtracted from a later one to give the
  * counts of a window.
  */
final case class Snapshot(values: Map[String, Double]) {
  def -(o: Snapshot): Map[String, Double] = values.map { case (k, v) => k -> (v - o.values(k)) }
}

object Snapshot {
  def take(t: Tracer): Snapshot = {
    t.drain()
    val c = t.counters
    val mb = 1024.0 * 1024.0
    Snapshot(Map(
      "sched.jobs" -> c.jobs.get.toDouble,
      "sched.stages" -> c.stages.get.toDouble,
      "sched.tasks" -> c.tasks.get.toDouble,
      "sched.task_overhead_s" -> (c.taskDurationMs.get - c.runTimeMs.get) / 1e3,
      "exec.input_records" -> c.records.get.toDouble,
      "exec.shuffle_write_mb" -> c.shuffleWrite.get / mb,
      "exec.shuffle_read_mb" -> c.shuffleRead.get / mb,
      "exec.spill_mb" -> c.spill.get / mb,
      "exec.task_cpu_s" -> c.cpuNs.get / 1e9,
      "exec.gc_s" -> JvmCounters.gcMs / 1e3,
      "catalyst.analysis_ms" -> c.analysisMs.get.toDouble,
      "catalyst.optimization_ms" -> c.optimizationMs.get.toDouble,
      "catalyst.planning_ms" -> c.planningMs.get.toDouble,
      "codegen.compiles" -> JvmCounters.compiles.toDouble,
      "codegen.compile_ms" -> JvmCounters.compileNs / 1e6))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Renders maps, sequences, strings, numbers, booleans and options. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
