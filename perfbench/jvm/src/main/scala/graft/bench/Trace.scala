package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, steady within the process. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** Spans kept in memory and written out once, when the JVM is done. A span's
  * parent is the span open on the same thread when it started; Spark job
  * spans come from the listener thread and carry parent -1, so their parent
  * is resolved later by interval containment.
  */
final class Spans {
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(0L)
    open.set(id :: open.get)
    val t0 = Clock.nowUs
    try f
    finally {
      done.add(Span(id, parent, name, t0, Clock.nowUs))
      open.set(open.get.tail)
    }
  }

  def addDetached(name: String, startUs: Long, endUs: Long): Unit =
    done.add(Span(ids.incrementAndGet(), -1L, name, startUs, endUs))

  def all: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startUs, s.id))
}

private object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Int = collectWithSubqueries(p) { case s: FileSourceScanExec => s }.size
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
}

/** The engine counters of one traced JVM, gathered by a SparkListener and a
  * QueryExecutionListener that only the benchmark registers. Counting starts
  * when the trace is installed and stops at [[snapshot]].
  */
final class EngineTrace(spark: SparkSession, slots: Int, spans: Spans)
    extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit = c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)] // epoch ms
  private var active = 0
  private var peak = 0
  @volatile private var counting = true

  /** Classes compiled so far, and the exact total compile time in ns. */
  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  private val codegenAtStart = codegen

  override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) {
    add("jobs", 1)
    synchronized { active += 1; peak = math.max(peak, active) }
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { t0 =>
      synchronized { active -= 1 }
      if (counting) {
        jobIntervals.add((t0, e.time))
        spans.addDetached("spark.job", t0 * 1000L, e.time * 1000L)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (counting) add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    add("tasks", 1)
    if (e.reason != org.apache.spark.Success) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_b", m.inputMetrics.bytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("output_b", m.outputMetrics.bytesWritten)
    }
  }

  private def onQuery(qe: QueryExecution): Unit = if (counting) {
    qe.tracker.phases.foreach { case (phase, summary) => add(s"phase_$phase", summary.durationMs) }
    scala.util.Try(qe.executedPlan).foreach { p =>
      add("scans", PlanWalk.scans(p))
      add("exchanges", PlanWalk.exchanges(p))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)

  /** Job-active time inside `[startUs, endUs]`, in ms. */
  private def jobCoveredMs(startUs: Long, endUs: Long, merged: Seq[(Long, Long)]): Double =
    merged.map { case (a, b) =>
      math.max(0L, math.min(b * 1000L, endUs) - math.max(a * 1000L, startUs))
    }.sum / 1000.0

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Stop counting and return the per-layer engine metrics for the timed
    * calls, whose intervals are `calls` (epoch microseconds).
    */
  def snapshot(calls: Seq[(Long, Long)]): Map[String, Double] = {
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    counting = false
    val (cgCount, cgNs) = codegen
    def v(k: String): Double = c.get(k).map(_.get.toDouble).getOrElse(0.0)
    val merged = union(jobIntervals.asScala.toSeq)
    val activeMs = merged.map { case (a, b) => (b - a).toDouble }.sum
    val callMs = calls.map { case (s, e) => (e - s) / 1000.0 }.sum
    val coveredMs = calls.map { case (s, e) => jobCoveredMs(s, e, merged) }.sum
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> v("jobs"),
      "spark.stages" -> v("stages"),
      "spark.tasks" -> v("tasks"),
      "spark.scans" -> v("scans"),
      "spark.exchanges" -> v("exchanges"),
      "spark.codegen_classes" -> (cgCount - codegenAtStart._1).toDouble,
      "spark.input_mb" -> v("input_b") / mb,
      "spark.shuffle_write_mb" -> v("shuffle_write_b") / mb,
      "spark.spill_mb" -> v("spill_b") / mb,
      "spark.output_mb" -> v("output_b") / mb,
      "spark.failed_tasks" -> v("failed_tasks"),
      "spark.parse_ms" -> v("phase_parsing"),
      "spark.analysis_ms" -> v("phase_analysis"),
      "spark.optimization_ms" -> v("phase_optimization"),
      "spark.planning_ms" -> v("phase_planning"),
      "spark.codegen_compile_ms" -> (cgNs - codegenAtStart._2) / 1e6,
      "spark.executor_run_ms" -> v("run_ms"),
      "spark.executor_cpu_ms" -> v("cpu_ns") / 1e6,
      "spark.gc_ms" -> v("gc_ms"),
      "spark.no_job_ms" -> math.max(0.0, callMs - coveredMs),
      "spark.slot_idle_frac" ->
        (if (activeMs <= 0) 1.0
         else math.min(1.0, math.max(0.0, 1.0 - v("run_ms") / (activeMs * slots)))),
      "spark.peak_concurrent_jobs" -> synchronized(peak).toDouble)
  }
}

object EngineTrace {
  def install(spark: SparkSession, slots: Int, spans: Spans): EngineTrace = {
    val t = new EngineTrace(spark, slots, spans)
    spark.sparkContext.addSparkListener(t)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(t)
    t
  }
}
