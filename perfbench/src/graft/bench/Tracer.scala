package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide readings that need no listener: CPU, GC, JIT, codegen. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = os.getProcessCpuTime / 1e9
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def codegenCompiles: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  def codegenMs: Double = CodeGenerator.compileTime / 1e6
  def loadAverage: Double = os.getSystemLoadAverage

  /** Live heap after full collections, repeated until a collection frees
    * no more: Spark's cleaner and asynchronous unpersists release blocks
    * only after the collection that finds them unreachable. */
  def heapAfterGcMb: Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = collect()
    var next = collect()
    var rounds = 2
    while (next < last * 0.99 && rounds < 6) {
      last = next; next = collect(); rounds += 1
    }
    math.min(last, next)
  }

  /** The readings above as one additive snapshot. */
  def snap(): Map[String, Double] = Map(
    "process_cpu_s" -> processCpuS, "gc_ms" -> gcMs, "jit_ms" -> jitMs,
    "codegen_compiles" -> codegenCompiles, "codegen_ms" -> codegenMs)
}

/** Per-layer counters for the traced run, fed by Spark's public listener
  * interfaces: scheduler events (jobs, stages, tasks, shuffle, spill) and
  * query-execution callbacks (planning phases, scan nodes). Counters are
  * cumulative; callers take [[snap]] before and after a span and subtract.
  * Jobs, task CPU and shuffle writes are also summed per job call site
  * (`tag.<site>.*`). */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  // per stage: (tasks, summed shuffle-read bytes, max task shuffle-read bytes)
  private val stageRead = new ConcurrentHashMap[Int, Array[Double]]()
  @volatile private var maxSkewSeen = 0.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      jobStart.put(e.jobId, e.time)
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty("callSite.short"))).getOrElse("")
      if (tag.nonEmpty) {
        add(s"tag.$tag.jobs", 1)
        e.stageIds.foreach(stageTag.put(_, tag))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => add("job_ms", (e.time - t).toDouble))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      Option(stageRead.remove(e.stageInfo.stageId)).foreach { a =>
        if (a(0) >= 2 && a(1) > 1e6)
          maxSkewSeen = math.max(maxSkewSeen, a(2) / (a(1) / a(0)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      add("tasks", 1)
      val cpu = m.executorCpuTime / 1e9
      add("task_cpu_s", cpu)
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_overhead_ms",
        math.max(0L, e.taskInfo.duration - m.executorRunTime).toDouble)
      val read = m.shuffleReadMetrics.totalBytesRead.toDouble
      add("shuffle_read_mb", read / 1e6)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("input_mb", m.inputMetrics.bytesRead / 1e6)
      Option(stageTag.get(e.stageId)).foreach { t =>
        add(s"tag.$t.task_cpu_s", cpu)
        add(s"tag.$t.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      }
      val a = stageRead.computeIfAbsent(e.stageId, _ => Array(0.0, 0.0, 0.0))
      a.synchronized { a(0) += 1; a(1) += read; a(2) = math.max(a(2), read) }
    }
  }

  /** Planning phases and scan-node metrics of one finished action. */
  private[bench] def onQuery(qe: QueryExecution): Unit = {
    add("actions", 1)
    val phases = qe.tracker.phases
    Seq("analysis" -> "analysis_ms", "optimization" -> "optimizer_ms",
        "planning" -> "planning_ms").foreach { case (p, k) =>
      phases.get(p).foreach(s => add(k, s.durationMs.toDouble))
    }
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .foreach { s =>
        s.metrics.get("scanTime").foreach(m => add("scan_ms", m.value.toDouble))
        s.metrics.get("numFiles").foreach(m => add("files", m.value.toDouble))
      }
  }

  spark.sparkContext.addSparkListener(listener)
  Tracer.active = Some(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    Tracer.active = None
  }

  /** Largest max/mean task shuffle-read ratio over stages reading >1 MB. */
  def maxSkew: Double = maxSkewSeen

  /** Drain the listener bus, then read every counter plus the JVM ones. */
  def snap(): Map[String, Double] = {
    GraftSparkBridge.drainListenerBus(spark.sparkContext)
    sums.asScala.map { case (k, v) => k -> v.sum }.toMap ++ Jvm.snap()
  }
}

object Tracer {
  /** The tracer [[QueryPhases]] reports to, while a traced part runs. */
  @volatile private[bench] var active: Option[Tracer] = None

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Persistent RDDs and their stored size, read before any clean-up. */
  def pinned(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    (sc.getPersistentRDDs.size, mb)
  }
}

/** Query-execution listener for traced runs, installed through
  * `spark.sql.queryExecutionListeners` so that it also hears sessions the
  * program creates itself (`DaemonSoak.run` ticks on `newSession()`). */
final class QueryPhases extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Tracer.active.foreach(_.onQuery(qe))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Tracer.active.foreach(_.onQuery(qe))
}
