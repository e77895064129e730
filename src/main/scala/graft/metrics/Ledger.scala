package graft.metrics

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.table.ManifestTable

/** The work a Spark application has done so far, layer by layer: jobs,
  * stages and tasks, task run and CPU time, scan and shuffle bytes and
  * records, spill, codegen compiles, JIT, GC and planner phases, plus
  * graft's own table counters. Every value is cumulative, so the work of
  * one operation is the difference of two snapshots ([[measure]]).
  *
  * Executor counters come from one [[SparkListener]] per `SparkContext`,
  * planner phases from one [[QueryExecutionListener]] per session (both
  * async; [[snapshot]] drains the bus first), JVM counters from the
  * management beans. Nothing installs a ledger but [[Ledger.of]]. */
final class Ledger private (private val sc: SparkContext) {
  import Ledger._

  private val jobs, stages, tasks, jobWallNs, taskRunMs, taskCpuNs, schedDelayMs,
    scanRecords, scanBytes, shuffleWriteBytes, shuffleWriteRecords,
    shuffleReadRecords, spillBytes, analysisMs, optimizationMs, planningMs =
    new AtomicLong
  private val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  @volatile private var capture: ConcurrentLinkedQueue[TaskWork] = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStartNs.put(e.jobId, System.nanoTime())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartNs.remove(e.jobId)).foreach(t0 =>
        jobWallNs.addAndGet(System.nanoTime() - t0))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        // Spark UI's scheduler delay: task duration not spent running,
        // deserializing, serializing the result or fetching it
        val info = e.taskInfo
        schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
        scanRecords.addAndGet(m.inputMetrics.recordsRead)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        val c = capture
        if (c != null) c.add(TaskWork(e.stageId,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten))
      }
    }
  }
  sc.addSparkListener(listener)

  private val planner = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def add(c: AtomicLong, phase: String): Unit =
        p.get(phase).foreach(s => c.addAndGet(s.durationMs))
      add(analysisMs, "analysis"); add(optimizationMs, "optimization")
      add(planningMs, "planning")
    }
  }

  private def drain(): Unit = org.apache.spark.GraftListenerDrain.waitUntilEmpty(sc, 30000)

  /** Every counter now, in seconds, bytes and counts. */
  def snapshot(): Map[String, Double] = {
    drain()
    Map(
      "exec.jobs" -> jobs.get.toDouble,
      "exec.stages" -> stages.get.toDouble,
      "exec.tasks" -> tasks.get.toDouble,
      "exec.wall_s" -> jobWallNs.get / 1e9,
      "exec.task_run_s" -> taskRunMs.get / 1e3,
      "exec.task_cpu_s" -> taskCpuNs.get / 1e9,
      "exec.sched_delay_s" -> schedDelayMs.get / 1e3,
      "scan.records" -> scanRecords.get.toDouble,
      "scan.bytes" -> scanBytes.get.toDouble,
      "shuffle.write_bytes" -> shuffleWriteBytes.get.toDouble,
      "shuffle.write_records" -> shuffleWriteRecords.get.toDouble,
      "shuffle.read_records" -> shuffleReadRecords.get.toDouble,
      "spill.bytes" -> spillBytes.get.toDouble,
      "planner.analysis_s" -> analysisMs.get / 1e3,
      "planner.optimization_s" -> optimizationMs.get / 1e3,
      "planner.planning_s" -> planningMs.get / 1e3,
      "codegen.classes" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jit.compile_s" -> jitSeconds,
      "gc.pause_s" -> gcSeconds,
      "proc.cpu_s" -> osBean.getProcessCpuTime / 1e9,
      "code_cache.used" -> codeCacheUsed,
      "table.checkpoint_loads" -> ManifestTable.checkpointLoads.get.toDouble,
      "table.delta_parses" -> ManifestTable.deltaParses.get.toDouble,
      "table.ts_parses" -> ManifestTable.tsParses.get.toDouble,
      "table.bloom_footer_opens" -> ManifestTable.bloomFooterOpens.get.toDouble,
      "table.footer_job_items" -> ManifestTable.footerJobItems.get.toDouble,
      "table.bloom_probe_timeouts" -> ManifestTable.bloomProbeTimeouts.get.toDouble)
  }

  /** `body`'s result and the work done while it ran: each counter's
    * change between a snapshot before and one after. */
  def measure[A](body: => A): (A, Map[String, Double]) = {
    val before = snapshot()
    val a = body
    (a, snapshot().map { case (k, v) => k -> (v - before(k)) })
  }

  /** `body`'s result and the shuffle records of each task that ended
    * while it ran, for laws about how work spreads over stages or tasks.
    * Calls do not nest. */
  def perTask[A](body: => A): (A, Seq[TaskWork]) = synchronized {
    drain()
    val q = new ConcurrentLinkedQueue[TaskWork]
    capture = q
    try {
      val a = body
      drain()
      (a, q.asScala.toSeq)
    } finally capture = null
  }
}

object Ledger {
  /** One task's shuffle records: read by it and written by it. */
  final case class TaskWork(stageId: Int, shuffleReadRecords: Long, shuffleWriteRecords: Long)

  private var current: Ledger = null
  private val sessions =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** The ledger of `spark`'s `SparkContext`, installed on first use, with
    * `spark`'s planner phases feeding it. Idempotent per context and per
    * session. */
  def of(spark: SparkSession): Ledger = synchronized {
    if (current == null || (current.sc ne spark.sparkContext)) {
      current = new Ledger(spark.sparkContext)
      sessions.clear()
    }
    if (sessions.add(spark)) spark.listenerManager.register(current.planner)
    current
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def jitSeconds: Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime / 1e3
    else 0.0
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Bytes used in the JIT code heaps: when they fill, the compiler stops
    * and everything after runs interpreted. */
  private def codeCacheUsed: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum.toDouble
}
