package secdbbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative counters of the layers below the public API, read before
  * and after each traced operation; the difference is that operation's
  * share. Executor counters come from a [[SparkListener]] (drained
  * before every read), JVM counters from the management beans. */
final class Layers(sc: SparkContext) {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val jobWallNs = new AtomicLong
  private val taskRunMs = new AtomicLong
  private val taskCpuNs = new AtomicLong
  private val schedDelayMs = new AtomicLong
  private val scanRecords = new AtomicLong
  private val scanBytes = new AtomicLong
  private val shuffleWriteBytes = new AtomicLong
  private val shuffleReadRecords = new AtomicLong
  private val spillBytes = new AtomicLong
  private val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]

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
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        schedDelayMs.addAndGet(math.max(0L, delay))
        scanRecords.addAndGet(m.inputMetrics.recordsRead)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  /** All counters now, in seconds, bytes and counts. */
  def read(): Map[String, Double] = {
    org.apache.spark.BenchListenerDrain(sc)
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
      "shuffle.read_records" -> shuffleReadRecords.get.toDouble,
      "spill.bytes" -> spillBytes.get.toDouble,
      "codegen.classes" -> Layers.codegenCompiles,
      "jit.compile_s" -> Layers.jitSeconds,
      "gc.pause_s" -> Layers.gcSeconds)
  }

  def delta(before: Map[String, Double]): Map[String, Double] = {
    val now = read()
    now.map { case (k, v) => k -> (v - before(k)) }
  }
}

object Layers {
  /** Whole-stage and expression codegen compilations so far. */
  def codegenCompiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  def jitSeconds: Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime / 1e3
    else 0.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak heap occupancy after a full collection, in MB: the largest live
    * heap the run held at the points where the harness forced a GC (see
    * [[Main.Ctx.op]]). Only explicit collections count: what a young
    * collection leaves behind depends on when it happened to run. */
  object HeapPeak {
    private val peak = new AtomicLong
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    private val onGc = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (info.getGcCause == "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }
    }

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ => ()
    }
    def reset(): Unit = peak.set(0L)
    def mb: Double = peak.get / (1024.0 * 1024.0)
  }
}
