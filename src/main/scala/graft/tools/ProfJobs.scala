package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev-only job-level profiler: run one registry query (cold then warm)
  * with a listener that attributes wall time to individual Spark jobs —
  * the empirical loop of the optimization guide §1.1 (which job, which
  * stage, shuffle bytes) without needing the UI in a headless sandbox. */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = if (args.nonEmpty) args(0) else "q_table_sqldml"
    val runs = if (args.length > 1) args(1).toInt else 3

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    // the listener thread writes both stage maps and the main thread
    // clears and reads them: every access holds `stageLock`
    val stageLock = new Object
    val stageShuffle = mutable.LinkedHashMap.empty[Int, (Long, Long, Long)]
    val stageInput = mutable.LinkedHashMap.empty[Int, (Long, Long)]
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val desc = e.stageInfos.lastOption.map(s =>
            s"${s.name.take(60)} [${e.stageInfos.map(_.numTasks).sum}t/${e.stageInfos.size}st]")
          .getOrElse("?")
        jobs.synchronized { jobs(e.jobId) = JobRec(e.jobId, desc, e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val m = e.stageInfo.taskMetrics
          stageLock.synchronized {
            stageShuffle(e.stageInfo.stageId) =
              (m.shuffleWriteMetrics.bytesWritten,
                m.shuffleReadMetrics.totalBytesRead,
                m.executorRunTime)
            stageInput(e.stageInfo.stageId) =
              (m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { k =>
      jobs.synchronized(jobs.clear())
      stageLock.synchronized { stageShuffle.clear(); stageInput.clear() }
      record = true
      val t0 = System.nanoTime()
      val n = fn(spark, d).count()
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      // listener bus is async; let the tail events drain
      Thread.sleep(300)
      println(f"[prof] $name run$k $wall%6.2f s rows=$n jobs=${jobs.size}")
      if (k == 1 || k == runs) {
        val recs = jobs.synchronized(jobs.values.toVector)
        val byJob = recs.map(r => (r, (r.end - r.start) / 1e3))
          .sortBy(-_._2).take(25)
        byJob.foreach { case (r, s) =>
          println(f"    job ${r.id}%4d ${s}%7.3f s  ${r.desc.take(110)}")
        }
        val totalJob = recs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
        println(f"    [sum of job walls] $totalJob%.2f s  (gaps = driver-side work: plan, commit, footer sweeps)")
        val sh = stageLock.synchronized(stageShuffle.values.toVector)
        println(f"    [shuffle] write=${sh.map(_._1).sum / 1e6}%.1f MB read=${sh.map(_._2).sum / 1e6}%.1f MB  execRun=${sh.map(_._3).sum / 1e3}%.1f s")
        val in = stageLock.synchronized(stageInput.values.toVector)
        println(f"    [input] read=${in.map(_._1).sum / 1e6}%.2f MB records=${in.map(_._2).sum}%d  (a dropped duplicate scan shows here)")
      }
    }
    spark.stop()
  }
}
