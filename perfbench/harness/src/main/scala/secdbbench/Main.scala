package secdbbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness: one workload, one closed-loop client, one Spark
  * session (`local[cpus]`). Writes the raw per-operation record as JSON
  * (`--out`); `perfbench/run.py` turns it into metrics.
  *
  * {{{
  * --workload query_first|table_history|selftest
  * --seed N --seconds S --phases plain|traced|alternate[,...] --cpus N --setup-reps N
  * --data <sf dir> --work <scratch dir> --out <result.json>
  * --queries q_a,q_b,...   (query workloads)
  * }}}
  * Each phase measures for `--seconds` (query_first: runs its sample once).
  * Every operation is timed from outside, around public calls only. */
object Main {
  final case class Op(id: Long, kind: String, name: String, wallS: Double,
      ok: Boolean, err: String, rows: Long, digest: String, traced: Boolean,
      layers: Map[String, Double]) {
    def json: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
      "wall_s" -> wallS, "ok" -> ok, "err" -> err, "rows" -> rows, "digest" -> digest,
      "traced" -> traced, "layers" -> layers)
  }

  /** One timed phase. `mode` is "plain" (no tracing), "traced" (every
    * operation traced) or "alternate" (every other operation traced, so
    * traced and untraced operations share the same conditions). After
    * every `gcEvery`th operation the harness forces a full GC (untimed)
    * to sample the live heap for `heap_peak_mb`; counting operations, not
    * time, keeps the sampled points the same from run to run. */
  final class Ctx(val spark: SparkSession, val data: String, mode: String, gcEvery: Int) {
    val trace = new Trace
    val layers: Option[Layers] =
      if (mode == "plain") None else Some(new Layers(spark.sparkContext))
    private var lastOp = 0L

    /** Runs one operation: `body` gets the op id and returns the result
      * rows (if any), a correctness verdict and extra layer figures.
      * Traced runs add the layer-counter deltas of the whole operation. */
    def op(kind: String, name: String)(
        body: Long => (Long, String, Option[String], Map[String, Double])): Op = {
      lastOp += 1
      val id = lastOp
      trace.enabled = mode == "traced" || (mode == "alternate" && id % 2 == 0)
      val before = if (trace.enabled) layers.map(_.read()) else None
      val t0 = System.nanoTime()
      val res = try Right(trace.span("op", id)(body(id))) catch {
        case scala.util.control.NonFatal(e) => Left(e)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val deltas = (for (l <- layers; b <- before) yield l.delta(b)).getOrElse(Map.empty)
      if (id % gcEvery == 0) System.gc()
      res match {
        case Right((rows, digest, bad, extra)) =>
          Op(id, kind, name, wall, bad.isEmpty, bad.orNull, rows, digest, trace.enabled,
            deltas ++ extra)
        case Left(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
          System.err.println(s"[perfbench] $kind $name FAILED: $msg")
          Op(id, kind, name, wall, ok = false, msg, 0L, "", trace.enabled, deltas)
      }
    }

    /** build → plan → exec of one frame, with a span per public call and,
      * when traced, the planner phase times Spark's tracker recorded. */
    def frame(id: Long)(build: => DataFrame): (Array[Row], Map[String, Double]) = {
      val df = trace.span("build", id)(build)
      if (trace.enabled) trace.span("plan", id)(df.queryExecution.executedPlan)
      val rows = trace.span("exec", id)(df.collect())
      if (!trace.enabled) (rows, Map.empty)
      else {
        val phases = df.queryExecution.tracker.phases
        def ph(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        (rows, Map(
          "queries.build_s" -> trace.seconds(id, "build"),
          "plan_s" -> trace.seconds(id, "plan"),
          "exec_s" -> trace.seconds(id, "exec"),
          "planner.analysis_s" -> ph("analysis"),
          "planner.optimization_s" -> ph("optimization"),
          "planner.planning_s" -> ph("planning")))
      }
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("secdbspark-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val WarmUp = "q_agg_pricing_summary"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus").toInt
    val reps = opt.getOrElse("setup-reps", "3").toInt
    val data = opt("data")
    val work = opt("work")
    val queries = opt.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Layers.HeapPeak.install()

    if (workload == "selftest") {
      val spark = session(cpus, work)
      val failures = SelfTest.run(spark, data, s"$work/selftest", seed)
      spark.stop()
      java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
        Json(Map("failures" -> failures)).getBytes("UTF-8"))
      sys.exit(if (failures.isEmpty) 0 else 1)
    }

    // ---- set-up: session start + warm-up, repeated; table seeding once ----
    var spark: SparkSession = null
    val sessionS = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      SparkEntry.queries(WarmUp)(spark, data).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val seedT0 = System.nanoTime()
    val table: TableHistory =
      if (workload != "table_history") null
      else {
        val t = new TableHistory(spark, data, s"$work/table", new scala.util.Random(seed))
        t.create()
        Workloads.seedHistory(t)
        t
      }
    val seedS = (System.nanoTime() - seedT0) / 1e9
    val seedVersions = if (table == null) 0 else table.versionCount

    // ---- timed phases, one after the other ----
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val phases = opt("phases").split(",").toSeq.map { phase =>
      // query operations take about a second each, table operations a tenth
      val ctx = new Ctx(spark, data, phase, gcEvery = if (table == null) 1 else 4)
      System.gc()
      Layers.HeapPeak.reset()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val ops: Seq[Op] = workload match {
        case "query_first" => Workloads.queryFirst(ctx, Workloads.seedOrder(queries, rng))
        case "table_history" => Workloads.tableHistory(ctx, table, rng, deadline)
        case w => sys.error(s"unknown workload $w")
      }
      val timedS = (System.nanoTime() - t0) / 1e9
      System.gc()
      val heapMb = Layers.HeapPeak.mb
      ctx.layers.foreach(_.close())
      val spans = if (phase == "plain") null else s"${opt("out")}.$phase.spans.jsonl"
      if (spans != null) ctx.trace.write(java.nio.file.Paths.get(spans))
      val tableState: Map[String, Any] =
        if (table == null) Map.empty
        else {
          val files = graft.table.ManifestTable.snapshot(spark, table.dir).files
          Map("space_amp" -> table.dirBytes.toDouble / files.map(_.bytes).sum,
            "files_live" -> files.size, "file_bytes" -> files.map(_.bytes).sorted,
            "versions" -> table.versionCount, "rows_live" -> table.current.size)
        }
      Map("mode" -> phase, "timed_s" -> timedS, "heap_peak_mb" -> heapMb,
        "ops" -> ops.map(_.json), "table" -> tableState, "spans" -> spans)
    }
    val out = Map("workload" -> workload, "seed" -> seed,
      "session_s" -> sessionS, "seed_s" -> seedS,
      "seed_versions" -> seedVersions, "phases" -> phases)
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
  }
}
