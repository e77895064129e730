package graft
import org.apache.spark.sql.SparkSession
import graft.metrics.Ledger
object Bench {
  /** Wall seconds for a FIXED amount of single-thread integer work
    * (xorshift64*, 2×10⁸ steps ≈ 0.4 s on an unloaded core). A host
    * yardstick: identical work, so any run-to-run spread in this number
    * is machine speed, not query plans. Run before and after the query
    * loop; emitted in the artifact so a noisy BENCH self-documents.
    * (Round-10: guard runs on an 81%-idle guest measured the same binary
    * at 117 s and 436 s back-to-back — hypervisor CPU starvation is
    * invisible to guest load metrics, but not to this probe.) */
  private def spinProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    if (x == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** One execution of one query: its pass (`first`, `repeat` or
    * `retry`), its wall seconds, whether it threw, and the ledger's
    * delta over it. */
  private final case class Run(query: String, pass: String, sec: Double, failed: Boolean,
      work: Map[String, Double])

  /** The time layers a query's wall splits into; the tail names each slow
    * query's largest. */
  private val timeLayers = Seq("planner.analysis_s", "planner.optimization_s",
    "planner.planning_s", "jit.compile_s", "gc.pause_s", "exec.wall_s")

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The one stdout line, at most 1500 bytes long: the total, the query
    * count, the failed queries (as many as fit, plus their count), the
    * host verdict, the beyond-envelope count, the slowest queries each
    * with its largest time layer, and the artifact path. Failed names go
    * first, then slow entries, until the line fits. */
  private[graft] def tailLine(total: Double, queries: Int, failed: Seq[String],
      host: String, beyondEnvelope: Int, slowest: Seq[(String, Double, String)],
      artifact: String): String = {
    def line(nFailed: Int, nSlow: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec","query_count":$queries,""" +
        s""""failed":${failed.take(nFailed).map(str).mkString("[", ",", "]")},""" +
        s""""failed_count":${failed.size},"host":${str(host)},""" +
        s""""beyond_envelope":$beyondEnvelope,"slowest":""" +
        slowest.take(nSlow).map { case (q, sec, layer) =>
          f"[${str(q)},$sec%.2f,${str(layer)}]" }.mkString("[", ",", "]") +
        s""","artifact":${str(artifact)}}"""
    var nFailed = failed.size
    var nSlow = slowest.size
    var l = line(nFailed, nSlow)
    while (l.getBytes("UTF-8").length > 1500 && nFailed + nSlow > 0) {
      if (nFailed > 0) nFailed -= 1 else nSlow -= 1
      l = line(nFailed, nSlow)
    }
    l
  }

  /** Usage: `Bench [query ...]`. With no args, every `q_*` query once;
    * named queries run in the given order, repeats allowed
    * (`Bench q_x q_x q_x` times a warm steady state). */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/parquet-footer startup lands here instead
    // of inflating whichever query happens to run first.
    SparkEntry.queries.get("q_agg_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).count()
      catch { case _: Throwable => () })
    val ledger = Ledger.of(spark)
    // Headline queries = the oracle-gated q_* set; cap_* capabilities are
    // ScalaTest-gated and excluded from the perf contract.
    val queries = SparkEntry.queries
    val names =
      if (args.isEmpty) queries.keys.filterNot(_.startsWith("cap_")).toSeq
      else args.toSeq
    // A query that THROWS must never masquerade as a fast timing: the
    // round-10 fixture regeneration broke 22 events queries at analysis
    // time and two full guard sessions recorded them as 0.07 s "wins".
    // Failures are listed in the artifact and poison the guard.
    def run(name: String, pass: String): Run = {
      val ((sec, failed), work) = ledger.measure {
        val t0 = System.nanoTime()
        val failed = try { queries(name)(spark, sfDir).count(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
          true
        }
        ((System.nanoTime() - t0) / 1e9, failed)
      }
      Run(name, pass, sec, failed, work)
    }
    val spinBefore = spinProbe()
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    names.foreach(n => runs += run(n, if (runs.exists(_.query == n)) "repeat" else "first"))
    // -------- self-healing retry pass (round-13 verdict #1) --------
    // One bad host window must not fabricate a regression: r13's driver
    // artifact totalled 662.6 s against a 171–193 s quiet surface
    // because ~25 consecutive-in-run-order queries hit a hypervisor
    // starvation episode at 20–93× their quiet medians. Every query
    // whose best wall exceeds the committed quiet-median envelope
    // (median×3.2 + 0.3 s — the round-6 variance bound) is re-run ONCE
    // after the main loop (the episode has usually passed by then), and
    // the artifact reports the smallest wall of its successful runs:
    // identical work each time, the smaller wall is always the closer
    // bound on what the plan actually costs — and unlike "use the retry",
    // it cannot be re-inflated by a second episode landing on the retry.
    // Every execution, retries included, is one entry of `runs`.
    val medians: Map[String, Double] = try {
      val medPath = sys.env.getOrElse("SPARK_GRAFT_MEDIANS", "tools/bench_medians.json")
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(medPath)), "UTF-8")
      """"([^"]+)":\s*([0-9.Ee+-]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap - "_total"
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val failed = runs.filter(_.failed).map(_.query).distinct
    // the smallest successful wall per query, or its first wall if none
    // succeeded; the best run also names the query's largest layer
    def best(q: String): Run = {
      val rs = runs.filter(_.query == q)
      val ok = rs.filterNot(_.failed)
      if (ok.isEmpty) rs.head else ok.minBy(_.sec)
    }
    def beyond(q: String): Boolean =
      medians.get(q).exists(m => best(q).sec > m * 3.2 + 0.3)
    val retryCandidates = names.distinct
      .filter(q => !failed.contains(q) && beyond(q))
      .sortBy(q => -(best(q).sec / math.max(medians(q), 1e-9)))
      .take(60) // bound the healing pass; worst offenders first
    // a spin reading right before the retries: the artifact then shows
    // whether the healing pass itself ran on a quiet or a loaded host
    val spinMid =
      if (retryCandidates.isEmpty) -1.0 else spinProbe()
    retryCandidates.foreach(q => runs += run(q, "retry"))
    val spinAfter = spinProbe()
    val healed = names.distinct.map(q => q -> best(q))
    val total = healed.map(_._2.sec).sum
    // triage runs on the HEALED walls: an offender surviving here was
    // beyond-envelope twice in one session — that is a finding about
    // the plan (or a sustained episode host_health names), not noise
    val offenders = healed.map(_._1).filter(beyond)
    // host-health verdict: the spin probes run identical single-thread
    // work, so any spread is machine weather; loadavg names co-tenant
    // pressure the guest CAN see (hypervisor starvation it cannot —
    // that is what the spin spread is for).
    val loadavg = try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble catch {
      case scala.util.control.NonFatal(_) => -1.0 }
    val spinWorst = math.max(spinBefore, spinAfter)
    val hostVerdict =
      if (spinWorst > 0.65 || retryCandidates.size > healed.size / 10) "degraded"
      else "quiet"
    val codeCache = ledger.snapshot()("code_cache.used").toLong
    def num(v: Double): String =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else f"$v%.4f"
    val qs = healed.map { case (k, r) => str(k) + ":" + r.sec }.mkString("{", ",", "}")
    val runsJson = runs.map { r =>
      s"""{"query":${str(r.query)},"pass":"${r.pass}","sec":${f"${r.sec}%.4f"},""" +
        s""""failed":${r.failed},"work":""" +
        r.work.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + num(v) }
          .mkString("{", ",", "}") + "}"
    }.mkString("[", ",", "]")
    val hostHealth = s"""{"verdict":"$hostVerdict","spin_sec":[${f"$spinBefore%.3f"},${f"$spinMid%.3f"},${f"$spinAfter%.3f"}],"loadavg":$loadavg,"code_cache_used":$codeCache,"retried":${retryCandidates.size}}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${str(sfDir)},"failed":${failed.map(str).mkString("[", ",", "]")},"host_health":$hostHealth,"beyond_envelope":${offenders.map(str).mkString("[", ",", "]")},"runs":$runsJson}"""
    // File artifact (round-7 advice): every BENCH_r*.json to date lost
    // ~35 queries to log-tail truncation; the engine writes the per-query
    // map itself so nothing depends on scraping an sbt log. Best-effort —
    // a read-only cwd must not fail the bench.
    // NonFatal only (round-8 advice): a read-only cwd is survivable, an
    // OutOfMemoryError / InterruptedException must propagate.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_QUERIES.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    val slowest = healed.sortBy(-_._2.sec).take(10).map { case (q, r) =>
      (q, r.sec, timeLayers.maxBy(l => r.work.getOrElse(l, 0.0))) }
    spark.stop()
    // the driver keeps the last 2000 characters of the log: one short
    // line, printed last, always survives that capture whole
    println(tailLine(total, healed.size, failed.toSeq, hostVerdict, offenders.size,
      slowest, out))
  }
}
