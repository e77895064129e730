package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

/** Marquee tag: excluded from the default `sbt test` budget (build.sbt
  * scopes the exclusion to the `test` task); run explicitly with
  * `sbt "testOnly graft.MarqueeStressSpec"`. */
object Marquee extends Tag("graft.Marquee")

/** 100×-density stress runs — one per scale branch, at the row ranges
  * where the production routes engage by DEFAULT routing (no pinned
  * directMax), not test-forced. StressSpec proves complexity class at
  * 10–20× fixture density; this suite measures the same branches at
  * 2²²-row / 10⁵–10⁶-row range and records the curves (SURVEY round-7
  * addendum is written from these measurements).
  *
  * All inputs are generated DISTRIBUTED (spark.range + hash-derived
  * columns) — a half-million-row driver-side Seq would itself be a
  * scale bug. Assertions are work metrics and exact oracles, never
  * wall-clock (see StressSpec's doc for why); timings are info-only.
  */
class MarqueeStressSpec extends AnyFunSuite {

  // own session: local[32] (the bench shape) — this suite runs alone in
  // a fresh forked JVM, so the builder wins over SparkSuite's local[4]
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `f`'s result and the work it did, as [[graft.metrics.Ledger]] deltas. */
  private def measured[T](f: => T): (T, Map[String, Double]) =
    graft.metrics.Ledger.of(spark).measure(f)

  /** Synthetic sparse corpus: n docs × 12 tokens drawn hash-uniform from
    * an n-slot vocab (df ≈ Poisson(12) — bounded posting lists at every
    * n, the realistic sparse-text shape). */
  private def jaccardCorpus(n: Long): DataFrame =
    spark.range(n).select(
      lit("en").as("lang"), lit("s0").as("source"), col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(11)), s =>
        concat(lit("t"), pmod(xxhash64(col("id") * 12 + s), lit(n)))),
        " ").as("text"))

  private def jaccardCandidates(df: DataFrame): Long = df
    .select(col("lang"), col("source"), col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    .groupBy("lang", "source", "tok").agg(count(lit(1)).as("c"))
    .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
    .head().getLong(0) / 2

  test("InvertedJaccard: 500k docs, linear candidate volume", Marquee) {
    import spark.implicits._
    val planted = Seq(
      ("en", "s0", 9000001L, (0 until 12).map("dup" + _).mkString(" ")),
      ("en", "s0", 9000002L, ((0 until 11).map("dup" + _) :+ "other").mkString(" "))
    ).toDF("lang", "source", "doc_id", "text")
    val big = jaccardCorpus(500000L).unionByName(planted)
    val ((found, nPairs), tBig) = timed {
      val p = graft.operators.InvertedJaccard.pairs(big, 0.8)
        .localCheckpoint(eager = false)
      (p.filter(col("d1") === 9000001L && col("d2") === 9000002L).count(),
        p.count())
    }
    val candBig = jaccardCandidates(big)
    val candSmall = jaccardCandidates(jaccardCorpus(25000L))
    info(f"500k docs: $tBig%.1f s, $nPairs pairs; candidates 25k -> " +
      f"$candSmall, 500k -> $candBig (${candBig.toDouble / candSmall}%.1fx work, 20x data)")
    assert(found == 1L, "planted near-dup pair not found at 500k docs")
    assert(candBig < 40L * candSmall,
      s"candidate volume super-linear: $candBig vs $candSmall at 20x data")
  }

  test("HistogramRank: default routing takes the histogram branch at 2^22 rows", Marquee) {
    val n = 1L << 22
    // xxhash64, not a multiplicative hash: ANSI mode (Spark 4 default)
    // rejects the wrapping long multiply that the Scala-side generator in
    // StressSpec exploits
    def rows = spark.range(n).select(
      xxhash64(col("id")).cast("double").as("v"), col("id").as("k"))
    // NO directMax pin: 2^22 > the default 2^20 ceiling, so this is the
    // production route as a real caller gets it
    val (cnt, tRank) = timed(graft.operators.HistogramRank
      .withGlobalRank(rows, "v", Seq("k"), rankCol = "r").count())
    assert(cnt == n)
    val ranked = graft.operators.HistogramRank
      .withGlobalRank(rows, "v", Seq("k"), rankCol = "r", keepBuckets = true)
      .localCheckpoint(eager = false)
    // branch engagement: the small branch stamps a single constant bucket
    val nBuckets = ranked.select(countDistinct("__hb")).head().getLong(0)
    assert(nBuckets > 512, s"histogram branch not engaged: $nBuckets buckets")
    // work metric: largest single sort task stays bucket-scale
    val maxPart = ranked.groupBy("__hb", "__tb").agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    info(f"2^22 rows: $tRank%.1f s, $nBuckets buckets, largest sort partition $maxPart of $n")
    assert(maxPart <= 16384, s"sort task saw $maxPart rows - not splitting")
    // exactness: spot-check 1024 sampled ranks against the single-task
    // window oracle (the very plan the operator replaces)
    val got = ranked.filter(pmod(col("k"), lit(4096)) === 0)
      .select("k", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = rows.withColumn("r", row_number().over(
        Window.partitionBy(lit(0)).orderBy("v", "k")).cast("long"))
      .filter(pmod(col("k"), lit(4096)) === 0)
      .select("k", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("RangeBinJoin: 1M points x 100k intervals, sampled-exact, bounded candidates", Marquee) {
    // hash-uniform points over [0, 1e9); intervals of hash-derived width
    // 0..20k (mean 10k) — ~1M expected output pairs. The nested-loop
    // ground truth (1e11 pairs) is unrunnable at this scale BY DESIGN;
    // exactness is checked on a 1 000-point sample whose true match
    // counts come from a broadcast join against all 100k intervals.
    val pts = spark.range(1000000L).select(col("id").as("p_id"),
      pmod(xxhash64(col("id")), lit(1000000000L)).cast("double").as("x"))
      .localCheckpoint(eager = false)
    val ivs = spark.range(100000L).select(col("id").as("iv_id"),
        pmod(xxhash64(col("id") + 7777777L), lit(1000000000L))
          .cast("double").as("lo"))
      .withColumn("hi", col("lo") +
        pmod(xxhash64(col("iv_id") + 333L), lit(20000L)).cast("double"))
      .localCheckpoint(eager = false)
    val (nOut, tJoin) = timed(graft.operators.RangeBinJoin
      .pointInInterval(pts, ivs, "x", "lo", "hi").count())
    // sampled exactness: per-point match counts from the bin join vs the
    // broadcast nested loop over the full interval table
    val sample = pts.filter(pmod(col("p_id"), lit(1000)) === 0)
    val gotCounts = graft.operators.RangeBinJoin
      .pointInInterval(sample, ivs, "x", "lo", "hi")
      .groupBy("p_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantCounts = sample.join(broadcast(ivs),
        col("x") >= col("lo") && col("x") <= col("hi"))
      .groupBy("p_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCounts == wantCounts,
      "bin join diverged from the nested loop on the sampled points")
    // work metric: candidates (bin co-occupancy) stay within a small
    // multiple of the output, nowhere near the 1e11 nested-loop pairs
    val w = 10000.0
    val cand = pts.withColumn("__bin", floor(col("x") / w))
      .groupBy("__bin").agg(count(lit(1)).as("np"))
      .join(ivs.withColumn("__bin",
          explode(sequence(floor(col("lo") / w), floor(col("hi") / w))))
        .groupBy("__bin").agg(count(lit(1)).as("ni")), "__bin")
      .agg(coalesce(sum(col("np") * col("ni")), lit(0L))).head().getLong(0)
    info(f"1M x 100k: $tJoin%.1f s, $nOut pairs, $cand candidates " +
      f"(${1e11 / cand}%.0fx below the nested loop)")
    assert(nOut > 0 && cand < 100L * nOut,
      s"candidate volume $cand not output-bounded ($nOut pairs)")
  }

  test("AsOfJoinExec: 10M events x 1M probes, single-pass merge", Marquee) {
    // 5k users x 200 probes x 2000 events — the flagship custom physical
    // operator at 100x the fixture density, with per-key candidate sets
    // dense enough that the composition would pay ~200x the merge's scan.
    // Ground truth (the candidate-pair composition) is checked
    // bit-for-bit on a ~1k-probe anchor sample against the FULL
    // 10M-event right side; the full-output cardinality contract
    // (exactly one row per probe) and the plan shape (2 shuffles, no
    // joins, no pair blow-up) carry the rest.
    val probes = spark.range(1000000L).select(col("id").as("p_id"),
        pmod(col("id"), lit(5000L)).as("user_id"),
        pmod(xxhash64(col("id")), lit(1000000000L)).as("pts"))
      .localCheckpoint(eager = false)
    val events = spark.range(10000000L).select(
        pmod(col("id"), lit(5000L)).as("user_id"),
        pmod(xxhash64(col("id") + 424242L), lit(1000000000L)).as("vts"))
      .localCheckpoint(eager = false)
    val merged = graft.operators.AsOfJoin.leftAsOfMerge(
      probes, events, Seq("user_id"), leftTime = "pts", rightTime = "vts",
      asOfCol = "asof")
    val plan = merged.queryExecution.executedPlan.toString
    // nodeName strips the Exec suffix: the operator prints as "AsOfJoin"
    assert(plan.contains("AsOfJoin "), "merge operator not planned")
    val shape = graft.tools.PlanShape.of(plan)
    assert(shape == "shuffle=2,broadcast=0",
      s"as-of merge should be exactly one shuffle per side, got $shape")
    val (nOut, tMerge) = timed(merged.count())
    assert(nOut == 1000000L, s"merge must emit one row per probe, got $nOut")
    // sampled bit-equality vs the composition (candidate join + max) —
    // the very plan AsOfJoinExec replaces
    val sample = probes.filter(pmod(col("p_id"), lit(997)) === 0)
    def toMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val got = toMap(merged.filter(pmod(col("p_id"), lit(997)) === 0)
      .select("p_id", "asof"))
    val want = toMap(graft.operators.AsOfJoin.leftAsOf(
        sample, events, Seq("user_id"), leftTime = "pts", rightTime = "vts",
        asOfCol = "asof")
      .select("p_id", "asof"))
    assert(got.size == want.size && got.size >= 1000)
    assert(got == want, "merge diverged from the composition on the sample")
    // work metric: the composition's candidate volume vs the merge's
    // O(|L|+|R|) scan (per-partition state is one buffered right row)
    val cand = probes.groupBy("user_id").agg(count(lit(1)).as("nl"))
      .join(events.groupBy("user_id").agg(count(lit(1)).as("nr")), "user_id")
      .agg(coalesce(sum(col("nl") * col("nr")), lit(0L))).head().getLong(0)
    info(f"10M x 1M: merge $tMerge%.1f s, $nOut rows; composition would " +
      f"materialize $cand candidate pairs vs ${11000000L} scanned rows " +
      f"(${cand / 11000000.0}%.0fx)")
    assert(cand > 100L * 11000000L, "fixture too sparse to demonstrate the claim")
  }

  test("DedupGroups: 2^20-vertex deep chain converges in log2(diameter) rounds", Marquee) {
    // the pointer-jumping claim at its worst case: one chain of 2^20
    // vertices (diameter 2^20 - 1). Label reach doubles per round
    // (2^(r+1) - 2), so convergence takes exactly 20 propagation rounds
    // + 1 detection round — O(log d), where plain propagation would need
    // a million rounds.
    val n = 1L << 20
    val chain = spark.range(n - 1)
      .select(col("id").as("d1"), (col("id") + 1).as("d2"))
    val (labels, tChain) = timed {
      val l = graft.operators.DedupGroups.components(chain, maxIters = 24)
        .localCheckpoint(eager = false)
      (l.count(), l.agg(max("lbl"), min("lbl")).head())
    }
    val rounds = graft.operators.DedupGroups.lastRounds.get()
    info(f"2^20 chain: $tChain%.1f s, $rounds rounds " +
      f"(log2(diameter) = ${math.log(n.toDouble) / math.log(2)}%.0f)")
    assert(labels._1 == n, "every vertex must be labeled")
    assert(labels._2.getLong(0) == 0L && labels._2.getLong(1) == 0L,
      "chain must collapse to the single component labeled 0")
    assert(rounds <= 21, s"convergence took $rounds rounds, expected <= 21")
  }

  test("DedupGroups: 2^20 vertices in 128k clusters, one job per round", Marquee) {
    // the realistic dedup-funnel shape: 131072 planted 8-vertex stars.
    // Asserts component exactness, O(1)-round convergence on bounded
    // diameter, and the round-8 single-action contract: ONE Spark job
    // per propagation round (the convergence count materializes the
    // round's lazy checkpoint — no separate count job, no eager
    // checkpoint job).
    val n = 1L << 20
    val stars = spark.range(n).filter(pmod(col("id"), lit(8)) =!= 0)
      .select(((col("id") / 8).cast("long") * 8).as("d1"), col("id").as("d2"))
    // AQE submits every query stage as its own Spark job, which would
    // make "jobs" count shuffle stages, not actions — and a runtime
    // broadcast conversion adds collection jobs on top. Pin both off so
    // one action is exactly one job for the duration of the metric.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ((bad, tStars), work) = try measured(timed {
      graft.operators.DedupGroups.components(stars)
        .filter(col("lbl") =!= (col("v") / 8).cast("long") * 8).count()
    }) finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    val rounds = graft.operators.DedupGroups.lastRounds.get()
    val nJobs = work("exec.jobs").toInt
    info(f"128k stars: $tStars%.1f s, $rounds rounds, $nJobs jobs")
    assert(bad == 0L, s"$bad vertices mislabeled")
    assert(rounds <= 3, s"star corpus took $rounds rounds, diameter is 2")
    // jobs = edges checkpoint + initial labels checkpoint + 1/round +
    // the final mislabel count; anything above that means a convergence
    // count spawned its own job again
    assert(nJobs <= rounds + 4,
      s"$nJobs jobs for $rounds rounds - not one action per round")
  }

  /** 12.5k planted clusters × 8 vectors in R^32 at ~0.9999 intra-cosine,
    * generated distributed from hash-uniform centers + 1% noise. 32 dims
    * keep the cross-cluster cosine tail far below tau (16 dims would
    * risk chance merges across 78M center pairs). */
  private def clusteredEmbeddings(nVecs: Long): DataFrame = {
    def u(seed: org.apache.spark.sql.Column) =
      pmod(xxhash64(seed), lit(2000001L)).cast("double") / 1000000.0 - 1.0
    val c = (col("vec_id") / 8).cast("long")
    spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("embedding", transform(sequence(lit(0), lit(31)), d =>
        (u(concat_ws("_", lit("c"), c, d)) +
          lit(0.01) * u(concat_ws("_", lit("v"), col("vec_id"), d)))
          .cast("float")))
  }

  test("IvfPq: build, persist and query a 250k-vector index", Marquee) {
    // 2.5k planted clusters x 100 vectors in R^64 (the fixture dim),
    // 500x the fixture corpus: the index-BUILD path at density — coarse
    // k-means over 250k normalized vectors + 8 subspace codebook fits —
    // plus parquet persistence and an ADC query, recall-gated against
    // brute force on 50 anchors.
    def u(seed: org.apache.spark.sql.Column) =
      pmod(xxhash64(seed), lit(2000001L)).cast("double") / 1000000.0 - 1.0
    val c = (col("vec_id") / 100).cast("long")
    val emb = spark.range(250000L).select(col("id").as("vec_id"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (u(concat_ws("_", lit("c"), c, d)) +
          lit(0.05) * u(concat_ws("_", lit("v"), col("vec_id"), d)))
          .cast("float")))
      .localCheckpoint(eager = false)
    val (idx, tBuild) = timed(
      graft.operators.IvfPq.buildIndex(emb, cells = 32, m = 8, ksub = 16))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_m").toString
    graft.operators.IvfPq.save(idx, dir)
    val loaded = graft.operators.IvfPq.load(spark, dir)
    val anchorPred = col("vec_id") % 5000 === 0 // 50 anchors
    val cand = graft.operators.IvfPq.candidateCount(loaded, emb, anchorPred)
    val (got, tQuery) = timed(graft.operators.IvfPq
      .query(loaded, emb, k = 5, anchorPred = anchorPred)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    import graft.functions.GraftFunctions.dot
    graft.functions.GraftFunctions.register(spark)
    val n = emb.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nrm"))
    val a = n.filter(anchorPred).select(col("vec_id").as("a_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
    val exact = a.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), (dot(col("ea"), col("eb")) /
        (sqrt(col("na")) * sqrt(col("nb")))).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    val brute = 50L * 250000L
    info(f"250k vectors: build $tBuild%.1f s, query $tQuery%.1f s, " +
      f"ADC candidates $cand of $brute (${brute.toDouble / cand}%.1fx pruned), " +
      f"recall $recall%.3f")
    assert(recall >= 0.6, f"recall $recall%.3f below 0.6 at 250k vectors")
    assert(cand * 4 < brute, s"IVF probe pruned under 4x: $cand of $brute")
  }

  test("SemanticDedup: banded route at 100k vectors, default routing", Marquee) {
    val n = 100000L
    val emb = clusteredEmbeddings(n).localCheckpoint(eager = false)
    // planes must scale with n: bucket count per band is 2^(planes/bands),
    // so the fixture default (16 planes -> 16 buckets/band) would pay
    // ~16x the candidates at this density. Measure both — the curve the
    // SURVEY addendum records.
    val cand32 = graft.operators.SemanticDedup.bandedCandidateCount(emb, 32, 4)
    val cand16 = graft.operators.SemanticDedup.bandedCandidateCount(emb, 16, 4)
    val (floatB, pqB) = graft.operators.SemanticDedup
      .bandedPayloadBytes(emb, 32, 4)
    info(f"banded shuffle payload at 100k x R^32: float $floatB B vs " +
      f"PQ $pqB B (${floatB.toDouble / pqB}%.1fx)")
    assert(pqB * 4 <= floatB, "PQ payload not 4x below float at marquee scale")
    val allPairs = n * (n - 1) / 2
    info(f"banded candidates at 100k: planes=32 -> $cand32 " +
      f"(${allPairs.toDouble / cand32}%.0fx pruned), planes=16 -> $cand16 " +
      f"(${allPairs.toDouble / cand16}%.0fx pruned), all-pairs $allPairs")
    assert(cand32 * 20 < allPairs,
      s"banding at planes=32 pruned under 20x: $cand32 of $allPairs")
    // default routing: n > directMax and tau >= 0.8 -> banded route.
    // First call fits AND persists the PQ codebooks (the fit-once seam);
    // the corpus pays the k-means cost exactly once.
    val dir = java.nio.file.Files.createTempDirectory("graft_sd_codec")
      .toString + "/codec"
    val (flags, tFlags) = timed(graft.operators.SemanticDedup
      .flags(emb, tau = 0.9, planes = 32, bands = 4, codecDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))))
    info(f"flags at 100k vectors (fit + persist): $tFlags%.1f s")
    assert(flags.length == n)
    // planted ground truth: every vector's component is its cluster,
    // labeled by the cluster's min vec_id
    flags.foreach { case (v, lbl, kept) =>
      assert(lbl == (v / 8) * 8, s"vec $v labeled $lbl")
      assert(kept == (v % 8 == 0), s"vec $v kept=$kept")
    }
    // reuse: the persisted codec replaces the ~8-subspace k-means fit
    // with a millisecond parquet load — same labels, measured delta
    assert(graft.operators.PqCodec.exists(spark, dir))
    val (flags2, tReuse) = timed(graft.operators.SemanticDedup
      .flags(emb, tau = 0.9, planes = 32, bands = 4, codecDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))))
    info(f"flags at 100k vectors (persisted codec): $tReuse%.1f s " +
      f"(fit run $tFlags%.1f s)")
    assert(flags2.sameElements(flags), "persisted codec changed the flags")
  }

  test("SaltedJoin: planted 50% hot key, task-input spread vs unsalted", Marquee) {
    // The skew claim measured at operator scale (round-10 verdict item 8):
    // 2M fact rows where ONE key owns half the table, joined to a 100k-row
    // dimension. Without salting the hot key's entire 1M rows land on one
    // reducer task; with 16-way salting they spread across the shuffle.
    // Evidence is listener-measured per-task shuffle-read records in the
    // join stage — the exact quantity that OOMs/straggles a real reducer.
    // AQE is pinned off (its skew-split is the RUNTIME mitigation; salting
    // is the LAYOUT one being proven) and broadcast is disabled (a
    // broadcast join has no reducer to skew).
    // dim stays 10k: salting replicates the dim `salt`×, so the dim size
    // sets the uniform background noise on every reducer — small enough
    // here that the hot key's spread (not the replication) is what the
    // ratio measures. salt=128 keeps the per-partition hot-combo count
    // concentrated near its mean (~4 combos × 7.8k rows).
    val nBig = 2000000L
    val hot = 0L
    val big = spark.range(nBig).select(
        when(col("id") % 2 === 0, lit(hot))
          .otherwise(pmod(xxhash64(col("id")), lit(10000L))).as("k"),
        col("id").as("payload"))
      .localCheckpoint(eager = false)
    val small = spark.range(10001L).select(col("id").as("k2"),
        xxhash64(col("id")).as("dim"))
      .localCheckpoint(eager = false)

    /** Run one action; return per-task shuffle-read records of the join
      * stage (= the stage with the largest total shuffle read). */
    def joinStageTasks(action: => Long): (Long, Seq[Long]) = {
      val (n, tasks) = graft.metrics.Ledger.of(spark).perTask(action)
      val byStage = tasks.groupBy(_.stageId)
        .map { case (st, xs) => st -> xs.map(_.shuffleReadRecords) }
      (n, byStage.maxBy(_._2.sum)._2)
    }
    def spread(xs: Seq[Long]): (Long, Long, Double) = {
      val sorted = xs.sorted
      val med = math.max(sorted(sorted.size / 2), 1L)
      (sorted.last, med, sorted.last.toDouble / med)
    }

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (nU, unsaltedTasks) = joinStageTasks(
        big.join(small, col("k") === col("k2")).count())
      val (nS, saltedTasks) = joinStageTasks(
        graft.operators.SaltedJoin.join(big, small, "k", "k2", salt = 128).count())
      assert(nU == nS, s"salting changed the join result: $nU vs $nS")
      assert(nU == nBig, s"every fact row must match exactly one dim row: $nU")
      val (maxU, medU, ratioU) = spread(unsaltedTasks)
      val (maxS, medS, ratioS) = spread(saltedTasks)
      info(f"unsalted join stage: max task read $maxU of ${unsaltedTasks.sum} " +
        f"records over ${unsaltedTasks.size} tasks (max/median $ratioU%.1fx)")
      info(f"salted   join stage: max task read $maxS of ${saltedTasks.sum} " +
        f"records over ${saltedTasks.size} tasks (max/median $ratioS%.1fx)")
      assert(ratioU >= 8.0,
        f"fixture failed to plant skew: unsalted max/median only $ratioU%.1fx")
      assert(ratioS < 2.0,
        f"salted max-task-input $ratioS%.1fx median — salting did not spread the hot key")
      assert(maxS * 4 < maxU,
        s"salting should cut the worst task's input ≥4x: $maxU -> $maxS")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("FilingsPipeline: 1M filings end-to-end, per-stage work metrics", Marquee) {
    // The composed north-star pipeline at ~67x its fixture scale: every
    // OPERATOR it chains is individually marquee-proven; this run proves
    // the COMPOSITION — XML ingest does not bottleneck, the stages stay
    // distributed (shuffle volumes measured per stage), amendment
    // semantics and idempotence hold at 1M rows WITHOUT any driver-side
    // row materialization (the replay gate is exceptAll, not collect).
    import graft.operators.{FilingsPipeline => FP, IncrementalLoad}
    // 1M filings over 50k entities x 24 periods, generated distributed;
    // same-entity (period, priority, status) collisions plant real
    // near-dup narratives at a measurable rate
    def synthOrders(n: Long): DataFrame = spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(1)), lit(50000L)).as("o_custkey"),
      date_add(lit("2020-01-01").cast("date"),
        pmod(xxhash64(col("id"), lit(2)), lit(720)).cast("int"))
        .as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (pmod(xxhash64(col("id"), lit(3)), lit(5)) + 1).cast("int"))
        .as("o_orderpriority"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pmod(xxhash64(col("id"), lit(4)), lit(3)) + 1).cast("int"))
        .as("o_orderstatus"),
      (pmod(xxhash64(col("id"), lit(5)), lit(10000000L)).cast("double")
        / 100.0).as("o_totalprice"))
    val nOrders = 1000000L
    val orders = synthOrders(nOrders)
    val filings = FP.ordersAsFilings(orders)
    val b1 = filings.filter(col("filing_id") % 4 < 3)           // 750k
    val amendments = FP.ordersAsFilings(
      orders.filter(col("o_orderkey") % 8 === 0), "1111.00", amended = true)
    val b2 = amendments.unionByName(filings.filter(col("filing_id") % 4 === 3))
    val d1 = java.nio.file.Files.createTempDirectory("graft_xbrl_m1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_xbrl_m2").toString

    // per-stage shuffle-write accounting: snapshot the ledger's counter
    // at each materialization boundary
    def snap(): Double =
      graft.metrics.Ledger.of(spark).snapshot()("shuffle.write_bytes") / 1e6
    locally {
      val (_, tWrite) = timed { FP.writeBatch(b1, d1); FP.writeBatch(b2, d2) }
      val s0 = snap()
      val facts1 = FP.extractFacts(FP.ingest(spark, d1))
        .localCheckpoint(eager = false)
      val facts2 = FP.extractFacts(FP.ingest(spark, d2))
        .localCheckpoint(eager = false)
      val ((nF1, nF2), tIngest) = timed((facts1.count(), facts2.count()))
      val s1 = snap()
      assert(nF1 == 750000L && nF2 == 375000L,
        s"XML round-trip lost filings: $nF1 / $nF2")
      assert(facts1.filter(col("value").isNull || col("concept").isNull)
        .count() == 0, "fact parse must be total at 1M scale")

      val upserted = IncrementalLoad.upsert(facts1, facts2, "accession")
        .localCheckpoint(eager = false)
      val (nUp, tUpsert) = timed(upserted.count())
      val s2 = snap()
      assert(nUp == nOrders, s"upsert must land one row per accession: $nUp")
      // amendment semantics at scale: accession 0 is amended in b2
      val origPrice = orders.filter(col("o_orderkey") === 0)
        .select("o_totalprice").head().getDouble(0)
      val wantValue = new java.math.BigDecimal(origPrice)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .add(new java.math.BigDecimal("1111.00"))
      val gotValue = upserted.filter(col("filing_id") === 0)
        .select("value").head().getDecimal(0)
      assert(gotValue.compareTo(wantValue) == 0,
        s"amended value $gotValue != $wantValue")
      // idempotence at scale, fully distributed: replaying batch 2 is a
      // row-for-row no-op (exceptAll both ways + count, no collect)
      val replay = IncrementalLoad.upsert(upserted, facts2, "accession")
      assert(replay.count() == nUp &&
        replay.exceptAll(upserted).count() == 0 &&
        upserted.exceptAll(replay).count() == 0,
        "upsert replay must be a distributed no-op")
      val s3 = snap()

      val exact = FP.dedupExact(upserted).localCheckpoint(eager = false)
      val (nEx, tExact) = timed(exact.count())
      val s4 = snap()
      val near = FP.dedupNear(exact).localCheckpoint(eager = false)
      val (nNear, tNear) = timed(near.count())
      val s5 = snap()
      assert(nEx <= nUp && nNear < nEx,
        s"retention must be monotone with near-dup engaged: $nUp/$nEx/$nNear")

      val roll = near.transform(FP.rollup).localCheckpoint(eager = false)
      val (nPeriods, tRoll) = timed(roll.count())
      val s6 = snap()
      assert(nPeriods >= 20 && nPeriods <= 26, s"$nPeriods periods")
      assert(roll.agg(sum(col("n_facts"))).head().getLong(0) == nNear,
        "rollup must account for every surviving fact")
      // decimal addition is exact ⇒ the rollup is partitioning-invariant
      // bit-for-bit — the distributed-determinism form of the fixture
      // gate's driver-fold comparison (collecting 1M decimals would
      // itself be a scale bug)
      val rollRows = roll.collect().map(_.toSeq).toSet
      val reparted = near.repartition(7).transform(FP.rollup)
        .collect().map(_.toSeq).toSet
      assert(reparted == rollRows, "rollup not partitioning-invariant")

      // the DB landing (daily-rebuild contract), idempotent at scale
      val url = "jdbc:derby:memory:graft_xbrl_m;create=true"
      def land(): Unit = roll
        .select(col("period"), col("n_facts"),
          col("total_value").cast("string").as("total_value"))
        .write.mode("overwrite")
        .format("jdbc").option("url", url).option("dbtable", "period_rollup")
        .save()
      val (_, tLand) = timed { land(); land() }
      val back = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "period_rollup").load()
        .select(col("period"), col("n_facts"),
          col("total_value").cast("decimal(18,2)").as("total_value"))
        .collect().map(_.toSeq).toSet
      assert(back == rollRows, "DB round-trip must be exact")

      info(f"1M filings: write $tWrite%.1f s | ingest+parse $tIngest%.1f s " +
        f"(shuffle ${s1 - s0}%.0f MB) | upsert $tUpsert%.1f s " +
        f"(${s2 - s1}%.0f MB) | replay-gate ${s3 - s2}%.0f MB | " +
        f"exact-dedup $tExact%.1f s (${s4 - s3}%.0f MB) | " +
        f"near-dedup $tNear%.1f s (${s5 - s4}%.0f MB) | " +
        f"rollup $tRoll%.1f s (${s6 - s5}%.0f MB) | land $tLand%.1f s")
      info(s"retention: upserted $nUp -> exact $nEx -> near $nNear " +
        s"over $nPeriods periods")
    }
  }

  test("q_graph_degree shape: 1M-line fact⨝fact degree profile, linear shuffle", Marquee) {
    // The q_graph_degree plan (queries/GraphQueries.scala) at ~17x the
    // sf0.1 fact volume, on synthetic frames: a fact⨝fact equi-join
    // (neither side broadcastable at real scale — forced here by
    // disabling auto-broadcast) into a two-level aggregate. Evidence:
    // listener-measured shuffle-WRITE records stay linear — each fact
    // row crosses the wire once for the join, and the distinct-pair
    // partials are bounded by the true distinct (supp, cust) count.
    val nOrders = 250000L
    val linesPer = 4
    val nLines = nOrders * linesPer
    val orders = spark.range(nOrders).select(col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(7)), lit(20000L)).as("o_custkey"))
    val lineitem = spark.range(nLines).select(
      (col("id") / linesPer).cast("long").as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(11)), lit(5000L)).as("l_suppkey"))
    // ground truth, OUTSIDE the measured window
    val distinctPairs = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select("l_suppkey", "o_custkey").distinct().count()
    val nSupp = lineitem.select("l_suppkey").distinct().count()

    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ((rows, secs), work) = measured(timed {
        lineitem
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_suppkey")
          .agg(countDistinct(col("o_custkey")).as("degree"))
          .groupBy("degree")
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("l_suppkey")).cast("long").as("supp_sum"))
          .orderBy("degree").collect()
      })
      val written = work("shuffle.write_records").toLong
      // result invariants against independently-computed ground truth
      assert(rows.map(_.getLong(1)).sum == nSupp,
        "every supplier appears in exactly one degree bucket")
      assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == distinctPairs,
        "degree-weighted supplier count must equal the distinct pair count")
      // work metric: join shuffles each side once (nLines + nOrders), the
      // distinct partials are <= distinctPairs per the map-side combine,
      // the histogram level is metadata-sized. 1.5x slack for AQE
      // re-splits; a pair-materializing or re-scanning plan would blow
      // far past this.
      val bound = ((nLines + nOrders + distinctPairs) * 1.5).toLong
      assert(written <= bound,
        s"shuffle records $written exceed the linear bound $bound")
      assert(written >= nLines,
        s"measurement wired wrong? only $written records for $nLines lines")
      info(f"degree profile over $nLines lines in $secs%.1f s: " +
        s"$written shuffle records (linear bound $bound), " +
        s"$distinctPairs distinct pairs, ${rows.length} degree buckets")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("BloomJoin: 2M-row fact, 5%-selective dim — shuffle volume collapses", Marquee) {
    // The reason the operator exists, measured: with broadcast disabled
    // (the 100 TB shape — neither side broadcastable), a plain SMJ
    // shuffles every fact row; the bloom prefilter keeps non-matching
    // fact rows off the wire entirely. Gate: the prefiltered run's
    // shuffle-write records land under a quarter of the plain run's, and
    // the results are row-count-identical (no false negatives).
    val nFact = 2000000L
    val keySpace = 1000000L
    val fact = spark.range(nFact).select(
      pmod(xxhash64(col("id"), lit(21)), lit(keySpace)).as("fk"),
      (col("id") % 97).as("v"))
    // ~5% of the key space, membership defined by DATA (hashed ids), not
    // by a predicate. This matters: when the dim was `id % 20 === 7`,
    // Catalyst propagated that constraint through the equi-join onto the
    // fact scan (InferFiltersFromConstraints — even ACROSS a
    // localCheckpoint, since LogicalRDD preserves constraints) and the
    // "plain" join already shuffled only matches+dim. A dim whose key
    // set is data-defined — the common real case: keys from another
    // system, an aggregation, a sample — has no constraint to propagate
    // and no runtime-filter eligibility; THAT plan shuffles every fact
    // row, and the explicit bloom operator is what fixes it.
    val dim = spark.range(50000L)
      .select(pmod(xxhash64(col("id"), lit(77)), lit(keySpace)).as("pk"))
      .distinct()
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // First finding of this test, kept for the record: with the filtered
    // dim, Spark 4's own InjectRuntimeFilter fires on the PLAIN join and
    // matches our operator's shuffle volume (~150k records both) — the
    // explicit operator agrees with the optimizer where the optimizer is
    // eligible. Its value is being UNCONDITIONAL, so the baseline below
    // disables auto-injection: that is what every non-eligible plan
    // (expression-wrapped keys, pre-aggregated dims, DSv2 limits) gets.
    val prevRf = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try {
      def measure(f: => Long): (Long, Long) = {
        val (out, work) = measured(f)
        (out, work("shuffle.write_records").toLong)
      }
      val (plainN, plainRecs) = measure(
        fact.join(dim, col("fk") === col("pk")).count())
      val (preN, preRecs) = measure(graft.operators.BloomJoin
        .prefiltered(fact, dim, "fk", "pk", expectedItems = 100000L)
        .count())
      assert(preN == plainN, s"bloom dropped matches: $preN != $plainN")
      assert(preRecs * 4 < plainRecs,
        s"prefiltered shuffle $preRecs not < 1/4 of plain $plainRecs")
      info(s"plain join: $plainRecs shuffle records; bloom-prefiltered: " +
        s"$preRecs (${plainRecs / math.max(preRecs, 1)}x reduction) for " +
        s"$plainN matching rows of $nFact fact rows")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevRf)
    }
  }

  test("q_agg_skyline shape: 4M points — one window pass, verified frontier", Marquee) {
    // The O(n²) dominance definition at 2-D collapses to a linear ordered
    // window pass; at 4M points the evidence is (a) shuffle volume stays
    // ~2× the distinct points (distinct + window exchanges — no pair
    // frame ever exists) and (b) the produced set IS the frontier:
    // an antichain (checked exhaustively on the small frontier) that
    // dominates a 1k-point sample of the input.
    val n = 4000000L
    val pts = spark.range(n).select(
      (col("id") % 4).cast("string").as("g"),
      pmod(xxhash64(col("id"), lit(31)), lit(100000L)).as("x"),
      pmod(xxhash64(col("id"), lit(37)), lit(100000L)).as("y"))
    locally {
      val distinctPts = pts.distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy("x", "y")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val (((frontier, nDistinct), secs), work) = measured(timed {
        val f = distinctPts.withColumn("pm", min(col("y")).over(w))
          .filter(col("pm").isNull || col("y") < col("pm"))
          .select("g", "x", "y").collect()
        (f, distinctPts.count())
      })
      val written = work("shuffle.write_records").toLong
      // work bound: distinct shuffle (≤n) + window shuffle (≤distinct) +
      // the recount's re-shuffle of distinct — linear, never pairwise
      assert(written <= 3 * n + 1000,
        s"skyline shuffled $written records — not the linear plan")
      // antichain: no frontier point dominates another (frontier is tiny)
      val byG = frontier.groupBy(_.getString(0))
      byG.foreach { case (g, pf) =>
        val sorted = pf.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        sorted.sliding(2).foreach {
          case Array((x1, y1), (x2, y2)) =>
            assert(x1 < x2 && y1 > y2, s"group $g not an antichain")
          case _ =>
        }
      }
      // dominance: every sampled input point is dominated by (or is) a
      // frontier point of its group
      val sample = pts.limit(1000).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      sample.foreach { case (g, x, y) =>
        assert(byG(g).exists(f =>
          f.getLong(1) <= x && f.getLong(2) <= y),
          s"sampled point ($g,$x,$y) not covered by the frontier")
      }
      info(f"4M-point skyline in $secs%.1f s: ${frontier.length} frontier " +
        s"points over $nDistinct distinct, $written shuffle records " +
        s"(linear bound ${3 * n})")
    }
  }

  test("PowerIteration: 200k × R³² corpus — rounds shuffle D·partitions, never data", Marquee) {
    // The PCA probe's scale claim, measured: each round's only exchange
    // is the posexplode → per-dimension partial-sum aggregate, whose
    // map-side combine collapses every partition to ≤D rows — so total
    // shuffle records stay ≤ rounds · D · partitions while the 6.4M-float
    // corpus never crosses the wire. Convergence gated by Rayleigh
    // monotonicity and unit norm.
    val n = 200000L
    val dim = 32
    val emb = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("id"), i), lit(1000)).cast("float")
          / lit(1000.0f)).cast("float")).as("embedding"))
      .localCheckpoint(true) // synth cost out of the measured window
    locally {
      val iters = 4
      val ((tc, secs), work) = measured(timed(
        graft.operators.PowerIteration.topComponent(emb, iters = iters)))
      val written = work("shuffle.write_records").toLong
      assert(math.abs(tc.vector.map(x => x * x).sum - 1.0) < 1e-9)
      tc.rayleigh.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a - 1e-6 * math.abs(a), s"rayleigh decreased: $a -> $b")
      }
      val parts = spark.sparkContext.defaultParallelism * 8 // generous
      val bound = iters.toLong * dim * parts + 1000
      assert(written <= bound,
        s"power iteration shuffled $written records (bound $bound) — " +
          "the corpus went on the wire")
      info(f"$iters rounds over $n×R$dim in $secs%.1f s: $written shuffle " +
        s"records (bound $bound), lambda1 = ${tc.rayleigh.last}")
    }
  }

  test("q_event_lift shape: 1M events, tagged tally keeps pairs off the wire", Marquee) {
    // The q_event_lift plan (queries/InsightQueries.scala) at ~20x the
    // sf0.1 events volume: ONE data-sized shuffle builds per-(user, day)
    // type-sets; the pair/singleton/universe tally then rides a tagged
    // row-local explode into a <=16-key aggregate. Evidence: of all
    // shuffle stages in the run, exactly one is data-sized — every other
    // stage's write is tally-sized. The oracle's distinct-self-join twin
    // would put a second data-sized pair frame on the wire.
    val nEvents = 1000000L
    val types = array(lit("view"), lit("cart"), lit("purchase"),
      lit("refund"), lit("support"))
    val events = spark.range(nEvents).select(
      pmod(xxhash64(col("id"), lit(3)), lit(50000L)).as("user_id"),
      date_add(lit("2024-01-01").cast("date"),
        pmod(xxhash64(col("id"), lit(5)), lit(30)).cast("int")).as("day"),
      element_at(types,
        (pmod(xxhash64(col("id"), lit(9)), lit(5)) + 1).cast("int"))
        .as("event_type"))
    locally {
      val ((out, secs), tasks) = graft.metrics.Ledger.of(spark).perTask(timed {
        val sets = events
          .groupBy(col("user_id"), col("day"))
          .agg(sort_array(collect_set(col("event_type"))).as("tset"))
        val tally = sets.select(explode(expr(
            """concat(
              |  flatten(transform(tset, (x, i) ->
              |    transform(slice(tset, i + 2, size(tset)),
              |              y -> struct(x AS ta, y AS tb)))),
              |  transform(tset, x ->
              |    struct(x AS ta, CAST(NULL AS STRING) AS tb)),
              |  array(struct(CAST(NULL AS STRING) AS ta,
              |               CAST(NULL AS STRING) AS tb)))""".stripMargin))
            .as("p"))
          .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
          .agg(count(lit(1)).as("c"))
        tally.collect()
      })
      val perStage = tasks.groupBy(_.stageId)
        .map { case (st, ts) => st -> ts.map(_.shuffleWriteRecords).sum }
        .toSeq.filter(_._2 > 0).sortBy(-_._2)
      // tally: C(5,2)=10 pairs + 5 singletons + 1 universe = 16 keys
      assert(out.length == 16, s"tagged tally must hold 16 keys: ${out.length}")
      val userDays = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
        .head.getLong(2)
      assert(out.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .forall(_.getLong(2) <= userDays), "pair count bounded by universe")
      // exactly ONE data-sized shuffle (the sets build, <= nEvents after
      // map-side combine); every other stage is tally-sized — 16 keys x
      // 32 partitions of partials, far under 4096
      assert(perStage.nonEmpty && perStage.head._2 <= nEvents,
        s"sets shuffle must be <= input rows: ${perStage.headOption}")
      val rest = perStage.drop(1)
      assert(rest.forall(_._2 <= 16L * 32),
        "a second data-sized shuffle appeared — pairs went on the wire: " +
          rest.take(5).mkString(", "))
      info(f"1M-event lift in $secs%.1f s: sets shuffle " +
        s"${perStage.head._2} records, post-sets stages " +
        s"${rest.map(_._2).sum} records over $userDays user-days")
    }
  }

  test("ExactStats: 16M rows — KS shuffle bounded by the value support, " +
      "driver-fold oracle", Marquee) {
    // The design claim of q_stat_ks/q_stat_auc, measured: the fact is
    // reduced to a (group, value) histogram by map-side combine, so
    // shuffle volume scales with the QUANTIZED SUPPORT × map partitions,
    // never with rows. 16M rows over a 50k-value domain must put far
    // fewer than rows/4 records on the wire; at a fixed price/quantity
    // domain the same holds at 100 TB. Exactness gate: the distributed
    // numerator equals a driver-side fold of the collected histogram
    // (independent arithmetic path over the same counts).
    val n = 16000000L
    val support = 50000L
    val rows = spark.range(n).select(
      pmod(xxhash64(col("id"), lit(5)), lit(support)).as("v"),
      (col("id") % 2).as("isa"))
      .withColumn("grp", lit("g"))
    locally {
      val ((ks, secs), work) = measured(timed(graft.operators.ExactStats
        .ksNumerator(rows, "grp", "v", "isa").collect().head))
      val wire = work("shuffle.write_records").toLong
      assert(ks.getLong(1) + ks.getLong(2) == n, "histogram lost rows")
      assert(wire * 4 < n,
        s"KS shuffled $wire records for $n rows — support bound broken")
      // driver-side fold over the same histogram: independent max-scan
      val h = rows.groupBy("v")
        .agg(sum(col("isa")).as("c1"),
          (count(lit(1)) - sum(col("isa"))).as("c2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val n1 = h.map(_._2).sum
      val n2 = h.map(_._3).sum
      var cum1 = 0L; var cum2 = 0L; var best = 0L
      h.foreach { case (_, c1, c2) =>
        cum1 += c1; cum2 += c2
        best = math.max(best, math.abs(n2 * cum1 - n1 * cum2))
      }
      assert(ks.getLong(3) == best,
        s"distributed ks_num ${ks.getLong(3)} != driver fold $best")
      info(f"16M-row KS in $secs%.1f s: $wire shuffle records " +
        f"(${n / math.max(wire, 1)}%d× under row count), " +
        s"ks_num=$best over n1=$n1, n2=$n2")
    }
  }

  test("16M-row Kendall: shuffle rides the joint support, and the " +
    "distributed concordance equals a driver-side fold", Marquee) {
    // q_stat_kendall's design claim, measured: the fact collapses to a
    // (x, y) joint histogram by map-side combine (support 50·20 = 1000
    // cells here — bounded by the VALUE DOMAIN, exactly as quantities/
    // discount bands are at 100 TB), so shuffle volume is support ×
    // map partitions, never rows, and the support² cell-pair join runs
    // on metadata. Exactness gate: C and D recomputed by a driver-side
    // O(support²) fold over the same collected histogram.
    val n = 16000000L
    val rows = spark.range(n).select(lit(0L).as("g"),
      pmod(xxhash64(col("id"), lit(3)), lit(50L)).as("x"),
      pmod(xxhash64(col("id"), lit(7)), lit(20L)).as("y"))
    locally {
      val ((r, secs), work) = measured(timed(graft.operators.ExactStats
        .kendallTau(rows, "g", "x", "y").collect().head))
      val wire = work("shuffle.write_records").toLong
      assert(r.getLong(1) == n, "histogram lost rows")
      assert(wire * 4 < n,
        s"Kendall shuffled $wire records for $n rows — support bound broken")
      // independent driver-side O(support²) fold over the histogram
      val h = rows.groupBy("x", "y").count()
        .collect().map(q => (q.getLong(0), q.getLong(1), q.getLong(2)))
      var conc = BigInt(0); var disc = BigInt(0)
      for (a <- h; b <- h if a._1 < b._1) {
        if (a._2 < b._2) conc += BigInt(a._3) * b._3
        else if (a._2 > b._2) disc += BigInt(a._3) * b._3
      }
      assert(BigInt(r.getLong(2)) == conc && BigInt(r.getLong(3)) == disc,
        s"distributed C/D (${r.getLong(2)}, ${r.getLong(3)}) != " +
          s"driver fold ($conc, $disc)")
      info(f"16M-row Kendall in $secs%.1f s: $wire shuffle records " +
        f"(${n / math.max(wire, 1)}%d× under row count), " +
        s"C=$conc D=$disc over ${h.length} cells")
    }
  }

  test("Sketches: 1M-key HLL and 100k-vector LSH census shuffle " +
    "O(sketch), not O(rows)", Marquee) {
    // The sketch promise made measurable: a cardinality profile over
    // 1M keys and a near-dup census over 100k vectors must move only
    // SKETCH-sized data through the shuffle — the map side folds every
    // partition down to <= 64 register cells / <= 16 sig cells before
    // anything crosses the wire. A route that shuffled keys or
    // signatures row-wise would exceed these bounds by four orders of
    // magnitude.
    val nKeys = 1000000L
    val keys = spark.range(nKeys).select(col("id").as("k"))
    val inParts = keys.rdd.getNumPartitions.toLong
    locally {
      val ((regs, hllSecs), hllWork) = measured(timed {
        graft.operators.Sketches.hllRegisters(keys, "k").collect()
      })
      val hllWritten = hllWork("shuffle.write_records").toLong
      assert(regs.length <= 64)
      val est = graft.operators.Sketches.hllEstimate(
        spark.createDataFrame(
          spark.sparkContext.parallelize(regs.toIndexedSeq),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("register",
              org.apache.spark.sql.types.LongType)))))
      assert(est > nKeys * 0.7 && est < nKeys * 1.4,
        s"HLL estimate $est for $nKeys keys")
      // map-side combine bound: <= 64 partials per input partition
      val hllBound = 64L * (inParts + 1)
      assert(hllWritten <= hllBound,
        s"HLL shuffled $hllWritten records — not map-side combined " +
          s"(bound $hllBound for $nKeys keys)")
      info(f"HLL over $nKeys keys in $hllSecs%.1f s: est $est%.0f, " +
        s"$hllWritten shuffle records (bound $hllBound)")

      // LSH census at 100k clustered vectors
      val vecs = clusteredEmbeddings(100000L).localCheckpoint()
      val vParts = vecs.rdd.getNumPartitions.toLong
      val ((census, lshSecs), lshWork) = measured(timed {
        graft.operators.Sketches.lshBandCensus(
          graft.operators.Sketches.walshSignatures(
            vecs, "embedding", "vec_id")).orderBy("band").collect()
      })
      val lshWritten = lshWork("shuffle.write_records").toLong
      assert(census.length == 4)
      assert(census.map(_.getLong(2)).sum == 4L * 100000L,
        "every vector lands once per band")
      // the planted 8-vector clusters collide: candidate volume far
      // above the uniform floor proves the signatures see structure,
      // while the per-partition combine keeps the wire sketch-sized
      census.foreach(r => assert(r.getLong(4) > 0, s"$r"))
      val lshBound = (16L * 4 + 4) * (vParts + 1) * 2
      assert(lshWritten <= lshBound,
        s"LSH census shuffled $lshWritten records — not map-side " +
          s"combined (bound $lshBound for 100k vectors)")
      info(f"LSH census over 100k vectors in $lshSecs%.1f s: " +
        s"$lshWritten shuffle records (bound $lshBound), " +
        s"cand_pairs_x2 per band: " +
        census.map(_.getLong(4)).mkString(","))
    }
  }

  test("ManifestTable MERGE: 1M-row table, narrow changelog — rewrite " +
    "volume rides the TOUCHED files, never the table", Marquee) {
    // The 100 TB claim of the manifest format: a MERGE's write cost is
    // proportional to the files whose key range overlaps the source,
    // not to table size. 1M rows in 16 range-partitioned files; a
    // 2k-key changelog must rewrite ~1/16 of the table (the one or two
    // overlapping files), carry the rest by reference, and leave every
    // older snapshot byte-identical (time travel reads v0 unchanged).
    import graft.table.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("mq_mtable").toString
    val n = 1000000L
    val base = spark.range(n).select(col("id").as("k"),
      (xxhash64(col("id")) % 1000L).as("v"))
      .repartitionByRange(16, col("k"))
    val (v0, createSecs) = timed(
      ManifestTable.create(spark, dir, base, statsCols = Seq("k")))
    assert(v0.files.size == 16 && v0.totalRows == n)

    // pre-compacted changelog (one row per key, the merge contract):
    // 1.9k updates in [500100, 502000), 100 deletes, 10 inserts past n
    val src = spark.range(500100L, 502000L)
      .select(col("id").as("k"), lit(-123456L).as("v"), lit("U").as("_op"))
      .unionAll(spark.range(500000L, 500100L)
        .select(col("id").as("k"), lit(0L).as("v"), lit("D").as("_op")))
      .unionAll(spark.range(10L)
        .select((col("id") + n).as("k"), lit(7L).as("v"), lit("U").as("_op")))
    val (v1, mergeSecs) = timed(
      ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op")))

    // work metric: carried-by-reference vs rewritten
    val carried = v1.files.map(_.path).toSet
      .intersect(v0.files.map(_.path).toSet)
    val staged = v1.files.filterNot(f => carried(f.path))
    assert(carried.size >= 14,
      s"expected >=14 of 16 files carried, got ${carried.size}")
    val rewrittenRows = staged.map(_.rows).sum
    assert(rewrittenRows <= 2L * (n / 16) + 2110,
      s"rewrote $rewrittenRows rows for a 2k-key changelog — " +
        "pruning is not touching-files-only")

    // semantics spot checks + time travel intact
    val live = ManifestTable.read(spark, dir)
    assert(live.count() == n - 100 + 10)
    assert(live.filter(col("k") >= 500100L && col("k") < 502000L &&
      col("v") === -123456L).count() == 1900L)
    assert(live.filter(col("k") < 500000L && col("v") === -123456L).count() == 0L)
    assert(ManifestTable.readVersion(spark, dir, 0L).count() == n)
    info(f"1M-row create $createSecs%.1f s; 2k-key merge $mergeSecs%.1f s, " +
      s"rewrote ${staged.size} files / $rewrittenRows rows, " +
      s"carried ${carried.size} by reference")
  }

  test("ManifestTable pruned read: 1M rows, 32 day-partitions — files " +
    "scanned ride the predicate's selectivity, never the table", Marquee) {
    // The read-path half of the lakehouse 100 TB claim: the skip
    // decision is manifest-metadata-only, so a one-partition predicate
    // over a 32-partition table must plan a scan over ~1/32nd of the
    // file set, and kept-file volume must grow linearly with predicate
    // selectivity. (The WHERE-day=X-prunes expectation every lakehouse
    // user starts from — round-13 verdict item 1.)
    import graft.table.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("mq_mtpart").toString
    val n = 1000000L
    val base = spark.range(n).select(col("id").as("k"),
      (col("id") % 32L).as("day"),
      xxhash64(col("id")).as("v"))
      .repartition(32, col("day"))
    val (v0, createSecs) = timed(ManifestTable.create(spark, dir, base,
      statsCols = Seq("k"), partitionCols = Seq("day")))
    assert(v0.totalRows == n)
    // one-partition predicate: kept files ≈ 1/32nd (each day is written
    // by exactly one task ⇒ one file per day at this layout)
    val one = ManifestTable.pruneFiles(v0, col("day") === 7L)
    assert(one.nonEmpty && one.forall(_.partitions("day").contains("7")))
    assert(one.size.toDouble / v0.files.size <= 2.0 / 32,
      s"kept ${one.size} of ${v0.files.size} files for a 1/32 predicate")
    // selectivity sweep: kept-file volume grows with selected days
    val sweep = Seq(1, 4, 16).map(d =>
      ManifestTable.pruneFiles(v0, col("day") < d.toLong).size)
    assert(sweep(0) < sweep(1) && sweep(1) < sweep(2), sweep.toString)
    assert(sweep(2) <= v0.files.size * 16 / 32 + 1, sweep.toString)
    // the pruned scan is exact, and a stats-column predicate composes
    val (cnt, scanSecs) = timed(
      ManifestTable.read(spark, dir, col("day") === 7L).count())
    assert(cnt == n / 32)
    assert(ManifestTable.read(spark, dir,
      col("day") === 7L && col("k") < 1000L).count() ==
      (0L until 1000L).count(_ % 32 == 7))
    info(f"1M-row partitioned create $createSecs%.1f s; pruned scan " +
      f"$scanSecs%.1f s over ${one.size}/${v0.files.size} files; " +
      s"selectivity sweep 1/4/16 days -> ${sweep.mkString("/")} files")
  }

  test("IncrementalView: 1M-row fact, 2k-key changelog — refresh reads " +
    "the touched files, never the fact table", Marquee) {
    // The maintenance half of the lakehouse claim: once the view is
    // initialized, keeping it fresh costs changelog + view work. The
    // refresh's changelog comes from changesStructural (files that
    // changed hands), so the fact-side read volume is the MERGE's
    // touched files (~2/16 of the table here), not 2× the fact; the
    // view itself is group-sized (1000 rows). Verified by comparing
    // the refresh's scan row-volume bound against the carried set and
    // the view against a full recompute.
    import graft.table.{IncrementalView, ManifestTable}
    val factDir = java.nio.file.Files.createTempDirectory("mq_ivmf").toString
    val mvDir = java.nio.file.Files.createTempDirectory("mq_ivmv").toString
    val n = 1000000L
    val base = spark.range(n).select(col("id").as("k"),
      (col("id") % 1000L).as("g"),
      (xxhash64(col("id")) % 100000L).as("c"))
      .repartitionByRange(16, col("k"))
    val v0 = ManifestTable.create(spark, factDir, base, statsCols = Seq("k"))
    val (mv0, initSecs) = timed(
      IncrementalView.init(spark, factDir, mvDir, "g", Seq("c"), numFiles = 4))
    assert(ManifestTable.read(spark, mvDir).count() == 1000L)
    // narrow changelog: 1.9k updates + 100 deletes + 10 inserts
    val src = spark.range(500100L, 502000L)
      .select(col("id").as("k"), (col("id") % 1000L).as("g"),
        lit(-5L).as("c"), lit("U").as("_op"))
      .unionAll(spark.range(500000L, 500100L)
        .select(col("id").as("k"), (col("id") % 1000L).as("g"),
          lit(0L).as("c"), lit("D").as("_op")))
      .unionAll(spark.range(10L)
        .select((col("id") + n).as("k"), lit(1001L).as("g"),
          lit(7L).as("c"), lit("U").as("_op")))
    val v1 = ManifestTable.merge(spark, factDir, src, "k", opCol = Some("_op"))
    val factTouched = v1.files.map(_.path).toSet
      .diff(v0.files.map(_.path).toSet)
    val touchedRows = v1.files.filter(f => factTouched(f.path)).map(_.rows).sum
    val removedRows = v0.files
      .filterNot(f => v1.files.map(_.path).toSet(f.path)).map(_.rows).sum
    val (mv1, refreshSecs) = timed(
      IncrementalView.refresh(spark, factDir, mvDir, "g", Seq("c")))
    // work metric: the structural changelog read is bounded by the
    // files that changed hands — ≲2/16 of the fact, never 2×fact
    assert(touchedRows + removedRows <= 2L * 2L * (n / 16) + 4300,
      s"changelog volume $touchedRows+$removedRows rows — merge touched " +
        "more than the overlapping files")
    // the view merge rewrote at most the touched view files, and the
    // new-group insert means at least one file changed
    val mvCarried = mv1.files.map(_.path).toSet
      .intersect(mv0.files.map(_.path).toSet)
    assert(mvCarried.size < mv1.files.size, "view merge staged nothing?")
    assert(mv1.lastBatch == v1.version)
    // incremental ≡ recompute at 1M scale
    val full = ManifestTable.read(spark, factDir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("c").cast("long").as("sum_c"))
    val diff = ManifestTable.read(spark, mvDir)
      .select("g", "n", "sum_c").exceptAll(full).count() +
      full.exceptAll(ManifestTable.read(spark, mvDir)
        .select("g", "n", "sum_c")).count()
    assert(diff == 0L, s"view drifted from recompute by $diff rows")
    info(f"1M-row init $initSecs%.1f s; 2k-key refresh $refreshSecs%.1f s " +
      s"reading $touchedRows+$removedRows fact rows " +
      s"(${factTouched.size} touched files), view carried " +
      s"${mvCarried.size}/${mv1.files.size} files by reference")
  }

  test("ManifestTable deletion vectors: 1M-row table — a needle DELETE " +
    "writes the vector, never the table", Marquee) {
    // The merge-on-read 100 TB claim: deleteVector's write volume is
    // the deleted rows' (file, position) pairs, with ZERO data files
    // rewritten; reads subtract exactly. A range-narrow delete attaches
    // its vector to ONE file (pruning reach), a scattered modulo delete
    // to many; purge then converts the debt back to plain files.
    import graft.table.ManifestTable
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("mq_dv").toString
    val base = spark.range(1000000L)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartitionByRange(16, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = () => fs.listStatus(new Path(dir, "data")).length
    val before = dataDirs()
    // narrow: 1000 contiguous keys — bounds pruning reaches ONE file
    val (s1, t1) = timed(ManifestTable.deleteVector(spark, dir, col("k") < 1000))
    assert(dataDirs() == before, "DV delete must write no data files")
    assert(s1.dvs.size == 1, s"narrow delete must vector ONE file, got ${s1.dvs.size}")
    // scattered: 8 keys, one per 125k stride — vectors attach per touched file
    val (s2, t2) = timed(ManifestTable.deleteVector(spark, dir, col("k") % 125000 === 3))
    assert(dataDirs() == before)
    val dvRows = spark.read.parquet(
      s2.dvs.values.flatten.toSeq.distinct.map(p => s"$dir/$p"): _*).count()
    // key 3 matches BOTH predicates but is ALREADY hidden by the first
    // vector, so the second records only its 7 net-new keys: stacked
    // vectors grow with NET deleted rows (1007), never with re-matches
    assert(dvRows == 1007L,
      s"vector rows must equal NET deleted rows, got $dvRows")
    assert(ManifestTable.read(spark, dir).count() == 1000000L - 1007L)
    val dvBytes = {
      val it = fs.listFiles(new Path(dir, "dv"), true)
      var b = 0L
      while (it.hasNext) b += it.next().getLen
      b
    }
    assert(dvBytes * 50 < s2.totalBytes,
      s"vector bytes ($dvBytes) must be a sliver of the table (${s2.totalBytes})")
    val (s3, t3) = timed(ManifestTable.purgeVectors(spark, dir))
    assert(s3.dvs.isEmpty)
    assert(ManifestTable.read(spark, dir).count() == 1000000L - 1007L)
    info(f"1M rows: narrow 1000-row DV delete $t1%.1f s (1 file vectored), " +
      f"scattered 8-row delete $t2%.1f s (${s2.dvs.size} files vectored), " +
      f"$dvBytes bytes of vectors vs ${s2.totalBytes} table bytes; " +
      f"purge $t3%.1f s")
  }

  test("needle DV deletes on an UNSORTED clone hold the touched-file " +
    "floor with blooms — the no-bloom twin pays a full-table scan per " +
    "needle", Marquee) {
    // The r16 bloom claim at DV-marquee scale: on a layout NOT sorted
    // by the key (every file's [min,max] spans the domain), interval
    // pruning degenerates and each needle deleteVector must scan EVERY
    // file to find its one row; the opt-in bloom restores the sorted-
    // layout floor (scan ~1 file) at the cost of one footer open per
    // admitted file. Same data, same deletes, twins differ only in
    // bloomCols.
    import graft.table.ManifestTable
    val dirB = java.nio.file.Files.createTempDirectory("mq_ubloom").toString
    val dirP = java.nio.file.Files.createTempDirectory("mq_uplain").toString
    val base = spark.range(1000000L)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartitionByRange(40, col("k") % 40) // unsorted: striped keys
    ManifestTable.create(spark, dirB, base, statsCols = Seq("k"),
      bloomCols = Seq("k"))
    ManifestTable.create(spark, dirP, base, statsCols = Seq("k"))
    val needles = (1 to 20).map(i => i * 40000L + 17L)
    // the work twin of the wall-time race below: input records every
    // task of the 20 timed deletes read (scans and vector reads alike)
    def drive(dir: String): (Double, Int, Long) = {
      var vectored = 0
      val ((_, secs), work) = measured(timed(needles.foreach { n =>
        val s = ManifestTable.deleteVector(spark, dir, col("k") === n)
        vectored = s.dvs.size
      }))
      (secs, vectored, work("scan.records").toLong)
    }
    // untimed warmup on BOTH twins: the first deleteVector of the JVM
    // pays codegen/JIT for the whole path — without this, whichever
    // twin runs first eats ~2 s of compile and the comparison is noise
    Seq(dirB, dirP).foreach { d =>
      ManifestTable.deleteVector(spark, d, col("k") === 1L)
      ManifestTable.deleteVector(spark, d, col("k") === 2L)
    }
    val (tB, nB, rB) = drive(dirB)
    val (tP, nP, rP) = drive(dirP)
    // identical results, bloom-priced vs table-priced work
    assert(ManifestTable.read(spark, dirB).count() == 1000000L - 22L)
    assert(ManifestTable.read(spark, dirP).count() == 1000000L - 22L)
    val headB = ManifestTable.snapshot(spark, dirB)
    val probe = col("k") === (500000L + 17L)
    assert(ManifestTable.pruneFilesBloom(spark, dirB, headB, probe).size <= 3,
      "bloom must keep ~1 of ~40 unsorted files")
    assert(ManifestTable.pruneFiles(headB, probe).size == headB.files.size,
      "intervals alone must admit every file on the striped layout")
    // ≤ 3 of 40 files kept per needle bounds the bloomed reads at 3/40
    assert(rB * 10 <= rP,
      s"bloomed needle deletes read $rB records, the full-scan twin $rP")
    assert(tB < tP,
      f"bloomed needle deletes ($tB%.1f s) must undercut the " +
        f"full-scan twin ($tP%.1f s)")
    info(f"20 needle DV deletes on 1M rows / 40 unsorted files: " +
      f"bloomed $tB%.1f s, $rB records read ($nB files vectored) vs " +
      f"no-bloom $tP%.1f s, $rP records read ($nP files vectored) — " +
      f"per-needle scan is ~1 file vs 40")
  }

  test("DV stacking cost curve: read stays vector-priced as commits " +
    "accumulate on one file; purge resets to the plain-scan floor", Marquee) {
    import graft.table.ManifestTable
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("mq_dvstack").toString
    val base = spark.range(262144L)
      .select(col("id").as("k"), (col("id") % 1009).as("v"))
      .repartitionByRange(4, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k"))
    val (_, tPlain) = timed(ManifestTable.read(spark, dir).count())
    def readWall(): Double = {
      val (_, t) = timed(ManifestTable.read(spark, dir).count())
      t
    }
    // stack needle deletes, all inside file 0's key range so ONE file
    // takes every delete: it must still carry ONE vector dir holding
    // exactly its net deleted rows, and a read opens that dir alone
    var stacked = 0
    val checkpoints = Seq(10, 50, 250)
    val walls = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    checkpoints.foreach { target =>
      while (stacked < target) {
        ManifestTable.deleteVector(spark, dir, col("k") === stacked.toLong)
        stacked += 1
      }
      val head = ManifestTable.snapshot(spark, dir)
      assert(head.dvs.size == 1 && head.dvs.values.head.size == 1,
        s"one file, one vector dir after $stacked deletes: ${head.dvs}")
      val (file0, Vector(dv)) = head.dvs.head
      val pairs = spark.read.parquet(s"$dir/$dv")
      assert(pairs.count() == stacked &&
        pairs.select("base", "idx").distinct().count() == stacked,
        s"the vector must hold the $stacked net deleted rows once each")
      assert(pairs.select("base").distinct().collect().map(_.getString(0))
        .toSeq == Seq(new Path(file0).getName))
      val all = ManifestTable.read(spark, dir)
      val dvRead = all.inputFiles.filter(_.contains("/dv/"))
        .map(p => new Path(p).getParent.getName).toSet
      assert(dvRead == Set(new Path(dv).getName),
        s"the scan must open file 0's one vector dir, opened $dvRead")
      val n = all.count()
      assert(n == 262144L - stacked, s"count wrong at $stacked vectors")
      walls(target) = readWall()
    }
    // the read must be VECTOR-priced: a plain needle filter that
    // prunes to the OTHER files never pays for file 0's vectors
    val (farCount, tFar) = timed(
      ManifestTable.read(spark, dir, col("k") >= 200000L).count())
    assert(farCount == 62144L)
    // purge materializes once; reads return to the plain floor
    val (_, tPurge) = timed(ManifestTable.purgeVectors(spark, dir))
    assert(ManifestTable.snapshot(spark, dir).dvs.isEmpty)
    assert(ManifestTable.read(spark, dir).count() == 262144L - stacked)
    val tAfter = readWall()
    info(f"plain read $tPlain%.2f s; stacked-vector reads: " +
      walls.map { case (v, t) => f"$v -> $t%.2f s" }.mkString(", ") +
      f"; far-key pruned read under 250 vectors $tFar%.2f s; " +
      f"purge $tPurge%.2f s; post-purge read $tAfter%.2f s")
  }

  test("delta-log commit cost: log bytes per commit stay FLAT as live " +
    "files grow; the checkpoint (old per-commit cost) grows linearly", Marquee) {
    import graft.table.ManifestTable
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("mq_dlog").toString
    val hc = spark.sparkContext.hadoopConfiguration
    def logSizes(): Map[String, Long] = {
      val lp = new Path(dir, "_graft_log")
      lp.getFileSystem(hc).listStatus(lp)
        .map(s => s.getPath.getName -> s.getLen).toMap
    }
    ManifestTable.create(spark, dir,
      spark.range(1000L).select(col("id").as("k"),
        (col("id") % 7).as("v")).coalesce(1), statsCols = Seq("k"))
    // grow the table one file per commit; at each measured point record
    // the APPEND's own log-record bytes and wall — the round-15 law is
    // that both are independent of the live-file count (pre-r15, every
    // commit serialized the full listing: the checkpoint row below is
    // exactly what that cost, per commit)
    val points = Seq(16, 64, 160, 320)
    var committed = 1
    val deltaBytes = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    val appendWall = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    points.foreach { target =>
      while (committed < target) {
        val df = spark.range(committed * 1000L, committed * 1000L + 1000L)
          .select(col("id").as("k"), (col("id") % 7).as("v")).coalesce(1)
        val (snap, t) = timed(ManifestTable.append(spark, dir, df))
        committed += 1
        if (committed == target) {
          deltaBytes(target) = logSizes()(f"v${snap.version}%020d.json")
          appendWall(target) = t
        }
      }
    }
    val head = ManifestTable.snapshot(spark, dir)
    assert(head.files.size == 320, s"expected 320 live files, got ${head.files.size}")
    // the flat law: the 320-file append's record is no bigger than the
    // 16-file one (both are one added entry + metadata)
    assert(deltaBytes(320) <= deltaBytes(16) * 3 / 2,
      s"append record grew with live files: $deltaBytes")
    assert(deltaBytes(320) < 4096,
      s"append record must be KB-sized at any file count: $deltaBytes")
    // the counterfactual: the nearest checkpoint carries the full
    // listing — linear in live files, ≫ the delta — and is paid once
    // per CheckpointInterval, not per commit. Since r16 a checkpoint is
    // two parts: the tiny JSON seal + the columnar files parquet.
    val sizes = logSizes()
    def ckBytes(v: Int): Long =
      sizes(f"c$v%020d.json") +
        sizes.getOrElse(f"c$v%020d.files.parquet", 0L)
    val ck64 = ckBytes(64)
    val ck304 = ckBytes(304)
    // columnar checkpoints carry a fixed parquet footer/dictionary
    // overhead that dominates at 64 entries, so growth is sub-linear
    // at the small end — still strictly growing with live files
    assert(ck304 > ck64 * 2, s"checkpoint must grow with live files: $ck64 -> $ck304")
    assert(ck304 > deltaBytes(320) * 50,
      s"delta must be far below the full listing: ${deltaBytes(320)} vs $ck304")
    // reads reconstruct through checkpoint + suffix: snapshot() cost is
    // bounded by the interval, not history length (320 commits deep)
    val (_, tSnap) = timed(ManifestTable.snapshot(spark, dir))
    assert(ManifestTable.read(spark, dir).count() == 320000L)
    info(f"append log-record bytes at 16/64/160/320 files: " +
      deltaBytes.map { case (n, b) => s"$n -> $b B" }.mkString(", ") +
      f"; append walls: " +
      appendWall.map { case (n, t) => f"$n -> $t%.2f s" }.mkString(", ") +
      f"; checkpoint bytes 64 -> $ck64, 304 -> $ck304; " +
      f"snapshot() after 320 commits $tSnap%.3f s")
  }

  test("plan-time metadata at scale: snapshot()+prune stay bounded as " +
    "live files grow 100 -> 10k — warm reads are ZERO-parse cache hits, " +
    "cold reads load the columnar checkpoint", Marquee) {
    import graft.table.ManifestTable
    import graft.table.ManifestTable.{ColStats, FileEntry, Snapshot}
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("mq_snap").toString
    val hc = spark.sparkContext.hadoopConfiguration
    ManifestTable.create(spark, dir,
      spark.range(1000L).select(col("id").as("k"), (col("id") % 7).as("v"))
        .coalesce(1), statsCols = Seq("k"))
    // grow the MANIFEST synthetically (snapshot/prune are pure metadata
    // paths — they never open data files, so fabricated entries measure
    // exactly the plan-time cost a 10⁴-file table pays)
    var head = ManifestTable.snapshot(spark, dir)
    var next = 0
    def grow(to: Int): Unit = {
      while (head.files.size < to) {
        val batch = (1 to math.min(500, to - head.files.size)).map { _ =>
          next += 1
          FileEntry(s"data/synth/f$next.parquet", 1000L, 1L << 20,
            Map("k" -> ColStats(next * 1000L, next * 1000L + 999L)))
        }.toVector
        head = ManifestTable.publish(spark, dir, Snapshot(
          head.version + 1, head.version, "append", head.statsCols,
          head.partitionCols, head.lastBatch, head.schemaJson,
          head.files ++ batch, head.constraints, head.dropped,
          dvs = head.dvs, txns = head.txns, renames = head.renames,
          bloomCols = head.bloomCols), Some(head))
      }
    }
    def parses(): (Long, Long) =
      (ManifestTable.checkpointLoads.get(), ManifestTable.deltaParses.get())
    val report = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(100, 1000, 10000).foreach { n =>
      grow(n)
      ManifestTable.checkpoint(spark, dir)
      ManifestTable.clearSnapshotCache()
      val (s0, d0) = parses()
      val (cold, tCold) = timed(ManifestTable.snapshot(spark, dir))
      val (s1, d1) = parses()
      val (_, tWarm) = timed(ManifestTable.snapshot(spark, dir))
      val (s2, d2) = parses()
      val needle = col("k") === (n * 500L + 7)
      val (kept, tPrune) = timed(ManifestTable.pruneFiles(cold, needle))
      assert(cold.files.size == n)
      assert(s1 - s0 >= 1, "cold read must load the checkpoint")
      assert(s2 - s1 == 0 && d2 - d1 == 0,
        s"warm read at $n files parsed something")
      assert(kept.size <= 2, s"needle must prune to ~1 of $n files")
      val lp = new Path(dir, "_graft_log")
      val sizes = lp.getFileSystem(hc).listStatus(lp)
        .map(s => s.getPath.getName -> s.getLen).toMap
      val v = cold.version
      val ckB = sizes(f"c$v%020d.json") +
        sizes.getOrElse(f"c$v%020d.files.parquet", 0L)
      report += f"$n files: cold ${tCold}%.3f s, warm ${tWarm}%.4f s, " +
        f"prune ${tPrune}%.3f s, checkpoint ${ckB} B"
      // warm reads are effectively free at every scale — the cache law
      assert(tWarm < math.max(0.05, tCold),
        s"warm read slower than cold at $n files")
    }
    info(report.mkString(" | "))
  }

  test("row-group pruning: 2M-row single-file table — kept bytes track " +
    "selectivity and a needle read beats the full scan", Marquee) {
    import graft.table.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("mq_rg").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    try {
      hc.setInt("parquet.block.size", 256 * 1024)
      ManifestTable.create(spark, dir,
        spark.range(2097152L).select(col("id").as("k"),
          md5(col("id").cast("string")).as("v"),
          (col("id") % 8191).as("w"))
          .orderBy("k").coalesce(1),
        statsCols = Seq("k"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val snap = ManifestTable.snapshot(spark, dir)
    val f = snap.files.head
    assert(snap.files.size == 1 && f.rgs.size >= 16,
      s"need a many-group single file, got ${f.rgs.size} groups")
    // kept-bytes ∝ selectivity across three orders of magnitude
    val fracs = Seq(
      col("k") === 1048576L,
      col("k") <= 20971L,        // ~1%
      col("k") <= 209715L,       // ~10%
      col("k") <= 1048576L       // ~50%
    ).map { flt =>
      val (kept, total, kb, tb) = ManifestTable.rowGroupPlan(snap, flt)(f.path)
      (kept, total, kb.toDouble / tb)
    }
    assert(fracs.map(_._3).sliding(2).forall(w => w.head <= w.last),
      s"kept-byte fraction must grow with selectivity: $fracs")
    assert(fracs.head._1 == 1, "a needle keeps exactly one row group")
    assert(fracs(1)._3 < 0.06 && fracs(2)._3 < 0.16 && fracs(3)._3 < 0.56,
      s"kept fractions must track selectivity: ${fracs.map(_._3)}")
    // correctness: pruned == full-filtered at every selectivity
    Seq(col("k") === 1048576L, col("k") <= 209715L).foreach { flt =>
      val a = ManifestTable.read(spark, dir, flt)
        .agg(count(lit(1)), sum(col("k")), sum(col("w"))).head()
      val b = ManifestTable.read(spark, dir).where(flt)
        .agg(count(lit(1)), sum(col("k")), sum(col("w"))).head()
      assert(a == b, s"pruned != full for $flt")
    }
    val (_, tNeedle) = timed(
      ManifestTable.read(spark, dir, col("k") === 1048576L).count())
    val (_, tFull) = timed(
      ManifestTable.read(spark, dir).where(col("k") === 1048576L).count())
    info(f"2M rows, ${f.rgs.size} row groups in one file: needle read " +
      f"$tNeedle%.2f s vs full-scan filter $tFull%.2f s; kept-byte " +
      f"fractions ${fracs.map(x => f"${x._3}%.3f").mkString(", ")}")
  }
}
