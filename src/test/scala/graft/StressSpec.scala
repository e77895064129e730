package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pressure-tests the scale machinery ~20× above fixture density — the
  * branches that sf0.01/sf0.1 routing never exercises (histogram rank
  * above directMax, SimHash banding above its bucket ceiling) and the
  * scaling-shape claims the operator docs make.
  *
  * Complexity claims are carried by WORK-METRIC assertions (candidate
  * counts, sort-partition bounds, pruning factors): they are
  * data-deterministic, so a loaded CI host can never flake them — the
  * round-6 variance study measured 1.5× wall-clock spread on unchanged
  * code, which would make any timing `assert` here either meaningless or
  * flaky. Wall-clock is reported as `info` only, for the human reading
  * the log.
  */
class StressSpec extends SparkSuite {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("InvertedJaccard scales near-linearly on a sparse corpus") {
    import spark.implicits._
    // realistic sparsity: vocab grows with the corpus, so posting lists
    // stay bounded (~12 docs/token) and co-occurrence work is linear in n
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(11)
      (0 until n).map { i =>
        val toks = Seq.fill(12)("t" + rnd.nextInt(n))
        ("en", "s0", i.toLong, toks.mkString(" "))
      }.toDF("lang", "source", "doc_id", "text")
    }
    // planted near-dup pair at the large scale: 11 of 12 tokens shared
    val big = corpus(50000).unionByName(Seq(
      ("en", "s0", 900001L, (0 until 12).map("dup" + _).mkString(" ")),
      ("en", "s0", 900002L, ((0 until 11).map("dup" + _) :+ "other").mkString(" "))
    ).toDF("lang", "source", "doc_id", "text"))
    val (_, tSmall) = timed(
      graft.operators.InvertedJaccard.pairs(corpus(2500), 0.8).count())
    val ((bigPairs, nBig), tBig) = timed {
      val p = graft.operators.InvertedJaccard.pairs(big, 0.8)
        .localCheckpoint(eager = false)
      (p.filter(col("d1") === 900001L && col("d2") === 900002L).count(), p.count())
    }
    info(f"jaccard 2.5k: $tSmall%.2f s, 50k: $tBig%.2f s (20x data)")
    assert(bigPairs == 1L, s"planted near-dup pair not found among $nBig pairs")
    // work metric (deterministic): the postings join's candidate volume is
    // Σ over (lang, source, token) of C(df_t, 2) — exactly the row count
    // the co-occurrence join feeds the groupBy. Bounded posting lists ⇒
    // candidates grow ~linearly; an all-pairs plan at 20x data would cost
    // 400x. 2x headroom over linear growth.
    def candidates(df: org.apache.spark.sql.DataFrame): Long = df
      .select(col("lang"), col("source"), col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy("lang", "source", "tok").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
      .head().getLong(0) / 2
    val (candSmall, candBig) = (candidates(corpus(2500)), candidates(big))
    info(s"candidate pairs: 2.5k -> $candSmall, 50k -> $candBig " +
      f"(${candBig.toDouble / candSmall}%.1fx work for 20x data)")
    assert(candBig < 40L * candSmall,
      s"candidate volume $candBig vs $candSmall at 20x data - super-linear")
  }

  test("HistogramRank histogram branch is exact and near-linear at 200k rows") {
    import spark.implicits._
    // 20x the largest fixture group; directMax = 0 forces the histogram
    // machinery that default routing never runs below 2^20 rows
    def ranked(n: Int) = {
      val df = (0 until n).map(i => ((i.toLong * 6364136223846793005L >>> 33)
        .toDouble, i.toLong)).toDF("v", "k")
      graft.operators.HistogramRank.withGlobalRank(
        df, "v", Seq("k"), rankCol = "r", directMax = 0)
    }
    val (_, tSmall) = timed(ranked(10000).count())
    val (cntBig, tBig) = timed(ranked(200000).count())
    info(f"histogram rank 10k: $tSmall%.2f s, 200k: $tBig%.2f s (20x data)")
    assert(cntBig == 200000L)
    // work metric (deterministic): the decomposition's whole point is that
    // no single sort task sees more than bucket-scale rows. keepBuckets
    // exposes the (__hb, __tb) sort-partition keys; the largest partition
    // must stay far below n — a collapsed histogram (the round-2
    // hardcoded-width flaw) would put ~200k rows in one partition.
    val bigDf = (0 until 200000).map(i => ((i.toLong * 6364136223846793005L >>> 33)
      .toDouble, i.toLong)).toDF("v", "k")
    val maxPart = graft.operators.HistogramRank.withGlobalRank(
        bigDf, "v", Seq("k"), rankCol = "r", directMax = 0, keepBuckets = true)
      .groupBy("__hb", "__tb").agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    info(s"largest sort partition: $maxPart of 200000 rows")
    assert(maxPart <= 4096,
      s"a single sort task sees $maxPart rows - histogram not splitting")
    // exactness at scale: spot-check 1k rows of the 200k ranking against
    // the single-task window form (full window materialization is the
    // thing this operator exists to avoid; equality on a deterministic
    // sample plus the count above pins the decomposition)
    val df = (0 until 200000).map(i => ((i.toLong * 6364136223846793005L >>> 33)
      .toDouble, i.toLong)).toDF("v", "k")
    val got = graft.operators.HistogramRank.withGlobalRank(
        df, "v", Seq("k"), rankCol = "r", directMax = 0)
      .filter(col("k") % 200 === 0)
      .collect().map(x => (x.getLong(1), x.getLong(2))).toMap
    val want = df.withColumn("r", row_number().over(
        Window.partitionBy(lit(0)).orderBy("v", "k")).cast("long"))
      .filter(col("k") % 200 === 0)
      .collect().map(x => (x.getLong(1), x.getLong(2))).toMap
    assert(got == want)
  }

  test("valuesAtPositions histogram branch answers 200k-row percentiles exactly") {
    import spark.implicits._
    val df = (0 until 200000).map { i =>
      (if (i % 2 == 0) "a" else "b",
        ((i.toLong * 2862933555777941757L) >>> 30).toDouble)
    }.toDF("g", "v")
    val positions = Seq(("a", 0L), ("a", 49999L), ("a", 99999L),
      ("b", 50000L)).toDF("g", "pos")
    val got = graft.operators.HistogramRank
      .valuesAtPositions(df, "g", "v", positions, directMax = 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val w = Window.partitionBy("g").orderBy("v")
    val want = df.withColumn("i", row_number().over(w).cast("long") - 1)
      .join(positions.withColumnRenamed("g", "g2"),
        col("g") === col("g2") && col("i") === col("pos"))
      .select(col("g"), col("pos"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.size == 4)
  }

  test("SimHash banded branch engages above directMax and stays exact") {
    import spark.implicits._
    // near-dup corpus 70x the fixture's densest (lang, source) bucket:
    // 800 clusters x 10 docs, 1-bit perturbations => Hamming <= 2 inside
    // a cluster. directMax = 500 routes the whole bucket to banding.
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(800)(rnd.nextInt(1 << 30))
    val rows = (for (c <- 0 until 800; i <- 0 until 10) yield {
      val fp = if (i == 0) centers(c) else centers(c) ^ (1 << rnd.nextInt(30))
      (c * 10L + i, fp.toLong)
    }).toDF("doc_id", "simhash")
    val fps = rows.localCheckpoint(eager = false)
    val (banded, tBanded) = timed(graft.operators.SimHashBanding
      .pairs(fps, maxHamming = 2, directMax = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (direct, tDirect) = timed(graft.operators.SimHashBanding
      .directPairs(fps, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    info(f"simhash 8k docs: banded $tBanded%.2f s, direct (m^2/2) $tDirect%.2f s, ${banded.size} pairs")
    assert(banded == direct, "banded branch diverged from the direct join")
    assert(banded.size >= 800, s"cluster pairs missing: ${banded.size}")
  }

  test("SimHash width must scale with bucket density: 60-bit vs 30-bit") {
    import spark.implicits._
    // 5000 planted clusters x 10 fingerprints in ONE bucket — the density
    // where the fixture's 30-bit fingerprint saturates its 2^6-value
    // bands. Members are centers with <= 2 random bit flips, so every
    // intra-cluster pair sits at Hamming <= 4 (the pigeonhole target).
    val rnd = new scala.util.Random(67)
    val mask60 = (1L << 60) - 1
    val centers = Array.fill(5000)(rnd.nextLong() & mask60)
    val rows = for (c <- 0 until 5000; i <- 0 until 10) yield {
      val flips = Seq.fill(rnd.nextInt(3))(1L << rnd.nextInt(60))
      (c * 10L + i, flips.foldLeft(centers(c))(_ ^ _))
    }
    val fps = rows.toDF("doc_id", "simhash").localCheckpoint(eager = false)
    // ground truth: all intra-cluster Hamming<=4 pairs (cross-cluster
    // hits at 60 bits are ~1e-13 per pair — none expected, and the set
    // equality below would catch one)
    val byId = rows.toMap
    val want = (for {
      c <- 0 until 5000; i <- 0 until 10; j <- i + 1 until 10
      a = c * 10L + i; b = c * 10L + j
      if java.lang.Long.bitCount(byId(a) ^ byId(b)) <= 4
    } yield (a, b)).toSet
    val got = graft.operators.SimHashBanding
      .pairs(fps, maxHamming = 4, directMax = 500, bands = 5, bandBits = 12)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"60-bit banding: got ${got.size} vs ${want.size}")
    // the width claim, as a work metric: the same corpus through 30-bit
    // bands (fingerprints truncated — what an undersized hash gives you)
    // pays orders of magnitude more candidate comparisons
    val cand60 = graft.operators.SimHashBanding
      .bandedCandidateCount(fps, bands = 5, bandBits = 12)
    val cand30 = graft.operators.SimHashBanding.bandedCandidateCount(
      fps.withColumn("simhash", col("simhash").bitwiseAND(lit((1L << 30) - 1))),
      bands = 5, bandBits = 6)
    info(f"candidates at 50k docs/bucket: 60-bit $cand60, 30-bit $cand30 " +
      f"(${cand30.toDouble / cand60}%.0fx more)")
    assert(cand60 * 10 < cand30,
      s"widening bought <10x: $cand60 vs $cand30")
  }

  test("SimHash auto-sizing derives band width from the probe: saturation " +
    "no longer degrades at 10x density") {
    import spark.implicits._
    // Round-10 verdict item 6. The documented failure: callers keeping the
    // fixture default (bandBits=6 -> 64 cells/band) see candidate volume go
    // small-constant-quadratic once a bucket outgrows the cell space.
    // Auto-sizing reads maxBucket off the existing probe and widens bands
    // to hold the density at ~4 docs/cell. Gate: work-metric RATIO across a
    // 10x density step — fixed-6 grows ~quadratically (100x per 10x),
    // auto grows near-linearly (<30x per 10x) on the same corpora.
    val mask60 = (1L << 60) - 1
    def corpus(nClusters: Int, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      val centers = Array.fill(nClusters)(rnd.nextLong() & mask60)
      (for (c <- 0 until nClusters; i <- 0 until 10) yield {
        val flips = Seq.fill(rnd.nextInt(3))(1L << rnd.nextInt(60))
        (c * 10L + i, flips.foldLeft(centers(c))(_ ^ _))
      }).toDF("doc_id", "simhash").localCheckpoint(eager = false)
    }
    val small = corpus(500, 91)   //  5k docs, one bucket
    val big = corpus(5000, 92)    // 50k docs, one bucket
    import graft.operators.SimHashBanding
    // what auto derives (probe-equivalent inputs: one bucket of n, 60 bits)
    val bbSmall = SimHashBanding.autoBandBits(5000L, 5, 60)
    val bbBig = SimHashBanding.autoBandBits(50000L, 5, 60)
    assert(bbBig > bbSmall && bbBig <= 12,
      s"auto width must grow with density within the fingerprint: $bbSmall -> $bbBig")
    val candFixedSmall = SimHashBanding.bandedCandidateCount(small, 5, 6)
    val candFixedBig = SimHashBanding.bandedCandidateCount(big, 5, 6)
    val candAutoSmall = SimHashBanding.bandedCandidateCount(small, 5, bbSmall)
    val candAutoBig = SimHashBanding.bandedCandidateCount(big, 5, bbBig)
    info(f"10x density step: fixed-6 $candFixedSmall -> $candFixedBig " +
      f"(${candFixedBig.toDouble / candFixedSmall}%.0fx), auto " +
      f"($bbSmall/$bbBig bits) $candAutoSmall -> $candAutoBig " +
      f"(${candAutoBig.toDouble / candAutoSmall}%.1fx)")
    assert(candFixedBig.toDouble / candFixedSmall > 50,
      "fixture stopped demonstrating saturation — rescale it")
    assert(candAutoBig.toDouble / candAutoSmall < 30,
      f"auto-sized growth super-linear: ${candAutoBig.toDouble / candAutoSmall}%.1fx per 10x")
    // exactness is width-independent: the auto-routed plan returns the
    // same pairs as the direct join on the small corpus
    val got = SimHashBanding.pairs(small, maxHamming = 4, directMax = 500)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = SimHashBanding.directPairs(small, maxHamming = 4)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == wantPairs, "auto-sized banding diverged from the direct join")
  }

  test("ExactPairsTopK prunes and stays exact 20x above the planted fixture") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.dot
    // 40 clusters x 75 vectors in R^16 (AnnSpec's planted corpus is 192):
    // the clustered shape where the triangle-inequality bound must kill
    // most of the 32x32 cell pairs
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(40)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 40; i <- 0 until 75) yield {
      val v = centers(c).map(x => x + 0.03f * rnd.nextGaussian().toFloat)
      (c * 75L + i, v.toSeq)
    }
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val ((res, surv, total), tPruned) = timed {
      val (r, s, t) = graft.operators.ExactPairsTopK
        .topPairsWithStats(emb, k = 20, planes = 5)
      (r.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq, s, t)
    }
    val n = emb.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("v1"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("v2"), col("embedding").as("eb"), col("nrm").as("nb"))
    val (brute, tBrute) = timed {
      a.join(b, col("v1") < col("v2"))
        .select(col("v1"), col("v2"),
          (dot(col("ea"), col("eb")) / (sqrt(col("na")) * sqrt(col("nb")))).as("sim"))
        .orderBy(col("sim").desc, col("v1"), col("v2")).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    info(f"3k vectors: pruned $tPruned%.2f s ($surv/$total cell pairs), brute $tBrute%.2f s")
    assert(res == brute) // bitwise sim equality at 20x the fixture scale
    assert(surv < total / 2, s"bound pruned nothing: $surv of $total survive")
  }

  test("IvfPq prunes the candidate scan and keeps recall at 10x density") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.dot
    // 100 clusters x 50 vectors in R^16 — 10x AnnSpec's planted corpus
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(100)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 100; i <- 0 until 50) yield {
      val v = centers(c).map(x => x + 0.03f * rnd.nextGaussian().toFloat)
      (c * 50L + i, v.toSeq)
    }
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .localCheckpoint(eager = false)
    val anchorPred = col("vec_id") < 50
    val idx = graft.operators.IvfPq.buildIndex(emb, cells = 16, m = 4, ksub = 16)
    // work metric (deterministic): ADC scores only the probed cells'
    // candidates — the scan-volume claim. nprobe/cells = 1/4 of the
    // index; require at least a 2x cut vs the anchors x n brute scan.
    val cand = graft.operators.IvfPq.candidateCount(idx, emb, anchorPred)
    val brute = 50L * 5000L
    info(s"ADC candidates: $cand of $brute brute pairs " +
      f"(${brute.toDouble / cand}%.1fx pruned)")
    assert(cand * 2 < brute, s"IVF probe pruned under 2x: $cand of $brute")
    // recall gate at 10x: the same >= 0.6 bar AnnSpec holds at fixture
    // density (exact oracle = full brute top-5)
    val got = graft.operators.IvfPq
      .query(idx, emb, k = 5, anchorPred = anchorPred)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
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
    info(f"IVF-PQ recall at 10x density: $recall%.3f")
    assert(recall >= 0.6, f"recall $recall%.3f below 0.6")
  }

  test("SemanticDedup banded route is exact and sub-quadratic on near-dup clusters") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.dot
    // clusters of 8 at ~0.99 intra-cosine — the production near-dup shape.
    // directMax = 0 forces the banded route at BOTH sizes, so the timing
    // ratio compares the banded plan against itself: 10x data through a
    // bucketed plan costs ~10-20x (bucket count grows with n), while an
    // all-pairs plan costs 100x.
    def corpus(nClusters: Int) = {
      val rnd = new scala.util.Random(17)
      val centers = Array.fill(nClusters)(Array.fill(16)(rnd.nextGaussian().toFloat))
      val rows = for (c <- 0 until nClusters; i <- 0 until 8) yield {
        val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
        (c * 8L + i, v.toSeq)
      }
      spark.createDataFrame(rows).toDF("vec_id", "embedding")
    }
    val tau = 0.9
    val (smallFlags, tSmall) = timed(graft.operators.SemanticDedup
      .flags(corpus(75), tau, directMax = 0).count())
    val big = corpus(750).localCheckpoint(true)
    val ((bandedBig, nBig), tBig) = timed {
      val f = graft.operators.SemanticDedup.flags(big, tau, directMax = 0)
        .localCheckpoint(eager = false)
      (f.collect().map(r => (r.getLong(0), r.getLong(1))).toMap, f.count())
    }
    // airtight oracle at the big size: union-find over brute threshold pairs
    val n = big.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("d1"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("d2"), col("embedding").as("eb"), col("nrm").as("nb"))
    val brutePairs = a.join(b, col("d1") < col("d2"))
      .filter(dot(col("ea"), col("eb")) / (sqrt(col("na")) * sqrt(col("nb"))) >= tau)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    brutePairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(rx) = ry
    }
    val minLbl = parent.keys.toSeq.groupBy(find).flatMap {
      case (_, vs) => val m = vs.min; vs.map(_ -> m)
    }
    info(f"semantic banded 600: $tSmall%.2f s, 6000: $tBig%.2f s (10x data)")
    assert(nBig == 6000L && smallFlags == 600L)
    bandedBig.foreach { case (v, lbl) =>
      assert(lbl == minLbl.getOrElse(v, v), s"vec $v: banded label $lbl")
    }
    // work metric (deterministic): banding's claim is that only same-band
    // vectors pay an exact cosine. Compare the banded candidate volume
    // against the all-pairs floor n(n−1)/2 it replaces — the pruning
    // factor is the honest complexity statement (bucket count is fixed at
    // 2^(planes/bands) per band, so work is quadratic-with-small-constant
    // once clusters saturate the buckets, NOT asymptotically linear).
    val candBig = graft.operators.SemanticDedup.bandedCandidateCount(big)
    val allPairs = 6000L * 5999L / 2
    info(f"banded candidates: $candBig of $allPairs all-pairs " +
      f"(${allPairs.toDouble / candBig}%.1fx pruned)")
    assert(candBig * 2 < allPairs,
      s"banding pruned under 2x: $candBig of $allPairs pairs still paid")
    // round-8 PQ payload claim: the band join shuffles packed codes +
    // residual (16 B) instead of the float embedding (4·dim+16 B array
    // + nrm) — ≥4x fewer payload bytes per candidate row even at the
    // minimal 16-dim fixture, growing linearly with dimension
    val (floatB, pqB) = graft.operators.SemanticDedup.bandedPayloadBytes(big)
    info(f"banded shuffle payload: float $floatB B vs PQ $pqB B " +
      f"(${floatB.toDouble / pqB}%.1fx)")
    assert(pqB * 4 <= floatB,
      s"PQ payload $pqB B not 4x below float payload $floatB B")
  }

  test("SpanDedup: hashed span keys stay exact and cut the shuffle payload " +
    "at 20k x 64-token density") {
    // 20k docs x 48 unique tokens; every 10th doc appends a shared
    // 16-token passage (so it has 64 tokens). With w=8/stride=4 a planted
    // doc has 15 spans (p = 1,5,…,57) of which exactly 3 lie fully inside
    // the shared tail (p = 49,53,57) — ground truth is closed-form.
    // Unplanted docs (48 tokens, all tokens globally unique) have no
    // duplicated span and must not appear.
    val uniq = "concat_ws(' ', transform(sequence(0, 47), " +
      "p -> concat('x', cast(id as string), '_', cast(p as string))))"
    val shared = "concat_ws(' ', transform(sequence(0, 15), " +
      "p -> concat('shared_', cast(p as string))))"
    val docs = spark.range(20000L).selectExpr(
      "id as doc_id",
      s"case when id % 10 = 0 then concat($uniq, ' ', $shared) " +
        s"else $uniq end as text")
      .localCheckpoint(eager = false)

    def measured(hashed: Boolean): (Set[(Long, Long, Long)], Long) = {
      val (rows, work) = graft.metrics.Ledger.of(spark).measure(graft.operators.SpanDedup
        .coverage(docs, hashed = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
      (rows, work("shuffle.write_bytes").toLong)
    }
    locally {
      val (hRows, hBytes) = measured(hashed = true)
      val (sRows, sBytes) = measured(hashed = false)
      assert(hRows == sRows, "hashed span keys diverged from raw-text keys")
      assert(hRows.size == 2000, s"expected the 2000 planted docs, got ${hRows.size}")
      assert(hRows.forall { case (id, n, dup) => id % 10 == 0 && n == 15 && dup == 3 },
        "closed-form coverage (15 spans, 3 duplicated) violated")
      info(f"shuffle write: string-keyed $sBytes B vs hashed $hBytes B " +
        f"(${sBytes.toDouble / hBytes}%.2fx reduction)")
      assert(hBytes * 2 < sBytes,
        s"hashed keys should cut shuffle payload ≥2x (measured 2.83x when " +
          s"seeded): $sBytes -> $hBytes")
    }
  }

  test("BpeTrain shuffle volume is vocabulary-bounded, not corpus-bounded: " +
    "20x corpus, same merges, ~same shuffle records") {
    // The scale claim behind training BPE on the word-frequency dict: the
    // corpus is touched once (dict build, map-side-combined down to
    // vocab-sized partials) and every merge iteration shuffles only
    // dict-derived pair counts. A 20x-replicated corpus (identical word
    // MULTISET x20) must therefore produce the identical merge sequence
    // with pair weights exactly x20 — and near-identical total shuffle
    // records, where a corpus-shaped trainer would pay ~20x.
    def corpus(copies: Int) = spark.range(2000L * copies).selectExpr(
      "id as doc_id",
      // 8 words per doc from a 17-word vocabulary, driven by id MOD 2000
      // so every copy block repeats the same multiset
      "concat_ws(' ', transform(sequence(0, 7), " +
        "p -> concat('w', cast((id % 2000) * (p + 3) % 17 as string)))) as text")
    def measured(copies: Int): (Seq[graft.operators.BpeTrain.Merge], Long) = {
      val (merges, work) = graft.metrics.Ledger.of(spark).measure(graft.operators.BpeTrain
        .train(graft.operators.BpeTrain.wordDict(corpus(copies)), numMerges = 5))
      (merges, work("shuffle.write_records").toLong)
    }
    locally {
      val (m1, r1) = measured(1)
      val (m20, r20) = measured(20)
      assert(m1.size == 5 && m20.size == 5)
      m1.zip(m20).foreach { case (a, b) =>
        assert(a.left == b.left && a.right == b.right && a.rank == b.rank,
          s"merge sequence diverged: $a vs $b")
        assert(b.weight == a.weight * 20,
          s"pair weight must scale exactly with replication: $a vs $b")
      }
      info(s"shuffle records: 1x corpus $r1 vs 20x corpus $r20")
      assert(r20 <= r1 * 2,
        s"20x corpus must not shuffle ~20x records ($r1 -> $r20): " +
          "the dict build's map-side combine or the pair count is broken")
    }
  }

  test("tagged-tally lift shuffles the tag domain, not the pair frame: " +
    "50k user-days, exact matrix, a fraction of the self-join's records") {
    // The scale claim behind q_event_lift's plan: after the (user, day)
    // sets build, the ONLY shuffle carries the ≤16-key tagged tally
    // (map-side-combined to tasks×16 records), while the textbook
    // distinct-self-join twin re-shuffles the ut frame for the join and
    // then ships the PAIR frame — up to C(5,2)=10 records per user-day.
    // Both pipelines must agree exactly; the tally must shuffle a small
    // fraction of the records at a dense 50k-user-day corpus.
    val n = 50000L
    // ~dense sets: user-day i gets 2 + (i mod 4) of the 5 types
    // round-robin repartition so a user-day's rows SPAN partitions (as
    // they would arriving from a real scan) — otherwise the checkpoint
    // hands the aggregate an already-colocated layout and neither
    // pipeline shuffles data at all
    val ev = spark.range(n).selectExpr("id as ud",
        "slice(array('click','error','purchase','signup','view'), " +
          "1 + cast(id % 2 as int), 2 + cast(id % 4 as int)) as types")
      .select(col("ud"), explode(col("types")).as("event_type"))
      .repartition(8)
      .localCheckpoint(eager = true)
    def measure[A](body: => A): (A, Long) = {
      val (r, work) = graft.metrics.Ledger.of(spark).measure(body)
      (r, work("shuffle.write_records").toLong)
    }
    def tagged(): Array[(String, String, Long)] = {
      val sets = ev.groupBy("ud")
        .agg(sort_array(collect_set(col("event_type"))).as("tset"))
      sets.select(explode(expr(
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
        .where(col("ta").isNotNull && col("tb").isNotNull)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    def selfJoin(): Array[(String, String, Long)] = {
      // at 100 TB the ut frame is NOT broadcastable; pin that shape here
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val ut = ev.distinct()
        ut.as("a").join(ut.as("b"),
            col("a.ud") === col("b.ud") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    locally {
      val (mTag, rTag) = measure(tagged())
      val (mJoin, rJoin) = measure(selfJoin())
      assert(mTag.sorted.toSeq == mJoin.sorted.toSeq,
        "tagged tally must reproduce the self-join matrix exactly")
      assert(mTag.map(_._3).sum > n, "fixture must be pair-dense")
      info(s"shuffle records: tagged tally $rTag vs self-join $rJoin")
      // tally pays |sets| once + tasks×16; the join pays |ut| twice for
      // the join exchange plus the pair frame on top
      assert(rTag * 2 < rJoin,
        s"tagged tally ($rTag) should shuffle well under half the " +
          s"self-join's records ($rJoin)")
    }
  }

  test("HeavyHitters shuffles one summary per task, not the key domain: " +
    "400k rows / 100k keys, exact top-10 recovered") {
    // 10 hot keys at 20k rows each + a 100k-key tail at ~2 rows each. The
    // sketch's partial+final plan ships ONE m-entry buffer per scan task;
    // the exact groupBy ships (per-partition-distinct) key counts — the
    // whole point of the sketch at a 100 TB key domain. Hot keys dominate
    // every partial min (20k ≫ N/m), so the m=64 summary must contain all
    // ten with estimates inside the SpaceSaving bound.
    val rows = spark.range(400000L).selectExpr(
      "case when id % 2 = 0 then concat('hot', cast((id div 2) % 10 as string)) " +
        "else concat('tail', cast(id % 100000 as string)) end as term")
      .repartition(8).localCheckpoint(eager = true)
    def measure[A](body: => A): (A, Long) = {
      val (a, work) = graft.metrics.Ledger.of(spark).measure(body)
      (a, work("shuffle.write_records").toLong)
    }
    locally {
      import org.apache.spark.sql.functions._
      val (sketch, skRecords) = measure {
        rows.agg(graft.operators.HeavyHitters.heavyHitters(64)(col("term")).as("sk"))
          .select(explode(col("sk")).as("e"))
          .select(col("e._1"), col("e._2"), col("e._3"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val (exact, exRecords) = measure {
        rows.groupBy("term").count()
          .orderBy(desc("count"), col("term")).limit(10)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      // exact top-10 = the hot keys; the sketch's 10 largest estimates
      // must be exactly that set
      val top10 = sketch.sortBy { case (t, c, _) => (-c, t) }.take(10)
      assert(top10.map(_._1).toSet == exact.keySet,
        s"sketch top-10 ${top10.toSeq} != exact ${exact.keySet}")
      top10.foreach { case (t, est, err) =>
        val tru = exact(t)
        assert(est >= tru && est - err <= tru,
          s"$t: est $est err $err outside bound around true $tru")
      }
      info(s"shuffle records: sketch $skRecords vs exact groupBy $exRecords")
      assert(skRecords * 100 <= exRecords,
        s"sketch must ship ~tasks summaries, not the key domain " +
          s"($skRecords vs $exRecords)")
    }
  }

  test("HierarchyFlatten: pointer doubling converges in log rounds on a 4095-deep chain") {
    // the shape a recursive CTE pays 4095 rounds for: a single chain
    // 0 ← 1 ← 2 ← … ← 4095. Pointer doubling must resolve it in
    // ⌈log₂ 4095⌉ = 12 jump rounds + 1 fixpoint-detection round.
    val nodes = spark.range(4096).selectExpr(
      "id AS v", "CASE WHEN id = 0 THEN id ELSE id - 1 END AS parent")
    val (rows, secs) = timed(
      graft.operators.HierarchyFlatten.flatten(nodes).collect())
    val rounds = graft.operators.HierarchyFlatten.lastRounds.get()
    assert(rounds <= 13, s"expected ≤13 doubling rounds, took $rounds")
    assert(rows.length == 4096)
    val byV = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byV(0L) == ((0L, 0L)))
    assert(byV(1L) == ((0L, 1L)))
    assert(byV(4095L) == ((0L, 4095L)), s"tail of the chain: ${byV(4095L)}")
    assert(rows.forall(_.getLong(1) == 0L), "single root")
    // every depth 0..4095 appears exactly once — the full chain resolved
    assert(rows.map(_.getLong(2)).toSet == (0L to 4095L).toSet)
    info(f"depth 4095 resolved in $rounds rounds, $secs%.1fs")
  }

  test("HierarchyFlatten: forest with branching matches brute-force ancestry") {
    // supplier-fixture shape at 30× density: roots k<3, parent = k/3
    val n = 30000
    val nodes = spark.range(n).selectExpr(
      "id AS v", "CASE WHEN id < 3 THEN id ELSE id DIV 3 END AS parent")
    val got = graft.operators.HierarchyFlatten.flatten(nodes)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def walk(k: Long): (Long, Long) = {
      var v = k; var d = 0L
      while (v >= 3) { v /= 3; d += 1 }
      (v, d)
    }
    (0L until n by 97L).foreach { k =>
      assert(got(k) == walk(k), s"node $k: got ${got(k)}, want ${walk(k)}")
    }
    val rounds = graft.operators.HierarchyFlatten.lastRounds.get()
    // depth ≤ log₃ 30000 ≈ 9 ⇒ ≤ ⌈log₂ 9⌉ + 1 = 5 rounds
    assert(rounds <= 5, s"log₃-deep forest should need ≤5 rounds, took $rounds")
    // ancestor closure: pair count must equal Σdepth exactly (every
    // node contributes one pair per proper ancestor), in log rounds
    val nPairs = graft.operators.HierarchyFlatten.ancestors(nodes).count()
    val wantPairs = (0L until n).map(walk(_)._2).sum
    assert(nPairs == wantPairs, s"closure size $nPairs != Σdepth $wantPairs")
    val cRounds = graft.operators.HierarchyFlatten.lastRounds.get()
    assert(cRounds <= 6, s"closure should converge in ≤6 rounds, took $cRounds")
  }

  test("HierarchyFlatten: cyclic input fails loudly, not with partial labels") {
    // 0 → 1 → 2 → 0 violates the forest precondition; both entry points
    // must throw instead of returning plausible-looking wrong output
    val cycle = spark.range(3).selectExpr("id AS v", "(id + 1) % 3 AS parent")
    val eF = intercept[IllegalStateException](
      graft.operators.HierarchyFlatten.flatten(cycle, maxIters = 6).collect())
    assert(eF.getMessage.contains("did not converge"), eF.getMessage)
    // ancestors SATURATES on a small cycle (count stabilizes), so the
    // detector is the self-pair check, not the round limit
    val eA = intercept[IllegalStateException](
      graft.operators.HierarchyFlatten.ancestors(cycle, maxIters = 6).count())
    assert(eA.getMessage.contains("cycle"), eA.getMessage)
  }

  test("BasketPairs: fan-out stays C(items-per-basket, 2) — linear in baskets") {
    // The self-join's work bound, verified as an exact count: b items per
    // basket generate exactly C(b,2) pairs, so doubling baskets doubles
    // pair volume (never quadratic in rows). 40k baskets × 6 items from
    // a 1k-item domain; k large enough that nothing is cut.
    def baskets(n: Long) = spark.range(n * 6).select(
      (col("id") % n).as("bk"),
      concat(lit("i"), pmod(xxhash64(col("id"), lit(3)), lit(1000L))
        .cast("string")).as("it"))
    def pairVolume(n: Long): Long = {
      val d = baskets(n).select(col("bk"), col("it")).distinct()
      d.as("a").join(d.as("b2"),
          col("a.bk") === col("b2.bk") && col("a.it") < col("b2.it"))
        .count()
    }
    val (v1, v2) = (pairVolume(20000L), pairVolume(40000L))
    // ≤ C(6,2) = 15 pairs per basket (hash collisions inside a basket
    // only shrink it)
    assert(v1 <= 20000L * 15 && v2 <= 40000L * 15,
      s"per-basket pair bound broken: $v1 / $v2")
    val ratio = v2.toDouble / v1
    assert(ratio > 1.8 && ratio < 2.2,
      s"pair volume must scale ~linearly in baskets: $v1 -> $v2 ($ratio×)")
    // and the operator's top-k over the same data is exact: every pair it
    // reports must carry a count achievable under the bound
    val top = graft.operators.BasketPairs
      .topPairs(baskets(20000L), "bk", "it", 5).collect()
    assert(top.length == 5 && top.forall(_.getLong(2) >= 1))
  }

  test("firstOccurrenceShare: novelty credit conserves — every item novel " +
    "exactly once, work linear in the pair frame") {
    // The operator's work bound is the distinct (owner, item) frame: no
    // self-join, no all-pairs. Two exact invariants prove both the
    // semantics and the scaling: (1) Σ n_novel over owners == |item
    // domain touched| (each item's first owner gets exactly one credit);
    // (2) doubling owners doubles Σ n_items (the shuffled volume) while
    // Σ n_novel stays pinned at the bounded item domain.
    def pairs(n: Long) = spark.range(n * 8)
      .select((col("id") % n).as("doc"),
        pmod(xxhash64(col("id"), lit(7)), lit(5000L)).as("it"))
      .distinct()
    def totals(n: Long): (Long, Long, Long) = {
      val p = pairs(n)
      val t = graft.operators.ExactStats.firstOccurrenceShare(p, "doc", "it")
        .agg(sum("n_items"), sum("n_novel")).head()
      (t.getLong(0), t.getLong(1), p.select("it").distinct().count())
    }
    val (items1, novel1, domain1) = totals(2000L)
    assert(novel1 == domain1,
      s"novelty credit must conserve: $novel1 novel vs $domain1 items")
    val (items2, novel2, domain2) = totals(4000L)
    assert(novel2 == domain2)
    val ratio = items2.toDouble / items1
    assert(ratio > 1.8 && ratio < 2.2,
      s"pair volume must scale ~linearly in owners: $items1 -> $items2")
    // the item domain is bounded (≤5000) — the novelty totals must NOT
    // grow with the corpus once the domain saturates
    assert(novel2 <= 5000L && novel1 <= 5000L)
  }

  test("TwoProportion: arm relabeling flips the counters, not the z² " +
    "rational") {
    // z² = d²N/(n1·n2·X·(N−X)) with d = x1·n2 − x2·n1: swapping arm
    // labels negates d and swaps (n1,x1)<->(n2,x2) — both pieces are
    // exactly invariant. A deterministic pseudo-random table, no fixture.
    val units = spark.range(5000)
      .select(pmod(xxhash64(col("id")), lit(2)).as("v"),
        pmod(xxhash64(col("id"), lit(3)), lit(5)).as("r"))
      .select(col("v"), when(col("r") < 2, 1).otherwise(0).as("s"))
    val flipped = units.select((lit(1) - col("v")).as("v"), col("s"))
    def pieces(df: org.apache.spark.sql.DataFrame) = {
      val r = graft.operators.ExactStats.twoProportion(df, "v", "s").head()
      ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
        (r.getLong(4), r.getLong(5)))
    }
    val ((n1, x1, n2, x2), z) = pieces(units)
    val ((fn1, fx1, fn2, fx2), fz) = pieces(flipped)
    assert((fn1, fx1, fn2, fx2) == ((n2, x2, n1, x1)), "counter swap")
    assert(fz == z, s"z² rational must be label-invariant: $z vs $fz")
    assert(z._1 > 0L && z._2 > 0L, "non-degenerate sample")
  }

  test("TheilSen: adding a linear trend shifts the median slope by " +
    "exactly that rational") {
    // y' = y + c·x shifts EVERY pairwise slope rational by exactly c and
    // preserves their order, so the selected median satisfies
    // num'/den' = num/den + c — cross-multiplied, no FP tolerance. Also
    // pins the scale law: the pair count is C(|spine|,2), a function of
    // the spine length only.
    val c = 7L
    val series = spark.range(200)
      .select(col("id").as("x"),
        (pmod(xxhash64(col("id"), lit(5)), lit(1000L)) - 500L).as("y"))
    val shifted = series.select(col("x"), (col("y") + lit(c) * col("x")).as("y"))
    def slope(df: org.apache.spark.sql.DataFrame) = {
      val r = graft.operators.ExactStats.theilSen(df, "x", "y").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (n, num, den) = slope(series)
    val (n2_, num2, den2) = slope(shifted)
    assert(n == 200L * 199L / 2L, s"pair fan-out must be C(spine,2): $n")
    assert(n2_ == n)
    // num2/den2 == num/den + c  ⇔  num2·den == (num + c·den)·den2
    assert(num2 * den == (num + c * den) * den2,
      s"shear law broke: $num/$den + $c != $num2/$den2")
  }

  test("KendallTau: hand-checked cells, monotone-relabel invariance, and " +
    "cell-product scaling under row replication") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    // hand check: (1,1),(2,2),(3,1) → C=1 ((1,1)-(2,2)), D=1
    // ((2,2)-(3,1)), tie-on-y-only ((1,1)-(3,1)); tx2=0, ty2=2
    val tiny = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 1L))
      .toDF("g", "x", "y")
    val t = graft.operators.ExactStats.kendallTau(tiny, "g", "x", "y").head()
    assert((t.getLong(1), t.getLong(2), t.getLong(3), t.getLong(4),
      t.getLong(5), t.getLong(6)) == ((3L, 1L, 1L, 0L, 6L, 4L)),
      s"hand check: $t")
    // deterministic pseudo-random frame over a bounded support
    def base(rep: Long): DataFrame = spark.range(4000 * rep)
      .select(lit(0L).as("g"),
        pmod(xxhash64(col("id") % 4000, lit(11)), lit(50L)).as("x"),
        pmod(xxhash64(col("id") % 4000, lit(13)), lit(10L)).as("y"))
    def row(df: DataFrame) = {
      val r = graft.operators.ExactStats.kendallTau(df, "g", "x", "y").head()
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    }
    val one = row(base(1))
    // tau depends only on the ORDER of x: squaring a non-negative x is
    // monotone, so every output field is bit-identical
    val sq = row(base(1).select(col("g"), (col("x") * col("x")).as("x"),
      col("y")))
    assert(sq == one, s"monotone relabel must be invariant: $sq vs $one")
    // replicating every row 3× multiplies each cell count by 3, so the
    // pairwise products scale by exactly 9 while n scales by 3 — the
    // support² (not n²) work shape in one exact law
    val three = row(base(3))
    assert(three._1 == 3 * one._1, s"n must scale 3x: $three")
    assert(three._2 == 9 * one._2 && three._3 == 9 * one._3,
      s"C/D must scale 9x (cell products): $three vs $one")
  }

  test("BasketPairs.rules: hand-checked confidence/lift on a nested " +
    "design, direction asymmetry preserved") {
    // basket i: always A; B iff i%2=0; C iff i%4=0 ⇒ supp A=n, B=n/2,
    // C=n/4, AB=n/2, AC=n/4, BC=n/4. Then conf(B→A)=1 with lift 1,
    // conf(C→B)=1 with lift 2, conf(B→C)=1/2, conf(A→B)=1/2 with lift 1.
    val n = 400L
    val b = spark.range(n).select(col("id").as("k"), lit("A").as("it"))
      .unionAll(spark.range(n).filter(col("id") % 2 === 0)
        .select(col("id").as("k"), lit("B").as("it")))
      .unionAll(spark.range(n).filter(col("id") % 4 === 0)
        .select(col("id").as("k"), lit("C").as("it")))
    val got = graft.operators.BasketPairs.rules(b, "k", "it", 100)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(got(("B", "A")) == ((n / 2, n / 2, 1.0, 1.0)), s"B→A: $got")
    assert(got(("C", "B")) == ((n / 4, n / 4, 1.0, 2.0)), s"C→B: $got")
    assert(got(("B", "C")) == ((n / 4, n / 2, 0.5, 2.0)), s"B→C: $got")
    assert(got(("A", "B")) == ((n / 2, n, 0.5, 1.0)), s"A→B: $got")
    // every confidence is a probability; lift symmetric per pair
    got.values.foreach { case (_, _, c, _) => assert(c > 0 && c <= 1.0) }
    assert(got(("C", "B"))._4 == got(("B", "C"))._4)
  }

  test("life table + forecast eval: conservation laws over the gated " +
    "fixture queries") {
    val d = sf("0.001")
    val lt = SparkEntry.queries("q_time_lifetable")(spark, d).collect()
    val nCust = graft.core.Tables.orders(spark, d)
      .select("o_custkey").distinct().count()
    // every customer exits exactly once (churned or censored), the
    // at-risk column starts at N and never increases as tenure grows
    assert(lt.map(r => r.getLong(2) + r.getLong(3)).sum == nCust)
    assert(lt.map(_.getLong(1)).max == nCust)
    val atRisk = lt.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(atRisk.zip(atRisk.tail).forall { case (a, b) => a >= b },
      "at-risk must be non-increasing in tenure")
    val fe = SparkEntry.queries("q_time_forecast_eval")(spark, d).head()
    val nDays = graft.core.Tables.events(spark, d)
      .select(date_trunc("day", col("ts"))).distinct().count()
    assert(fe.getLong(0) == nDays - 7,
      s"term domain must be the gapless spine minus the longest lag: $fe")
    assert(fe.getDouble(3) ==
      fe.getLong(2).toDouble / fe.getLong(1).toDouble)
  }

  test("friedman / t-closeness / minhash banding: conservation laws " +
    "over the gated fixture queries") {
    val d = sf("0.001")
    // Friedman: within every block the doubled midranks sum to k(k+1),
    // so Σ_p rank_sum_x2 == b·k·(k+1) — rank mass conserves under any
    // tie structure (k = 5 priorities)
    val fr = SparkEntry.queries("q_stat_friedman")(spark, d).collect()
    assert(fr.length == 5)
    val b = fr.map(_.getLong(1)).distinct
    assert(b.length == 1, "balanced blocks: same month count per arm")
    assert(fr.map(_.getLong(2)).sum == b.head * 5 * 6,
      s"rank mass must conserve: $fr")
    // t-closeness: a scaled EMD is a probability-like distance — every
    // group lands in [0, 1] and the pieces agree with the divide
    val tc = SparkEntry.queries("q_privacy_tcloseness")(spark, d).collect()
    assert(tc.nonEmpty)
    tc.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) <= r.getLong(4),
        s"t_num within [0, t_den]: $r")
      assert(r.getDouble(5) == r.getLong(3).toDouble / r.getLong(4),
        s"t must be the exact divide: $r")
    }
    // minhash banding: every document lands in exactly one bucket per
    // band — Σ bucket_size·n_buckets == 2·|docs| across the two bands
    val mh = SparkEntry.queries("q_dedup_minhash")(spark, d).collect()
    val nDocs = graft.core.Tables.documents(spark, d).count()
    assert(mh.map(r => r.getLong(1) * r.getLong(2)).sum == 2 * nDocs,
      "banding must partition the corpus per band")
    // candidate volume is the pair count the banded join would scan —
    // each row's pairs are exactly n_buckets·C(sz,2)
    mh.foreach { r =>
      assert(r.getLong(3) ==
        r.getLong(2) * r.getLong(1) * (r.getLong(1) - 1) / 2, s"$r")
    }
  }

  test("nonparametric battery: conservation laws over the gated fixture " +
    "queries (kruskal / jonckheere / mcnemar / cochran / odds / anova)") {
    val d = sf("0.001")
    // Kruskal–Wallis: doubled midranks over the pooled sample sum to
    // N(N+1) regardless of tie structure — rank mass conserves across
    // the k groups; n_total and tie_sum are constant columns
    val kw = SparkEntry.queries("q_stat_kruskal")(spark, d).collect()
    assert(kw.length == 3, "three return flags")
    val nTot = kw.map(_.getLong(3)).distinct
    assert(nTot.length == 1)
    assert(kw.map(_.getLong(1)).sum == nTot.head, "group sizes sum to N")
    assert(kw.map(_.getLong(2)).sum == nTot.head * (nTot.head + 1),
      s"doubled rank mass must be N(N+1): ${kw.mkString(";")}")
    // Jonckheere–Terpstra: 2·JT counts each cross-group pair at most
    // twice, so 0 ≤ Σ jt_term_x2 ≤ N² − Σ n_g² (= 2·Σ_{i<j} n_i·n_j)
    val jt = SparkEntry.queries("q_stat_jonckheere")(spark, d).collect()
    val nJt = jt.map(_.getLong(1)).sum
    val pairBound = nJt * nJt - jt.map(r => r.getLong(1) * r.getLong(1)).sum
    val jtX2 = jt.map(_.getLong(2)).sum
    assert(jtX2 >= 0 && jtX2 <= pairBound,
      s"2·JT=$jtX2 outside [0, $pairBound]")
    // McNemar: the 2×2 partitions the user universe, and the statistic
    // agrees with its pieces
    val mc = SparkEntry.queries("q_stat_mcnemar")(spark, d).collect().head
    assert(mc.getLong(1) + mc.getLong(2) + mc.getLong(3) + mc.getLong(4)
      == mc.getLong(0), s"2x2 must partition users: $mc")
    if (mc.getLong(6) > 0)
      assert(mc.getDouble(7) == mc.getLong(5).toDouble / mc.getLong(6),
        s"mcnemar_chi2 must be the exact divide: $mc")
    // Cochran's Q: N = ΣC_j (constant column agrees with the rollup)
    // and the numerator is non-negative by Cauchy–Schwarz (k·ΣC² ≥ N²)
    val cq = SparkEntry.queries("q_stat_cochranq")(spark, d).collect()
    assert(cq.length == 4, "four fixture weeks")
    assert(cq.map(_.getLong(1)).sum == cq.head.getLong(2),
      "n_active must be the week-count rollup")
    cq.foreach(r => assert(r.getLong(3) >= 0,
      s"Q numerator ≥ 0 by Cauchy–Schwarz: $r"))
    // Odds ratio: pieces agree with their products
    val or = SparkEntry.queries("q_stat_oddsratio")(spark, d).collect().head
    assert(or.getLong(4) == or.getLong(0) * or.getLong(3), s"or_num: $or")
    assert(or.getLong(5) == or.getLong(1) * or.getLong(2), s"or_den: $or")
    assert(or.getLong(7) == (2 * or.getLong(0) + 1) * (2 * or.getLong(3) + 1),
      s"haldane num: $or")
    // ANOVA: the scaled between-group deviations Σ_g (N·s_g − n_g·S)
    // telescope to zero exactly, and every within-group term is a
    // non-negative variance piece
    val av = SparkEntry.queries("q_stat_anova")(spark, d).collect()
    assert(av.length == 7, "seven line numbers")
    assert(av.map(_.getLong(6)).sum == 0L,
      s"scaled deviations must telescope to 0: ${av.mkString(";")}")
    av.foreach { r =>
      assert(r.getDouble(7) >= 0, s"ssb_term ≥ 0: $r")
      assert(r.getDouble(8) >= 0, s"ssw_term ≥ 0: $r")
    }
  }

  test("rsi / ccf / keyness: piece identities over the gated fixture " +
    "queries") {
    val d = sf("0.001")
    // RSI: up/down sums are non-negative and the oscillator is the
    // exact single divide, bounded in [0, 100]
    val rsi = SparkEntry.queries("q_time_rsi")(spark, d).collect()
    assert(rsi.nonEmpty)
    rsi.foreach { r =>
      val (up, dn) = (r.getLong(1), r.getLong(2))
      assert(up >= 0 && dn >= 0, s"$r")
      if (up + dn > 0) {
        val v = r.getDouble(3)
        assert(v == 100.0 * up / (up + dn) && v >= 0 && v <= 100, s"$r")
      }
    }
    // CCF: every lag's Pearson pieces obey Cauchy–Schwarz
    // (cov² ≤ var_x·var_y) — the exact-integer bound that makes
    // |ρ| ≤ 1 caller-side; variances are non-negative
    val ccf = SparkEntry.queries("q_time_ccf")(spark, d).collect()
    assert(ccf.length == 7, "lags 0..6")
    ccf.foreach { r =>
      val (n, cov, vx, vy) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0 && vx >= 0 && vy >= 0, s"$r")
      assert(BigInt(cov) * BigInt(cov) <= BigInt(vx) * BigInt(vy),
        s"Cauchy–Schwarz must hold exactly: $r")
    }
    // Keyness: ranks are 1..≤5 per source, strictly overused terms
    // only, and the score agrees with its pieces ratio being positive
    val ky = SparkEntry.queries("q_text_keyness")(spark, d).collect()
    assert(ky.nonEmpty)
    ky.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val ranks = rows.map(_.getLong(1)).sorted.toSeq
      assert(ranks.length <= 5 && ranks == (1L to ranks.length),
        s"ranks: ${rows.mkString(";")}")
    }
    ky.foreach { r =>
      assert(r.getLong(5) > 0, s"only overused terms: $r")
      assert(r.getDouble(6) > 0, s"keyness positive: $r")
    }
  }

  test("wilcoxon / page / cramersv: exact-piece laws over the gated " +
    "fixture queries") {
    val d = sf("0.001")
    // Wilcoxon signed-rank: the zero/pos/neg counts partition the
    // pairs, and doubled rank mass over nonzero diffs conserves:
    // W+x2 + W-x2 = m(m+1)
    val wx = SparkEntry.queries("q_stat_wilcoxon")(spark, d).collect()
    assert(wx.length == 1)
    val w = wx.head
    val (nPairs, nZero, nPos, nNeg) =
      (w.getLong(0), w.getLong(1), w.getLong(2), w.getLong(3))
    assert(nPos + nNeg + nZero == nPairs, s"partition: $w")
    val m = nPos + nNeg
    assert(w.getLong(4) + w.getLong(5) == m * (m + 1),
      s"doubled rank mass must be m(m+1): $w")
    assert(w.getLong(6) >= 0, s"tie_sum: $w")
    // Page's L: j ascends 1..5 with the priority label, the Friedman
    // conservation holds, and every l_term is the exact product
    val pg = SparkEntry.queries("q_stat_page")(spark, d).collect()
    assert(pg.length == 5)
    assert(pg.map(_.getLong(1)).toSeq == (1L to 5L), s"j: ${pg.mkString(";")}")
    val b = pg.map(_.getLong(2)).distinct
    assert(b.length == 1)
    val k = 5L
    assert(pg.map(_.getLong(3)).sum == b.head * k * (k + 1),
      s"friedman conservation: ${pg.mkString(";")}")
    pg.foreach(r => assert(r.getLong(4) == r.getLong(1) * r.getLong(3), s"$r"))
    // Cramer's V pieces: deviations telescope to zero along EVERY row
    // and column of the contingency grid, and the chi2 term is the
    // pinned two-divide tree
    val cv = SparkEntry.queries("q_stat_cramersv")(spark, d).collect()
    assert(cv.length == 15, "5x3 grid")
    cv.groupBy(_.getString(0)).foreach { case (p, rows) =>
      assert(rows.map(_.getLong(6)).sum == 0L, s"row $p must telescope")
    }
    cv.groupBy(_.getString(1)).foreach { case (st, rows) =>
      assert(rows.map(_.getLong(6)).sum == 0L, s"col $st must telescope")
    }
    cv.foreach { r =>
      val (dev, rt, ct, n) =
        (r.getLong(6), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(r.getDouble(7) ==
        dev.toDouble / n.toDouble * (dev.toDouble / rt.toDouble) / ct.toDouble,
        s"chi2 tree: $r")
    }
  }

  test("vwap / bollinger / stochastic: window-piece laws over the gated " +
    "fixture queries") {
    val d = sf("0.001")
    // anchored VWAP: cumulative pieces dominate the day pieces and the
    // quote is the exact single divide
    val vw = SparkEntry.queries("q_time_vwap")(spark, d).collect()
    assert(vw.nonEmpty)
    vw.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(4) >= r.getLong(2), s"$r")
      assert(r.getLong(3) >= r.getLong(1), s"cum_pv >= pv: $r")
      assert(r.getDouble(5) == r.getLong(3).toDouble / r.getLong(4).toDouble,
        s"vwap divide: $r")
    }
    // Bollinger pieces: the variance numerator is non-negative by
    // Cauchy-Schwarz and the center is the exact divide
    val bo = SparkEntry.queries("q_time_bollinger")(spark, d).collect()
    assert(bo.nonEmpty)
    bo.foreach { r =>
      assert(r.getLong(3) >= 0, s"var_num_x49 >= 0: $r")
      assert(r.getLong(2) >= r.getLong(1), s"roll_sum >= cnt: $r")
      assert(r.getDouble(4) == r.getLong(2).toDouble / 7.0, s"mean7: $r")
    }
    // stochastic %K: the range brackets the quote; %K in [0,100] or
    // NULL exactly on a flat window
    val st = SparkEntry.queries("q_time_stochastic")(spark, d).collect()
    assert(st.nonEmpty)
    st.foreach { r =>
      val (rev, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(lo <= rev && rev <= hi, s"$r")
      if (hi == lo) assert(r.isNullAt(4), s"flat window must be NULL: $r")
      else {
        val kp = r.getDouble(4)
        assert(kp == 100.0 * (rev - lo) / (hi - lo) && kp >= 0 && kp <= 100,
          s"$r")
      }
    }
  }

  test("cms / burstiness / pq: sketch and census laws over the gated " +
    "fixture queries") {
    val d = sf("0.001")
    // count-min: the estimate NEVER undercounts (the one-sided CMS
    // guarantee), and the emitted overcount is the exact difference
    val cm = SparkEntry.queries("q_sketch_cms")(spark, d).collect()
    assert(cm.length == 10)
    cm.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"est >= true: $r")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1), s"$r")
    }
    assert(cm.map(_.getLong(1)).toSeq.reverse == cm.map(_.getLong(1)).toSeq.sorted,
      "true_cnt descending")
    // burstiness: df bounded by docs, tf by df, var_num >= 0 by
    // Cauchy-Schwarz, fano the exact divide
    val bu = SparkEntry.queries("q_text_burstiness")(spark, d).collect()
    assert(bu.length == 20)
    bu.foreach { r =>
      val (df, tf, tf2, nd, vn) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(df <= nd && tf >= df, s"$r")
      assert(vn == nd * tf2 - tf * tf && vn >= 0, s"$r")
      assert(r.getDouble(6) == vn.toDouble / (nd * tf).toDouble, s"$r")
    }
    // PQ census: every vector assigns exactly once per subvector and
    // residual energy is non-negative
    val pq = SparkEntry.queries("q_embed_pq")(spark, d).collect()
    val nVecs = graft.core.Tables.embeddings(spark, d).count()
    assert(pq.map(_.getLong(2)).sum == 4 * nVecs, "4 assignments per vector")
    pq.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 3, s"$r")
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 3, s"$r")
      assert(r.getLong(3) >= 0, s"err_sum >= 0: $r")
    }
  }

  test("obv / aroon: market-series laws over the gated fixture queries") {
    val d = sf("0.001")
    // OBV: signed_vol partitions into {-vol, 0, +vol}, the running sum
    // telescopes exactly, and |obv| is bounded by total volume
    val ob = SparkEntry.queries("q_time_obv")(spark, d).collect()
    assert(ob.nonEmpty)
    var run = 0L
    var totalVol = 0L
    ob.foreach { r =>
      val (vol, sv, obv) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sv == vol || sv == -vol || sv == 0L, s"$r")
      run += sv; totalVol += vol
      assert(obv == run, s"obv must telescope: $r")
      assert(math.abs(obv) <= totalVol, s"$r")
    }
    // Aroon: days_since in [0, 13]; the encoded argmax brackets the
    // window (at least one of up/down is from a real extremum: the
    // current day is always IN the window, so days_since_high = 0 when
    // today is the 14-day high); aroon is the exact affine map of
    // days_since
    val ar = SparkEntry.queries("q_time_aroon")(spark, d).collect()
    assert(ar.nonEmpty)
    ar.foreach { r =>
      val (dsh, dsl) = (r.getLong(2), r.getLong(3))
      assert(dsh >= 0 && dsh <= 13 && dsl >= 0 && dsl <= 13, s"$r")
      assert(r.getDouble(4) == 100.0 * (14 - dsh) / 14.0, s"$r")
      assert(r.getDouble(5) == 100.0 * (14 - dsl) / 14.0, s"$r")
    }
    // rolling extrema: consecutive windows share 13 days, so
    // days_since can rise by at most 1 between consecutive emitted days
    ar.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) <= a.getLong(2) + 1, s"$a -> $b")
        assert(b.getLong(3) <= a.getLong(3) + 1, s"$a -> $b")
      case _ => ()
    }
  }

  test("hll / lsh: sketch laws over the gated fixture queries") {
    val d = sf("0.001")
    // HLL: registers in [1, 55], inv_term is the exact power of two,
    // and the raw harmonic estimate brackets the true NDV (64
    // registers => +-~13% asymptotically; the fixture's n/m ~ 3 sits
    // in the noisy small-range regime, so the gate is a loose 2x)
    val hl = SparkEntry.queries("q_sketch_hll")(spark, d).collect()
    assert(hl.length <= 64 && hl.length >= 32, s"${hl.length} registers")
    hl.foreach { r =>
      val (b, reg, inv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(b >= 0 && b < 64, s"$r")
      assert(reg >= 1 && reg <= 55, s"$r")
      assert(inv == (1L << (60 - reg).toInt), s"$r")
    }
    val truth = graft.core.Tables.lineitem(spark, d)
      .select("l_partkey").distinct().count()
    // raw HLL harmonic estimate over the emitted integer pieces (empty
    // registers contribute 2^60 = rho 0)
    // sum in Double — 63 registers x up to 2^59 overflows a Long; each
    // term is an exact power of two so the FP sum is near-exact and
    // far inside the 2x gate's tolerance
    val sumInv = hl.map(_.getLong(2).toDouble).sum +
      (64 - hl.length).toDouble * math.pow(2, 60)
    val est = 0.709 * 64 * 64 * math.pow(2, 60) / sumInv
    assert(est > truth * 0.5 && est < truth * 2.0,
      s"estimate $est vs true $truth")
    // LSH: per band the bucket histogram carries every vector exactly
    // once, max_bucket is feasible, and the candidate volume is the
    // exact pair mass of the histogram (all far below the all-pairs
    // n*(n-1) it replaces)
    val nVec = graft.core.Tables.embeddings(spark, d).count()
    val ls = SparkEntry.queries("q_sim_lsh")(spark, d).collect()
    assert(ls.length == 4)
    ls.foreach { r =>
      val (nb, nv, mx, cp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nb >= 1 && nb <= 16, s"$r")
      assert(nv == nVec, s"every vector lands in one bucket per band: $r")
      assert(mx <= nv && mx * nb >= nv, s"$r")
      assert(cp >= mx * (mx - 1) && cp < nVec * (nVec - 1), s"$r")
    }
  }

  test("levene / cronbach: exact-piece laws over the gated fixture " +
    "queries") {
    val d = sf("0.001")
    // Brown-Forsythe: the doubled median sits inside the doubled value
    // range, and every group's variance numerator obeys Cauchy-Schwarz
    val lv = SparkEntry.queries("q_stat_levene")(spark, d).collect()
    assert(lv.length == 7)
    lv.foreach { r =>
      val (ng, med, as_, ss, vn) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(med >= 2 * 100 && med <= 2 * 5000, s"$r")
      assert(as_ >= 0 && ss >= 0, s"$r")
      assert(vn == ng * ss - as_ * as_ && vn >= 0, s"Cauchy-Schwarz: $r")
    }
    // Cronbach: five rows share one n; every variance numerator is
    // non-negative; the total row's sum equals the item sums' sum
    // (additivity of the pivot)
    val cr = SparkEntry.queries("q_stat_cronbach")(spark, d).collect()
    assert(cr.length == 5)
    assert(cr.map(_.getLong(1)).distinct.length == 1)
    cr.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) * r.getLong(3)
        - r.getLong(2) * r.getLong(2), s"$r")
      assert(r.getLong(4) >= 0, s"$r")
    }
    val items = cr.filter(_.getString(0).startsWith("q"))
    val total = cr.find(_.getString(0) == "total").get
    assert(items.map(_.getLong(2)).sum == total.getLong(2),
      "item sums must add to the total row's sum")
  }

  test("gamma / hurst / heaps: exact-piece laws over the gated fixture " +
    "queries") {
    val d = sf("0.001")
    // Goodman-Kruskal: the pair masses are non-negative, each term is
    // the exact product, and every concordant/discordant pair is
    // counted at most once: 2*(C + D) <= N*(N - 1)
    val gm = SparkEntry.queries("q_stat_gamma")(spark, d).collect()
    assert(gm.length == 15, "5x3 completed grid")
    val n = gm.map(_.getLong(2)).sum
    val bigC = gm.map(_.getLong(5)).sum
    val bigD = gm.map(_.getLong(6)).sum
    assert(bigC > 0 && bigD > 0, s"C=$bigC D=$bigD")
    assert(2 * (bigC + bigD) <= n * (n - 1), "pair bound")
    gm.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) * r.getLong(3), s"$r")
      assert(r.getLong(6) == r.getLong(2) * r.getLong(4), s"$r")
    }
    // top-right corner cells dominate nothing: the highest class's
    // rows have zero conc/disc mass (suffix over later classes)
    gm.filter(_.getLong(0) == 5L).foreach { r =>
      assert(r.getLong(3) == 0 && r.getLong(4) == 0, s"$r")
    }
    // Hurst pieces: block ranges and variance numerators are
    // non-negative, a zero-variance (constant) block has zero range,
    // and R (scaled by w) is bounded by the block mass: the cumdev
    // walk lives in [-w*s, w*s]
    val hu = SparkEntry.queries("q_time_hurst")(spark, d).collect()
    assert(hu.nonEmpty)
    assert(hu.map(_.getLong(0)).distinct.sorted.toSeq == Seq(8L, 16L, 32L))
    hu.foreach { r =>
      val (w, s_, rxw, vn) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(rxw >= 0 && vn >= 0, s"$r")
      if (vn == 0) assert(rxw == 0, s"constant block must have R=0: $r")
      assert(rxw <= 2 * w * s_, s"cumdev range bound: $r")
    }
    // wider blocks must have at least the R/S mass of narrower ones on
    // average (H > 0): compare mean R/S across widths
    val meanRs = Seq(8L, 16L, 32L).map { w =>
      val rs = hu.filter(r => r.getLong(0) == w && r.getLong(4) > 0)
        .map(r => r.getLong(3) / math.sqrt(r.getLong(4).toDouble))
      w -> rs.sum / rs.length
    }.toMap
    assert(meanRs(8L) < meanRs(16L) && meanRs(16L) < meanRs(32L),
      s"R/S must grow with block width: $meanRs")
    // Heaps: ten checkpoints, all masses nondecreasing, vocabulary
    // bounded by token mass, and the last checkpoint covers the corpus
    val he = SparkEntry.queries("q_text_heaps")(spark, d).collect()
    assert(he.length == 10)
    he.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(1) >= a.getLong(1), s"ckpt: $a -> $b")
        assert(b.getLong(2) >= a.getLong(2), s"docs: $a -> $b")
        assert(b.getLong(3) >= a.getLong(3), s"tokens: $a -> $b")
        assert(b.getLong(4) >= a.getLong(4), s"vocab: $a -> $b")
      case _ => ()
    }
    he.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), s"vocab <= tokens: $r")
      assert(r.getLong(2) <= r.getLong(1) + 1, s"docs_n <= ckpt+1: $r")
    }
    val nDocs = graft.core.Tables.documents(spark, d).count()
    assert(he.last.getLong(2) == nDocs, "last checkpoint covers all docs")
  }

  test("kmv / bloom / kappaw: sketch and agreement laws over the gated " +
    "fixture queries") {
    val d = sf("0.001")
    // KMV: ranks are 1..64, hashes strictly ascend (60-bit md5 over
    // distinct keys — collision-free at every gated sf), and the
    // (k-1)*2^60/h_k estimator lands inside the 3-sigma bracket
    val km = SparkEntry.queries("q_sketch_kmv")(spark, d).collect()
    assert(km.length == 64)
    assert(km.map(_.getLong(0)).toSeq == (1L to 64L))
    km.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(1) < b.getLong(1), s"$a !< $b")
      case _ => ()
    }
    val truth = graft.core.Tables.lineitem(spark, d)
      .select("l_partkey").distinct().count()
    val est = 63.0 * math.pow(2, 60) / km.last.getLong(1).toDouble
    assert(est > truth * 0.6 && est < truth * 1.6,
      s"KMV estimate $est vs true $truth")
    // Bloom: NEVER a false negative (the one-sided guarantee), fp is
    // the exact difference, and the bit census is bounded by 2 hashes
    // per member
    val bl = SparkEntry.queries("q_sketch_bloom")(spark, d).collect()
    assert(bl.length == 1)
    val b = bl.head
    val (nm, nb, np, nc, nt, fp) = (b.getLong(0), b.getLong(1),
      b.getLong(2), b.getLong(3), b.getLong(4), b.getLong(5))
    assert(nc >= nt, "a bloom filter never false-negatives")
    assert(fp == nc - nt && fp >= 0, s"$b")
    assert(nb >= 1 && nb <= 2 * nm, s"$b")
    assert(nc <= np && nt <= np, s"$b")
    // weighted kappa: completed 3x3 grid, zero diagonal weights, both
    // margins telescope to n, and each term is the exact product
    val kw = SparkEntry.queries("q_stat_kappaw")(spark, d).collect()
    assert(kw.length == 9)
    val n = kw.head.getLong(5)
    assert(kw.map(_.getLong(2)).sum == n, "observed mass = n")
    kw.foreach { r =>
      val (a, bb, o, rt, ct) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      val w = (a - bb) * (a - bb)
      assert(r.getLong(6) == w, s"$r")
      assert(r.getLong(7) == w * o, s"$r")
      assert(r.getLong(8) == w * rt * ct, s"$r")
      if (a == bb) assert(r.getLong(6) == 0, s"$r")
    }
    Seq(0, 1).foreach { axis =>
      kw.groupBy(_.getLong(axis)).foreach { case (_, rows) =>
        val margin = if (axis == 0) rows.head.getLong(3)
        else rows.head.getLong(4)
        assert(rows.map(_.getLong(2)).sum == margin,
          s"axis $axis margin must telescope")
      }
    }
  }

  test("cvm / sensitivity: profile and census laws over the gated " +
    "fixture queries") {
    val d = sf("0.001")
    // CvM: pooled mass conserves, the cum pieces are consistent, and
    // the scaled ECDF gap telescopes to EXACTLY zero at the top cell
    val cv = SparkEntry.queries("q_stat_cvm")(spark, d).collect()
    assert(cv.nonEmpty)
    val (n1, n2) = (cv.head.getLong(4), cv.head.getLong(5))
    assert(cv.map(_.getLong(1)).sum == n1 + n2, "pooled mass")
    cv.foreach { r =>
      assert(r.getLong(6) == n2 * r.getLong(2) - n1 * r.getLong(3), s"$r")
      assert(r.getLong(2) <= n1 && r.getLong(3) <= n2, s"$r")
    }
    assert(cv.last.getLong(2) == n1 && cv.last.getLong(3) == n2)
    assert(cv.last.getLong(6) == 0L, "ECDF gap must telescope to zero")
    // DP sensitivity: the census partitions the event mass, max
    // contribution bounds every user's share, and clip loss is
    // bounded by the unclipped excess n_events - n_users (when every
    // user keeps at least one event under the clip)
    val sv = SparkEntry.queries("q_privacy_sensitivity")(spark, d)
      .collect()
    assert(sv.nonEmpty)
    val nEv = graft.core.Tables.events(spark, d).count()
    assert(sv.map(_.getLong(1)).sum == nEv, "event mass partitions")
    sv.foreach { r =>
      val (ne, nu, mx, cl) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(mx >= 1 && mx <= ne, s"$r")
      assert(nu >= 1 && nu * mx >= ne, s"max bounds the shares: $r")
      assert(cl >= 0 && cl <= math.max(0L, ne - nu), s"$r")
    }
  }
}
