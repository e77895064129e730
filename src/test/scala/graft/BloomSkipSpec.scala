package graft.table

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSuite
import org.apache.spark.JobExecutionStatus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.functions._

/** Laws of parquet-native BLOOM file skipping (round-16 verdict #3):
  * on a layout NOT sorted by the probe key, every file's [min, max]
  * interval overlaps every other's, so interval pruning degenerates to
  * "touch everything" — the opt-in per-file bloom (written by the
  * parquet writer itself at stage time, consulted at plan time from
  * the footers) restores touched-files pricing for point predicates:
  *
  *  - a needle probe on an UNSORTED 40-file bloom table keeps ~1 file
  *    where interval pruning alone keeps all 40;
  *  - results are EXACTLY those of the unpruned plan (a bloom can only
  *    skip IO — the filter re-applies on every scanned row), for
  *    reads, deleteVector and update alike;
  *  - files written BEFORE the bloom spec (no filter in the footer)
  *    are conservatively kept, so mixed generations stay exact;
  *  - range predicates and disjunctions consult no bloom (intervals
  *    only), IN-lists probe every listed value;
  *  - the spec survives the delta log (carried by every commit,
  *    round-tripped by checkpoints) and is guarded like the rest of
  *    the layout spec (rename refused, concurrent spec drift is a
  *    rebase conflict). */
class BloomSkipSpec extends SparkSuite {

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"bloom_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** 40 files, ids STRIPED mod 40 — every file's [min, max] on id
    * spans nearly the whole domain, so interval pruning keeps all 40;
    * id i lives ONLY in file i % 40. `manifestBudget` pins the bloom
    * harvest for the table's commits: None = the default (resident
    * bitsets), Some(0) = footer-path only (the laws that count footer
    * opens / routing need files WITHOUT resident state). */
  private def seedUnsorted(dir: String, bloom: Boolean,
      manifestBudget: Option[Int] = None): Unit = {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(40, col("id") % 40)
    val saved = ManifestTable.bloomManifestBudgetBytes
    manifestBudget.foreach(ManifestTable.bloomManifestBudgetBytes = _)
    try ManifestTable.create(spark, dir, df, statsCols = Seq("id"),
      bloomCols = if (bloom) Seq("id") else Nil)
    finally ManifestTable.bloomManifestBudgetBytes = saved
  }

  test("needle point probe on an unsorted 40-file table: interval " +
    "pruning keeps all 40, the bloom keeps ~1 — and the answer is " +
    "exactly the full scan's") {
    val dir = freshDir("needle")
    seedUnsorted(dir, bloom = true)
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.files.size == 40 && snap.bloomCols == Seq("id"))
    val probe = col("id") === 1234L
    val interval = ManifestTable.pruneFiles(snap, probe)
    assert(interval.size == 40,
      s"striped ids must defeat interval pruning, kept ${interval.size}")
    val bloomed = ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
    assert(bloomed.nonEmpty && bloomed.size <= 3,
      s"bloom must keep ~1 of 40 files, kept ${bloomed.size}")
    val got = ManifestTable.read(spark, dir, probe).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1234L, "v1234")))
    // IN-list probes every value; absent values prune to nothing read
    val in = col("id").isin(7L, 1234L, 999999L)
    val inFiles = ManifestTable.pruneFilesBloom(spark, dir, snap, in)
    assert(inFiles.size <= 6, s"IN probe kept ${inFiles.size}")
    assert(ManifestTable.read(spark, dir, in).count() == 2L)
    // range predicates consult no bloom — intervals only (all kept)
    assert(ManifestTable.pruneFilesBloom(spark, dir, snap,
      col("id") > 100L).size == 40)
  }

  test("needle deleteVector on the unsorted bloom table is " +
    "touched-files-priced: the DV stage scans ~1 file, not 40, and " +
    "the result equals the no-bloom twin's") {
    val dirB = freshDir("dv_bloom")
    val dirP = freshDir("dv_plain")
    seedUnsorted(dirB, bloom = true)
    seedUnsorted(dirP, bloom = false)
    val probe = col("id") === 777L
    assert(ManifestTable.pruneFilesBloom(spark, dirB,
      ManifestTable.snapshot(spark, dirB), probe).size <= 3)
    assert(ManifestTable.pruneFilesBloom(spark, dirP,
      ManifestTable.snapshot(spark, dirP), probe).size == 40,
      "the no-bloom twin must touch every file (overlapping intervals)")
    ManifestTable.deleteVector(spark, dirB, probe)
    ManifestTable.deleteVector(spark, dirP, probe)
    def all(d: String) = ManifestTable.read(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(all(dirB) == all(dirP))
    assert(!all(dirB).contains(777L) && all(dirB).size == 3999)
    // update through the bloom seam too
    ManifestTable.update(spark, dirB, col("id") === 778L,
      Map("v" -> lit("updated")))
    assert(ManifestTable.read(spark, dirB, col("id") === 778L)
      .head().getString(1) == "updated")
  }

  test("mixed generations stay exact: files written before the bloom " +
    "spec are conservatively kept; the spec survives checkpoints and " +
    "rename of a bloom column is refused") {
    import spark.implicits._
    val dir = freshDir("mixed")
    // generation 1: NO bloom spec
    ManifestTable.create(spark, dir,
      (0L until 100L).map(i => (i, s"old$i")).toDF("id", "v"),
      statsCols = Seq("id"))
    // opt in, then generation 2 carries blooms
    ManifestTable.alterLayout(spark, dir, bloomCols = Some(Seq("id")))
    ManifestTable.append(spark, dir,
      (100L until 200L).map(i => (i, s"new$i")).toDF("id", "v"))
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.bloomCols == Seq("id"))
    // a probe into the OLD generation keeps the pre-spec file (no
    // bloom in its footer) — never wrongly skipped
    assert(ManifestTable.read(spark, dir, col("id") === 5L).count() == 1L)
    // a probe for an id in NEITHER generation skips the bloomed file
    val ghost = ManifestTable.pruneFilesBloom(spark, dir, snap,
      col("id") === 5000L)
    assert(ghost.size < snap.files.size,
      "bloomed generation-2 files must skip a ghost probe")
    // the spec survives a checkpoint round-trip
    ManifestTable.checkpoint(spark, dir)
    ManifestTable.clearSnapshotCache()
    assert(ManifestTable.snapshot(spark, dir).bloomCols == Seq("id"))
    // bloom columns are part of the layout spec: rename refused
    val e = intercept[IllegalArgumentException](
      ManifestTable.renameColumn(spark, dir, "id", "id2"))
    assert(e.getMessage.contains("bloom"))
  }

  test("bloom state is cached per (file, column): a repeat of the same " +
    "probe opens ZERO footers and keeps the SAME survivors") {
    val dir = freshDir("cache")
    seedUnsorted(dir, bloom = true, manifestBudget = Some(0))
    val snap = ManifestTable.snapshot(spark, dir)
    val probe = col("id") === 1234L
    ManifestTable.clearBloomCache()
    val opens0 = ManifestTable.bloomFooterOpens.get()
    val first = ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
    val opensAfterFirst = ManifestTable.bloomFooterOpens.get()
    assert(opensAfterFirst - opens0 == 40L,
      "cold probe pays one footer open per interval-admitted file")
    // hot path: same probe, a DIFFERENT value, and a second plan of the
    // same needle all answer from the cache — data files are immutable
    val again = ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
    val other = ManifestTable.pruneFilesBloom(spark, dir, snap,
      col("id") === 777L)
    assert(ManifestTable.bloomFooterOpens.get() == opensAfterFirst,
      "warm probes must open zero footers")
    assert(again.map(_.path) == first.map(_.path))
    assert(other.nonEmpty && other.size <= 3)
  }

  test("past the distribute threshold the probe runs as a Spark job: " +
    "IDENTICAL survivors to the driver-pool path, counted, and the " +
    "answer is still exactly the full scan's") {
    val dir = freshDir("distributed")
    seedUnsorted(dir, bloom = true, manifestBudget = Some(0))
    val snap = ManifestTable.snapshot(spark, dir)
    val probe = col("id") === 1234L
    // reference survivors from the driver-pool path (threshold above
    // the admitted count)
    ManifestTable.clearBloomCache()
    val saved = ManifestTable.footerPoolMax
    try {
      ManifestTable.footerPoolMax = 1000
      val viaDriver = ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
      val jobProbes0 = ManifestTable.footerJobItems.get()
      // now force the distributed route for the same 40-file probe
      ManifestTable.footerPoolMax = 8
      ManifestTable.clearBloomCache()
      val viaJob = ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
      assert(ManifestTable.footerJobItems.get() - jobProbes0 == 40L,
        "the routed probe must be counted (one per admitted file)")
      assert(viaJob.map(_.path) == viaDriver.map(_.path),
        "distributed and driver-pool probes must keep the SAME files")
      assert(viaJob.nonEmpty && viaJob.size <= 3)
      assert(ManifestTable.read(spark, dir, probe).count() == 1L)
    } finally ManifestTable.footerPoolMax = saved
  }

  test("manifest-resident blooms (r18): a fully-harvested table answers " +
    "a needle probe with ZERO footer opens and the SAME survivors as " +
    "the footer-path twin; the state survives a checkpoint + cold-cache " +
    "round-trip; over-budget files keep the footer path; resident " +
    "bytes respect the per-file budget") {
    val dirR = freshDir("resident")
    val dirF = freshDir("res_footer")
    seedUnsorted(dirR, bloom = true) // default budget: harvested
    seedUnsorted(dirF, bloom = true, manifestBudget = Some(0)) // twin
    val snapR = ManifestTable.snapshot(spark, dirR)
    assert(snapR.files.forall(_.blooms.contains("id")),
      "every committed file must carry resident bloom state for id")
    val budget = ManifestTable.bloomManifestBudgetBytes
    assert(snapR.files.forall(f => f.blooms.valuesIterator
      .flatMap(_.iterator.flatten).map(_.bits.length).sum <= budget),
      s"resident bitset bytes must respect the ${budget}B per-file budget")
    // resident state survives the columnar checkpoint + a cold cache
    ManifestTable.checkpoint(spark, dirR)
    ManifestTable.clearSnapshotCache()
    val snapR2 = ManifestTable.snapshot(spark, dirR)
    assert(snapR2.files.map(f => f.path -> f.blooms).toMap ==
      snapR.files.map(f => f.path -> f.blooms).toMap,
      "blooms must round-trip the checkpoint byte-identically")
    // the marquee: a cold needle probe pays ZERO footer opens
    val probe = col("id") === 1234L
    ManifestTable.clearBloomCache()
    val opens0 = ManifestTable.bloomFooterOpens.get()
    val residentKept = ManifestTable.pruneFilesBloom(spark, dirR, snapR2,
      probe)
    assert(ManifestTable.bloomFooterOpens.get() == opens0,
      "a fully-harvested table must probe with ZERO footer opens")
    // identical survivors to the footer-path twin (same data, same
    // striping, same filters — only WHERE the bitsets live differs)
    ManifestTable.clearBloomCache()
    val footerKept = ManifestTable.pruneFilesBloom(spark, dirF,
      ManifestTable.snapshot(spark, dirF), probe)
    def slot(fs: Vector[ManifestTable.FileEntry]): Set[Long] =
      fs.flatMap(_.longBounds("id").map(_._1 % 40)).toSet
    assert(residentKept.size == footerKept.size &&
      slot(residentKept) == slot(footerKept),
      "resident and footer probes must keep the same files")
    assert(residentKept.nonEmpty && residentKept.size <= 3)
    // results stay exactly the full scan's
    assert(ManifestTable.read(spark, dirR, probe).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1234L, "v1234")))
    // over-budget / disabled harvest leaves no resident state
    assert(ManifestTable.snapshot(spark, dirF).files
      .forall(_.blooms.isEmpty),
      "budget 0 must leave bitsets in the footers only")
  }

  test("a hung bloom probe falls back to conservative KEEP at the " +
    "deadline: same results, timeout counted — the plan never stalls " +
    "on one slow footer") {
    val dir = freshDir("timeout")
    seedUnsorted(dir, bloom = true, manifestBudget = Some(0))
    val snap = ManifestTable.snapshot(spark, dir)
    val probe = col("id") === 1234L
    ManifestTable.clearBloomCache()
    val timeouts0 = ManifestTable.bloomProbeTimeouts.get()
    val (savedT, savedD) =
      (ManifestTable.bloomProbeTimeoutMs, ManifestTable.bloomProbeDelayMs)
    try {
      ManifestTable.bloomProbeTimeoutMs = 50L
      ManifestTable.bloomProbeDelayMs = 2000
      val kept = ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
      assert(kept.size == 40,
        "past the deadline every unresolved probe must KEEP its file")
      assert(ManifestTable.bloomProbeTimeouts.get() > timeouts0,
        "timeouts must be counted")
      // and the query is still exactly right on the unpruned set
      assert(ManifestTable.read(spark, dir, probe).count() == 1L)
    } finally {
      ManifestTable.bloomProbeTimeoutMs = savedT
      ManifestTable.bloomProbeDelayMs = savedD
    }
  }

  /** Two files, even ids then odd ids (one commit each), blooms in the
    * footers only: both files' [min, max] admit any needle. */
  private def seedTwoStriped(dir: String): Unit = {
    import spark.implicits._
    def half(r: Long) = (0L until 4000L).filter(_ % 2 == r)
      .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    val saved = ManifestTable.bloomManifestBudgetBytes
    ManifestTable.bloomManifestBudgetBytes = 0
    try {
      ManifestTable.create(spark, dir, half(0), statsCols = Seq("id"),
        bloomCols = Seq("id"))
      ManifestTable.append(spark, dir, half(1))
    } finally ManifestTable.bloomManifestBudgetBytes = saved
  }

  /** Runs `body` with the footer probe forced onto the Spark-job route
    * and the given probe deadline floor / per-file delay. */
  private def viaJob[T](timeoutMs: Long, delayMs: Int)(body: => T): T = {
    val saved = (ManifestTable.footerPoolMax,
      ManifestTable.bloomProbeTimeoutMs, ManifestTable.bloomProbeDelayMs)
    ManifestTable.footerPoolMax = 0
    ManifestTable.bloomProbeTimeoutMs = timeoutMs
    ManifestTable.bloomProbeDelayMs = delayMs
    try body finally {
      ManifestTable.footerPoolMax = saved._1
      ManifestTable.bloomProbeTimeoutMs = saved._2
      ManifestTable.bloomProbeDelayMs = saved._3
    }
  }

  /** Polls `cond` every 20 ms for up to `ms`. */
  private def awaitCond(ms: Long)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + ms * 1000000L
    while (!cond && System.nanoTime() < end) Thread.sleep(20)
    cond
  }

  test("the job route's deadline starts at its first task launch: a " +
    "probe queued behind a job holding every slot still prunes") {
    val dir = freshDir("queued")
    seedTwoStriped(dir)
    val snap = ManifestTable.snapshot(spark, dir)
    val probe = col("id") === 1234L
    assert(ManifestTable.pruneFiles(snap, probe).size == 2,
      "striped ids must admit the needle in both files")
    val sc = spark.sparkContext
    // hold all 4 local[4] slots for 3 s — longer than the 2 s deadline
    // (max(500 ms, 2 s × 1 wave)) the probe job gets
    val slotsHeld = new CountDownLatch(4)
    val listener = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        slotsHeld.countDown()
    }
    sc.addSparkListener(listener)
    val blocker = new Thread(() =>
      sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(3000)))
    blocker.start()
    try {
      assert(slotsHeld.await(10, TimeUnit.SECONDS),
        "the blocker must hold every slot before the probe is submitted")
      ManifestTable.clearBloomCache()
      val timeouts0 = ManifestTable.bloomProbeTimeouts.get()
      val kept = viaJob(timeoutMs = 500L, delayMs = 0) {
        ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
      }
      assert(ManifestTable.bloomProbeTimeouts.get() == timeouts0,
        "queueing behind another job must not count as a timeout")
      assert(kept.size == 1 &&
        kept.head.longBounds("id").exists(_._1 % 2 == 1234L % 2),
        s"only the file holding the needle may survive, kept $kept")
    } finally { sc.removeSparkListener(listener); blocker.join() }
  }

  test("a hung job-route probe hits its deadline: every file kept, one " +
    "timeout counted, and the job group left with no running job") {
    val dir = freshDir("job_timeout")
    seedTwoStriped(dir)
    val snap = ManifestTable.snapshot(spark, dir)
    val probe = col("id") === 1234L
    val sc = spark.sparkContext
    @volatile var group: String = null
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .filter(g => g != null && g.startsWith("graft-footer-"))
          .foreach(group = _)
    }
    sc.addSparkListener(listener)
    try {
      ManifestTable.clearBloomCache()
      val timeouts0 = ManifestTable.bloomProbeTimeouts.get()
      // deadline max(50 ms, 2 s × 1 wave) = 2 s < the 4 s per-file delay
      val kept = viaJob(timeoutMs = 50L, delayMs = 4000) {
        ManifestTable.pruneFilesBloom(spark, dir, snap, probe)
      }
      assert(kept.size == 2,
        "past the deadline every unresolved probe must KEEP its file")
      assert(ManifestTable.bloomProbeTimeouts.get() - timeouts0 == 1L,
        "one deadline hit is one timeout")
      assert(awaitCond(5000)(group != null), "the probe ran as a job")
      assert(awaitCond(10000) {
        val jobs = sc.statusTracker.getJobIdsForGroup(group)
        jobs.nonEmpty && jobs.forall(id => sc.statusTracker.getJobInfo(id)
          .forall(_.status != JobExecutionStatus.RUNNING))
      },
        s"the cancelled group $group must have no running job")
      assert(ManifestTable.read(spark, dir, probe).count() == 1L)
    } finally sc.removeSparkListener(listener)
  }
}
