package graft.table

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Laws of the manifest table format: atomic visibility, conflict
  * detection, snapshot isolation / time travel, MERGE pruning +
  * idempotent replay, crash safety, vacuum. Everything runs against
  * fresh scratch dirs — no fixture dependence, so the laws hold at any
  * scale by construction (file counts and key ranges are what matter,
  * not row counts). */
class ManifestTableSpec extends SparkSuite {

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"mtable_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def kv(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def content(dir: String): Set[(Long, String)] =
    ManifestTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("create + read round-trips content; manifest carries exact row " +
    "counts and footer key stats") {
    val dir = freshDir("create")
    val df = kv((1L to 100L).map(i => i -> s"row$i"))
    val snap = ManifestTable.create(spark, dir, df.repartition(3),
      statsCols = Seq("k"))
    assert(snap.version == 0L && snap.operation == "create")
    assert(snap.totalRows == 100L)
    assert(snap.files.nonEmpty && snap.files.forall(f => f.rows > 0))
    // footer stats present and jointly covering exactly [1, 100]
    assert(snap.files.forall(f => f.longBounds("k").isDefined))
    assert(snap.files.map(f => f.longBounds("k").get._1).min == 1L)
    assert(snap.files.map(f => f.longBounds("k").get._2).max == 100L)
    assert(content(dir) == (1L to 100L).map(i => (i, s"row$i")).toSet)
  }

  test("small commits are right-sized: an incidental shuffle fan-out " +
    "lands as ONE file; an explicit repartition keeps its layout " +
    "verbatim; the knob disables it; content identical either way") {
    // a 4-slice range frame (no shuffle, so AQE coalescing plays no
    // part — this isolates the engine's own right-sizing) is
    // metadata-sized and must land as ONE file
    val tiny = spark.range(0L, 1000L, 1L, 4)
      .selectExpr("id AS g", "id * 2 AS x")
    val dir = freshDir("rightsize")
    val snap = ManifestTable.create(spark, dir, tiny, statsCols = Seq("g"))
    assert(snap.files.size == 1,
      s"a tiny 4-slice commit must write 1 file, wrote ${snap.files.size}")
    // deliberate layouts are untouched: repartitionByRange(3) = 3 files
    val dir2 = freshDir("rightsize_explicit")
    val snap2 = ManifestTable.create(spark, dir2,
      kv((1L to 100L).map(i => i -> s"r$i"))
        .repartitionByRange(3, col("k")), statsCols = Seq("k"))
    assert(snap2.files.size == 3,
      "an explicit repartition is a chosen layout — never coalesced")
    // the knob disables right-sizing entirely
    val dir3 = freshDir("rightsize_off")
    spark.conf.set("spark.graft.commit.targetFileBytes", "0")
    try {
      val snap3 = ManifestTable.create(spark, dir3, tiny,
        statsCols = Seq("g"))
      assert(snap3.files.size == 4,
        "with the knob off the frame's 4 slices land as-is")
      assert(ManifestTable.read(spark, dir3).collect().toSet ==
        ManifestTable.read(spark, dir).collect().toSet,
        "layout never changes content")
    } finally spark.conf.unset("spark.graft.commit.targetFileBytes")
  }

  test("past the distribute threshold the commit footer sweep runs as a " +
    "Spark job: IDENTICAL manifest entries to the driver-pool sweep " +
    "(shadow partition paths included), counted, content equal") {
    import spark.implicits._
    // deterministic 12-file partitioned layout (explicit repartition is
    // exempt from right-sizing on BOTH paths); the partition column
    // exercises the shadow-path parsing executor-side
    def frame = (0L until 240L).map(i => (i, i % 3, s"p$i"))
      .toDF("k", "part", "v").repartition(4, col("k"))
    val probes0 = ManifestTable.footerJobItems.get()
    val dirDriver = freshDir("sweep_driver")
    val s1 = ManifestTable.create(spark, dirDriver, frame,
      statsCols = Seq("k"), partitionCols = Seq("part"))
    assert(ManifestTable.footerJobItems.get() == probes0,
      "below the threshold the sweep must stay on the driver pool")
    val dirJob = freshDir("sweep_job")
    val saved = ManifestTable.footerPoolMax
    ManifestTable.footerPoolMax = 1
    val s2 = try ManifestTable.create(spark, dirJob, frame,
      statsCols = Seq("k"), partitionCols = Seq("part"))
    finally ManifestTable.footerPoolMax = saved
    assert(ManifestTable.footerJobItems.get() - probes0 ==
      s2.files.size.toLong, "the routed sweep must count one per file")
    assert(s1.files.size > 1 && s1.files.size == s2.files.size)
    // entries identical up to the commit-UUID path: same partition
    // values, row counts, footer stats and row-group shapes
    def canon(s: ManifestTable.Snapshot) = s.files
      .map(f => (f.partitions.toSeq.sortBy(_._1), f.rows,
        f.stats.toSeq.sortBy(_._1).toString, f.rgs.size))
      .sortBy(_.toString)
    assert(canon(s1) == canon(s2),
      "driver-pool and distributed sweeps must read the same metadata")
    def all(d: String) = ManifestTable.read(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(all(dirDriver) == all(dirJob))
    // and the swept stats still PRUNE: a point probe keeps < all files
    assert(ManifestTable.pruneFiles(s2, col("k") === 5L).size <
      s2.files.size)
  }

  test("append accumulates; overwrite replaces; every old version stays " +
    "readable (time travel / snapshot isolation)") {
    val dir = freshDir("tt")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a", 2L -> "b")))
    ManifestTable.append(spark, dir, kv(Seq(3L -> "c")))
    ManifestTable.overwrite(spark, dir, kv(Seq(9L -> "z")))
    assert(ManifestTable.latestVersion(spark, dir).contains(2L))
    assert(content(dir) == Set(9L -> "z"))
    def at(v: Long) = ManifestTable.readVersion(spark, dir, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at(0) == Set(1L -> "a", 2L -> "b"))
    assert(at(1) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(at(2) == Set(9L -> "z"))
    val hist = ManifestTable.history(spark, dir)
    assert(hist.map(_.operation) == Seq("create", "append", "overwrite"))
    assert(hist.map(_.version) == Seq(0L, 1L, 2L))
    assert(hist.map(_.parent) == Seq(-1L, 0L, 1L))
  }

  test("timestamp resolution is O(log history): versionAsOf and the " +
    "retention vacuum binary-search the strictly-increasing commit " +
    "stamps — never one log read per retained commit — and agree with " +
    "the linear-scan reference everywhere") {
    val dir = freshDir("tsbinsearch")
    ManifestTable.create(spark, dir, kv(Seq(0L -> "v0")))
    (1L to 23L).foreach(i =>
      ManifestTable.append(spark, dir, kv(Seq(i -> s"v$i"))))
    val hist = ManifestTable.history(spark, dir)
    assert(hist.size == 24)
    val stamps = hist.map(_.ts)
    assert(stamps == stamps.sorted && stamps.distinct.size == 24,
      "commit stamps must be strictly increasing")
    // reference: what a linear scan over the full history answers
    def ref(ts: Long): Option[Long] =
      hist.filter(_.ts <= ts).lastOption.map(_.version)
    val probes = Seq(stamps.head, stamps(10), stamps(10) + 1,
      (stamps(9) + stamps(10)) / 2, stamps.last, stamps.last + 1000L)
    probes.foreach { ts =>
      assert(ManifestTable.versionAsOf(spark, dir, ts) == ref(ts).get,
        s"versionAsOf($ts) must match the linear reference")
    }
    // asking before the first retained commit throws, like the linear walk
    intercept[IllegalArgumentException](
      ManifestTable.versionAsOf(spark, dir, stamps.head - 1))
    // O(log n) law: one resolution over 24 commits reads a handful of
    // stamps (boundary search + 1 verification), never 24
    val p0 = ManifestTable.tsParses.get()
    assert(ManifestTable.versionAsOf(spark, dir, stamps(10)) ==
      hist(10).version)
    val usedAsOf = ManifestTable.tsParses.get() - p0
    assert(usedAsOf <= 7,
      s"versionAsOf over 24 commits must read O(log n) stamps, read $usedAsOf")
    // retention vacuum prices its young-suffix the same way (everything
    // young here, so nothing is deleted and no history is lost)
    val p1 = ManifestTable.tsParses.get()
    val deleted = ManifestTable.vacuum(spark, dir, keepLast = 1,
      retainMillis = 7L * 24 * 3600 * 1000)
    val usedVacuum = ManifestTable.tsParses.get() - p1
    assert(deleted == 0L && ManifestTable.history(spark, dir).size == 24)
    assert(usedVacuum <= 6,
      s"retention vacuum over 24 commits must read O(log n) stamps, " +
        s"read $usedVacuum")
  }

  test("commit is atomic putIfAbsent: the loser of a version race gets " +
    "ConcurrentCommitException and publishes nothing") {
    val dir = freshDir("race")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    val head = ManifestTable.history(spark, dir).last
    val w1 = head.copy(version = 1L, parent = 0L, operation = "overwrite")
    val w2 = head.copy(version = 1L, parent = 0L, operation = "append")
    ManifestTable.publish(spark, dir, w1) // winner
    val e = intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.publish(spark, dir, w2) // loser
    }
    assert(e.getMessage.contains("v1"))
    // the winner's manifest is untouched and no tmp litter remains
    assert(ManifestTable.history(spark, dir).last.operation == "overwrite")
    val lp = new Path(dir, "_graft_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(lp).exists(_.getPath.getName.startsWith(".tmp")))
  }

  test("append auto-retries past an interleaved commit") {
    val dir = freshDir("retry")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    // interleaved writer lands v1 directly
    val head = ManifestTable.history(spark, dir).last
    ManifestTable.publish(spark, dir,
      head.copy(version = 1L, parent = 0L, operation = "append"))
    val snap = ManifestTable.append(spark, dir, kv(Seq(2L -> "b")))
    assert(snap.version == 2L && content(dir) == Set(1L -> "a", 2L -> "b"))
  }

  test("a torn writer (sealed data dir, dot-tmp manifest, no rename) is " +
    "invisible: readers stay on the old snapshot") {
    val dir = freshDir("torn")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a", 2L -> "b")))
    // crash state: data staged, manifest only dot-tmp
    kv(Seq(7L -> "ghost")).write.parquet(s"$dir/data/torn-commit")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, "_graft_log/.tmp-v00000000000000000001.json-x")
    val out = fs.create(tmp, true)
    out.write("{\"version\":1,\"files\":[".getBytes("UTF-8")); out.close()
    assert(ManifestTable.latestVersion(spark, dir).contains(0L))
    assert(content(dir) == Set(1L -> "a", 2L -> "b"))
    // and the next real commit just works
    val snap = ManifestTable.append(spark, dir, kv(Seq(3L -> "c")))
    assert(snap.version == 1L)
    assert(content(dir) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("merge: latest-wins upsert + delete, file pruning leaves " +
    "non-overlapping files byte-identical, replay is content-idempotent") {
    import spark.implicits._
    val dir = freshDir("merge")
    // 4 range-partitioned files over k = 1..400 ⇒ disjoint key ranges
    val base = kv((1L to 400L).map(i => i -> s"v$i"))
      .repartitionByRange(4, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k"))
    val v0 = ManifestTable.history(spark, dir).last
    assert(v0.files.size == 4)
    // upserts 10..20, deletes 50..60, one insert at 450: the [10, 450]
    // bounds span every file, so this test pins SEMANTICS (the tight
    // pruning law is the next test)
    val srcRows = (10L to 20L).map(i => (i, s"NEW$i", "U")) ++
      (50L to 60L).map(i => (i, "", "D")) :+ ((450L, "ins", "U"))
    val src = srcRows.toDF("k", "v", "_op")
    val v1 = ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op"))
    val expect = ((1L to 400L).toSet -- (50L to 60L))
      .map(i => (i, if (i >= 10 && i <= 20) s"NEW$i" else s"v$i")) + (450L -> "ins")
    assert(content(dir) == expect)
    // replay: same source again ⇒ identical content, new version
    val v2 = ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op"))
    assert(v2.version == v1.version + 1)
    assert(content(dir) == expect)
  }

  test("merge prunes by key bounds: files wholly outside the source " +
    "range carry over by reference") {
    import spark.implicits._
    val dir = freshDir("prune")
    val base = kv((1L to 400L).map(i => i -> s"v$i"))
      .repartitionByRange(4, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k"))
    val v0 = ManifestTable.history(spark, dir).last
    // a tight changelog: keys 5..8 only ⇒ exactly ONE file overlaps
    val src = (5L to 8L).map(i => (i, s"N$i", "U")).toDF("k", "v", "_op")
    val v1 = ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op"))
    val carried = v1.files.map(_.path).toSet
      .intersect(v0.files.map(_.path).toSet)
    assert(carried.size == 3,
      s"expected 3 of 4 files untouched, carried=$carried")
    assert(content(dir).count(_._2.startsWith("N")) == 4)
    // the same law across key types, against the brute-force reference
    // (decimal is unprobeable: every file is touched)
    val ts = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val ids = spark.range(1, 401).toDF("i")
      Seq(
        "string" -> format_string("k%04d", col("i")),
        "date" -> date_add(lit("2020-01-01").cast("date"), col("i").cast("int")),
        "timestamp" -> timestamp_seconds(col("i") * 3600),
        "decimal" -> (col("i") / 100).cast("decimal(10,2)")
      ).foreach { case (tag, key) =>
        val d = freshDir(s"prune_$tag")
        def keyed(df: org.apache.spark.sql.DataFrame,
            v: org.apache.spark.sql.Column) =
          df.select(key.as("k"), v.as("v"))
        ManifestTable.create(spark, d, keyed(ids, col("i").cast("string"))
          .repartitionByRange(4, col("k")), statsCols = Seq("k"))
        val h = ManifestTable.snapshot(spark, d)
        val src = keyed(ids.where(col("i").between(5, 8)), lit("N"))
        val expect = MergeIntoSpec.referenceTouched(h, Seq("k"),
          src.select("k").collect().toSeq)
        assert(if (tag == "decimal") expect.size == h.files.size
          else expect.size < h.files.size, tag)
        val after = ManifestTable.merge(spark, d, src, "k")
        assert(h.files.map(_.path).toSet -- after.files.map(_.path) ==
          expect, tag)
        assert(ManifestTable.read(spark, d).where(col("v") === "N")
          .count() == 4L, tag)
      }
    } finally ts.fold(spark.conf.unset(
      "spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
  }

  test("empty-result snapshots read back with schema intact") {
    val dir = freshDir("empty")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    import spark.implicits._
    val allDel = Seq((1L, "", "D")).toDF("k", "v", "_op")
    ManifestTable.merge(spark, dir, allDel, "k", opCol = Some("_op"))
    val df = ManifestTable.read(spark, dir)
    assert(df.count() == 0L)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("8 writers racing appends all land: the retry loop serializes " +
    "them into 8 distinct versions with no lost rows") {
    import java.util.concurrent.{Executors, TimeUnit}
    val dir = freshDir("race8")
    ManifestTable.create(spark, dir, kv(Seq(0L -> "base")))
    val pool = Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (1 to 8).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try ManifestTable.append(spark, dir, kv(Seq(i.toLong -> s"w$i")),
            maxRetries = 32)
          catch { case t: Throwable => errs.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "race timed out")
    assert(errs.isEmpty, s"writers failed: ${errs.toArray.mkString(", ")}")
    assert(ManifestTable.latestVersion(spark, dir).contains(8L))
    assert(content(dir) == (0L to 8L).map(i =>
      i -> (if (i == 0) "base" else s"w$i")).toSet)
    val hist = ManifestTable.history(spark, dir)
    assert(hist.map(_.version) == (0L to 8L) &&
      hist.map(_.parent) == (-1L to 7L))
  }

  test("changesSince tags the delta with the head version (the poll-" +
    "checkpoint-repeat consumption contract)") {
    import spark.implicits._
    val dir = freshDir("since")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    ManifestTable.append(spark, dir, kv(Seq(2L -> "b")))
    ManifestTable.merge(spark, dir,
      Seq((1L, "A", "U")).toDF("k", "v", "_op"), "k", opCol = Some("_op"))
    val d = ManifestTable.changesSince(spark, dir, 0L)
    assert(d.columns.toSeq == Seq("k", "v", "_change", "_as_of_version"))
    val got = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, "a", "D", 2L), (1L, "A", "I", 2L),
      (2L, "b", "I", 2L)))
    assert(ManifestTable.changesSince(spark, dir, 2L).count() == 0L)
  }

  test("append evolves the schema additively: old files read with NULLs " +
    "in new columns, old snapshots keep their own schema, bad shapes throw") {
    import spark.implicits._
    val dir = freshDir("evolve")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a", 2L -> "b")))
    val snap = ManifestTable.append(spark, dir,
      Seq((3L, "c", 7.5)).toDF("k", "v", "w"))
    assert(snap.operation == "append")
    val live = ManifestTable.read(spark, dir)
    assert(live.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    val got = live.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(7.5))))
    // time travel: v0 still reads with the schema it committed under
    assert(ManifestTable.readVersion(spark, dir, 0L).schema.fieldNames.toSeq
      == Seq("k", "v"))
    // non-additive shapes fail before staging any data
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, dir, Seq(9L).toDF("k")) // missing v
    }
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, dir,
        Seq((9L, 1, 0.0)).toDF("k", "v", "w")) // v: int != string
    }
    assert(ManifestTable.latestVersion(spark, dir).contains(1L),
      "failed appends must not commit")
  }

  test("compact bin-packs small files into one layout commit with " +
    "identical contents; under two small files it is a no-op") {
    val dir = freshDir("compact")
    ManifestTable.create(spark, dir,
      kv((1L to 50L).map(i => i -> s"v$i")).repartition(5),
      statsCols = Seq("k"))
    val before = ManifestTable.history(spark, dir).last
    assert(before.files.size == 5)
    val snap = ManifestTable.compact(spark, dir)
    assert(snap.version == 1L && snap.operation == "compact")
    assert(snap.files.size == 1, s"expected 1 packed file, got ${snap.files.size}")
    assert(snap.totalRows == 50L)
    assert(content(dir) == (1L to 50L).map(i => (i, s"v$i")).toSet)
    // footer key stats survive the rewrite (MERGE pruning stays sound)
    assert(snap.files.forall(_.longBounds("k").contains((1L, 50L))))
    // second compact: one small file left ⇒ structural no-op, no commit
    val again = ManifestTable.compact(spark, dir)
    assert(again.version == 1L)
    assert(ManifestTable.latestVersion(spark, dir).contains(1L))
  }

  test("changes() emits the multiset I/D changelog between two versions") {
    import spark.implicits._
    val dir = freshDir("changes")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a", 2L -> "b", 3L -> "c")))
    val src = Seq((2L, "B", "U"), (3L, "", "D"), (4L, "d", "U"))
      .toDF("k", "v", "_op")
    ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op"))
    val got = ManifestTable.changes(spark, dir, 0L, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // update 2 = D+I pair; delete 3 = D; insert 4 = I; 1 untouched
    assert(got == Set((2L, "b", "D"), (2L, "B", "I"), (3L, "c", "D"),
      (4L, "d", "I")))
    // self-diff is empty; reverse diff flips I and D
    assert(ManifestTable.changes(spark, dir, 1L, 1L).count() == 0L)
    val rev = ManifestTable.changes(spark, dir, 1L, 0L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rev == got.map { case (k, v, c) =>
      (k, v, if (c == "I") "D" else "I") })
  }

  test("mergeBatch: a replayed batch id is a structural no-op (no new " +
    "version), distinct ids commit normally") {
    import spark.implicits._
    val dir = freshDir("mbatch")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    val b0 = Seq((2L, "b")).toDF("k", "v")
    val s1 = ManifestTable.mergeBatch(spark, dir, b0, "k", batchId = 0L)
    assert(s1.version == 1L && s1.operation == "merge@batch=0")
    // foreachBatch retry: same id replayed ⇒ the EXISTING snapshot back
    val s1b = ManifestTable.mergeBatch(spark, dir, b0, "k", batchId = 0L)
    assert(s1b.version == 1L)
    assert(ManifestTable.latestVersion(spark, dir).contains(1L))
    // next id commits
    val s2 = ManifestTable.mergeBatch(spark, dir,
      Seq((1L, "A")).toDF("k", "v"), "k", batchId = 1L)
    assert(s2.version == 2L)
    assert(content(dir) == Set(1L -> "A", 2L -> "b"))
  }

  test("vacuum drops orphaned and out-of-retention commits but never " +
    "the live snapshot") {
    val dir = freshDir("vacuum")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    ManifestTable.overwrite(spark, dir, kv(Seq(2L -> "b")))
    // orphan from a torn writer
    kv(Seq(9L -> "ghost")).write.parquet(s"$dir/data/orphan-commit")
    val deleted = ManifestTable.vacuum(spark, dir, keepLast = 1)
    assert(deleted > 0L)
    assert(content(dir) == Set(2L -> "b"))
    assert(ManifestTable.history(spark, dir).map(_.version) == Seq(1L))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dir, "data/orphan-commit")))
  }

  // ---------------------------------------------------------------
  // round-13 laws: partitioning, typed stats pruning, merge contract,
  // vacuum-proof replay, widened-schema changes, zorder compact
  // ---------------------------------------------------------------

  test("partitioned create records per-file partition values; read(filter) " +
    "prunes to the matching partitions and equals full-scan+filter") {
    import spark.implicits._
    val dir = freshDir("part")
    val df = (1L to 90L).map(i => (i, i % 3, s"r$i")).toDF("k", "b", "v")
      .union(Seq((91L, -1L, "n1"), (92L, -1L, "n2")).toDF("k", "b", "v")
        .select(col("k"), lit(null).cast("long").as("b"), col("v")))
    ManifestTable.create(spark, dir, df.repartition(4, col("b")),
      statsCols = Seq("k"), partitionCols = Seq("b"))
    val snap = ManifestTable.history(spark, dir).last
    assert(snap.partitionCols == Seq("b"))
    // every file carries a partition entry; values cover 0,1,2 and null
    assert(snap.files.forall(_.partitions.contains("b")))
    assert(snap.files.flatMap(_.partitions("b")).toSet == Set("0", "1", "2"))
    assert(snap.files.exists(_.partitions("b").isEmpty), "null partition file")
    // partition columns stay IN the data files: full read sees them
    assert(ManifestTable.read(spark, dir).schema.fieldNames.toSeq
      == Seq("k", "b", "v"))
    // pruning on the partition column keeps only matching files
    val pred = col("b") === 1L
    val kept = ManifestTable.pruneFiles(snap, pred)
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"kept ${kept.size} of ${snap.files.size}")
    assert(kept.forall(_.partitions("b").contains("1")))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows(ManifestTable.read(spark, dir, pred)) ==
      rows(ManifestTable.read(spark, dir).where(pred)))
    // the all-null partition is excluded by any value predicate but
    // kept (conservatively) for IsNull — equality holds either way
    val nullPred = col("b").isNull
    assert(rows(ManifestTable.read(spark, dir, nullPred)) ==
      Set(91L -> "n1", 92L -> "n2"))
  }

  test("stats pruning on a range predicate: files outside [min,max] are " +
    "skipped, unsupported predicates keep everything, results never change") {
    import spark.implicits._
    val dir = freshDir("statprune")
    val base = kv((1L to 400L).map(i => i -> s"v$i"))
      .repartitionByRange(4, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k"))
    val snap = ManifestTable.history(spark, dir).last
    assert(snap.files.size == 4)
    val kept = ManifestTable.pruneFiles(snap, col("k") <= 100L)
    assert(kept.size < 4 && kept.nonEmpty, s"kept ${kept.size}")
    assert(ManifestTable.read(spark, dir, col("k") <= 100L).count() == 100L)
    // IN-list lands in exactly the covering files
    val keptIn = ManifestTable.pruneFiles(snap, col("k").isin(5L, 7L))
    assert(keptIn.size == 1)
    // disjunction widens, conjunction narrows
    val keptOr = ManifestTable.pruneFiles(snap,
      col("k") === 5L || col("k") === 395L)
    assert(keptOr.size == 2)
    val keptAnd = ManifestTable.pruneFiles(snap,
      col("k") > 10L && col("k") < 20L)
    assert(keptAnd.size == 1)
    // a predicate the pruner can't bound keeps every file — and the
    // re-applied filter still makes the result exact
    val opaque = length(col("v")) > lit(3)
    assert(ManifestTable.pruneFiles(snap, opaque).size == 4)
    assert(ManifestTable.read(spark, dir, opaque).count() ==
      ManifestTable.read(spark, dir).where(opaque).count())
  }

  test("string and date stats: footer min/max harvested for non-INT64 " +
    "columns; MERGE prunes on a string key and a date key") {
    import spark.implicits._
    val dir = freshDir("strkey")
    val base = (1 to 400).map(i => (f"key$i%04d", s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k", "v"))
    val v0 = ManifestTable.history(spark, dir).last
    assert(v0.files.size == 4)
    // string bounds present for BOTH statted columns on every file
    assert(v0.files.forall(f => f.stats.contains("k") && f.stats.contains("v")))
    assert(v0.files.map(_.stats("k").min.asInstanceOf[String]).min == "key0001")
    // a tight changelog on keys key0005..key0008 touches exactly 1 file
    val src = (5 to 8).map(i => (f"key$i%04d", s"N$i", "U")).toDF("k", "v", "_op")
    val v1 = ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op"))
    val carried = v1.files.map(_.path).toSet.intersect(v0.files.map(_.path).toSet)
    assert(carried.size == 3, s"expected 3 of 4 carried, got ${carried.size}")
    // and read-side pruning works on the string key too
    assert(ManifestTable.pruneFiles(v1, col("k") < "key0050").size <
      v1.files.size)

    val ddir = freshDir("datekey")
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    val dbase = (1 to 120).map { i =>
      (java.sql.Date.valueOf(d0.plusDays(i.toLong)), i.toLong)
    }.toDF("d", "n").repartitionByRange(4, col("d"))
    ManifestTable.create(spark, ddir, dbase, statsCols = Seq("d"))
    val dv0 = ManifestTable.history(spark, ddir).last
    assert(dv0.files.forall(_.stats.contains("d")), "date stats harvested")
    val dsrc = (5 to 8).map { i =>
      (java.sql.Date.valueOf(d0.plusDays(i.toLong)), -i.toLong, "U")
    }.toDF("d", "n", "_op")
    val dv1 = ManifestTable.merge(spark, ddir, dsrc, "d", opCol = Some("_op"))
    val dcarried = dv1.files.map(_.path).toSet
      .intersect(dv0.files.map(_.path).toSet)
    assert(dcarried.size == 3, s"date merge carried ${dcarried.size}")
    // date-literal pruning on the read path
    val cutoff = java.sql.Date.valueOf(d0.plusDays(15))
    assert(ManifestTable.pruneFiles(dv1, col("d") <= lit(cutoff)).size <
      dv1.files.size)
    assert(ManifestTable.read(spark, ddir, col("d") <= lit(cutoff)).count()
      == 15L)
  }

  test("merge: a duplicate-key source without seqCol fails loudly and " +
    "commits nothing; with seqCol the highest sequence wins " +
    "deterministically") {
    import spark.implicits._
    val dir = freshDir("dupsrc")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    val dup = Seq((2L, "x"), (2L, "y")).toDF("k", "v")
    val e = intercept[Exception] {
      ManifestTable.merge(spark, dir, dup, "k")
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("duplicate source rows"), rootMsg(e))
    assert(ManifestTable.latestVersion(spark, dir).contains(0L),
      "failed merge must not commit")
    // seqCol: latest sequence wins, and the outcome is deterministic
    val seqd = Seq((2L, "x", 1L), (2L, "y", 2L), (3L, "z", 1L))
      .toDF("k", "v", "s")
    ManifestTable.merge(spark, dir, seqd, "k", seqCol = Some("s"))
    assert(content(dir) == Set(1L -> "a", 2L -> "y", 3L -> "z"))
    // same-source replay on a fresh table resolves identically
    val dir2 = freshDir("dupsrc2")
    ManifestTable.create(spark, dir2, kv(Seq(1L -> "a")))
    ManifestTable.merge(spark, dir2, seqd, "k", seqCol = Some("s"))
    assert(content(dir2) == content(dir))
  }

  test("merge touches only keys present in the source: pre-existing " +
    "duplicate-key and null-key base rows pass through unchanged") {
    import spark.implicits._
    val dir = freshDir("dupbase")
    val base = Seq((1L, "old"), (5L, "d1"), (5L, "d2")).toDF("k", "v")
      .unionAll(Seq("nk").toDF("v")
        .select(lit(null).cast("long").as("k"), col("v")))
    ManifestTable.create(spark, dir, base.coalesce(1))
    val src = Seq((1L, "new", "U")).toDF("k", "v", "_op")
    ManifestTable.merge(spark, dir, src, "k", opCol = Some("_op"))
    val got = ManifestTable.read(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) -999L else r.getLong(0), r.getString(1)))
      .toSeq.sortBy(x => (x._1, x._2))
    assert(got == Seq((-999L, "nk"), (1L, "new"), (5L, "d1"), (5L, "d2")),
      got.toString)
  }

  test("delete/update rewrite only manifest-pruned files, no-op " +
    "predicates commit nothing, NULL predicates keep their rows") {
    import spark.implicits._
    val dir = freshDir("dml")
    val base = kv((1L to 400L).map(i => i -> s"v$i"))
      .repartitionByRange(4, col("k"))
    ManifestTable.create(spark, dir, base, statsCols = Seq("k"))
    val v0 = ManifestTable.history(spark, dir).last
    // delete a key range covered by ONE file: 3 of 4 carry by reference
    val v1 = ManifestTable.delete(spark, dir,
      col("k") >= 50L && col("k") <= 60L)
    assert(v1.operation == "delete")
    val carried1 = v1.files.map(_.path).toSet
      .intersect(v0.files.map(_.path).toSet)
    assert(carried1.size == 3, s"delete carried ${carried1.size}")
    assert(content(dir) == (1L to 400L).filterNot(i => i >= 50 && i <= 60)
      .map(i => (i, s"v$i")).toSet)
    // a predicate no file can match is a structural no-op
    val v2 = ManifestTable.delete(spark, dir, col("k") > 10000L)
    assert(v2.version == v1.version, "no-op delete must not commit")
    // update: only the touched file rewrites; values change exactly
    // where the predicate holds
    val v3 = ManifestTable.update(spark, dir, col("k") === 399L,
      Map("v" -> concat(col("v"), lit("!"))))
    val carried3 = v3.files.map(_.path).toSet
      .intersect(v1.files.map(_.path).toSet)
    assert(carried3.size == 3, s"update carried ${carried3.size}")
    val got = ManifestTable.read(spark, dir)
      .where(col("k") >= 398L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(398L -> "v398", 399L -> "v399!", 400L -> "v400"))
    // SQL NULL semantics: a NULL predicate row survives the delete
    val dir2 = freshDir("dmlnull")
    val withNull = Seq((1L, "a"), (2L, "bb")).toDF("k", "v")
      .unionAll(Seq(3L).toDF("k")
        .select(col("k"), lit(null).cast("string").as("v")))
    ManifestTable.create(spark, dir2, withNull)
    ManifestTable.delete(spark, dir2, length(col("v")) === 1)
    val left = ManifestTable.read(spark, dir2).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) "NULL" else r.getString(1))).toSet
    assert(left == Set(2L -> "bb", 3L -> "NULL"),
      s"NULL-predicate row must survive: $left")
    // update keeps footer stats sound: a later bounded read still prunes
    val kept = ManifestTable.pruneFiles(
      ManifestTable.history(spark, dir).last, col("k") <= 100L)
    assert(kept.size < v3.files.size)
  }

  test("mergeBatch replay is O(1) and survives vacuum: the batch " +
    "high-water mark rides the latest manifest") {
    import spark.implicits._
    val dir = freshDir("hwm")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    ManifestTable.mergeBatch(spark, dir, Seq((2L, "b")).toDF("k", "v"),
      "k", batchId = 0L)
    ManifestTable.mergeBatch(spark, dir, Seq((3L, "c")).toDF("k", "v"),
      "k", batchId = 1L)
    assert(ManifestTable.latestVersion(spark, dir).contains(2L))
    // vacuum away the manifests that recorded batches 0 and 1
    ManifestTable.vacuum(spark, dir, keepLast = 1)
    assert(ManifestTable.history(spark, dir).map(_.version) == Seq(2L))
    // replay of either id after vacuum: still a structural no-op
    val r0 = ManifestTable.mergeBatch(spark, dir,
      Seq((2L, "b")).toDF("k", "v"), "k", batchId = 0L)
    assert(r0.version == 2L)
    val r1 = ManifestTable.mergeBatch(spark, dir,
      Seq((3L, "c")).toDF("k", "v"), "k", batchId = 1L)
    assert(r1.version == 2L)
    assert(ManifestTable.latestVersion(spark, dir).contains(2L))
    // a genuinely new id still commits, and advances the mark
    val s3 = ManifestTable.mergeBatch(spark, dir,
      Seq((4L, "d")).toDF("k", "v"), "k", batchId = 2L)
    assert(s3.version == 3L && s3.lastBatch == 2L)
    assert(content(dir) == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("changes() diffs under the widened (later) schema: rows differing " +
    "only in evolved columns surface, new columns appear with NULLs") {
    import spark.implicits._
    val dir = freshDir("chgevolve")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    // overwrite with the SAME (k, v) but a new column carrying data:
    // under the old-schema diff this was invisibly "no change"
    ManifestTable.overwrite(spark, dir, Seq((1L, "a", 7.5)).toDF("k", "v", "w"))
    val got = ManifestTable.changes(spark, dir, 0L, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
      .toSet
    assert(got == Set((1L, "a", None, "D"), (1L, "a", Some(7.5), "I")), got)
  }

  test("compact(zorderBy) packs files with tight bounds on BOTH " +
    "dimensions; a second-dimension filter then prunes") {
    import spark.implicits._
    val dir = freshDir("zorder")
    // 32×32 grid written linear-in-x: every file spans the full y domain
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L)
      yield (x, y, x * 32 + y)).toDF("x", "y", "payload")
    ManifestTable.create(spark, dir, grid.repartitionByRange(4, col("x")),
      statsCols = Seq("x", "y"))
    val before = ManifestTable.history(spark, dir).last
    def spans(s: ManifestTable.Snapshot, c: String): Seq[Long] =
      s.files.flatMap(_.longBounds(c)).map { case (mn, mx) => mx - mn }
    assert(spans(before, "y").forall(_ == 31L), "linear layout spans full y")
    // ... so nothing is prunable on y before the layout commit
    assert(ManifestTable.pruneFiles(before, col("y") < 8L).size ==
      before.files.size)
    // pack into ~4 z-ordered files
    val target = math.max(1L, before.totalBytes / 4)
    val packed = ManifestTable.compact(spark, dir, smallBytes = 32L << 20,
      targetBytes = target, zorderBy = Seq("x", "y"))
    assert(packed.operation == "compact" && packed.files.size >= 2)
    assert(packed.totalRows == 1024L)
    // Morton ranges: most packed files sit inside one y half-plane and
    // the y spans strictly shrink overall (range boundaries may
    // straddle a quadrant, so per-file tightness is majority, not all;
    // x gives up SOME of its former sorted tightness — that is the
    // z-order trade)
    assert(spans(packed, "y").count(_ <= 16L) * 2 >= packed.files.size,
      spans(packed, "y").toString)
    assert(spans(packed, "y").sum < spans(before, "y").sum,
      s"${spans(packed, "y")} !< ${spans(before, "y")}")
    // the user-visible property: BOTH dimensions now prune at the
    // manifest (before, y pruned nothing)
    assert(ManifestTable.pruneFiles(packed, col("x") < 8L).size <
      packed.files.size)
    val kept = ManifestTable.pruneFiles(packed, col("y") < 8L)
    assert(kept.size < packed.files.size, s"kept ${kept.size}")
    assert(ManifestTable.read(spark, dir, col("y") < 8L).count() == 32L * 8L)
    // contents untouched — the v(before)→v(packed) changelog is empty
    assert(ManifestTable.changes(spark, dir, before.version,
      packed.version).count() == 0L)
  }

  // ---------------------------------------------------------------
  // round-13 session 2: restore, structural changelog, metadata
  // aggregates
  // ---------------------------------------------------------------

  test("restore is a metadata-only rollback: no data written, history " +
    "preserved, batch high-water mark carried forward") {
    val dir = freshDir("restore")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a", 2L -> "b")))
    ManifestTable.append(spark, dir, kv(Seq(3L -> "c")))
    // streaming mark advances to 7, then a bad overwrite lands
    ManifestTable.mergeBatch(spark, dir, kv(Seq(4L -> "d")), "k", batchId = 7L)
    ManifestTable.overwrite(spark, dir, kv(Seq(99L -> "bad")))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commitDirs(): Set[String] =
      fs.listStatus(new Path(dir, "data")).map(_.getPath.getName).toSet
    val before = commitDirs()
    val restored = ManifestTable.restore(spark, dir, 1L)
    // metadata-only: not one new data directory
    assert(commitDirs() == before)
    assert(restored.version == 4L && restored.operation == "restore@v1")
    assert(content(dir) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // history keeps every step — the bad commit stays auditable
    assert(ManifestTable.history(spark, dir).map(_.version) ==
      (0L to 4L).toSeq)
    assert(ManifestTable.readVersion(spark, dir, 3L).count() == 1L)
    // exactly-once survives rollback: the mark rides the HEAD, not the
    // restore target — replaying batch 7 is still a structural no-op
    assert(restored.lastBatch == 7L)
    val replay = ManifestTable.mergeBatch(spark, dir, kv(Seq(5L -> "e")),
      "k", batchId = 7L)
    assert(replay.version == 4L, "replayed batch id must not commit")
    // restoring the restore away works too (back to the bad overwrite)
    assert(ManifestTable.restore(spark, dir, 3L).version == 5L)
    assert(content(dir) == Set(99L -> "bad"))
  }

  test("changesStructural reads only files that changed hands: appends " +
    "emit no deletes, compact cancels to a zero signed delta, and the " +
    "signed per-key totals match changes() exactly") {
    import spark.implicits._
    val dir = freshDir("structural")
    ManifestTable.create(spark, dir,
      kv((1L to 40L).map(i => i -> s"v$i")).repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    // v1: pure append — structurally there IS no D side
    ManifestTable.append(spark, dir, kv((41L to 50L).map(i => i -> s"v$i")))
    val app = ManifestTable.changesStructural(spark, dir, 0L, 1L)
    assert(app.where(col("_change") === "D").count() == 0L)
    assert(app.where(col("_change") === "I").count() == 10L)
    // v2: a merge touching ONE file's key range; the untouched files
    // must not appear in the structural changelog at all
    val v1 = ManifestTable.history(spark, dir).last
    ManifestTable.merge(spark, dir, Seq((2L, "V2")).toDF("k", "v"), "k")
    val st = ManifestTable.changesStructural(spark, dir, v1.version,
      v1.version + 1)
    val untouchedRows = v1.files.filter(_.longBounds("k")
      .exists { case (mn, mx) => 2L < mn || 2L > mx }).map(_.rows).sum
    assert(untouchedRows > 0L, "fixture expects the merge to prune files")
    // exactly the touched files' rows, D'd and I'd — carried-over
    // files contribute NOTHING (k=2 replaces in place, so old and new
    // touched row counts are equal)
    assert(st.count() == 2L * (v1.totalRows - untouchedRows))
    // signed per-(key, value) totals agree with the exact value diff
    def signed(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k", "v").agg(sum(when(col("_change") === "I", 1L)
        .otherwise(-1L)).as("d"))
        .where(col("d") =!= 0L)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = ManifestTable.changes(spark, dir, 0L, 2L)
    val struct = ManifestTable.changesStructural(spark, dir, 0L, 2L)
    assert(signed(struct) == signed(exact))
    // v3: compact — every movement cancels
    ManifestTable.append(spark, dir, kv(Seq(51L -> "x")))
    val preC = ManifestTable.history(spark, dir).last
    val postC = ManifestTable.compact(spark, dir)
    assert(postC.version > preC.version, "fixture expects a real compact")
    assert(signed(ManifestTable.changesStructural(spark, dir,
      preC.version, postC.version)).isEmpty)
  }

  test("CHECK constraints gate every write path before a byte is staged; " +
    "NULL passes (SQL semantics); ALTER validates existing data") {
    import spark.implicits._
    val dir = freshDir("constraints")
    val checks = Map("k_positive" -> "k > 0", "v_present" -> "length(v) > 1")
    // violating create: loudly rejected, nothing on disk
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.create(spark, dir, kv(Seq(1L -> "ok", -2L -> "xx")),
        constraints = checks)
    }
    assert(ManifestTable.latestVersion(spark, dir).isEmpty)
    ManifestTable.create(spark, dir, kv(Seq(1L -> "aa", 2L -> "bb")),
      constraints = checks)
    // append: violation rejected atomically, table untouched
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.append(spark, dir, kv(Seq(3L -> "cc", 4L -> "x")))
    }
    assert(ManifestTable.history(spark, dir).size == 1)
    // NULL-evaluating rows PASS (the CHECK contract)
    ManifestTable.append(spark, dir,
      Seq((5L, null: String)).toDF("k", "v"))
    assert(content(dir).contains(5L -> null))
    // merge: only the new rows are checked; a bad winner kills the commit
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.merge(spark, dir, Seq((-9L, "zz")).toDF("k", "v"), "k")
    }
    ManifestTable.merge(spark, dir, Seq((6L, "ff")).toDF("k", "v"), "k")
    // update: the modified values are re-checked
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.update(spark, dir, col("k") === 6L,
        Map("v" -> lit("q")))
    }
    // constraints persist in the manifest and survive restore
    val head = ManifestTable.snapshot(spark, dir)
    assert(head.constraints == checks)
    assert(ManifestTable.restore(spark, dir, 1L).constraints == checks)
    // ALTER: adding a constraint the data violates is refused...
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.alterConstraints(spark, dir,
        add = Map("k_small" -> "k < 3"))
    }
    // ...a holding one lands as a metadata commit, drop works, and the
    // new set gates the next write
    val altered = ManifestTable.alterConstraints(spark, dir,
      add = Map("k_cap" -> "k < 100"), drop = Set("v_present"))
    assert(altered.operation == "alter" &&
      altered.constraints.keySet == Set("k_positive", "k_cap"))
    ManifestTable.append(spark, dir, kv(Seq(7L -> "g"))) // v_present gone
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.append(spark, dir, kv(Seq(200L -> "hh")))
    }
  }

  test("snapshot() answers count and footer bounds with zero data IO — " +
    "even after the data files are gone") {
    val dir = freshDir("meta")
    ManifestTable.create(spark, dir,
      kv((1L to 70L).map(i => i -> s"v$i")).repartition(3),
      statsCols = Seq("k"))
    ManifestTable.append(spark, dir, kv((71L to 100L).map(i => i -> s"v$i")))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, "data"), true) // scorched earth: manifests only
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.totalRows == 100L)
    assert(snap.files.flatMap(_.longBounds("k")).map(_._1).min == 1L)
    assert(snap.files.flatMap(_.longBounds("k")).map(_._2).max == 100L)
    // time travel on metadata too
    assert(ManifestTable.snapshot(spark, dir, Some(0L)).totalRows == 70L)
  }

  test("dropColumn is metadata-only: no data IO, reads exclude it, old " +
    "versions keep it, re-add is refused, restore and overwrite govern " +
    "the tombstone") {
    import spark.implicits._
    val dir = freshDir("drop")
    val df3 = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "extra")
    ManifestTable.create(spark, dir, df3, statsCols = Seq("k"))
    val dataDirs = {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      () => fs.listStatus(new Path(dir, "data")).length
    }
    val before = dataDirs()
    val snap = ManifestTable.dropColumn(spark, dir, "extra")
    assert(dataDirs() == before, "drop must write no data")
    assert(snap.operation == "drop@extra" && snap.dropped == Seq("extra"))
    assert(snap.files.forall(!_.stats.contains("extra")))
    // reads exclude the column; time travel keeps it
    assert(ManifestTable.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "v"))
    assert(content(dir) == Set(1L -> "a", 2L -> "b"))
    assert(ManifestTable.readVersion(spark, dir, 0)
      .select("k", "extra").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set(1L -> 10L, 2L -> 20L))
    // appends under the narrowed schema work; re-adding the name throws
    ManifestTable.append(spark, dir, kv(Seq(3L -> "c")))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, dir,
        Seq((4L, "d", 40L)).toDF("k", "v", "extra"))
    }
    assert(e.getMessage.contains("resurrect"))
    // the tombstone rides every later commit (merge goes through the
    // rewrite path)
    ManifestTable.merge(spark, dir, Seq((1L, "A")).toDF("k", "v"), "k")
    assert(ManifestTable.snapshot(spark, dir).dropped == Seq("extra"))
    // spec-load-bearing columns refuse to drop
    intercept[IllegalArgumentException] {
      ManifestTable.dropColumn(spark, dir, "k")
    }
    ManifestTable.alterConstraints(spark, dir,
      add = Map("v_nonempty" -> "length(v) > 0"))
    intercept[IllegalArgumentException] {
      ManifestTable.dropColumn(spark, dir, "v")
    }
    // restore to a pre-drop version resurrects column AND values
    val restored = ManifestTable.restore(spark, dir, 0L)
    assert(restored.dropped.isEmpty)
    assert(ManifestTable.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "v", "extra"))
    // overwrite clears tombstones: the name may return with fresh data
    ManifestTable.restore(spark, dir,
      ManifestTable.history(spark, dir).map(_.version).apply(4)) // post-merge
    ManifestTable.overwrite(spark, dir, Seq((9L, "z")).toDF("k", "v"))
    ManifestTable.append(spark, dir,
      Seq((10L, "y", 99L)).toDF("k", "v", "extra"))
    assert(ManifestTable.read(spark, dir).where(col("extra") === 99L)
      .count() == 1L)
  }

  test("commit timestamps are strictly increasing; AS OF timestamp " +
    "resolves every version; age-based vacuum retains young snapshots") {
    val dir = freshDir("ts")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    ManifestTable.append(spark, dir, kv(Seq(2L -> "b")))
    ManifestTable.append(spark, dir, kv(Seq(3L -> "c")))
    val hist = ManifestTable.history(spark, dir)
    assert(hist.forall(_.ts > 0))
    assert(hist.map(_.ts) == hist.map(_.ts).sorted &&
      hist.map(_.ts).distinct.size == 3, "timestamps strictly increasing")
    // AS OF exact stamps and in-between instants
    assert(ManifestTable.versionAsOf(spark, dir, hist(0).ts) == 0L)
    assert(ManifestTable.versionAsOf(spark, dir, hist(1).ts) == 1L)
    assert(ManifestTable.versionAsOf(spark, dir, hist(2).ts + 60000L) == 2L)
    assert(ManifestTable.readAsOf(spark, dir, hist(1).ts).count() == 2L)
    intercept[IllegalArgumentException] {
      ManifestTable.versionAsOf(spark, dir, hist(0).ts - 1L)
    }
    // age-based retention: everything is younger than an hour, so a
    // keepLast=1 vacuum deletes nothing
    assert(ManifestTable.vacuum(spark, dir, keepLast = 1,
      retainMillis = 3600000L) == 0L)
    assert(ManifestTable.history(spark, dir).size == 3)
    // without the age floor the same vacuum drops to keepLast
    ManifestTable.vacuum(spark, dir, keepLast = 1)
    assert(ManifestTable.history(spark, dir).size == 1)
  }

  test("shallow clone copies zero bytes, reads identically, and is " +
    "copy-on-write isolated from the source") {
    import spark.implicits._
    val src = freshDir("clone_src")
    val dst = freshDir("clone_dst") + "/t"
    ManifestTable.create(spark, src, kv(Seq(1L -> "a", 2L -> "b")),
      statsCols = Seq("k"))
    ManifestTable.append(spark, src, kv(Seq(3L -> "c")))
    ManifestTable.cloneTable(spark, src, dst)
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dst, "data")), "clone must copy no data")
    assert(ManifestTable.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // copy-on-write: a merge into the clone rewrites under the CLONE
    ManifestTable.merge(spark, dst, Seq((2L, "CLONE")).toDF("k", "v"), "k")
    assert(ManifestTable.read(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 2L -> "CLONE", 3L -> "c"))
    assert(content(src) == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "source must be untouched")
    assert(fs.exists(new Path(dst, "data")), "clone stages its own files")
    val ops = ManifestTable.history(spark, dst).map(_.operation)
    assert(ops == Seq("clone@v1", "merge"))
  }

  test("readWithMeta attributes every row to the commit that wrote its " +
    "current copy") {
    import spark.implicits._
    val dir = freshDir("meta_cols")
    ManifestTable.create(spark, dir,
      kv(Seq(1L -> "a", 2L -> "b")).coalesce(1), statsCols = Seq("k"))
    ManifestTable.append(spark, dir, kv(Seq(3L -> "c")))
    ManifestTable.merge(spark, dir, Seq((2L, "B")).toDF("k", "v"), "k")
    val got = ManifestTable.readWithMeta(spark, dir).collect()
    assert(got.forall(r => r.getAs[String]("_file") != null &&
      r.getAs[String]("_file").nonEmpty))
    val byKey = got.map(r =>
      r.getAs[Long]("k") -> r.getAs[Long]("_commit_version")).toMap
    // the merge rewrote the v0 file (keys 1 and 2); the appended row
    // still carries its original commit
    assert(byKey == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
  }

  test("partition spec evolution is one metadata commit; mixed-" +
    "generation files each prune by their own recorded layout") {
    import spark.implicits._
    val dir = freshDir("layout")
    val gen1 = Seq((1L, "d1", "a"), (2L, "d1", "b"), (3L, "d2", "c"))
      .toDF("k", "day", "v")
    // generation 1: unpartitioned, stats on k only
    ManifestTable.create(spark, dir, gen1.coalesce(1), statsCols = Seq("k"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirsBefore = fs.listStatus(new Path(dir, "data")).length
    val snap = ManifestTable.alterLayout(spark, dir,
      partitionCols = Some(Seq("day")))
    assert(snap.operation == "alter-layout" &&
      snap.partitionCols == Seq("day"))
    assert(fs.listStatus(new Path(dir, "data")).length == dataDirsBefore,
      "spec change must write no data")
    // generation 2: appends now partition by day
    ManifestTable.append(spark, dir,
      Seq((4L, "d1", "x"), (5L, "d2", "y")).toDF("k", "day", "v"))
    val head = ManifestTable.snapshot(spark, dir)
    val (g2, g1) = head.files.partition(_.partitions.contains("day"))
    assert(g1.size == 1 && g2.size == 2, "one old file, two day-partitions")
    // a day filter prunes generation-2 files by partition value and
    // conservatively keeps the unpartitioned generation-1 file
    val kept = ManifestTable.pruneFiles(head, col("day") === "d2")
    assert(kept.map(_.path).toSet ==
      (g1 ++ g2.filter(_.partitions("day").contains("d2"))).map(_.path).toSet)
    // and the pruned read stays exact across the generation boundary
    assert(ManifestTable.read(spark, dir, col("day") === "d2")
      .select("k").collect().map(_.getLong(0)).toSet == Set(3L, 5L))
    // alterLayout with no effective change is a no-op (no new version)
    assert(ManifestTable.alterLayout(spark, dir,
      partitionCols = Some(Seq("day"))).version == head.version)
  }

  // ------------------------------------------------ deletion vectors

  test("deleteVector hides rows without touching a data file; vectors " +
    "stack; reads, pruned reads and time travel stay exact") {
    val dir = freshDir("dv")
    ManifestTable.create(spark, dir,
      kv((1L to 100L).map(i => i -> s"v$i")).coalesce(1),
      statsCols = Seq("k"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = () => fs.listStatus(new Path(dir, "data")).length
    val before = dataDirs()
    val s1 = ManifestTable.deleteVector(spark, dir, col("k") <= 10)
    assert(dataDirs() == before, "DV delete must not write data files")
    assert(s1.operation == "delete-dv" && s1.files == // file set unchanged
      ManifestTable.snapshot(spark, dir, Some(0L)).files)
    assert(ManifestTable.read(spark, dir).count() == 90L)
    // stacking: a second vector composes
    ManifestTable.deleteVector(spark, dir, col("k") > 95)
    assert(content(dir) == (11L to 95L).map(i => (i, s"v$i")).toSet)
    // NULL predicate keeps rows (SQL semantics)
    ManifestTable.deleteVector(spark, dir,
      when(col("k") === 50L, lit(null).cast("boolean")).otherwise(col("k") === 51L))
    assert(ManifestTable.read(spark, dir).where(col("k").isin(50L, 51L))
      .collect().map(_.getLong(0)).toSet == Set(50L))
    // pruned read and filter agree through the DV subtraction
    assert(ManifestTable.read(spark, dir, col("k") <= 20).count() == 10L)
    // time travel: pre-DV versions still show everything
    assert(ManifestTable.readVersion(spark, dir, 0L).count() == 100L)
    // structural no-op when nothing matches
    val h = ManifestTable.snapshot(spark, dir)
    assert(ManifestTable.deleteVector(spark, dir, col("k") > 1000L)
      .version == h.version)
  }

  test("a rewrite of a DV-carrying file materializes the vector: " +
    "deleted rows stay deleted, the DV entry is dropped, and the " +
    "changelog prices a DV delete at its net rows") {
    import spark.implicits._
    val dir = freshDir("dv_mat")
    ManifestTable.create(spark, dir,
      kv((1L to 50L).map(i => i -> "base")).coalesce(1), statsCols = Seq("k"))
    val v1 = ManifestTable.deleteVector(spark, dir, col("k") <= 5)
    assert(v1.dvs.nonEmpty)
    // structural changelog of the DV commit: net = the 5 deleted rows
    val net = ManifestTable.changesStructural(spark, dir, 0L, 1L)
      .groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(net("D") - net.getOrElse("I", 0L) == 5L)
    // a merge touching the file materializes: dv entry gone, deleted
    // rows do NOT resurrect, merged value lands
    val v2 = ManifestTable.merge(spark, dir,
      Seq((10L, "MERGED")).toDF("k", "v"), "k")
    assert(v2.dvs.isEmpty, "rewrite must drop the materialized vector")
    val got = content(dir)
    assert(!got.exists(_._1 <= 5), "materialization must keep deletions")
    assert(got(10L -> "MERGED") && got.size == 45)
    // vacuum sweeps the now-orphaned DV dir once history rolls off
    ManifestTable.vacuum(spark, dir, keepLast = 1)
    val dvRoot = new Path(dir, "dv")
    val fs = dvRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "orphaned DV dirs must be vacuumed")
  }

  test("updateVector hides the old copies and appends the new; " +
    "purgeVectors materializes ONLY DV-carrying files and drops every " +
    "vector") {
    val dir = freshDir("dv_up")
    ManifestTable.create(spark, dir,
      kv((1L to 20L).map(i => i -> s"v$i")).coalesce(1),
      statsCols = Seq("k"))
    ManifestTable.append(spark, dir,
      kv((21L to 40L).map(i => i -> s"v$i")).coalesce(1))
    // merge-on-read UPDATE: one matched row
    ManifestTable.updateVector(spark, dir, col("k") === 30L,
      Map("v" -> lit("UP")))
    val afterUp = ManifestTable.snapshot(spark, dir)
    assert(afterUp.dvs.size == 1, "only the matched file carries a vector")
    assert(content(dir) == ((1L to 40L).map(i =>
      i -> (if (i == 30) "UP" else s"v$i")).toSet))
    // a no-match update commits nothing
    assert(ManifestTable.updateVector(spark, dir, col("k") === 999L,
      Map("v" -> lit("X"))).version == afterUp.version)
    // PURGE: rewrites only the DV-carrying file, drops all vectors,
    // content identical
    val unTouched = afterUp.files.filterNot(f => afterUp.dvs.contains(f.path))
      .map(_.path).toSet
    val purged = ManifestTable.purgeVectors(spark, dir)
    assert(purged.dvs.isEmpty && purged.operation == "purge")
    assert(unTouched.subsetOf(purged.files.map(_.path).toSet),
      "files without vectors must carry over by reference")
    assert(content(dir) == ((1L to 40L).map(i =>
      i -> (if (i == 30) "UP" else s"v$i")).toSet))
    // purge on a vector-free table is a no-op
    assert(ManifestTable.purgeVectors(spark, dir).version == purged.version)
  }

  test("updateVector is ONE atomic commit: a single version carries " +
    "vector + new copies, a violating SET leaves the table untouched, " +
    "and stacked overlapping deletes record only NET-new pairs") {
    val dir = freshDir("dv_atomic")
    ManifestTable.create(spark, dir,
      kv((1L to 50L).map(i => i -> s"v$i")).coalesce(1),
      statsCols = Seq("k"),
      constraints = Map("v_nonempty" -> "length(v) > 0"))
    val v0 = ManifestTable.snapshot(spark, dir).version
    // single-commit law: exactly ONE new version, op update-dv, and the
    // snapshot carries BOTH the hiding vector and the appended copies
    val s1 = ManifestTable.updateVector(spark, dir, col("k") === 7L,
      Map("v" -> lit("UP")))
    assert(s1.version == v0 + 1 && s1.operation == "update-dv")
    assert(s1.dvs.nonEmpty && s1.files.size >
      ManifestTable.snapshot(spark, dir, Some(v0)).files.size)
    assert(content(dir) == (1L to 50L).map(i =>
      i -> (if (i == 7) "UP" else s"v$i")).toSet)
    // failure-path law: a SET violating a CHECK throws BEFORE any
    // commit — version AND content unchanged (no half-applied delete)
    intercept[ManifestTable.ConstraintViolationException] {
      ManifestTable.updateVector(spark, dir, col("k") === 9L,
        Map("v" -> lit("")))
    }
    assert(ManifestTable.snapshot(spark, dir).version == s1.version)
    assert(content(dir)(9L -> "v9"), "matched rows must survive a failed SET")
    // net-new law: delete k<=10 (7's old copy is already hidden), then
    // k<=20; the original file's vector is REPLACED each time, and the
    // second delete's vector holds the file's 20 net deleted rows
    // (1..20, 7's old copy included), each pair once
    val original = ManifestTable.snapshot(spark, dir, Some(v0)).files.head.path
    ManifestTable.deleteVector(spark, dir, col("k") <= 10L)
    val h2 = ManifestTable.snapshot(spark, dir)
    val s3 = ManifestTable.deleteVector(spark, dir, col("k") <= 20L)
    val newDirs = s3.dvs.values.flatten.toSet -- h2.dvs.values.flatten.toSet
    assert(newDirs.size == 1)
    assert(s3.dvs(original) == newDirs.toVector,
      "the hit file's entry is the new vector alone")
    val firstDir = h2.dvs(original).head
    assert(s3.dvs.collect { case (p, vs) if vs.contains(firstDir) => p }
      .toSet == h2.dvs.keySet - original,
      "the first delete's vector now covers only the updated copy of 7")
    assert(!s3.dvs.values.flatten.toSet.exists(s1.dvs.values.flatten.toSet),
      "the update's vector is no longer referenced")
    val pairs = spark.read.parquet(new Path(dir, newDirs.head).toString)
    val pairRows = pairs.count()
    assert(pairRows == 20L && pairs.distinct().count() == 20L,
      s"second vector must hold the file's 20 net deleted rows, got $pairRows pairs")
    assert(content(dir) == (21L to 50L).map(i => i -> s"v$i").toSet)
  }

  test("a DV delete on a file that already has a vector learns its hit " +
    "files from the fresh-pair write: 5 jobs, and the vector holds " +
    "the file's net deleted pairs") {
    val dir = freshDir("dv_jobs")
    ManifestTable.create(spark, dir,
      kv((1L to 60L).map(i => i -> s"v$i")).repartitionByRange(3, col("k")),
      statsCols = Seq("k"))
    ManifestTable.deleteVector(spark, dir, col("k") <= 5L)
    val h1 = ManifestTable.snapshot(spark, dir)
    val file = h1.dvs.keys.head
    val (s2, work) = graft.metrics.Ledger.of(spark)
      .measure(ManifestTable.deleteVector(spark, dir, col("k") <= 12L))
    val jobs = work("exec.jobs").toInt
    // reading the hit bases back from the written pairs made it 8
    assert(jobs == 5, s"second DV delete ran $jobs jobs")
    assert(s2.dvs.keySet == Set(file) && s2.dvs(file).size == 1)
    val base = file.substring(file.lastIndexOf('/') + 1)
    val want = spark.read.parquet(new Path(dir, file).toString)
      .where(col("k") <= 12L).select(col("_metadata.row_index")).collect()
      .map(r => (base, r.getLong(0))).toSet
    val got = spark.read.parquet(new Path(dir, s2.dvs(file).head).toString)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 12 && got.toSet == want)
    assert(content(dir) == (13L to 60L).map(i => i -> s"v$i").toSet)
  }

  test("deletion vectors ride the IVM path: a DV delete refreshes the " +
    "view by its net rows only") {
    val dir = freshDir("dv_ivm")
    val mv = freshDir("dv_ivm_mv")
    import spark.implicits._
    val fact = (1L to 40L).map(i => (i, i % 4, i * 10)).toDF("k", "g", "x")
    ManifestTable.create(spark, dir, fact.coalesce(1), statsCols = Seq("k"))
    IncrementalView.init(spark, dir, mv, "g", Seq("x"), numFiles = 2)
    ManifestTable.deleteVector(spark, dir, col("k") <= 8)
    IncrementalView.refresh(spark, dir, mv, "g", Seq("x"))
    val expect = (9L to 40L).map(i => (i % 4, i * 10))
      .groupBy(_._1).map { case (g, xs) =>
        (g, xs.size.toLong, xs.map(_._2).sum) }.toSet
    val got = ManifestTable.read(spark, mv)
      .select("g", "n", "sum_x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  // ------------------------------------------- optimistic concurrency

  test("rebaseConflict taxonomy: metadata drift, write-write, read-write, " +
    "the safe commute, and base-awareness (each concurrent commit is " +
    "probed exactly once)") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import ManifestTable.{ColStats, FileEntry, Snapshot}
    val schema = new StructType().add("k", LongType).add("v", StringType)
    def fe(p: String, lo: Long, hi: Long) =
      FileEntry(p, 10, 100, Map("k" -> ColStats(lo, hi)))
    val fA = fe("data/c1/a.parquet", 1, 10)
    val fB = fe("data/c1/b.parquet", 11, 20)
    val parent = Snapshot(0, -1, "create", Seq("k"), Nil, -1L,
      schema.json, Vector(fA, fB))
    // this op rewrote fA after reading keys [1, 10]
    val removed = Set(fA.path)
    def conflicts(f: FileEntry): Boolean = f.longBounds("k") match {
      case Some((mn, mx)) => mn <= 10L && mx >= 1L
      case None => true
    }
    def check(head: Snapshot, base: Snapshot = parent) =
      ManifestTable.rebaseConflict(parent, base, head, removed, conflicts)
    // safe: concurrent append of a disjoint-range file, fA still live
    val fC = fe("data/c2/c.parquet", 100, 110)
    val headOk = parent.copy(version = 1, parent = 0, operation = "append",
      files = Vector(fA, fB, fC))
    assert(check(headOk).isEmpty)
    // write-write: the concurrent commit rewrote fA
    val headWW = parent.copy(version = 1, files = Vector(fB, fC))
    assert(check(headWW).exists(_.contains("write-write")))
    // read-write: the concurrent commit added rows in this op's range
    val fX = fe("data/c3/x.parquet", 5, 5)
    val headRW = parent.copy(version = 1, files = Vector(fA, fB, fX))
    assert(check(headRW).exists(_.contains("read-write")))
    // a concurrently added file with NO bounds is conservatively a conflict
    val fU = FileEntry("data/c4/u.parquet", 10, 100)
    assert(check(parent.copy(version = 1, files = Vector(fA, fB, fU)))
      .exists(_.contains("read-write")))
    // metadata drift always conflicts
    assert(check(headOk.copy(schemaJson = new StructType()
      .add("k", LongType).json)).exists(_.contains("schema")))
    assert(check(headOk.copy(constraints = Map("c" -> "k > 0")))
      .exists(_.contains("constraints")))
    assert(check(headOk.copy(statsCols = Nil)).exists(_.contains("spec")))
    // base-awareness: once rebased past fX (base includes it), a further
    // head that adds nothing new is safe — fX is not re-probed
    assert(check(headRW, base = headRW).isEmpty)
  }

  test("delete auto-rebases over an interleaved commuting append: both " +
    "effects land, one rename apart") {
    val dir = freshDir("rebase_del")
    ManifestTable.create(spark, dir,
      kv((1L to 100L).map(i => i -> s"v$i")).coalesce(1),
      statsCols = Seq("k"))
    val h0 = ManifestTable.snapshot(spark, dir)
    // interleaved writer lands v1 while the delete is in flight
    ManifestTable.append(spark, dir, kv(Seq(500L -> "new")).coalesce(1))
    val snap = ManifestTable.deleteFrom(spark, dir, h0, col("k") <= 10)
    assert(snap.version == 2L && snap.parent == 1L &&
      snap.operation == "delete")
    assert(content(dir) ==
      ((11L to 100L).map(i => i -> s"v$i").toSet + (500L -> "new")))
  }

  test("delete CONFLICTS loudly with an interleaved append of rows its " +
    "predicate matches (serializable, no silent survivors)") {
    val dir = freshDir("conflict_del")
    ManifestTable.create(spark, dir,
      kv((1L to 100L).map(i => i -> s"v$i")).coalesce(1),
      statsCols = Seq("k"))
    val h0 = ManifestTable.snapshot(spark, dir)
    ManifestTable.append(spark, dir, kv(Seq(5L -> "dup")).coalesce(1))
    val e = intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.deleteFrom(spark, dir, h0, col("k") <= 10)
    }
    assert(e.getMessage.contains("read-write"))
    // nothing was committed by the loser
    assert(ManifestTable.latestVersion(spark, dir).contains(1L))
  }

  test("merge auto-rebases over a concurrent merge on a DISJOINT key " +
    "range; an overlapping one conflicts") {
    import spark.implicits._
    val dir = freshDir("rebase_merge")
    ManifestTable.create(spark, dir,
      kv((1L to 10L).map(i => i -> "low")).coalesce(1), statsCols = Seq("k"))
    ManifestTable.append(spark, dir,
      kv((100L to 110L).map(i => i -> "high")).coalesce(1))
    val h0 = ManifestTable.snapshot(spark, dir)
    // concurrent merge rewrites the HIGH file
    ManifestTable.merge(spark, dir,
      Seq((100L, "HIGH")).toDF("k", "v"), "k")
    // stale merge on the LOW range: removed file still live, the
    // concurrent merge's staged file is bounds-disjoint ⇒ rebase
    val snap = ManifestTable.mergeImpl(spark, dir, h0,
      Seq((1L, "LOW")).toDF("k", "v"), "k", None, None, "merge", None)
    assert(snap.parent == h0.version + 1)
    val got = content(dir)
    assert(got((1L, "LOW")) && got((100L, "HIGH")) && got((2L, "low")))
    // overlapping ranges: a stale merge whose touched file was rewritten
    // by the concurrent one is a write-write conflict
    val h1 = ManifestTable.snapshot(spark, dir)
    ManifestTable.merge(spark, dir, Seq((2L, "TWO")).toDF("k", "v"), "k")
    val e = intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.mergeImpl(spark, dir, h1,
        Seq((3L, "THREE")).toDF("k", "v"), "k", None, None, "merge", None)
    }
    assert(e.getMessage.contains("conflict"))
  }

  test("6 writers racing merges on disjoint key ranges all land via " +
    "rebase: no lost updates, no duplicate keys") {
    import java.util.concurrent.{Executors, TimeUnit}
    import spark.implicits._
    val dir = freshDir("race_merge")
    ManifestTable.create(spark, dir,
      kv((0L to 9L).map(i => i -> "r0")).coalesce(1), statsCols = Seq("k"))
    (1 to 5).foreach { i =>
      ManifestTable.append(spark, dir,
        kv((i * 100L to i * 100L + 9L).map(k => k -> "r0")).coalesce(1))
    }
    val pool = Executors.newFixedThreadPool(6)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (0 to 5).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try ManifestTable.merge(spark, dir,
            Seq((i * 100L, s"w$i")).toDF("k", "v"), "k")
          catch { case t: Throwable => errs.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "race timed out")
    assert(errs.isEmpty, s"writers failed: ${errs.toArray.mkString(", ")}")
    val got = ManifestTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == got.map(_._1).distinct.length, "duplicate keys")
    (0 to 5).foreach { i => assert(got.contains((i * 100L, s"w$i"))) }
    assert(got.length == 60)
  }

  // ------------------------------------------- row-group pruning

  test("row-group pruning: a needle filter on a single multi-group " +
    "file reads kept-bytes proportional to selectivity, and the pruned " +
    "read equals the full scan filtered") {
    import spark.implicits._
    val dir = freshDir("rg")
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    try {
      // tiny row groups so ONE file carries many of them
      hc.setInt("parquet.block.size", 16 * 1024)
      hc.setInt("parquet.page.size", 4 * 1024)
      val df = (1L to 200000L).map(i => (i, s"payload_$i")).toDF("k", "v")
      ManifestTable.create(spark, dir,
        df.orderBy("k").coalesce(1), statsCols = Seq("k"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      hc.unset("parquet.page.size")
    }
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.files.size == 1)
    val f = snap.files.head
    assert(f.rgs.size > 10,
      s"fixture must have many row groups, got ${f.rgs.size}")
    assert(f.rgs.forall(g => g.stats.contains("k")))
    assert(f.rgs.map(_.rows).sum == f.rows)

    // needle: one key → kept bytes ≈ one row group
    val needle = col("k") === 123456L
    val planN = ManifestTable.rowGroupPlan(snap, needle)(f.path)
    assert(planN._1 == 1, s"needle must keep 1 group, kept ${planN._1}")
    assert(planN._3.toDouble / planN._4 < 0.2,
      "needle kept-bytes must be a small fraction of the file")
    val gotN = ManifestTable.read(spark, dir, needle).collect()
    assert(gotN.length == 1 && gotN.head.getLong(0) == 123456L)

    // range selectivities: kept bytes scale with the selected fraction
    def keptFrac(filter: org.apache.spark.sql.Column): Double = {
      val (_, _, kb, tb) = ManifestTable.rowGroupPlan(snap, filter)(f.path)
      kb.toDouble / tb
    }
    val frac10 = keptFrac(col("k") <= 20000L)
    val frac50 = keptFrac(col("k") <= 100000L)
    assert(frac10 < 0.2 && frac50 < 0.62 && frac10 < frac50,
      s"kept-bytes must track selectivity, got $frac10 / $frac50")
    // correctness at each selectivity: pruned read == full scan filtered
    Seq(col("k") <= 20000L, col("k") <= 100000L,
      col("k") > 150000L && col("k") <= 150100L).foreach { flt =>
      val pruned = ManifestTable.read(spark, dir, flt)
        .agg(count(lit(1)), sum(col("k"))).head()
      val full = ManifestTable.read(spark, dir).where(flt)
        .agg(count(lit(1)), sum(col("k"))).head()
      assert(pruned == full, s"pruned != full for $flt")
    }
    // disjunctions widen per group; unknown columns keep every group
    val orPlan = ManifestTable.rowGroupPlan(snap,
      col("k") === 5L || col("k") === 199999L)(f.path)
    assert(orPlan._1 == 2, s"OR must keep both needles' groups: $orPlan")
    assert(ManifestTable.read(spark, dir,
      col("k") === 5L || col("k") === 199999L).count() == 2L)
    val vPlan = ManifestTable.rowGroupPlan(snap, col("v") === "payload_7")
    assert(vPlan(f.path)._1 == vPlan(f.path)._2,
      "a column without group stats must keep every group")
  }

  test("row-group pruning composes with file pruning and partitioned " +
    "tables; a DV-carrying file falls back to the whole-file scan") {
    import spark.implicits._
    val dir = freshDir("rg_mix")
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    try {
      hc.setInt("parquet.block.size", 16 * 1024)
      val df = (1L to 100000L).map(i => (i, i % 2, s"p$i"))
        .toDF("k", "day", "v")
      ManifestTable.create(spark, dir,
        df.orderBy("k").repartitionByRange(2, col("day"), col("k")),
        statsCols = Seq("k"), partitionCols = Seq("day"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    val snap = ManifestTable.snapshot(spark, dir)
    // partition + range filter: file pruning kills the other partition,
    // row-group pruning narrows inside the survivor
    val flt = col("day") === 0L && col("k") <= 5000L
    val survivors = ManifestTable.pruneFiles(snap, flt)
    assert(survivors.size < snap.files.size, "partition pruning first")
    val got = ManifestTable.read(spark, dir, flt).count()
    assert(got == (1L to 5000L).count(_ % 2 == 0))
    // DV-carrying file: row-group path must NOT engage (row positions)
    ManifestTable.deleteVector(spark, dir, col("k") === 2L)
    val afterDv = ManifestTable.read(spark, dir,
      col("day") === 0L && col("k") <= 5000L).count()
    assert(afterDv == got - 1, "DV subtraction must stay exact")
  }

  test("vector-priced reads: a scan pruned to vector-free files plans " +
    "NO DV subtraction — stacked vectors on other files cost nothing") {
    val dir = freshDir("dv_priced")
    ManifestTable.create(spark, dir,
      kv((1L to 100L).map(i => i -> s"v$i")).repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    (1 to 5).foreach(i =>
      ManifestTable.deleteVector(spark, dir, col("k") === i.toLong))
    val vectored = ManifestTable.snapshot(spark, dir).dvs
    assert(vectored.size == 1 && vectored.values.head.size == 1,
      s"five needles on one file leave one vector, got $vectored")
    assert(spark.read.parquet(
      new Path(dir, vectored.values.head.head).toString).count() == 5L)
    // far-key read prunes to files without vectors: the plan must be a
    // plain parquet scan, no anti-join against the vector frame
    val far = ManifestTable.read(spark, dir, col("k") >= 90L)
    assert(!far.queryExecution.optimizedPlan.toString.contains("__dv_base"),
      "a vector-free pruned read must not plan the DV subtraction")
    assert(far.count() == 11L)
    // a read touching the vectored file plans the subtraction exactly once
    val near = ManifestTable.read(spark, dir, col("k") <= 30L)
    assert(near.queryExecution.optimizedPlan.toString.contains("__dv_base"))
    assert(near.count() == 25L)
  }

  test("one vector per file: a hand-built two-dir list reads as the " +
    "union, and the file's next DV delete collapses it to one dir " +
    "holding union ∪ fresh") {
    import spark.implicits._
    val dir = freshDir("dv_legacy")
    val v0 = ManifestTable.create(spark, dir,
      kv((1L to 40L).map(i => i -> s"v$i")).repartitionByRange(2, col("k")),
      statsCols = Seq("k"))
    val file0 = v0.files.find(_.longBounds("k").exists(_._1 == 1L)).get
    val base = new Path(file0.path).getName
    val pos = spark.read.parquet(new Path(dir, file0.path).toString)
      .select(col("k"), col("_metadata.row_index")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the multi-dir shape: each dir holds disjoint pairs of one file
    def vector(keys: Long*): String = {
      val rel = s"dv/${java.util.UUID.randomUUID()}"
      keys.map(k => (base, pos(k))).toDF("base", "idx")
        .write.parquet(new Path(dir, rel).toString)
      rel
    }
    val legacy = ManifestTable.publish(spark, dir, v0.copy(
      version = v0.version + 1, parent = v0.version, operation = "delete-dv",
      ts = -1L, dvs = Map(file0.path -> Vector(vector(1L, 2L), vector(3L)))),
      Some(v0))
    assert(legacy.dvs(file0.path).size == 2)
    assert(content(dir) == (4L to 40L).map(i => i -> s"v$i").toSet,
      "a multi-dir list reads as the union of its dirs")
    val next = ManifestTable.deleteVector(spark, dir,
      col("k") === 3L || col("k") === 5L)
    val Vector(one) = next.dvs(file0.path)
    assert(!legacy.dvs(file0.path).contains(one))
    val pairs = spark.read.parquet(new Path(dir, one).toString)
      .select("base", "idx").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pairs.toSeq.sorted == Seq(1L, 2L, 3L, 5L).map(k => (base, pos(k))).sorted,
      "the one dir holds union ∪ fresh, each pair once")
    assert(content(dir) == ((4L to 40L).toSet - 5L).map(i => i -> s"v$i"))
  }

  test("vacuum after stacked needle deletes leaves one vector dir for the " +
    "file, and content is unchanged") {
    val dir = freshDir("dv_vacuum")
    ManifestTable.create(spark, dir,
      kv((1L to 100L).map(i => i -> s"v$i")).repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    (1L to 10L).foreach(i =>
      ManifestTable.deleteVector(spark, dir, col("k") === i))
    val before = content(dir)
    assert(before == (11L to 100L).map(i => i -> s"v$i").toSet)
    ManifestTable.vacuum(spark, dir, keepLast = 1)
    val head = ManifestTable.snapshot(spark, dir)
    val dvRoot = new Path(dir, "dv")
    val left = dvRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dvRoot).filter(_.isDirectory).map(_.getPath.getName).toSeq
    assert(head.dvs.size == 1 &&
      left == head.dvs.values.flatten.map(p => new Path(p).getName).toSeq,
      s"vacuum must leave exactly the file's one vector dir, left $left")
    assert(content(dir) == before)
  }

  /** Files the graft scans of `df`'s executed plan listed: the
    * "number of files read" metric of every scan over a
    * [[ManifestFileIndex]] (the DV frames are plain parquet reads and
    * do not count). Call after an action. */
  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[ManifestFileIndex] =>
        s.metrics("numFiles").value
    }.sum
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("every retained version's filtered read equals the unpruned " +
    "reference and lists exactly the pruneFiles survivors (seeded " +
    "histories: append, merge, DV delete, update, compact, rename, clone)") {
    import spark.implicits._
    Seq(11L, 23L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val dir = freshDir(s"prune_law_$seed")
      def rows(ks: Seq[Long]) = ks.map(k =>
        (k, if (k % 7 == 0) null else s"v${k % 13}")).toDF("k", "v")
      ManifestTable.create(spark, dir,
        rows(1L to 400L).repartitionByRange(4, col("k")), statsCols = Seq("k"))
      var next = 401L
      var table = dir
      val tables = scala.collection.mutable.ArrayBuffer(dir)
      // the value column's current name (renamed once per history)
      def vCol = ManifestTable.snapshot(spark, table).schema.fieldNames(1)
      val ops = rng.shuffle(Seq("append", "append", "merge", "dv", "update",
        "compact", "rename", "clone"))
      ops.foreach { op =>
        val lo = 1L + rng.nextInt(next.toInt - 20)
        op match {
          case "append" =>
            ManifestTable.append(spark, table,
              rows(next until next + 60).toDF("k", vCol).coalesce(1))
            next += 60
          case "merge" =>
            ManifestTable.merge(spark, table,
              rows(lo until lo + 30).toDF("k", vCol)
                .withColumn(vCol, concat(col(vCol), lit("m"))), "k")
          case "dv" => ManifestTable.deleteVector(spark, table,
            col("k").between(lo, lo + 15))
          case "update" => ManifestTable.update(spark, table,
            col("k").between(lo, lo + 10), Map(vCol -> lit("u")))
          case "compact" => ManifestTable.compact(spark, table)
          case "rename" =>
            ManifestTable.renameColumn(spark, table, vCol, vCol + "2")
          case "clone" =>
            val dst = freshDir(s"prune_law_clone_$seed") + "/t"
            ManifestTable.cloneTable(spark, table, dst)
            table = dst
            tables += dst
        }
      }
      for (table <- tables; snap <- ManifestTable.history(spark, table)) {
        val v = snap.version
        val vName = snap.schema.fieldNames(1)
        val preds = Seq(
          col("k") === 37L,
          col("k").between(100L, 160L),
          col("k").isin(3L, 250L, 333L),
          col("k").isin((200L to 211L): _*), // planned as InSet
          col(vName).isNull,
          col("k") === 5L || col("k") > 420L,
          col(vName) === "v3", // the renamed column in later versions
          col("k") > 1000000L) // matches nothing
        val all = ManifestTable.readVersion(spark, table, v).collect()
        val reference = spark.createDataFrame(
          java.util.Arrays.asList(all: _*), snap.schema)
        preds.foreach { f =>
          val pruned = ManifestTable.readVersion(spark, table, v).where(f)
          assert(rowsOf(pruned) == rowsOf(reference.where(f)),
            s"seed $seed v$v ${snap.operation}: $f changed the result")
          assert(filesRead(pruned) ==
            ManifestTable.pruneFiles(snap, f).size.toLong,
            s"seed $seed v$v ${snap.operation}: $f read other files than " +
              "the manifest survivors")
        }
      }
    }
  }

  test("a data file missing under a live version fails the read loudly " +
    "(never an empty result); manifest lengths equal on-disk lengths for " +
    "cloned, compacted and vectored files") {
    assert(!spark.conf.get("spark.sql.files.ignoreMissingFiles").toBoolean)
    val dir = freshDir("missing")
    ManifestTable.create(spark, dir,
      kv((1L to 90L).map(i => i -> s"r$i")).repartitionByRange(3, col("k")),
      statsCols = Seq("k"))
    ManifestTable.append(spark, dir, kv((91L to 99L).map(i => i -> "a")))
    ManifestTable.append(spark, dir, kv((100L to 108L).map(i => i -> "b")))
    // packs the two appended files into one
    ManifestTable.compact(spark, dir, where = Some(col("k") > 90L))
    ManifestTable.deleteVector(spark, dir, col("k") === 5L)
    val clone = freshDir("missing_clone") + "/t"
    ManifestTable.cloneTable(spark, dir, clone)
    val v4 = ManifestTable.snapshot(spark, dir, Some(4L))
    assert(v4.dvs.nonEmpty, "v4 reads through a deletion vector")
    assert(v4.files.size == 4, "3 base files + 1 compacted file")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(dir, clone).foreach { d =>
      ManifestTable.history(spark, d).flatMap(_.files).foreach { f =>
        assert(fs.getFileStatus(new Path(d, f.path)).getLen == f.bytes,
          s"${f.path}: manifest length must be the on-disk length")
      }
    }
    assert(ManifestTable.readVersion(spark, clone, 0L).count() == 107L)
    assert(ManifestTable.read(spark, dir).count() == 107L)
    // delete the vectored data file listed by v4 (and by the clone)
    val victim = v4.files.minBy(_.longBounds("k").get._1)
    assert(v4.dvs.contains(victim.path))
    assert(fs.delete(new Path(dir, victim.path), false))
    Seq(ManifestTable.readVersion(spark, dir, 4L),
      ManifestTable.readVersion(spark, clone, 0L)).foreach { df =>
      val e = intercept[Exception](df.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]),
        s"expected FileNotFoundException, got $e")
    }
    // a read whose filter prunes the missing file away never opens it
    assert(ManifestTable.readVersion(spark, dir, 4L)
      .where(col("k") === 95L).count() == 1L)
  }

  /** The processes graft or Hadoop code started while `op` ran, as
    * "thread: command", from a JFR recording of `jdk.ProcessStart`
    * around it. A start with neither a `graft.` nor an
    * `org.apache.hadoop.` frame on its stack comes from a background
    * thread of the shared JVM, e.g. Spark's heartbeat (`getconf
    * PAGESIZE`) or its artifact cleaner (`rm -rf`), and lands in
    * whichever op runs then. */
  private def processStarts(op: () => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start(); op(); rec.stop()
      val f = java.nio.file.Files.createTempFile("process_starts", ".jfr")
      try {
        rec.dump(f)
        jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
            .map(_.getMethod.getType.getName)
            .exists(t => t.startsWith("graft.") || t.startsWith("org.apache.hadoop."))))
          .map(e => s"${e.getThread("eventThread").getJavaName}: ${e.getString("command")}")
      } finally java.nio.file.Files.delete(f)
    } finally rec.close()
  }

  test("a local-filesystem commit starts no process: every commit kind " +
    "and maintenance op runs without a jdk.ProcessStart, and what lands " +
    "on disk carries Hadoop's modes and statuses") {
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.RawLocalFileSystem
    import org.apache.hadoop.fs.permission.FsPermission
    import MergeInto.{UpdateAll, WhenMatched}
    assume(NioLocalFileSystem.available, "needs the POSIX attribute view")
    val dir = freshDir("no_process")
    ManifestTable.create(spark, dir,
      kv((1L to 40L).map(i => i -> s"r$i")).repartition(2), statsCols = Seq("k"))
    // warm-up outside the recordings: one-time class initialisation
    // (Hadoop's Shell probes `setsid` once per JVM) belongs to no commit
    ManifestTable.append(spark, dir, kv(Seq(41L -> "w")))
    val plain = freshDir("no_process_plain")
    kv((1L to 40L).map(i => i -> s"p$i")).repartition(4).write.mode("overwrite")
      .parquet(plain)
    val ops: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => ManifestTable.append(spark, dir, kv(Seq(42L -> "a")))),
      "delete" -> (() => ManifestTable.delete(spark, dir, col("k") === 1L)),
      "deleteVector" -> (() => ManifestTable.deleteVector(spark, dir, col("k") === 2L)),
      "update" -> (() => ManifestTable.update(spark, dir, col("k") === 3L,
        Map("v" -> lit("u")))),
      "merge" -> (() => ManifestTable.merge(spark, dir,
        kv(Seq(4L -> "m", 99L -> "n")), "k")),
      "mergeInto" -> (() => MergeInto(spark, dir, kv(Seq(5L -> "mi")), Seq("k"),
        matched = Seq(WhenMatched(UpdateAll)))),
      "compact" -> (() => ManifestTable.compact(spark, dir)),
      "checkpoint" -> (() => ManifestTable.checkpoint(spark, dir)),
      "vacuum" -> (() => ManifestTable.vacuum(spark, dir)),
      "plainCompact" -> (() => graft.operators.Compaction.compact(spark, plain,
        freshDir("no_process_compacted"), targetFiles = Some(2))))
    val started = ops.map { case (n, op) => n -> processStarts(op) }
    assert(started.forall(_._2.isEmpty), "processes started per op: " +
      started.map { case (n, cs) => s"$n ${cs.size} ${cs.take(3)}" }.mkString("; "))
    assert(content(dir) == ((6L to 42L).map(i => i -> (if (i == 41L) "w"
      else if (i == 42L) "a" else s"r$i")) ++ Seq(3L -> "u", 4L -> "m",
      5L -> "mi", 99L -> "n")).toSet)
    // same bytes on disk: every file (data, .crc sidecars, log entries,
    // checkpoint, vectors) and every directory the commits made carries
    // Hadoop's umask-derived default mode
    val conf = spark.sparkContext.hadoopConfiguration
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    val root = java.nio.file.Paths.get(dir)
    val made = {
      val walk = Files.walk(root)
      try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_ != root)
      finally walk.close()
    }
    assert(made.exists(_.getFileName.toString.endsWith(".crc")) &&
      made.exists(_.getFileName.toString.startsWith("c")))
    made.foreach { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) ==
        want, s"$p")
    }
    // the new status reports what Hadoop's `ls -ld` status reports
    val nio = NioLocalFileSystem.raw(conf)
    val ls = new RawLocalFileSystem
    ls.initialize(java.net.URI.create("file:///"), conf)
    made.map(p => new Path(p.toUri)).foreach { p =>
      val (a, b) = (nio.getFileStatus(p), ls.getFileStatus(p))
      assert((a.getPermission, a.getOwner, a.getGroup) ==
        (b.getPermission, b.getOwner, b.getGroup), s"$p")
    }
    val listed = nio.listStatus(new Path(dir, "_graft_log"))
    assert(listed.nonEmpty && listed.forall(st =>
      st.getOwner == ls.getFileStatus(st.getPath).getOwner &&
        st.getPermission.toString == fileMode))
  }

  test("checksums still guard local commits: a byte flipped in a staged " +
    "data file fails its read with ChecksumException") {
    val dir = freshDir("checksum")
    val snap = ManifestTable.create(spark, dir,
      kv((1L to 200L).map(i => i -> s"row$i")).coalesce(1), statsCols = Seq("k"))
    val data = java.nio.file.Paths.get(dir, snap.files.head.path)
    assert(java.nio.file.Files.exists(data.resolveSibling(s".${data.getFileName}.crc")))
    val raf = new java.io.RandomAccessFile(data.toFile, "rw")
    try {
      val at = raf.length / 2
      raf.seek(at); val b = raf.read()
      raf.seek(at); raf.write(b ^ 0xFF)
    } finally raf.close()
    val e = intercept[Exception](ManifestTable.read(spark, dir).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      s"expected ChecksumException, got $e")
  }
}
