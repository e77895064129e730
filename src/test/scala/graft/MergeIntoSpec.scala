package graft.table

import graft.SparkSuite
import org.apache.spark.sql.functions._

import MergeInto.{Delete, Insert, InsertAll, Update, UpdateAll, WhenMatched, WhenNotMatched, WhenNotMatchedBySource, src}

/** Laws of the standard MERGE INTO surface: the WHEN-clause matrix
  * (conditional update/delete/insert, first-match-wins), composite-key
  * pruning, cardinality guard, constraint enforcement, INSERT-only
  * fast path, and the null-key SQL contract. */
class MergeIntoSpec extends SparkSuite {

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"minto_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  import org.apache.spark.sql.DataFrame
  private def rows(dir: String): Set[(Long, Long, String)] =
    ManifestTable.read(spark, dir).select("k1", "k2", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def removedPaths(before: ManifestTable.Snapshot,
      after: ManifestTable.Snapshot): Set[String] =
    before.files.map(_.path).toSet -- after.files.map(_.path)

  private def seed(dir: String): Unit = {
    import spark.implicits._
    // 20 rows over composite key (k1 in 1..10 × k2 in 0..1)
    val df = (1L to 10L).flatMap(i => Seq((i, 0L, s"a$i"), (i, 1L, s"b$i")))
      .toDF("k1", "k2", "v")
    ManifestTable.create(spark, dir,
      df.repartitionByRange(4, col("k1"), col("k2")),
      statsCols = Seq("k1", "k2"))
  }

  test("WHEN-clause matrix: conditional UPDATE, conditional DELETE, " +
    "unconditional fallthrough, first-match-wins, NOT MATCHED INSERT " +
    "with and without condition") {
    import spark.implicits._
    val dir = freshDir("matrix")
    seed(dir)
    val source = Seq(
      (3L, 0L, "s3", 10L), // matched, flag 10 → clause 1 UPDATE
      (4L, 1L, "s4", 99L), // matched, flag 99 → clause 2 DELETE
      (5L, 0L, "s5", 1L),  // matched, flag 1 → clause 3 (uncond) SET v='touched'
      (50L, 0L, "new", 10L), // not matched, flag 10 → INSERT *
      (60L, 0L, "drop", 99L) // not matched, flag 99 → no insert clause fires
    ).toDF("k1", "k2", "v", "flag")
    MergeInto(spark, dir, source, Seq("k1", "k2"),
      matched = Seq(
        WhenMatched(Update(Map("v" -> concat(src("v"), lit("!")))),
          condition = Some(src("flag") === 10L)),
        WhenMatched(Delete, condition = Some(src("flag") === 99L)),
        WhenMatched(Update(Map("v" -> lit("touched"))))),
      notMatched = Seq(
        WhenNotMatched(InsertAll, condition = Some(col("flag") === 10L))))
    val got = rows(dir)
    assert(got((3L, 0L, "s3!")), "conditional UPDATE with src() expression")
    assert(!got.exists(r => r._1 == 4L && r._2 == 1L), "conditional DELETE")
    assert(got((5L, 0L, "touched")), "unconditional fallthrough clause")
    assert(got((50L, 0L, "new")), "conditional INSERT *")
    assert(!got.exists(_._1 == 60L), "insert clause condition filters")
    assert(got((4L, 0L, "a4")) && got((3L, 1L, "b3")),
      "sibling rows of matched keys pass through untouched")
    assert(got.size == 20 - 1 + 1)
  }

  test("composite-key pruning touches only files whose bounds admit " +
    "some source key on EVERY probed column; untouched files carry " +
    "over by reference") {
    import spark.implicits._
    val dir = freshDir("prune")
    seed(dir) // 4 files range-partitioned on (k1, k2)
    val before = ManifestTable.snapshot(spark, dir)
    val source = Seq((1L, 0L, "upd", 10L)).toDF("k1", "k2", "v", "flag")
    MergeInto(spark, dir, source, Seq("k1", "k2"),
      matched = Seq(WhenMatched(UpdateAll)))
    val after = ManifestTable.snapshot(spark, dir)
    val carried = after.files.map(_.path).toSet
      .intersect(before.files.map(_.path).toSet)
    assert(carried.nonEmpty, "files outside the key range must carry over")
    assert(before.files.map(_.path).toSet.diff(carried).size <
      before.files.size, "only the overlapping files may be rewritten")
    assert(rows(dir)((1L, 0L, "upd")))
    assert(ManifestTable.read(spark, dir).count() == 20L)
    assert(removedPaths(before, after) == MergeIntoSpec.referenceTouched(
      before, Seq("k1", "k2"), source.select("k1", "k2").collect().toSeq))
    // more key shapes, each against the brute-force reference: a
    // composite key whose second column has no stats, (string, date),
    // and (timestamp, decimal) — decimal is unprobeable, so only the
    // timestamp column prunes
    val ts = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val ids = spark.range(1, 201).toDF("i")
      Seq(
        ("k2_no_stats", col("i"), col("i") % 2, Seq("a")),
        ("string_date", format_string("s%04d", col("i")),
          date_add(lit("2020-01-01").cast("date"), col("i").cast("int")),
          Seq("a", "b")),
        ("timestamp_decimal", timestamp_seconds(col("i") * 3600),
          (col("i") / 100).cast("decimal(10,2)"), Seq("a", "b"))
      ).foreach { case (tag, a, b, statsCols) =>
        val d = freshDir(s"prune_$tag")
        def keyed(df: DataFrame) = df.select(a.as("a"), b.as("b"),
          col("i").cast("string").as("v"))
        ManifestTable.create(spark, d,
          keyed(ids).repartitionByRange(4, col("a")), statsCols = statsCols)
        val h = ManifestTable.snapshot(spark, d)
        val src = keyed(ids.where(col("i").isin(5L, 6L, 150L)))
          .withColumn("v", lit("upd"))
        val expect = MergeIntoSpec.referenceTouched(h, Seq("a", "b"),
          src.select("a", "b").collect().toSeq)
        assert(expect.size < h.files.size, s"$tag: the reference prunes")
        MergeInto(spark, d, src, Seq("a", "b"),
          matched = Seq(WhenMatched(UpdateAll)))
        assert(removedPaths(h, ManifestTable.snapshot(spark, d)) == expect,
          tag)
        assert(ManifestTable.read(spark, d).where(col("v") === "upd")
          .count() == 3L, tag)
      }
    } finally ts.fold(spark.conf.unset(
      "spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
  }

  test("cardinality guard: duplicate source keys that MATCH a target " +
    "row fail loudly; duplicates matching nothing insert independently") {
    import spark.implicits._
    val dir = freshDir("card")
    seed(dir)
    val dupMatching = Seq((3L, 0L, "x", 1L), (3L, 0L, "y", 2L))
      .toDF("k1", "k2", "v", "flag")
    val e = intercept[Exception] {
      MergeInto(spark, dir, dupMatching, Seq("k1", "k2"),
        matched = Seq(WhenMatched(Update(Map("v" -> src("v"))))))
    }
    assert(e.getMessage != null)
    assert(rows(dir)((3L, 0L, "a3")), "failed merge must not commit")
    // duplicates that match NO target row: both insert (SQL semantics)
    val dupNew = Seq((100L, 0L, "p", 1L), (100L, 1L, "q", 1L),
      (200L, 0L, "r", 1L), (200L, 0L, "r", 1L))
      .toDF("k1", "k2", "v", "flag")
    MergeInto(spark, dir, dupNew, Seq("k1", "k2"),
      matched = Seq(WhenMatched(Delete)),
      notMatched = Seq(WhenNotMatched(InsertAll)))
    val got = rows(dir)
    assert(got((100L, 0L, "p")) && got((100L, 1L, "q")))
    assert(got.count(_._1 == 200L) == 1 &&
      ManifestTable.read(spark, dir).where(col("k1") === 200L).count() == 2L,
      "unmatched duplicate source keys insert one row EACH")
  }

  test("INSERT-only merge rewrites nothing (pure append commit); " +
    "Insert(values) fills unnamed columns with NULL; null join keys " +
    "never match; no-op merge commits no version") {
    import spark.implicits._
    val dir = freshDir("insonly")
    seed(dir)
    val before = ManifestTable.snapshot(spark, dir)
    val source = Seq((Some(300L), 0L, "i1"), (None, 0L, "nullkey"))
      .toDF("k1", "k2", "v")
    MergeInto(spark, dir, source, Seq("k1", "k2"),
      notMatched = Seq(WhenNotMatched(Insert(Map(
        "k1" -> coalesce(col("k1"), lit(-1L)), "k2" -> col("k2"))))))
    val after = ManifestTable.snapshot(spark, dir)
    assert(after.operation == "merge-into")
    assert(before.files.map(_.path).toSet.subsetOf(
      after.files.map(_.path).toSet), "INSERT-only merge must not rewrite")
    val got = ManifestTable.read(spark, dir)
      .where(col("k1").isin(300L, -1L)).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
      .toSet
    assert(got == Set((300L, null), (-1L, null)),
      "unnamed INSERT columns are NULL; null-key source rows insert")
    // structurally no-op merge: nothing matched, nothing inserted
    val h = ManifestTable.snapshot(spark, dir)
    val src2 = Seq((9999L, 9L, "z")).toDF("k1", "k2", "v")
    val s = MergeInto(spark, dir, src2, Seq("k1", "k2"),
      matched = Seq(WhenMatched(Delete)))
    assert(s.version == h.version, "merge touching nothing commits nothing")
    // all-matched INSERT-only merge: the insert frame is empty, so no
    // version commits and its stage dir is dropped
    def stageDirs = new java.io.File(dir, ManifestTable.DataDir).list().toSet
    val dirsBefore = stageDirs
    val s3 = MergeInto(spark, dir, Seq((1L, 0L, "dup")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), notMatched = Seq(WhenNotMatched(InsertAll)))
    assert(s3.version == h.version && stageDirs == dirsBefore,
      "all-matched INSERT-only merge commits nothing and leaves no stage dir")
  }

  test("MERGE INTO rebases over a concurrent merge on a DISJOINT key " +
    "range; a concurrent file overlapping the source range on every " +
    "key column conflicts") {
    import spark.implicits._
    val dir = freshDir("rebase")
    def kv(r: Seq[(Long, Long, String)]) = r.toDF("k1", "k2", "v").coalesce(1)
    ManifestTable.create(spark, dir, kv((1L to 10L).map(i => (i, 0L, "low"))),
      statsCols = Seq("k1", "k2"))
    ManifestTable.append(spark, dir,
      kv((100L to 110L).map(i => (i, 0L, "high"))))
    val upd = Seq(WhenMatched(UpdateAll))
    def stale(head: ManifestTable.Snapshot, k1: Long, v: String) =
      MergeInto.applyAt(spark, dir, head, kv(Seq((k1, 0L, v))),
        Seq("k1", "k2"), upd, Nil, Nil, schemaEvolution = false)
    val h0 = ManifestTable.snapshot(spark, dir)
    // concurrent merge rewrites the HIGH file
    MergeInto(spark, dir, kv(Seq((100L, 0L, "HIGH"))), Seq("k1", "k2"),
      matched = upd)
    // stale merge on the LOW range: its touched file is still live and
    // the concurrent merge's staged file is bounds-disjoint ⇒ rebase
    val snap = stale(h0, 1L, "LOW")
    assert(snap.parent == h0.version + 1)
    val got = rows(dir)
    assert(got((1L, 0L, "LOW")) && got((100L, 0L, "HIGH")) &&
      got((2L, 0L, "low")))
    // a concurrent INSERT-only merge adds a file spanning k1 [2, 4] and
    // k2 [-1, 1]: it overlaps the stale source key (3, 0) on every key
    // column ⇒ read-write conflict, nothing committed
    val h1 = ManifestTable.snapshot(spark, dir)
    MergeInto(spark, dir, kv(Seq((2L, 1L, "ins"), (4L, -1L, "ins"))),
      Seq("k1", "k2"), notMatched = Seq(WhenNotMatched(InsertAll)))
    val e = intercept[ManifestTable.ConcurrentCommitException] {
      stale(h1, 3L, "THREE")
    }
    assert(e.getMessage.contains("read-write conflict"))
    assert(ManifestTable.snapshot(spark, dir).version == h1.version + 1)
    assert(rows(dir)((3L, 0L, "low")))
  }

  test("single-pass rewrite+insert (r18): a broadcast-sized merge with " +
    "matched AND not-matched clauses derives its inserts from the " +
    "rewrite pass's own observe — touched files are scanned once — " +
    "and the result is identical to the two-scan fallback path") {
    import spark.implicits._
    val dirFast = freshDir("sp_fast")
    val dirSlow = freshDir("sp_slow")
    seed(dirFast)
    seed(dirSlow)
    // a trivially-true constraint pins dirSlow to the fallback path
    // (enforcement needs the insert frame before staging)
    ManifestTable.alterConstraints(spark, dirSlow,
      add = Map("always" -> "k1 IS NOT NULL OR k1 IS NULL"))
    val source = Seq(
      (3L, 0L, "upd"),   // matched → UPDATE
      (7L, 1L, "upd"),   // matched → UPDATE
      (50L, 0L, "new"),  // unmatched → INSERT
      (60L, 1L, "new"),  // unmatched → INSERT
      (60L, 1L, null.asInstanceOf[String]) // duplicate unmatched key:
        // inserts independently (cardinality rule is matched-only)
    ).toDF("k1", "k2", "v")
    def run(dir: String): Long = {
      val before = MergeInto.singlePassMerges.get()
      MergeInto(spark, dir, source, Seq("k1", "k2"),
        matched = Seq(WhenMatched(UpdateAll)),
        notMatched = Seq(WhenNotMatched(InsertAll)))
      MergeInto.singlePassMerges.get() - before
    }
    assert(run(dirFast) == 1L,
      "constraint-free broadcast-sized merge must take the single-pass path")
    assert(run(dirSlow) == 0L,
      "constraint table must keep the enforce-before-stage fallback")
    val a = ManifestTable.read(spark, dirFast).select("k1", "k2", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, t._2, Option(t._3).getOrElse("")))
    val b = ManifestTable.read(spark, dirSlow).select("k1", "k2", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, t._2, Option(t._3).getOrElse("")))
    assert(a == b, "single-pass and fallback paths must agree exactly")
    assert(a.count(t => t._1 == 60L && t._2 == 1L) == 2,
      "duplicate unmatched source keys insert independently")
  }

  test("constraints gate the CHANGED rows before commit: a violating " +
    "UPDATE aborts with the table untouched") {
    import spark.implicits._
    val dir = freshDir("constraint")
    val df = (1L to 6L).map(i => (i, 0L, s"v$i")).toDF("k1", "k2", "v")
    ManifestTable.create(spark, dir, df.coalesce(1),
      statsCols = Seq("k1"),
      constraints = Map("v_nonempty" -> "length(v) > 0"))
    val before = ManifestTable.snapshot(spark, dir)
    intercept[ManifestTable.ConstraintViolationException] {
      MergeInto(spark, dir,
        Seq((2L, 0L, "")).toDF("k1", "k2", "v"), Seq("k1", "k2"),
        matched = Seq(WhenMatched(Update(Map("v" -> src("v"))))))
    }
    assert(ManifestTable.snapshot(spark, dir).version == before.version)
    assert(rows(dir)((2L, 0L, "v2")))
  }

  test("WHEN NOT MATCHED BY SOURCE: conditional UPDATE and DELETE on " +
    "unmatched target rows — the full sync-to-source matrix in one " +
    "commit; conditional clauses prune their file scope") {
    import spark.implicits._
    val dir = freshDir("bysrc")
    seed(dir) // keys (1..10) x (0,1)
    val source = Seq((3L, 0L, "s3", 1L), (4L, 0L, "s4", 1L))
      .toDF("k1", "k2", "v", "flag")
    // sync-to-source: matched rows update, unmatched k1<=2 rows delete,
    // unmatched k1>=9 rows get flagged, everything else passes through
    MergeInto(spark, dir, source, Seq("k1", "k2"),
      matched = Seq(WhenMatched(Update(Map("v" -> src("v"))))),
      notMatchedBySource = Seq(
        WhenNotMatchedBySource(Delete, condition = Some(col("k1") <= 2L)),
        WhenNotMatchedBySource(Update(Map("v" -> concat(col("v"), lit("*")))),
          condition = Some(col("k1") >= 9L))))
    val got = rows(dir)
    assert(got((3L, 0L, "s3")) && got((4L, 0L, "s4")), "matched UPDATE")
    assert(!got.exists(_._1 <= 2L), "BY SOURCE conditional DELETE")
    assert(got((9L, 0L, "a9*")) && got((10L, 1L, "b10*")),
      "BY SOURCE conditional UPDATE")
    assert(got((5L, 0L, "a5")) && got((3L, 1L, "b3")),
      "rows matching no clause pass through")
    assert(got.size == 20 - 4)
    // unconditional BY SOURCE DELETE = sync exactly to source
    val dir2 = freshDir("bysrc2")
    seed(dir2)
    MergeInto(spark, dir2,
      Seq((1L, 0L, "one"), (2L, 1L, "two")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"),
      matched = Seq(WhenMatched(UpdateAll)),
      notMatchedBySource = Seq(WhenNotMatchedBySource(Delete)))
    assert(rows(dir2) == Set((1L, 0L, "one"), (2L, 1L, "two")))
  }

  test("an empty merge probe costs no extra job: an all-new-keys CDC " +
    "upsert and a MERGE INTO whose source falls in no file's bounds " +
    "never count the source") {
    import spark.implicits._
    // jobs `body` submits
    def jobsOf(body: => Unit): Int =
      graft.metrics.Ledger.of(spark).measure(body)._2("exec.jobs").toInt
    val cdc = freshDir("empty_probe_cdc")
    ManifestTable.create(spark, cdc,
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), statsCols = Seq("k"))
    val upsert = (101L to 110L).map(i => (i, s"n$i")).toDF("k", "v")
    val cdcJobs = jobsOf(ManifestTable.merge(spark, cdc, upsert, "k"))
    assert(ManifestTable.read(spark, cdc).select("k").collect()
      .map(_.getLong(0)).toSet == ((1L to 20L) ++ (101L to 110L)).toSet)
    val minto = freshDir("empty_probe_minto")
    seed(minto)
    val fresh = (101L to 105L).map(i => (i, 0L, s"n$i")).toDF("k1", "k2", "v")
    val mintoJobs = jobsOf(MergeInto(spark, minto, fresh, Seq("k1", "k2"),
      matched = Seq(WhenMatched(UpdateAll)),
      notMatched = Seq(WhenNotMatched(InsertAll))))
    assert(rows(minto) == (1L to 10L).flatMap(i =>
      Seq((i, 0L, s"a$i"), (i, 1L, s"b$i"))).toSet ++
      (101L to 105L).map(i => (i, 0L, s"n$i")))
    // each: the source window and the probe's interval join and
    // distinct (AQE runs a stage per job), then the staging write; the
    // empty probe's dropped observation must not add a source count()
    info(s"jobs: CDC upsert $cdcJobs, MERGE INTO $mintoJobs")
    assert(cdcJobs <= 5 && mintoJobs <= 5,
      s"jobs: CDC upsert $cdcJobs, MERGE INTO $mintoJobs")
  }
}

object MergeIntoSpec {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.DecimalType

  /** Brute-force reference for the merge probe: the paths of the files
    * in `snap` whose manifest bounds admit some source key on EVERY
    * bounded key column. Decimal bounds are unscaled footer integers
    * the probe does not read, so a decimal column bounds nothing. */
  def referenceTouched(snap: ManifestTable.Snapshot, keys: Seq[String],
      srcKeys: Seq[Row]): Set[String] = {
    val schema = snap.schema
    def prim(v: Any): Any = v match {
      case x: Int => x.toLong
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case x => x
    }
    def admits(f: ManifestTable.FileEntry, r: Row): Boolean =
      keys.zipWithIndex.forall { case (k, j) =>
        ManifestTable.fileBounds(f, schema, k) match {
          case Some((mn, mx)) if !schema(k).dataType.isInstanceOf[DecimalType] =>
            !r.isNullAt(j) && !ManifestTable.primLt(prim(r.get(j)), mn) &&
              !ManifestTable.primLt(mx, prim(r.get(j)))
          case _ => true
        }
      }
    snap.files.filter(f => srcKeys.exists(admits(f, _))).map(_.path).toSet
  }
}
