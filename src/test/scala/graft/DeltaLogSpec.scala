package graft.table

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Laws of the DELTA-PRICED commit log (round-15 headline): every
  * commit writes only its {added, removed, dv-diff, metadata} record,
  * full checkpoints amortize the live-file listing, and reconstruction
  * is exact through any operation mix.
  *
  *  - commit bytes ∝ touched files, NOT live files — the 100×-scale law
  *    (a needle delete on a many-file table writes a KB, not the
  *    listing);
  *  - publish returns the canonical replay form: the snapshot an
  *    independent reader reconstructs is EQUAL to what the committer
  *    got back, version by version, through create / append / delete /
  *    update / deleteVector / merge / restore / compact;
  *  - checkpoints are an optimization, never a correctness dependency
  *    (deleting one still reconstructs from the delta chain);
  *  - vacuum checkpoints the horizon BEFORE deleting any log entry, so
  *    every kept version stays readable and older ones fail loudly;
  *  - streaming replay marks are PER WRITER (txnAppId pattern): a
  *    second query restarting batch ids at 0 lands instead of being
  *    silently dropped against a foreign high-water mark. */
class DeltaLogSpec extends SparkSuite {

  private def freshDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"dlog_$tag")
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

  private def logFiles(dir: String): Map[String, Long] = {
    val lp = new Path(dir, "_graft_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(lp).map(s => s.getPath.getName -> s.getLen).toMap
  }

  test("commit bytes are proportional to touched files, not live files: " +
    "a needle delete on a 40-file table writes a KB-sized record") {
    val dir = freshDir("bytes")
    val df = kv((1L to 4000L).map(i => i -> s"row$i"))
      .repartitionByRange(40, col("k"))
    ManifestTable.create(spark, dir, df, statsCols = Seq("k"))
    val v0 = ManifestTable.snapshot(spark, dir)
    assert(v0.files.size == 40)
    // needle delete: bounds admit exactly one file
    ManifestTable.delete(spark, dir, col("k") === 7L)
    val sizes = logFiles(dir)
    val createBytes = sizes("v00000000000000000000.json")
    val deleteBytes = sizes("v00000000000000000001.json")
    // the create lists 40 adds; the delete records 1 removed path +
    // 1 added file — it must be FAR smaller than the create, and
    // absolutely small (no live-file listing hidden inside)
    assert(deleteBytes * 10 < createBytes,
      s"delete record $deleteBytes B vs create $createBytes B")
    assert(deleteBytes < 4096, s"needle-delete record is $deleteBytes B")
    // a deletion-vector needle is even cheaper: no file entry at all
    ManifestTable.deleteVector(spark, dir, col("k") === 9L)
    val dvBytes = logFiles(dir)("v00000000000000000002.json")
    assert(dvBytes < 2048, s"dv-delete record is $dvBytes B")
    // and correctness is untouched
    assert(!content(dir).exists { case (k, _) => k == 7L || k == 9L })
    assert(content(dir).size == 3998)
  }

  test("publish returns the canonical replay form: an independent " +
    "reconstruction equals the committer's snapshot at every version " +
    "across the full operation mix") {
    val dir = freshDir("replay")
    import spark.implicits._
    val committed = Vector.newBuilder[ManifestTable.Snapshot]
    committed += ManifestTable.create(spark, dir,
      kv((1L to 200L).map(i => i -> s"v$i")).repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    committed += ManifestTable.append(spark, dir,
      kv((201L to 250L).map(i => i -> s"v$i")))
    committed += ManifestTable.delete(spark, dir, col("k") > 240L)
    committed += ManifestTable.update(spark, dir, col("k") === 5L,
      Map("v" -> lit("FIVE")))
    committed += ManifestTable.deleteVector(spark, dir, col("k") === 17L)
    committed += ManifestTable.merge(spark, dir,
      Seq((30L, "m30", "U"), (31L, "", "D")).toDF("k", "v", "_op"),
      "k", opCol = Some("_op"))
    committed += ManifestTable.restore(spark, dir, 2L)
    committed += ManifestTable.alterConstraints(spark, dir,
      add = Map("k_pos" -> "k > 0"))
    committed += ManifestTable.compact(spark, dir,
      smallBytes = 1L << 30, targetBytes = 1L << 30)
    val snaps = committed.result()
    // reconstruction equality, snapshot by snapshot (case-class deep
    // equality: files, stats, row groups, dvs, constraints, ts, all)
    snaps.foreach { s =>
      val re = ManifestTable.snapshot(spark, dir, Some(s.version))
      assert(re == s, s"v${s.version} reconstruction diverged")
    }
    // and history() (the forward fold) agrees with per-version reads
    assert(ManifestTable.history(spark, dir) == snaps)
  }

  test("a checkpoint lands every 16 commits; reconstruction works on " +
    "both sides of it and survives the checkpoint being deleted") {
    val dir = freshDir("ckpt")
    ManifestTable.create(spark, dir, kv(Seq(0L -> "r0")))
    (1L to 20L).foreach { i =>
      ManifestTable.append(spark, dir, kv(Seq(i -> s"r$i")))
    }
    val names = logFiles(dir).keySet
    assert(names.contains("c00000000000000000016.json"),
      s"no checkpoint in $names")
    def at(v: Long): Set[(Long, String)] =
      ManifestTable.readVersion(spark, dir, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at(15) == (0L to 15L).map(i => (i, s"r$i")).toSet)
    assert(at(16) == (0L to 16L).map(i => (i, s"r$i")).toSet)
    assert(at(20) == (0L to 20L).map(i => (i, s"r$i")).toSet)
    // the checkpoint is an OPTIMIZATION: deleting it must not change
    // any answer (the delta chain is still complete)
    val lp = new Path(dir, "_graft_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(lp, "c00000000000000000016.json"), false)
    assert(at(20) == (0L to 20L).map(i => (i, s"r$i")).toSet)
    assert(ManifestTable.history(spark, dir).size == 21)
  }

  test("vacuum checkpoints the horizon before deleting log entries: " +
    "kept versions stay readable, vacuumed ones fail loudly") {
    val dir = freshDir("vac")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    (2L to 6L).foreach { i =>
      ManifestTable.overwrite(spark, dir, kv(Seq(i -> s"x$i")))
    }
    ManifestTable.vacuum(spark, dir, keepLast = 3)
    // horizon = v3; its delta parent chain (v0..v2) is gone, so only
    // the vacuum-written checkpoint can make it readable
    assert(logFiles(dir).keySet.contains("c00000000000000000003.json"))
    def at(v: Long): Set[(Long, String)] =
      ManifestTable.readVersion(spark, dir, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at(3) == Set(4L -> "x4"))
    assert(at(4) == Set(5L -> "x5"))
    assert(at(5) == Set(6L -> "x6"))
    intercept[Exception] { at(1) }
    assert(ManifestTable.history(spark, dir).map(_.version) == Seq(3L, 4L, 5L))
    // a fresh commit on the vacuumed table still works
    ManifestTable.append(spark, dir, kv(Seq(7L -> "y")))
    assert(content(dir) == Set(6L -> "x6", 7L -> "y"))
  }

  test("streaming replay marks are per writer: a second txn id " +
    "restarting at batch 0 lands; the same txn id replaying is a no-op") {
    val dir = freshDir("txns")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a")))
    val q1 = Some("query-1")
    val q2 = Some("query-2")
    ManifestTable.appendBatch(spark, dir, kv(Seq(2L -> "q1b0")), 0L, q1)
    ManifestTable.appendBatch(spark, dir, kv(Seq(3L -> "q1b1")), 1L, q1)
    // replay of q1's batch 1: structural no-op
    val replay = ManifestTable.appendBatch(spark, dir,
      kv(Seq(99L -> "dup")), 1L, q1)
    assert(replay.version == 2L)
    assert(content(dir) == Set(1L -> "a", 2L -> "q1b0", 3L -> "q1b1"))
    // a DIFFERENT writer starting at batch 0 must land (the r14 bug:
    // the table-global mark silently dropped it)
    ManifestTable.appendBatch(spark, dir, kv(Seq(4L -> "q2b0")), 0L, q2)
    assert(content(dir).contains(4L -> "q2b0"))
    // marks survive unrelated commits and restore
    ManifestTable.append(spark, dir, kv(Seq(5L -> "plain")))
    ManifestTable.restore(spark, dir, 2L)
    val again = ManifestTable.appendBatch(spark, dir,
      kv(Seq(98L -> "dup2")), 1L, q1)
    assert(!content(dir).contains(98L -> "dup2"),
      "restore must not reopen committed batch ids")
    // legacy global mark still applies when no txn id is given
    val head = ManifestTable.appendBatch(spark, dir, kv(Seq(6L -> "g")), 5L)
    ManifestTable.appendBatch(spark, dir, kv(Seq(7L -> "g2")), 5L)
    assert(content(dir).contains(6L -> "g") && !content(dir).contains(7L -> "g2"))
    assert(head.txns.keySet == Set("query-1", "query-2"))
  }

  test("renameColumn is a metadata-only commit: old files answer under " +
    "the new name, appends write the new physical name, chains compose, " +
    "time travel and restore keep each version's own names") {
    import spark.implicits._
    val dir = freshDir("rename")
    ManifestTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(3, col("k")), statsCols = Seq("k"))
    val v0 = ManifestTable.snapshot(spark, dir)
    val snap = ManifestTable.renameColumn(spark, dir, "v", "label")
    // metadata only: the file set is IDENTICAL (no data IO)
    assert(snap.files == v0.files)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "label"))
    assert(snap.renames == Map("label" -> Vector("v")))
    // pre-rename files answer under the new name
    val got = ManifestTable.read(spark, dir).select("k", "label").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 100L).map(i => (i, s"v$i")).toSet)
    // filters on the renamed column are exact (rename-aware scan)
    assert(ManifestTable.read(spark, dir, col("label") === "v7")
      .count() == 1L)
    // appends write the NEW physical name; mixed-generation reads agree
    ManifestTable.append(spark, dir,
      Seq((101L, "fresh")).toDF("k", "label"))
    assert(ManifestTable.read(spark, dir)
      .where(col("label") === "fresh").count() == 1L)
    assert(ManifestTable.read(spark, dir).count() == 101L)
    // a second rename chains: label -> title covers both prior names
    val snap2 = ManifestTable.renameColumn(spark, dir, "label", "title")
    assert(snap2.renames == Map("title" -> Vector("label", "v")))
    val all = ManifestTable.read(spark, dir).select("title").collect()
      .map(_.getString(0)).toSet
    assert(all == ((1L to 100L).map(i => s"v$i").toSet + "fresh"))
    // the old names are reserved — additive evolution refuses them
    intercept[Exception] { ManifestTable.append(spark, dir,
      Seq((200L, "t", "ghost")).toDF("k", "title", "v")) }
    intercept[Exception] { ManifestTable.addColumns(spark, dir,
      Seq(org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType))) }
    // time travel: every version keeps ITS schema and answers
    assert(ManifestTable.readVersion(spark, dir, 0L)
      .select("v").count() == 100L)
    assert(ManifestTable.readVersion(spark, dir, 1L)
      .select("label").count() == 100L)
    // restore to pre-rename brings the old name back
    ManifestTable.restore(spark, dir, 0L)
    assert(ManifestTable.snapshot(spark, dir).schema.fieldNames.toSeq
      == Seq("k", "v"))
    assert(ManifestTable.read(spark, dir).select("v").count() == 100L)
  }

  test("renames compose with deletion vectors, update, merge and " +
    "changesStructural: the logical column is one column everywhere") {
    import spark.implicits._
    val dir = freshDir("rename_mix")
    ManifestTable.create(spark, dir,
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")), statsCols = Seq("k"))
    ManifestTable.renameColumn(spark, dir, "v", "label")
    // deleteVector with a filter on the RENAMED column must hit rows in
    // pre-rename files (the stageVector physical-read path)
    ManifestTable.deleteVector(spark, dir, col("label") === "v9")
    assert(ManifestTable.read(spark, dir).count() == 49L)
    assert(!ManifestTable.read(spark, dir).select("label").collect()
      .map(_.getString(0)).contains("v9"))
    // update on the renamed column (copy-on-write path)
    ManifestTable.update(spark, dir, col("k") === 10L,
      Map("label" -> lit("TEN")))
    assert(ManifestTable.read(spark, dir)
      .where(col("label") === "TEN").count() == 1L)
    // merge latest-wins through the renamed schema
    ManifestTable.merge(spark, dir,
      Seq((11L, "ELEVEN", "U")).toDF("k", "label", "_op"),
      "k", opCol = Some("_op"))
    assert(ManifestTable.read(spark, dir)
      .where(col("label") === "ELEVEN").count() == 1L)
    // structural changelog across the rename boundary surfaces rows
    // under the WIDE (renamed) schema
    val chg = ManifestTable.changesStructural(spark, dir, 0L, 1L)
    assert(chg.columns.toSeq == Seq("k", "label", "_change"))
    assert(chg.count() == 0L, "a pure rename moves no rows")
  }

  test("one vector per file: stacked needles on file A leave A one " +
    "vector, file B's vector is untouched, content is exact throughout") {
    import spark.implicits._
    val dir = freshDir("onevector")
    // two range files: needles land in file A (keys 1..50); file B
    // (keys 51..100) gets ONE vector that A's deletes must not touch
    ManifestTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")), statsCols = Seq("k"))
    val sB = ManifestTable.deleteVector(spark, dir, col("k") === 99L)
    val (fileB, vectorB) = sB.dvs.head
    (1L to 4L).foreach(i =>
      ManifestTable.deleteVector(spark, dir, col("k") === i))
    val after = ManifestTable.snapshot(spark, dir)
    val fileA = (after.dvs.keySet - fileB).head
    def pairs(rel: String): Long =
      spark.read.parquet(new Path(dir, rel).toString).count()
    assert(after.dvs.size == 2 && after.dvs.values.forall(_.size == 1),
      s"each vectored file has exactly one vector, got ${after.dvs}")
    assert(after.dvs(fileB) == vectorB, "file B keeps its vector")
    assert(pairs(after.dvs(fileA).head) == 4L)
    // content is exact: 100 - the 5 deleted keys
    def keys = ManifestTable.read(spark, dir).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(keys == ((1L to 100L).toSet -- Seq(1L, 2L, 3L, 4L, 99L)))
    // a delete on file B replaces B's vector and leaves A's
    val s2 = ManifestTable.deleteVector(spark, dir, col("k") === 60L)
    assert(s2.operation == "delete-dv" && s2.dvs(fileA) == after.dvs(fileA))
    assert(s2.dvs(fileB).size == 1 && s2.dvs(fileB) != vectorB &&
      pairs(s2.dvs(fileB).head) == 2L)
    assert(keys == ((1L to 100L).toSet -- Seq(1L, 2L, 3L, 4L, 60L, 99L)))
  }

  test("mergeBatch replay marks are per writer too") {
    import spark.implicits._
    val dir = freshDir("mtxn")
    ManifestTable.create(spark, dir, kv(Seq(1L -> "a", 2L -> "b")),
      statsCols = Seq("k"))
    val src = Seq((1L, "A1")).toDF("k", "v")
    ManifestTable.mergeBatch(spark, dir, src, "k", 0L,
      txnId = Some("m-1"))
    assert(content(dir) == Set(1L -> "A1", 2L -> "b"))
    // same writer replays: no-op even with different payload
    ManifestTable.mergeBatch(spark, dir, Seq((2L, "XX")).toDF("k", "v"),
      "k", 0L, txnId = Some("m-1"))
    assert(content(dir) == Set(1L -> "A1", 2L -> "b"))
    // a different writer's batch 0 lands
    ManifestTable.mergeBatch(spark, dir, Seq((2L, "B2")).toDF("k", "v"),
      "k", 0L, txnId = Some("m-2"))
    assert(content(dir) == Set(1L -> "A1", 2L -> "B2"))
  }
}
