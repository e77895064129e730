package graft.sources

import graft.SparkSuite
import graft.table.ManifestTable
import org.apache.spark.sql.functions._

/** Laws of the graft TABLE CATALOG: the plain-SQL lifecycle (CREATE
  * NAMESPACE/TABLE/CTAS, INSERT, SELECT, VERSION/TIMESTAMP AS OF,
  * ALTER DROP COLUMN, RENAME, DROP) against a warehouse directory,
  * interoperating with the Scala facade on the same dirs. */
class GraftCatalogSpec extends SparkSuite {

  private lazy val wh: String = {
    val p = java.nio.file.Files.createTempDirectory("gcat_wh")
    p.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.lake", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", p.toString)
    p.toString
  }

  test("CREATE NAMESPACE / CREATE TABLE / INSERT / SELECT / SHOW; the " +
    "table is a plain manifest table the facade reads too") {
    wh
    spark.sql("CREATE NAMESPACE lake.bronze")
    spark.sql("CREATE TABLE lake.bronze.kv (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('option.statsCols' = 'k')")
    spark.sql("INSERT INTO lake.bronze.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO lake.bronze.kv VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) AS n FROM lake.bronze.kv")
      .head().getLong(0) == 3L)
    assert(spark.sql("SHOW TABLES IN lake.bronze").collect()
      .map(_.getString(1)).contains("kv"))
    // interop: the SQL-created table is a plain manifest table
    val dir = s"$wh/bronze/kv"
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.statsCols == Seq("k"), "TBLPROPERTIES option applied")
    assert(snap.version == 2L, "CREATE + two INSERT commits")
    assert(ManifestTable.read(spark, dir).count() == 3L)
    // facade write is visible to SQL immediately (no metastore cache)
    ManifestTable.append(spark, dir,
      spark.sql("SELECT CAST(9 AS BIGINT) AS k, 'z' AS v"))
    assert(spark.sql("SELECT count(*) FROM lake.bronze.kv")
      .head().getLong(0) == 4L)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF resolve " +
    "through the manifest log") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.tt")
    spark.sql("CREATE TABLE lake.tt.t (k BIGINT) " +
      "TBLPROPERTIES ('option.statsCols' = 'k')")
    spark.sql("INSERT INTO lake.tt.t VALUES (1), (2)") // v1
    val ts1 = ManifestTable.snapshot(spark, s"$wh/tt/t").ts
    spark.sql("INSERT INTO lake.tt.t VALUES (3)") // v2
    assert(spark.sql("SELECT count(*) FROM lake.tt.t").head().getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) FROM lake.tt.t VERSION AS OF 1")
      .head().getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM lake.tt.t VERSION AS OF 0")
      .head().getLong(0) == 0L)
    val tsLit = java.time.Instant.ofEpochMilli(ts1).toString
    assert(spark.sql(
      s"SELECT count(*) FROM lake.tt.t TIMESTAMP AS OF '$tsLit'")
      .head().getLong(0) == 2L)
  }

  test("CTAS, partitioned create, ALTER DROP COLUMN, RENAME, DROP") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.silver")
    spark.sql("CREATE TABLE lake.silver.src AS " +
      "SELECT id AS k, id % 3 AS g, CAST(id * 10 AS STRING) AS v " +
      "FROM range(30)")
    assert(spark.sql("SELECT count(*) FROM lake.silver.src")
      .head().getLong(0) == 30L)
    // CTAS is ONE staged commit (r18): the data IS version 0 — no
    // create-empty + append pair, half the commit cost at every CTAS
    val ctasHist = ManifestTable.history(spark, s"$wh/silver/src")
    assert(ctasHist.map(_.version) == Seq(0L),
      s"CTAS must commit exactly once, got ${ctasHist.map(_.version)}")
    assert(ctasHist.head.totalRows == 30L)
    // partitioned create: partition values recorded per file
    spark.sql("CREATE TABLE lake.silver.byg (k BIGINT, g BIGINT) " +
      "PARTITIONED BY (g)")
    spark.sql("INSERT INTO lake.silver.byg SELECT id, id % 2 FROM range(10)")
    val snap = ManifestTable.snapshot(spark, s"$wh/silver/byg")
    assert(snap.partitionCols == Seq("g"))
    assert(snap.files.forall(_.partitions.contains("g")))
    // partition-pruned SQL read
    assert(spark.sql("SELECT count(*) FROM lake.silver.byg WHERE g = 0")
      .head().getLong(0) == 5L)
    // ALTER DROP COLUMN rides the metadata commit
    spark.sql("ALTER TABLE lake.silver.src DROP COLUMN v")
    assert(spark.sql("SELECT * FROM lake.silver.src").columns.toSeq ==
      Seq("k", "g"))
    // RENAME moves the directory
    spark.sql("ALTER TABLE lake.silver.src RENAME TO lake.silver.src2")
    assert(spark.sql("SELECT count(*) FROM lake.silver.src2")
      .head().getLong(0) == 30L)
    intercept[Exception](spark.sql("SELECT * FROM lake.silver.src").collect())
    // DROP deletes the table
    spark.sql("DROP TABLE lake.silver.src2")
    assert(!spark.sql("SHOW TABLES IN lake.silver").collect()
      .map(_.getString(1)).contains("src2"))
  }

  test("SQL DML on catalog tables: DELETE FROM (touched-files rewrite " +
    "commit), TRUNCATE (atomic, history preserved), ALTER ADD COLUMN " +
    "(metadata commit, old rows read NULL)") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.dml")
    spark.sql("CREATE TABLE lake.dml.t TBLPROPERTIES " +
      "('option.statsCols' = 'k') AS SELECT id AS k, id % 7 AS g " +
      "FROM range(1000)")
    val dir = s"$wh/dml/t"
    val before = ManifestTable.snapshot(spark, dir)
    // DELETE with a compound predicate (strict conversion required)
    spark.sql("DELETE FROM lake.dml.t WHERE k < 100 AND g = 3")
    val expect = (0L until 1000L).count(i => !(i < 100 && i % 7 == 3))
    assert(spark.sql("SELECT count(*) FROM lake.dml.t").head().getLong(0)
      == expect)
    assert(ManifestTable.snapshot(spark, dir).operation == "delete")
    // ALTER ADD COLUMN: metadata commit; existing rows read NULL
    spark.sql("ALTER TABLE lake.dml.t ADD COLUMN note STRING")
    val snap2 = ManifestTable.snapshot(spark, dir)
    assert(snap2.operation.startsWith("add@") &&
      snap2.files == ManifestTable.snapshot(spark, dir,
        Some(snap2.version - 1)).files, "ADD COLUMN must move no data")
    assert(spark.sql(
      "SELECT count(*) FROM lake.dml.t WHERE note IS NULL")
      .head().getLong(0) == expect)
    spark.sql("INSERT INTO lake.dml.t VALUES (5000, 1, 'tagged')")
    assert(spark.sql(
      "SELECT note FROM lake.dml.t WHERE k = 5000").head().getString(0)
      == "tagged")
    // TRUNCATE: empty head, time travel intact
    spark.sql("TRUNCATE TABLE lake.dml.t")
    assert(spark.sql("SELECT count(*) FROM lake.dml.t").head().getLong(0)
      == 0L)
    assert(spark.sql(
      s"SELECT count(*) FROM lake.dml.t VERSION AS OF ${before.version}")
      .head().getLong(0) == 1000L, "history must survive TRUNCATE")
  }

  test("ALTER TABLE RENAME COLUMN via SQL: metadata-only, old files " +
    "answer under the new name, time travel keeps each version's names") {
    wh
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.rn")
    val dir = s"$wh/rn/t"
    spark.sql("CREATE TABLE lake.rn.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('option.statsCols' = 'k')")
    spark.sql("INSERT INTO lake.rn.t VALUES (1, 'a'), (2, 'b')") // v1
    val before = ManifestTable.snapshot(spark, dir)
    spark.sql("ALTER TABLE lake.rn.t RENAME COLUMN v TO label") // v2
    val after = ManifestTable.snapshot(spark, dir)
    assert(after.files == before.files, "RENAME must move no data")
    assert(after.renames == Map("label" -> Vector("v")))
    // SQL reads resolve pre-rename files under the new name
    assert(spark.sql("SELECT label FROM lake.rn.t WHERE k = 1")
      .head().getString(0) == "a")
    // post-rename INSERT writes the new physical name; mixed read agrees
    spark.sql("INSERT INTO lake.rn.t VALUES (3, 'c')")
    assert(spark.sql(
      "SELECT count(*) FROM lake.rn.t WHERE label IS NOT NULL")
      .head().getLong(0) == 3L)
    // time travel across the rename: v1 still answers under 'v'
    assert(spark.sql("SELECT v FROM lake.rn.t VERSION AS OF 1 WHERE k = 2")
      .head().getString(0) == "b")
    // and SQL UPDATE composes with the renamed column
    spark.sql("UPDATE lake.rn.t SET label = 'A' WHERE k = 1")
    assert(spark.sql("SELECT label FROM lake.rn.t WHERE k = 1")
      .head().getString(0) == "A")
  }

  test("SQL constraint DDL: ADD CONSTRAINT CHECK validates existing " +
    "data and gates every later write; DROP CONSTRAINT frees it; " +
    "CALL system.clone is the zero-copy test-on-prod primitive") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.cst")
    val dir = s"$wh/cst/t"
    spark.sql("CREATE TABLE lake.cst.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('option.statsCols' = 'k')")
    spark.sql("INSERT INTO lake.cst.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE lake.cst.t ADD CONSTRAINT k_pos CHECK (k > 0)")
    assert(ManifestTable.snapshot(spark, dir).constraints
      .get("k_pos").exists(_.contains("k")))
    // the constraint gates SQL writes (engine-enforced, not advisory)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO lake.cst.t VALUES (-5, 'bad')")
    }
    assert(String.valueOf(e.getMessage).contains("k_pos") ||
      String.valueOf(e.getCause).contains("k_pos"))
    assert(spark.sql("SELECT count(*) FROM lake.cst.t").head().getLong(0)
      == 2L, "a rejected INSERT must commit nothing")
    // adding a constraint the existing data violates is refused —
    // Spark's own ALTER path pre-validates (NEW_CHECK_CONSTRAINT_
    // VIOLATION) before the catalog commit; either gate must fire
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE lake.cst.t ADD CONSTRAINT k_big CHECK (k > 10)")
    }
    val msg2 = String.valueOf(e2.getMessage) + String.valueOf(e2.getCause)
    assert(msg2.contains("k_big") ||
      msg2.contains("CHECK_CONSTRAINT_VIOLATION"))
    assert(!ManifestTable.snapshot(spark, dir).constraints.contains("k_big"),
      "a refused constraint must not land in the table spec")
    // DROP CONSTRAINT frees the gate
    spark.sql("ALTER TABLE lake.cst.t DROP CONSTRAINT k_pos")
    spark.sql("INSERT INTO lake.cst.t VALUES (-5, 'now ok')")
    assert(spark.sql("SELECT count(*) FROM lake.cst.t").head().getLong(0)
      == 3L)
    // zero-copy clone through SQL: same content, independent life
    spark.sql("CALL lake.system.clone(table => 'cst.t', " +
      "target => 'cst.t2')")
    assert(spark.sql("SELECT count(*) FROM lake.cst.t2").head().getLong(0)
      == 3L)
    spark.sql("INSERT INTO lake.cst.t2 VALUES (99, 'clone only')")
    assert(spark.sql("SELECT count(*) FROM lake.cst.t").head().getLong(0)
      == 3L, "the source must never see the clone's writes")
    assert(spark.sql("SELECT count(*) FROM lake.cst.t2").head().getLong(0)
      == 4L)
  }

  test("SQL maintenance procedures: CALL system.compact/zorder/vacuum/" +
    "purge_vectors/restore/checkpoint drive the facade operations") {
    wh
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.mnt")
    val dir = s"$wh/mnt/t"
    // small-file pathology: 5 append commits of one small file each
    spark.sql("CREATE TABLE lake.mnt.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('option.statsCols' = 'k')")
    (0L to 4L).foreach { i =>
      ManifestTable.append(spark, dir,
        (i * 100L until (i + 1) * 100L).map(j => (j, j % 7)).toDF("k", "v"))
    }
    val before = ManifestTable.snapshot(spark, dir)
    assert(before.files.size >= 5)
    // compact: one packed layout commit, contents untouched
    spark.sql("CALL lake.system.compact(table => 'mnt.t')")
    val packed = ManifestTable.snapshot(spark, dir)
    assert(packed.operation == "compact" &&
      packed.files.size < before.files.size)
    assert(spark.sql("SELECT count(*) FROM lake.mnt.t").head().getLong(0)
      == 500L)
    // zorder: rewrites ALL files in z-order on (k, v)
    spark.sql("CALL lake.system.zorder(table => 'mnt.t', " +
      "columns => 'k,v')")
    assert(ManifestTable.snapshot(spark, dir).operation == "compact")
    // deletion vector + purge_vectors
    ManifestTable.deleteVector(spark, dir, col("k") === 7L)
    assert(ManifestTable.snapshot(spark, dir).dvs.nonEmpty)
    spark.sql("CALL lake.system.purge_vectors(table => 'mnt.t')")
    assert(ManifestTable.snapshot(spark, dir).dvs.isEmpty)
    assert(spark.sql("SELECT count(*) FROM lake.mnt.t").head().getLong(0)
      == 499L)
    // restore: metadata rollback to the packed version
    spark.sql(s"CALL lake.system.restore(table => 'mnt.t', " +
      s"version => ${packed.version})")
    assert(spark.sql("SELECT count(*) FROM lake.mnt.t").head().getLong(0)
      == 500L)
    assert(ManifestTable.snapshot(spark, dir).operation
      == s"restore@v${packed.version}")
    // checkpoint: forces a c-file at the head version
    val head = ManifestTable.snapshot(spark, dir)
    spark.sql("CALL lake.system.checkpoint(table => 'mnt.t')")
    val lp = new org.apache.hadoop.fs.Path(dir, "_graft_log")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(lp,
      f"c${head.version}%020d.json")))
    // vacuum: history below the horizon is gone, the head reads fine
    spark.sql("CALL lake.system.vacuum(table => 'mnt.t', keep_last => 1)")
    assert(ManifestTable.history(spark, dir).size == 1)
    assert(spark.sql("SELECT count(*) FROM lake.mnt.t").head().getLong(0)
      == 500L)
    // history RETURNS rows (DESCRIBE HISTORY through a LocalScan)
    val hist = spark.sql("CALL lake.system.history(table => 'mnt.t')")
    assert(hist.columns.toSeq == Seq("version", "operation", "ts_millis",
      "n_files", "n_rows", "n_bytes"))
    val hrows = hist.collect()
    assert(hrows.length == 1, "post-vacuum history is the head only")
    assert(hrows.head.getString(1).startsWith("restore@"))
    assert(hrows.head.getLong(4) == 500L)
    // unknown procedure fails loudly
    val e = intercept[Exception] {
      spark.sql("CALL lake.system.nope(table => 'mnt.t')")
    }
    assert(String.valueOf(e.getMessage).contains("no procedure") ||
      String.valueOf(e.getCause).contains("no procedure"))
  }

  test("scoped compact (OPTIMIZE ... WHERE): CALL system.compact with a " +
    "predicate packs only the files whose bounds may match — the other " +
    "partition's files carry over by reference, contents exact") {
    wh
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.sc")
    val dir = s"$wh/sc/t"
    ManifestTable.create(spark, dir,
      (0L until 100L).map(i => (i, i % 2)).toDF("k", "p")
        .repartitionByRange(2, col("p")),
      statsCols = Seq("k"), partitionCols = Seq("p"))
    // three more small files per partition
    (1 to 3).foreach { g =>
      ManifestTable.append(spark, dir,
        (0L until 50L).map(i => (g * 1000L + i, i % 2)).toDF("k", "p")
          .repartitionByRange(2, col("p")))
    }
    val before = ManifestTable.snapshot(spark, dir)
    val p1Before = before.files.filter(
      _.partitions.get("p").flatten.contains("1")).map(_.path).toSet
    assert(before.files.size >= 8 && p1Before.size >= 4)
    spark.sql("CALL lake.system.compact(table => 'sc.t', " +
      "predicate => 'p = 0')")
    val after = ManifestTable.snapshot(spark, dir)
    assert(after.operation == "compact")
    val p1After = after.files.filter(
      _.partitions.get("p").flatten.contains("1")).map(_.path).toSet
    assert(p1After == p1Before,
      "out-of-scope partition files must carry over by reference")
    val p0After = after.files.filterNot(f => p1After(f.path))
    assert(p0After.size < before.files.size - p1Before.size,
      "in-scope partition must actually pack")
    assert(spark.sql("SELECT count(*), sum(k) FROM lake.sc.t").head()
      .getLong(0) == 250L)
    // facade twin of the same scoping decision
    val kept = ManifestTable.compact(spark, dir,
      where = Some(col("p") === 99L))
    assert(kept.version == after.version, "no-match scope is a no-op")
  }

  test("CALL system.detail: one row of snapshot totals, spec, DV " +
    "pressure and checkpoint health — a failed checkpoint surfaces as " +
    "a stale last_checkpoint, a growing replay_len and a counted " +
    "failure") {
    wh
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.det")
    val dir = s"$wh/det/t"
    spark.sql("CREATE TABLE lake.det.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('option.statsCols' = 'k')")
    spark.sql("INSERT INTO lake.det.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    ManifestTable.deleteVector(spark, dir, col("k") === 2L)
    def detail() = spark.sql("CALL lake.system.detail(table => 'det.t')")
      .collect().head
    val d0 = detail()
    assert(d0.getAs[Long]("n_rows") == 3L, "physical rows (pre-DV)")
    assert(d0.getAs[Long]("n_dv_files") == 1L &&
      d0.getAs[Long]("max_dv_stack") == 1L)
    assert(d0.getAs[String]("stats_cols") == "k")
    assert(d0.getAs[Long]("last_checkpoint") == -1L)
    assert(d0.getAs[Long]("replay_len") == d0.getAs[Long]("version") + 1,
      "no checkpoint yet: a cold read replays the whole retained log")
    // a FAILED checkpoint write is visible: counter up, horizon stale
    val fails0 = d0.getAs[Long]("ckpt_write_failures")
    ManifestTable.failNextCheckpoint = true
    intercept[RuntimeException](
      spark.sql("CALL lake.system.checkpoint(table => 'det.t')"))
    assert(detail().getAs[Long]("ckpt_write_failures") >= fails0,
      "manual checkpoint failures throw; publish-path ones are counted " +
        "per table")
    assert(detail().getAs[Long]("last_checkpoint") == -1L)
    // the healed checkpoint collapses the replay suffix to 1
    spark.sql("CALL lake.system.checkpoint(table => 'det.t')")
    val d1 = detail()
    assert(d1.getAs[Long]("last_checkpoint") == d1.getAs[Long]("version"))
    assert(d1.getAs[Long]("replay_len") == 0L ||
      d1.getAs[Long]("replay_len") == 1L)
  }

  test("an aborted CTAS deletes exactly its stage dir: no bytes remain " +
    "under the table dir and no table appears") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsWrite}
    import org.apache.spark.sql.connector.write.V1Write
    val root = java.nio.file.Files.createTempDirectory("gcat_abort")
    root.toFile.deleteOnExit()
    val cat = new GraftCatalog
    cat.initialize("abort", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(Map("warehouse" -> root.toString).asJava))
    val data = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
    val staged = cat.stageCreate(Identifier.of(Array.empty[String], "t"),
      data.schema, Array.empty, Map("option.statsCols" -> "k").asJava)
    staged.asInstanceOf[SupportsWrite].newWriteBuilder(null).build()
      .asInstanceOf[V1Write].toInsertableRelation.insert(data, false)
    val tableDir = root.resolve("t")
    def bytesUnder(p: java.nio.file.Path): Long =
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally walk.close()
      }
    assert(bytesUnder(tableDir) > 0L, "the write must have staged data")
    staged.abortStagedChanges()
    assert(bytesUnder(tableDir) == 0L, "an aborted CTAS must leave no bytes")
    assert(ManifestTable.latestVersion(spark, tableDir.toString).isEmpty)
  }
}
