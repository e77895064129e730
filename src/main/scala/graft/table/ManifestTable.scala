package graft.table

import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.parquet.column.statistics.{BinaryStatistics, DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or => COr}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal manifest-based ACID table format — the transactional seam a
  * 100 TB warehouse needs (atomic commit, snapshot isolation, time
  * travel, MERGE, partition/stats file pruning) built from nothing but
  * parquet data files + JSON manifests, because no Delta/Iceberg
  * connector jar ships in this offline image. The protocol is the
  * public log-structured design all of them share:
  *
  *   - Data files land under `data/<commitUuid>/` via a normal Spark
  *     parquet write. A data file is INVISIBLE until some manifest
  *     references it, so a writer crash at any point before publish
  *     leaves readers on the old snapshot (no torn state to clean —
  *     just orphaned bytes for vacuum()).
  *   - A commit record `_graft_log/v%020d.json` is a DELTA: the table
  *     metadata (schema, specs, constraints — all tiny) plus ONLY the
  *     file entries this commit added and the paths it removed, each
  *     added entry carrying row counts, per-column min/max stats
  *     harvested from the parquet FOOTERS (no data read-back), and —
  *     for partitioned tables — the file's partition values. Commit
  *     bytes are ∝ touched files: at 10⁶ live files a needle delete or
  *     a streaming micro-batch still writes a KB-sized record, never
  *     the live-file listing (the Delta-Lake actions-log shape).
  *   - A CHECKPOINT `_graft_log/c%020d.json` (the full live-file
  *     listing) is written every [[CheckpointInterval]] commits, at
  *     the vacuum horizon, and on demand — amortized, off the commit
  *     critical path (a crashed checkpoint writer only means the next
  *     reader replays a longer suffix).
  *   - Publish = write the delta to a dot-tmp name, then a
  *     NO-OVERWRITE rename onto the versioned name via
  *     [[FileContext]] (Options.Rename defaults to NONE). On HDFS
  *     that rename is the atomic putIfAbsent every open table format
  *     uses as its commit primitive; exactly one of two racing
  *     committers for version v wins, the loser gets
  *     [[ConcurrentCommitException]]. (Object stores without atomic
  *     rename need a commit service in front — same as Delta.)
  *   - Readers list `_graft_log` once, take the highest version (or
  *     the requested one — time travel), and reconstruct it from the
  *     latest checkpoint at or below it plus the ≤ CheckpointInterval
  *     delta suffix — O(interval) small JSON reads, independent of
  *     history length. A reader never sees a half-commit: the record
  *     appears atomically and the files it names were sealed before it
  *     was written. Snapshot isolation falls out: a long scan keeps
  *     using its snapshot's file list no matter how many commits land
  *     after.
  *
  * '''Partitioning''' is the Iceberg shape, not the Hive one: the
  * partition columns stay IN the data files (each file is
  * self-contained) and the per-file partition VALUES are recorded in
  * the manifest — the directory layout (`__p_<col>=<value>/`) is just
  * how the writer splits, never something the read path parses. A
  * partitioned file's bounds on its partition column are exact
  * (min = max = value), so partition pruning and stats pruning are the
  * same mechanism.
  *
  * '''Pruning''' happens on every read — head, time travel, streaming and
  * the commit-side scans of touched files — inside the scan's
  * [[ManifestFileIndex]], from the filters Catalyst pushes into it. It
  * walks the filter's Catalyst expression tree and keeps a file iff
  * the predicate MAY hold somewhere in [min, max] — conjunction
  * narrows, disjunction widens, anything unrecognized (or any column
  * without bounds) conservatively keeps the file, and the filter is
  * re-applied on the scan so pruning can only ever skip IO, never
  * change results. At 100 TB this is the difference between touching
  * one partition and touching every file: the decision runs on
  * manifest metadata only, one driver-side pass over |files| entries.
  *
  * MERGE is the latest-wins CDC shape (the q_cdc_apply relational
  * form) scoped to the TOUCHED files only: a file is rewritten iff the
  * source contains at least one key inside its [min, max] bounds for
  * the merge key (probed by one range join against the broadcast
  * file-interval table), untouched files carry over to the new
  * snapshot by reference — at 100 TB the rewrite cost is proportional
  * to the touched data, not the table. The rewrite itself is a
  * broadcast ANTI join (touched rows whose key appears in the source
  * are dropped, source winners appended) — the table side is never
  * shuffled. Re-applying the same source is content-idempotent
  * (latest-wins makes the second apply a no-op on the data).
  *
  * '''Local commits start no process.''' Without Hadoop's native
  * library the `file` scheme forks `chmod` for every file, `.crc`
  * sidecar and directory a write creates, and `ls -ld` for every
  * located status. On the local filesystem every write a commit stages
  * runs on [[NioLocalFileSystem]] (per-write Hadoop options, the
  * session's default filesystem untouched), the log records are written
  * checksum-free through it, and staged files are listed without
  * located statuses: a commit or maintenance op starts no process, and
  * what lands on disk (modes, `.crc` sidecars) is unchanged.
  *
  * Scale shape: every commit is one distributed parquet write + a
  * metadata-sized footer sweep + one tiny JSON rename; MERGE adds one
  * broadcast probe + one broadcast anti join over touched files only.
  * Nothing row-scale ever reaches the driver (the one collect is the
  * ≤ |files| touched-index probe).
  */
object ManifestTable {

  /** Two writers raced for the same snapshot version; the caller must
    * re-read the table state and retry its transaction. */
  final class ConcurrentCommitException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** A write carried rows violating a table CHECK constraint; nothing
    * was committed (enforcement runs before any data is staged). */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** CHECK enforcement: one combinable aggregate over the rows about
    * to be written, counting rows where each predicate is FALSE (NULL
    * passes — SQL CHECK semantics); any violation fails the whole
    * commit before a byte is staged. Cost: one validation pass over
    * the written rows only — never the table. */
  private[table] def enforce(df: DataFrame, constraints: Map[String, String],
      operation: String): Unit = {
    if (constraints.isEmpty) return
    val checks = constraints.toSeq.sortBy(_._1)
    val counters = checks.map { case (n, sql) =>
      sum(when(coalesce(expr(sql), lit(true)), 0L).otherwise(1L)).as(n)
    }
    val row = df.agg(counters.head, counters.tail: _*).head()
    val bad = checks.zipWithIndex.collect {
      case ((n, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n (CHECK $sql): ${row.getLong(i)} rows"
    }
    if (bad.nonEmpty) throw new ConstraintViolationException(
      s"$operation rejected by table constraints — ${bad.mkString("; ")}")
  }

  /** Footer min/max of one column in one file. `min`/`max` are the
    * column's pruning primitive: Long (integral, date-days,
    * timestamp-micros), Double (float/double) or String. Parquet may
    * truncate BINARY stats, but only outward (min rounds down, max
    * rounds up), so string bounds stay sound for pruning. */
  final case class ColStats(min: Any, max: Any)

  /** One parquet ROW GROUP inside a data file: its starting byte
    * offset and compressed size (the midpoint `offset + bytes/2` is
    * what a read split must cover — the parquet range-filter rule),
    * row count and per-column footer bounds. Recorded only for files
    * with more than one row group; pruning then skips row groups the
    * filter cannot match WITHOUT opening the file at all — at 100 TB
    * with 1 GB files and 128 MB row groups that is up to an ~8× finer
    * skip than file-level bounds. */
  final case class RowGroup(offset: Long, bytes: Long, rows: Long,
      stats: Map[String, ColStats] = Map.empty)

  /** MANIFEST-RESIDENT bloom bitset for one row group of one column
    * (r17 verdict #4): the parquet primitive type name + string flag
    * (exactly what probe hashing needs) and the BlockSplitBloomFilter
    * bitset verbatim — probing it is bit-identical to reading the same
    * filter out of the footer, so survivors can never differ between
    * the resident and footer paths. Content-equal (the bitset compares
    * by value) so snapshot/entry equality laws stay meaningful. */
  final case class BloomBits(typeName: String, isString: Boolean,
      bits: Array[Byte]) {
    override def equals(o: Any): Boolean = o match {
      case b: BloomBits => typeName == b.typeName &&
        isString == b.isString && java.util.Arrays.equals(bits, b.bits)
      case _ => false
    }
    override def hashCode: Int =
      (typeName.hashCode * 31 + (if (isString) 1 else 0)) * 31 +
        java.util.Arrays.hashCode(bits)
    /** May this row group contain any of `values`? Same hashing as the
      * footer path ([[bloomHashPrim]]); an unknown type name (corrupt
      * record) conservatively keeps the file. */
    private[table] def mayContain(values: Seq[Any]): Boolean =
      scala.util.Try {
        val bf = new org.apache.parquet.column.values.bloomfilter
          .BlockSplitBloomFilter(bits)
        val t = org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
          .valueOf(typeName)
        values.exists(v =>
          bloomHashPrim(bf, t, isString, v).forall(bf.findHash))
      }.getOrElse(true)
  }

  /** One live data file: root-relative path, exact row count, byte
    * size, per-column footer stats (a column absent from the map ⇒ the
    * file always survives pruning on it), — for partitioned
    * tables — the file's partition values as written (None value ⇒ the
    * null partition), and per-row-group bounds when the file has more
    * than one row group (see [[RowGroup]]). `blooms` is the
    * manifest-resident copy of the file's parquet bloom filters
    * (column → one entry per row group, None = that row group wrote no
    * testable filter), harvested at commit time when the file's total
    * bitset bytes fit [[bloomManifestBudgetBytes]] — a
    * needle plan then probes straight from the snapshot with ZERO
    * footer IO; files without resident state (pre-spec, or over
    * budget) keep the footer path. Advisory metadata: a reader that
    * ignores it only loses skipping, never correctness. */
  final case class FileEntry(path: String, rows: Long, bytes: Long,
      stats: Map[String, ColStats] = Map.empty,
      partitions: Map[String, Option[String]] = Map.empty,
      rgs: Vector[RowGroup] = Vector.empty,
      blooms: Map[String, Vector[Option[BloomBits]]] = Map.empty) {
    /** Convenience: this file's [min, max] on an INT64-statted column. */
    def longBounds(c: String): Option[(Long, Long)] = stats.get(c).collect {
      case ColStats(mn: Long, mx: Long) => (mn, mx)
    }
  }

  /** One committed snapshot (the unit of time travel). `lastBatch` is
    * the high-water mark of streaming batch ids merged via
    * [[mergeBatch]] (−1 = none) — carried forward by every commit so
    * the replay check is one manifest read and survives vacuum.
    * `constraints` are the table's CHECK invariants (name → SQL
    * predicate text), enforced on every write and carried forward like
    * the stats/partition spec. `dropped` is the tombstone list of
    * column names removed by [[dropColumn]]: the physical data is still
    * in the old files (the explicit read schema just never asks for
    * it), so re-ADDING such a name through additive evolution is
    * refused — it would silently resurrect the old values. */
  final case class Snapshot(version: Long, parent: Long, operation: String,
      statsCols: Seq[String], partitionCols: Seq[String], lastBatch: Long,
      schemaJson: String, files: Vector[FileEntry],
      constraints: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil,
      /** Commit wall-clock (epoch millis), stamped inside [[publish]]
        * and forced strictly increasing across versions so
        * `AS OF <timestamp>` resolution is total even if the clock
        * steps backwards. −1 on a not-yet-published snapshot. */
      ts: Long = -1L,
      /** Deletion vectors (merge-on-read DELETE): file path → the DV
        * parquet dirs whose (base, idx) rows are subtracted from that
        * file at read time. Every DV commit writes ONE dir holding each
        * hit file's whole vector, so a file's entry is one dir with
        * exactly its net deleted rows; a list of several dirs (written
        * before that rule) reads as their union, and the file's next
        * DV commit collapses it to one. Empty for most tables — every
        * read path short-circuits to a plain scan then. A file's
        * effective content is (path, dvs(path)); rewrites materialize
        * and drop the entry. [[Snapshot.totalRows]] counts PHYSICAL
        * rows (before DV subtraction). */
      dvs: Map[String, Vector[String]] = Map.empty,
      /** PER-WRITER streaming replay marks (txn id → highest committed
        * batch id) — the Delta txnAppId pattern. The table-global
        * [[lastBatch]] mark silently drops a second streaming query's
        * batches (its ids restart at 0 and sit below a foreign mark);
        * scoping the mark to the writer's id (the streaming query id,
        * or a user-chosen `txnAppId`) makes exactly-once hold per
        * WRITER: each query replays only against its own history.
        * Carried forward by every commit, like [[lastBatch]]. */
      txns: Map[String, Long] = Map.empty,
      /** Column-rename lineage (ALTER TABLE RENAME COLUMN as a pure
        * METADATA commit): logical name → the column's PRIOR physical
        * names, newest first. Files written before a rename carry the
        * old physical name; every read resolves a renamed column as
        * `coalesce(newName, priorNames…)` over a widened physical read
        * schema, so old files surface their values under the new name
        * with zero data IO at any table size (the column-mapping idea,
        * done by name instead of field ids). Prior names are reserved
        * like [[dropped]] tombstones — re-adding one would let stale
        * physical values resurrect. A full [[overwrite]] clears the
        * lineage (no old file survives). */
      renames: Map[String, Vector[String]] = Map.empty,
      /** Columns (opt-in, see [[create]]/[[alterLayout]]) whose data
        * files carry PARQUET-NATIVE BLOOM FILTERS, written by the
        * parquet writer itself at stage time (no extra data pass) and
        * consulted at PLAN time for point predicates (= / IN) by
        * [[pruneFilesBloom]]: on a table NOT sorted by the probe key,
        * min/max intervals all overlap and a needle operation would
        * touch every file — the bloom keeps it touched-files-priced
        * (one footer open per interval-admitted file, no data IO, at
        * any table size). The filters live in the parquet FOOTERS, not
        * the manifest, so manifest size stays O(files), never O(files
        * × bloom bytes). */
      bloomCols: Seq[String] = Nil) {
    def totalRows: Long = files.iterator.map(_.rows).sum
    def totalBytes: Long = files.iterator.map(_.bytes).sum
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private val LogDir = "_graft_log"
  private[table] val DataDir = "data"
  private val DvDir = "dv"
  private val PartPrefix = "__p_"

  /** A full checkpoint (the complete live-file listing: a PARQUET file
    * `c%020d.files.parquet` — one row per [[FileEntry]], columnar —
    * sealed by a tiny JSON meta record `c%020d.json`) is written every
    * this-many commits, at the vacuum horizon, and on demand via
    * [[checkpoint]]. Every COMMIT writes only its DELTA (`v%020d.json`:
    * added/removed files + metadata), so commit bytes are ∝ touched
    * files at any table size; reconstructing a snapshot costs one
    * checkpoint load + at most this-many−1 tiny delta parses,
    * independent of history length — and with the [[snapshotCache]] a
    * session pays that load at most once per (table, version). */
  private[table] val CheckpointInterval = 16L

  /** Driver-side SNAPSHOT CACHE keyed by (table dir, version). A
    * committed version's content is IMMUTABLE by the commit protocol
    * ([[publish]] is putIfAbsent — exactly one record can ever exist
    * under a version name), so entries never need invalidation; the
    * cache is a bounded LRU so a long session over many tables stays
    * memory-bounded. Every read still pays the ONE log listing (to
    * learn the head version — that is how external commits become
    * visible); what it stops paying is the O(live-files) checkpoint
    * load + delta replay: the second plan against an unchanged table is
    * a pure cache hit (ZERO checkpoint/delta parses — the spec law,
    * instrumented by [[checkpointLoads]]/[[deltaParses]]), and a plan
    * right after a commit is one tiny delta parse on top of the cached
    * parent. [[publish]] seeds the cache with the snapshot it just
    * committed, so write-then-read never reconstructs at all. This is
    * the read-side twin of the delta-priced commit log: at 10⁵–10⁶
    * live files the driver holds ~one FileEntry vector per hot table
    * instead of re-parsing it per query plan. */
  private val SnapshotCacheSize = 64
  /** Eviction is sized by CONTENT, not entry count: a snapshot costs
    * its live-file count, so 64 small-table snapshots OR a couple of
    * 10⁶-file giants fit, never 64 giants (driver-memory bound at any
    * table size). */
  private val SnapshotCacheMaxFiles = 4L * 1000 * 1000
  // key: (table dir, version, v-file fingerprint — see listLog).
  // Eviction keeps a RUNNING live-file total (O(1) per put, not a rescan
  // of every cached snapshot) and loops until both bounds hold, so the
  // content cap is enforced exactly — except the single-giant-snapshot
  // case: the newest entry always stays even above the cap, because the
  // caller is about to plan against it (evicting it would just force an
  // immediate re-reconstruction of the same listing).
  private object snapshotCache {
    private val map =
      new java.util.LinkedHashMap[(String, Long, Long), Snapshot](64, 0.75f, true)
    private var cachedFiles = 0L
    def get(k: (String, Long, Long)): Snapshot =
      map.synchronized(map.get(k))
    def put(k: (String, Long, Long), s: Snapshot): Unit = map.synchronized {
      val prev = map.put(k, s)
      cachedFiles += s.files.size.toLong -
        (if (prev != null) prev.files.size.toLong else 0L)
      val it = map.entrySet().iterator()
      while (map.size > 1 &&
        (map.size > SnapshotCacheSize || cachedFiles > SnapshotCacheMaxFiles)) {
        cachedFiles -= it.next().getValue.files.size.toLong
        it.remove()
      }
    }
    /** Drop every cached snapshot of `dir` — create() calls this so an
      * in-process DROP + re-CREATE at the same path can never be
      * answered from the old table's entries, whatever the new v-files'
      * fingerprints happen to be. */
    def invalidateDir(dir: String): Unit = map.synchronized {
      val it = map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == dir) { cachedFiles -= e.getValue.files.size.toLong; it.remove() }
      }
    }
    def clear(): Unit = map.synchronized { map.clear(); cachedFiles = 0L }
  }

  /** Observability counters for the metadata read path (spec hooks):
    * full-listing checkpoint loads, delta/log-entry parses, and
    * best-effort checkpoint WRITE failures (a persistently failing
    * checkpoint writer degrades every later cold read — it must be
    * visible, see `CALL system.detail`). */
  private[graft] val checkpointLoads = new java.util.concurrent.atomic.AtomicLong
  private[graft] val deltaParses = new java.util.concurrent.atomic.AtomicLong
  /** Checkpoint WRITE failures, keyed by table dir: `CALL system.detail`
    * reports the QUERIED table's count, so one sick table cannot inflate
    * every table's health row. */
  private[graft] val checkpointWriteFailuresByDir =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private[graft] def checkpointWriteFailures(dir: String): Long = {
    val c = checkpointWriteFailuresByDir.get(dir)
    if (c == null) 0L else c.get()
  }
  private def countCheckpointFailure(dir: String): Unit =
    checkpointWriteFailuresByDir
      .computeIfAbsent(dir, _ => new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()

  private[graft] def clearSnapshotCache(): Unit = snapshotCache.clear()

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def logPath(dir: String) = new Path(dir, LogDir)
  private def deltaName(v: Long) = f"v$v%020d.json"
  private def checkpointName(v: Long) = f"c$v%020d.json"
  private def ckptFilesName(v: Long) = f"c$v%020d.files.parquet"

  // ---------------------------------------------------------------- io

  private def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** Every Spark write a commit stages goes through here: on the local
    * scheme it runs on [[NioLocalFileSystem]], so it starts no process. */
  private def writer(df: DataFrame) =
    df.write.options(NioLocalFileSystem.writeOptions)

  /** One log listing: (committed versions, checkpointed versions, a
    * per-version file FINGERPRINT — length ⊕ mtime of the v-file),
    * versions ascending — the only filesystem LISTING any read pays.
    * The fingerprint guards the [[snapshotCache]] against a table
    * DROPPED and RECREATED at the same path: the new table's v-files
    * carry new fingerprints, so the old entries can never answer for
    * it (commit immutability holds per log FILE, not per path). */
  private def listLog(spark: SparkSession, dir: String)
      : (Seq[Long], Seq[Long], Map[Long, Long]) = {
    val lp = logPath(dir)
    val fs = lp.getFileSystem(conf(spark))
    if (!fs.exists(lp)) (Nil, Nil, Map.empty)
    else {
      val sts = fs.listStatus(lp).toSeq
      def num(prefix: Char, n: String): Option[Long] =
        if (n.nonEmpty && n.charAt(0) == prefix && n.endsWith(".json"))
          scala.util.Try(n.drop(1).dropRight(5).toLong).toOption
        else None
      val vs = sts.flatMap(st => num('v', st.getPath.getName)
        .map(v => (v, fileToken(st.getLen, st.getModificationTime))))
        .sortBy(_._1)
      val cs = sts.flatMap(st => num('c', st.getPath.getName)).sorted
      (vs.map(_._1), cs, vs.toMap)
    }
  }

  /** v-file fingerprint for the snapshot-cache key. Finalizer-mixed so
    * (len, mtime) pairs that collide under a linear combination (equal
    * length within mtime granularity) still map to distinct tokens
    * whenever either input differs; the in-process drop/recreate case is
    * additionally covered deterministically by
    * [[snapshotCache.invalidateDir]] in [[create]]. */
  private def fileToken(len: Long, mtime: Long): Long = {
    var x = len * 0x9E3779B97F4A7C15L + mtime
    x ^= x >>> 32; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 32
    x
  }

  private def listVersions(spark: SparkSession, dir: String): Seq[Long] =
    listLog(spark, dir)._1

  /** Highest committed snapshot version, if the table exists. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    listVersions(spark, dir).lastOption

  /** The full snapshot log, oldest first — ONE forward fold (the first
    * retained version reconstructs through its checkpoint, every later
    * one applies its own delta), so the whole history costs O(retained
    * versions) small JSON reads, never O(versions × interval). */
  def history(spark: SparkSession, dir: String): Seq[Snapshot] = {
    val (versions, cks, tokens) = listLog(spark, dir)
    if (versions.isEmpty) return Nil
    var snap = snapshotAt(spark, dir, versions.head, versions, cks, tokens)
    val out = Vector.newBuilder[Snapshot]
    out += snap
    versions.tail.foreach { v =>
      readLogEntry(spark, dir, v) match {
        case Left(full) => snap = full
        case Right(d) => snap = applyDelta(Some(snap), d)
      }
      out += snap
    }
    out.result()
  }

  /** One snapshot (the head when `version` is None) — the metadata a
    * catalog query needs (row/byte totals, per-file stats) at the cost
    * of one log listing + ≤ [[CheckpointInterval]] small JSON reads,
    * no data IO. */
  def snapshot(spark: SparkSession, dir: String,
      version: Option[Long] = None): Snapshot =
    version.map(readManifest(spark, dir, _)).getOrElse(current(spark, dir))

  private def readManifest(spark: SparkSession, dir: String, v: Long): Snapshot = {
    val (versions, cks, tokens) = listLog(spark, dir)
    snapshotAt(spark, dir, v, versions, cks, tokens)
  }

  /** Reconstruct snapshot `v`: a [[snapshotCache]] hit when this
    * session has seen the version (or any version close below it — the
    * replay warm-starts from the highest cached ancestor), else the
    * latest checkpoint at or below `v` plus a replay of its delta
    * suffix. When NO checkpoint at or below `v` survives, the replay
    * starts at the lowest RETAINED log version instead of 0 — a
    * pre-delta-log table vacuumed under the old code keeps no c-files,
    * but each of its retained v-files is a full manifest and acts as
    * its own checkpoint; if that first retained entry turns out to be
    * a DELTA the snapshot is genuinely unreconstructible and the error
    * says so loudly (never a silently short file list). */
  private def snapshotAt(spark: SparkSession, dir: String, v: Long,
      versions: Seq[Long], checkpoints: Seq[Long],
      tokens: Map[Long, Long]): Snapshot = {
    def key(w: Long) = (dir, w, tokens.getOrElse(w, -1L))
    val hit = snapshotCache.get(key(v))
    if (hit != null) return hit
    val ck = checkpoints.filter(_ <= v).lastOption
    val floor = ck.getOrElse(versions.filter(_ <= v).headOption.getOrElse(0L))
    // warm-start from the highest cached version below v (bounded probe:
    // anything further back than a few intervals is cheaper via the
    // checkpoint than via a long cache-miss scan)
    var snap: Option[Snapshot] = None
    var w = floor
    var probe = v - 1
    val probeFloor = math.max(floor, v - 4 * CheckpointInterval)
    while (probe >= probeFloor && snap.isEmpty) {
      val c = snapshotCache.get(key(probe))
      if (c != null) { snap = Some(c); w = probe + 1 }
      probe -= 1
    }
    if (snap.isEmpty) {
      snap = ck.map(readCheckpoint(spark, dir, _))
      w = snap.map(_.version + 1).getOrElse(floor)
    }
    try {
      while (w <= v) {
        readLogEntry(spark, dir, w) match {
          case Left(full) => snap = Some(full)
          case Right(d) =>
            if (snap.isEmpty && d.version > 0) sys.error(
              s"snapshot v$v of $dir is not reconstructible — the oldest " +
                s"retained log entry v$w is a delta and no checkpoint at " +
                "or below it survives (vacuumed under a pre-delta build?)")
            snap = Some(applyDelta(snap, d))
        }
        w += 1
      }
    } catch {
      case e: java.io.FileNotFoundException => sys.error(
        s"snapshot v$v of $dir is not reconstructible — log entry v$w " +
          s"is gone (vacuumed?): $e")
    }
    val out = snap.getOrElse(sys.error(s"no snapshot v$v at $dir"))
    snapshotCache.put(key(v), out)
    out
  }

  /** Consecutive (parent, child) snapshot pairs for versions
    * [from, to] — ONE forward replay for the whole range (the
    * streaming source's per-batch walk), instead of reconstructing
    * every version independently through its checkpoint. LAZY: the
    * walk reads log entries only as the iterator is consumed, so an
    * admission-controlled consumer that stops at its file budget
    * (`maxFilesPerTrigger`) prices each trigger at the commits it
    * ADMITS, not the whole remaining backlog. */
  private[graft] def snapshotPairs(spark: SparkSession, dir: String,
      from: Long, to: Long): Iterator[(Option[Snapshot], Snapshot)] = {
    val (versions, cks, tokens) = listLog(spark, dir)
    var prev: Option[Snapshot] =
      if (from <= 0) None
      else Some(snapshotAt(spark, dir, from - 1, versions, cks, tokens))
    (from to to).iterator.map { v =>
      val cur = readLogEntry(spark, dir, v) match {
        case Left(full) => full
        case Right(d) => applyDelta(prev, d)
      }
      val pair = (prev, cur)
      prev = Some(cur)
      pair
    }
  }

  /** This version's commit wall-clock WITHOUT reconstructing the
    * snapshot — one tiny JSON parse (every log entry carries `ts`). */
  private def entryTs(spark: SparkSession, dir: String, v: Long): Long = {
    tsParses.incrementAndGet()
    val j = JsonMethods.parse(
      readText(spark, new Path(logPath(dir), deltaName(v))))
    (j \ "ts").toOption.map(jLong).getOrElse(-1L)
  }
  /** ts-only log reads (spec hook: timestamp resolution over an
    * n-commit history must stay O(log n), never one read per commit). */
  private[graft] val tsParses = new java.util.concurrent.atomic.AtomicLong

  /** Binary-search boundary over the retained versions' commit stamps:
    * the FIRST index whose ts satisfies `pred` (stamps are forced
    * strictly increasing at publish, so any up-closed predicate — `ts
    * >= cutoff`, `ts > target` — splits the versions into a
    * prefix/suffix and the boundary is exact). O(log n) ts-only parses
    * at any history length; legacy records without a ts parse as −1,
    * which is monotone-compatible because they can only PRECEDE
    * stamped commits. */
  private def tsBoundary(spark: SparkSession, dir: String,
      versions: IndexedSeq[Long])(pred: Long => Boolean): Int = {
    var lo = 0
    var hi = versions.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pred(entryTs(spark, dir, versions(mid)))) hi = mid else lo = mid + 1
    }
    lo
  }

  /** One log file, either kind: Left(full snapshot) for checkpoint-
    * format content, Right(delta). A pre-delta-log table whose
    * v-files are full manifests parses as Left — each acts as its own
    * checkpoint, so old logs keep reading unchanged. */
  private def readLogEntry(spark: SparkSession, dir: String, v: Long)
      : Either[Snapshot, DeltaRec] = {
    deltaParses.incrementAndGet()
    val j = JsonMethods.parse(
      readText(spark, new Path(logPath(dir), deltaName(v))))
    checkReaderVersion(j, s"$dir v$v")
    (j \ "kind") match {
      case JString("delta") => Right(parseDelta(j))
      // "checkpoint" / no kind field = the pre-delta-log full-manifest
      // wire format (each v-file is its own complete listing)
      case JString("checkpoint") | JNothing => Left(parseManifest(j))
      // an UNKNOWN kind must fail loudly, never parse as an (empty)
      // full listing: a record written by a future format revision
      // carries data this reader cannot see, and silently serving a
      // truncated table is the one unforgivable failure mode
      case JString(other) => throw new IllegalStateException(
        s"manifest log $dir v$v has unknown record kind '$other' — " +
          "written by a newer graft; upgrade this reader")
      case other => throw new IllegalStateException(
        s"manifest log $dir v$v has malformed kind $other")
    }
  }

  /** Highest log-record revision this binary understands. Records carry
    * `minReader` (absent = 1, the original format); a record demanding
    * more fails loudly instead of being mis-parsed — the protocol
    * action every production log format ships. */
  private[table] val SupportedReaderVersion = 2L
  private def checkReaderVersion(j: JValue, what: String): Unit =
    (j \ "minReader") match {
      case JNothing => ()
      case v =>
        val need = jLong(v)
        if (need > SupportedReaderVersion) throw new IllegalStateException(
          s"manifest record $what requires reader version $need, this " +
            s"binary supports $SupportedReaderVersion — upgrade to read " +
            "this table")
    }

  /** Load checkpoint `c`: the current two-part format (tiny JSON meta
    * seal + columnar `c%020d.files.parquet` holding one row per
    * [[FileEntry]] — loaded through Spark's vectorized parquet reader,
    * so at 10⁵–10⁶ live files reconstruction is a columnar scan, not a
    * giant single-threaded JSON parse) or the legacy single-JSON
    * full-listing format, which keeps parsing unchanged. */
  private def readCheckpoint(spark: SparkSession, dir: String, c: Long)
      : Snapshot = {
    checkpointLoads.incrementAndGet()
    val j = JsonMethods.parse(
      readText(spark, new Path(logPath(dir), checkpointName(c))))
    checkReaderVersion(j, s"$dir c$c")
    (j \ "kind") match {
      case JString("checkpoint-pq") =>
        val meta = parseManifest(j)
        meta.copy(files = readCkptFiles(spark,
          new Path(logPath(dir), ckptFilesName(c))))
      // "checkpoint" and the kind-less pre-delta-log format both carry
      // the full inline listing; anything ELSE is a future revision and
      // must fail loudly (see readLogEntry)
      case JString("checkpoint") | JNothing => parseManifest(j)
      case JString(other) => throw new IllegalStateException(
        s"manifest checkpoint $dir c$c has unknown kind '$other' — " +
          "written by a newer graft; upgrade this reader")
      case other => throw new IllegalStateException(
        s"manifest checkpoint $dir c$c has malformed kind $other")
    }
  }

  private def readText(spark: SparkSession, p: Path): String = {
    val fs = p.getFileSystem(conf(spark))
    val in = fs.open(p)
    val bytes = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      out.toByteArray
    } finally in.close()
    new String(bytes, "UTF-8")
  }

  // ------------------------------------------------------ delta log

  /** One commit's log record: the full (tiny) table metadata plus only
    * the file-level CHANGES against the parent snapshot — added
    * entries, removed paths, and the deletion-vector map diff. Commit
    * bytes are ∝ touched files; the live-file listing is never
    * serialized on the commit path (checkpoints amortize it). */
  private[table] final case class DeltaRec(version: Long, parent: Long,
      operation: String, statsCols: Seq[String], partitionCols: Seq[String],
      lastBatch: Long, schemaJson: String,
      constraints: Map[String, String], dropped: Seq[String],
      txns: Map[String, Long], renames: Map[String, Vector[String]],
      ts: Long,
      add: Vector[FileEntry], remove: Vector[String],
      dvSet: Map[String, Vector[String]], dvDel: Vector[String],
      bloomCols: Seq[String] = Nil)

  /** The delta that turns `parent` into `s` (None parent = the empty
    * table). An entry whose stats/partition/row-group metadata changed
    * under the same path surfaces as remove+add, so replay is exact. */
  private[table] def diffDelta(parent: Option[Snapshot], s: Snapshot): DeltaRec = {
    val pFiles = parent.map(_.files).getOrElse(Vector.empty)
    val pByPath = pFiles.iterator.map(f => f.path -> f).toMap
    val sByPath = s.files.iterator.map(f => f.path -> f).toMap
    val remove = pFiles.collect {
      case f if !sByPath.get(f.path).contains(f) => f.path
    }
    val add = s.files.filter(f => !pByPath.get(f.path).contains(f))
    val pDvs = parent.map(_.dvs).getOrElse(Map.empty[String, Vector[String]])
    val dvDel = pDvs.keysIterator.filterNot(s.dvs.contains).toVector.sorted
    val dvSet = s.dvs.filter { case (p, vs) => !pDvs.get(p).contains(vs) }
    DeltaRec(s.version, s.parent, s.operation, s.statsCols, s.partitionCols,
      s.lastBatch, s.schemaJson, s.constraints, s.dropped, s.txns,
      s.renames, s.ts, add, remove, dvSet, dvDel, s.bloomCols)
  }

  /** Replay one delta onto its parent. The file ORDER this produces
    * (carried-over entries in parent order, then adds) is canonical:
    * [[publish]] returns exactly this form, so the in-memory snapshot
    * a committer holds and any later reconstruction are identical. */
  private[table] def applyDelta(parent: Option[Snapshot], d: DeltaRec): Snapshot = {
    val pFiles = parent.map(_.files).getOrElse(Vector.empty)
    val removed = d.remove.toSet
    val files = pFiles.filterNot(f => removed(f.path)) ++ d.add
    val dvs = parent.map(_.dvs).getOrElse(Map.empty[String, Vector[String]]) --
      d.dvDel ++ d.dvSet
    Snapshot(d.version, d.parent, d.operation, d.statsCols, d.partitionCols,
      d.lastBatch, d.schemaJson, files, d.constraints, d.dropped, d.ts,
      dvs, d.txns, d.renames, d.bloomCols)
  }

  // ------------------------------------------------------ json codec
  // Hand-built JObject in, path-extraction out: no runtime reflection,
  // so the wire format is exactly what this file says it is.

  private def primToJson(v: Any): JValue = v match {
    case l: Long => JLong(l)
    case d: Double => JDouble(d)
    case s: String => JString(s)
    case other => sys.error(s"manifest: unencodable stat $other")
  }

  private def jsonToPrim(j: JValue): Any = j match {
    case JLong(x) => x
    case JInt(x) => x.toLong
    case JDouble(x) => x
    case JDecimal(x) => x.toDouble
    case JString(x) => x
    case other => sys.error(s"manifest: undecodable stat $other")
  }

  private def renderStats(stats: Map[String, ColStats]): JValue =
    JObject(stats.toList.sortBy(_._1).map { case (c, cs) =>
      c -> (JArray(List(primToJson(cs.min), primToJson(cs.max))): JValue)
    })

  private def renderFile(f: FileEntry): JValue = {
    val base = List(
      "path" -> (JString(f.path): JValue),
      "rows" -> (JLong(f.rows): JValue),
      "bytes" -> (JLong(f.bytes): JValue))
    val st =
      if (f.stats.isEmpty) Nil
      else List("stats" -> renderStats(f.stats))
    val pt =
      if (f.partitions.isEmpty) Nil
      else List("part" -> (JObject(f.partitions.toList.sortBy(_._1).map {
        case (c, v) => c -> (v.map(JString(_): JValue).getOrElse(JNull))
      }): JValue))
    val rg =
      if (f.rgs.isEmpty) Nil
      else List("rgs" -> (JArray(f.rgs.toList.map { g =>
        JObject(List(
          "o" -> (JLong(g.offset): JValue),
          "b" -> (JLong(g.bytes): JValue),
          "r" -> (JLong(g.rows): JValue)) ++
          (if (g.stats.isEmpty) Nil
           else List("stats" -> renderStats(g.stats))))
      }): JValue))
    // advisory field: an older reader that does not know it simply
    // parses around it and loses skipping, never correctness — so no
    // minReader bump (the format guard is for fields whose omission
    // would corrupt results)
    val bl =
      if (f.blooms.isEmpty) Nil
      else List("blooms" -> (JObject(f.blooms.toList.sortBy(_._1).map {
        case (c, v) => c -> (JArray(v.toList.map {
          case None => JNull: JValue
          case Some(b) => JObject(List(
            "t" -> (JString(b.typeName): JValue),
            "s" -> (JBool(b.isString): JValue),
            "b" -> (JString(java.util.Base64.getEncoder
              .encodeToString(b.bits)): JValue)))
        }): JValue)
      }): JValue))
    JObject(base ++ st ++ pt ++ rg ++ bl)
  }

  /** The metadata fields every log record carries in full — all
    * O(schema + constraints) small, never O(files). */
  private def renderMeta(version: Long, parent: Long, operation: String,
      lastBatch: Long, ts: Long, schemaJson: String, statsCols: Seq[String],
      partitionCols: Seq[String], constraints: Map[String, String],
      dropped: Seq[String], txns: Map[String, Long],
      renames: Map[String, Vector[String]],
      bloomCols: Seq[String] = Nil): List[(String, JValue)] =
    List(
      "version" -> (JLong(version): JValue),
      "parent" -> (JLong(parent): JValue),
      "operation" -> (JString(operation): JValue),
      "lastBatch" -> (JLong(lastBatch): JValue),
      "ts" -> (JLong(ts): JValue),
      "schema" -> (JString(schemaJson): JValue)) ++
      (if (statsCols.isEmpty) Nil
       else List("statsCols" -> (JArray(statsCols.toList.map(JString(_))): JValue))) ++
      (if (partitionCols.isEmpty) Nil
       else List("partitionCols" -> (JArray(partitionCols.toList.map(JString(_))): JValue))) ++
      (if (constraints.isEmpty) Nil
       else List("constraints" -> (JObject(constraints.toList.sortBy(_._1)
         .map { case (n, sql) => n -> (JString(sql): JValue) }): JValue))) ++
      (if (dropped.isEmpty) Nil
       else List("dropped" -> (JArray(dropped.toList.map(JString(_))): JValue))) ++
      (if (txns.isEmpty) Nil
       else List("txns" -> (JObject(txns.toList.sortBy(_._1)
         .map { case (id, b) => id -> (JLong(b): JValue) }): JValue))) ++
      (if (renames.isEmpty) Nil
       else List("renames" -> (JObject(renames.toList.sortBy(_._1).map {
         case (n, chain) => n -> (JArray(chain.toList.map(JString(_))): JValue)
       }): JValue))) ++
      (if (bloomCols.isEmpty) Nil
       else List("bloomCols" -> (JArray(bloomCols.toList.map(JString(_))): JValue)))

  private def renderDelta(d: DeltaRec): String = {
    val obj = JObject(List("kind" -> (JString("delta"): JValue),
      "minReader" -> (JLong(1L): JValue)) ++
      renderMeta(d.version, d.parent, d.operation, d.lastBatch, d.ts,
        d.schemaJson, d.statsCols, d.partitionCols, d.constraints,
        d.dropped, d.txns, d.renames, d.bloomCols) ++
      (if (d.add.isEmpty) Nil
       else List("add" -> (JArray(d.add.toList.map(renderFile)): JValue))) ++
      (if (d.remove.isEmpty) Nil
       else List("remove" -> (JArray(d.remove.toList.map(JString(_))): JValue))) ++
      (if (d.dvSet.isEmpty) Nil
       else List("dvset" -> (JObject(d.dvSet.toList.sortBy(_._1).map {
         case (p, vs) => p -> (JArray(vs.toList.map(JString(_))): JValue)
       }): JValue))) ++
      (if (d.dvDel.isEmpty) Nil
       else List("dvdel" -> (JArray(d.dvDel.toList.map(JString(_))): JValue))))
    JsonMethods.compact(JsonMethods.render(obj))
  }

  /** The tiny JSON SEAL of a columnar checkpoint: all snapshot metadata
    * (plus the dv map — O(vectored files), small), kind "checkpoint-pq",
    * with the live-file listing living in the sibling
    * `c%020d.files.parquet`. Readers never see the checkpoint until the
    * seal lands (putIfAbsent), so the two-part write is atomic. */
  private def renderCheckpointSeal(s: Snapshot): String = {
    // minReader 2: a reader that does not know the two-part format MUST
    // refuse this seal (its files live in the sibling parquet — parsing
    // the seal alone would reconstruct an empty table)
    val obj = JObject(List("kind" -> (JString("checkpoint-pq"): JValue),
      "minReader" -> (JLong(2L): JValue)) ++
      renderMeta(s.version, s.parent, s.operation, s.lastBatch, s.ts,
        s.schemaJson, s.statsCols, s.partitionCols, s.constraints,
        s.dropped, s.txns, s.renames, s.bloomCols) ++
      (if (s.dvs.isEmpty) Nil
       else List("dvs" -> (JObject(s.dvs.toList.sortBy(_._1).map {
         case (p, vs) => p -> (JArray(vs.toList.map(JString(_))): JValue)
       }): JValue))))
    JsonMethods.compact(JsonMethods.render(obj))
  }

  /** LEGACY full-listing single-JSON checkpoint (also the pre-delta-log
    * full-manifest wire format, so old logs parse with the same
    * reader). Kept [table]-visible so specs can pin that old
    * checkpoints still read. */
  private[table] def renderCheckpoint(s: Snapshot): String = {
    val obj = JObject(List("kind" -> (JString("checkpoint"): JValue)) ++
      renderMeta(s.version, s.parent, s.operation, s.lastBatch, s.ts,
        s.schemaJson, s.statsCols, s.partitionCols, s.constraints,
        s.dropped, s.txns, s.renames, s.bloomCols) ++
      (if (s.dvs.isEmpty) Nil
       else List("dvs" -> (JObject(s.dvs.toList.sortBy(_._1).map {
         case (p, vs) => p -> (JArray(vs.toList.map(JString(_))): JValue)
       }): JValue))) ++
      List("files" -> (JArray(s.files.toList.map(renderFile)): JValue)))
    JsonMethods.compact(JsonMethods.render(obj))
  }

  // --------------------------------------- columnar checkpoint codec
  // One parquet row per FileEntry. min/max stay JSON-encoded primitives
  // (one short string each) inside typed map/struct columns: the bulk
  // of a checkpoint — paths, row/byte counts, the map layout — decodes
  // through Spark's vectorized parquet reader, and the listing is a
  // REAL parquet table (see filesFrame) that distributed metadata ops
  // can scan/filter without ever materializing it on the driver.

  private val ckptStatsType = MapType(StringType, StructType(Seq(
    StructField("mn", StringType), StructField("mx", StringType))),
    valueContainsNull = false)

  private[table] val ckptFilesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("stats", ckptStatsType),
    StructField("part", MapType(StringType, StringType,
      valueContainsNull = true)),
    StructField("rgs", ArrayType(StructType(Seq(
      StructField("o", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("r", LongType, nullable = false),
      StructField("stats", ckptStatsType))))),
    // manifest-resident bloom bitsets (advisory; nullable column, so a
    // reader with the pre-r18 schema ignores it and one with this
    // schema reads null = none from older checkpoints — additive in
    // both directions, no reader-version bump needed)
    StructField("blooms", MapType(StringType, ArrayType(StructType(Seq(
      StructField("t", StringType, nullable = false),
      StructField("s", BooleanType, nullable = false),
      StructField("b", BinaryType, nullable = false))),
      containsNull = true)))))

  private def encPrim(v: Any): String =
    JsonMethods.compact(JsonMethods.render(primToJson(v)))
  private def decPrim(s: String): Any = jsonToPrim(JsonMethods.parse(s))

  private def statsMapRow(m: Map[String, ColStats]): Map[String, Row] =
    m.map { case (c, cs) => c -> Row(encPrim(cs.min), encPrim(cs.max)) }

  private def fileRow(f: FileEntry): Row = Row(
    f.path, f.rows, f.bytes, statsMapRow(f.stats),
    f.partitions.map { case (c, v) => c -> v.orNull },
    f.rgs.map(g => Row(g.offset, g.bytes, g.rows, statsMapRow(g.stats))),
    if (f.blooms.isEmpty) null
    else f.blooms.map { case (c, v) =>
      c -> v.map(_.map(b => Row(b.typeName, b.isString, b.bits)).orNull)
    })

  private def readCkptFiles(spark: SparkSession, pq: Path): Vector[FileEntry] = {
    def stats(m: scala.collection.Map[String, Row]): Map[String, ColStats] =
      if (m == null) Map.empty
      else m.iterator.map { case (c, r) =>
        c -> ColStats(decPrim(r.getString(0)), decPrim(r.getString(1)))
      }.toMap
    spark.read.schema(ckptFilesSchema).parquet(pq.toString)
      .collect().iterator.map { r =>
        FileEntry(r.getString(0), r.getLong(1), r.getLong(2),
          stats(r.getAs[scala.collection.Map[String, Row]](3)),
          Option(r.getAs[scala.collection.Map[String, String]](4))
            .map(_.iterator.map { case (c, v) => c -> Option(v) }.toMap)
            .getOrElse(Map.empty),
          Option(r.getAs[scala.collection.Seq[Row]](5))
            .map(_.iterator.map(g => RowGroup(g.getLong(0), g.getLong(1),
              g.getLong(2),
              stats(g.getAs[scala.collection.Map[String, Row]](3)))).toVector)
            .getOrElse(Vector.empty),
          Option(r.getAs[scala.collection.Map[String,
            scala.collection.Seq[Row]]](6))
            .map(_.iterator.map { case (c, v) =>
              c -> Option(v).map(_.iterator.map(e =>
                Option(e).map(b => BloomBits(b.getString(0), b.getBoolean(1),
                  b.getAs[Array[Byte]](2)))).toVector)
                .getOrElse(Vector.empty)
            }.toMap)
            .getOrElse(Map.empty))
      }.toVector
  }

  /** The HEAD snapshot's live-file listing as a DataFrame under
    * [[ckptFilesSchema]] — the DISTRIBUTED metadata surface: when the
    * head is exactly a sealed columnar checkpoint the frame IS a
    * parquet scan of that checkpoint (at 10⁵–10⁶ files, file-skipping
    * decisions can run as a DataFrame filter over it instead of a
    * driver loop — the Iceberg distributed-manifest-pruning shape);
    * otherwise it is a local relation over the reconstructed snapshot,
    * so the surface is always available. */
  def filesFrame(spark: SparkSession, dir: String): DataFrame = {
    val (versions, cks, tokens) = listLog(spark, dir)
    val head = versions.lastOption.getOrElse(
      sys.error(s"no manifest table at $dir"))
    val pq = new Path(logPath(dir), ckptFilesName(head))
    if (cks.contains(head) && pq.getFileSystem(conf(spark)).exists(pq))
      spark.read.schema(ckptFilesSchema).parquet(pq.toString)
    else {
      val snap = snapshotAt(spark, dir, head, versions, cks, tokens)
      spark.createDataFrame(snap.files.map(fileRow).asJava, ckptFilesSchema)
    }
  }

  private def jLong(v: JValue): Long = v match {
    case JLong(x) => x
    case JInt(x) => x.toLong
    case other => sys.error(s"manifest: expected integer, got $other")
  }

  private def jStrings(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.map(_.values.toString)
    case JNothing => Nil
    case other => sys.error(s"manifest: expected string array, got $other")
  }

  private def parseStats(v: JValue, what: String): Map[String, ColStats] =
    v match {
      case JObject(kv) => kv.map {
        case (c, JArray(List(mn, mx))) =>
          c -> ColStats(jsonToPrim(mn), jsonToPrim(mx))
        case (c, other) => sys.error(s"manifest: $what for $c is $other")
      }.toMap
      case _ => Map.empty[String, ColStats]
    }

  private def parseFile(f: JValue): FileEntry = {
    val parts = (f \ "part") match {
      case JObject(kv) => kv.map { case (c, v) =>
        c -> (v match {
          case JNull | JNothing => None
          case other => Some(other.values.toString)
        })
      }.toMap
      case _ => Map.empty[String, Option[String]]
    }
    val rgs = (f \ "rgs") match {
      case JArray(gs) => gs.toVector.map { g =>
        RowGroup(jLong(g \ "o"), jLong(g \ "b"), jLong(g \ "r"),
          parseStats(g \ "stats", "rg stats"))
      }
      case _ => Vector.empty[RowGroup]
    }
    val blooms = (f \ "blooms") match {
      case JObject(kv) => kv.map { case (c, v) =>
        c -> (v match {
          case JArray(es) => es.toVector.map {
            case JNull | JNothing => None
            case e => Some(BloomBits(
              (e \ "t").values.toString,
              (e \ "s") match { case JBool(b) => b; case _ => false },
              java.util.Base64.getDecoder.decode((e \ "b").values.toString)))
          }
          case _ => Vector.empty[Option[BloomBits]]
        })
      }.toMap
      case _ => Map.empty[String, Vector[Option[BloomBits]]]
    }
    FileEntry(
      (f \ "path").values.toString,
      jLong(f \ "rows"),
      jLong(f \ "bytes"),
      parseStats(f \ "stats", "stats"), parts, rgs, blooms)
  }

  private def parseFiles(v: JValue, what: String): Vector[FileEntry] =
    v match {
      case JArray(fs) => fs.toVector.map(parseFile)
      case JNothing => Vector.empty
      case other => sys.error(s"manifest: $what is $other")
    }

  private def parseConstraints(j: JValue): Map[String, String] =
    (j \ "constraints") match {
      case JObject(kv) => kv.map { case (n, v) => n -> v.values.toString }.toMap
      case _ => Map.empty[String, String]
    }

  private def parseTxns(j: JValue): Map[String, Long] =
    (j \ "txns") match {
      case JObject(kv) => kv.map { case (id, v) => id -> jLong(v) }.toMap
      case _ => Map.empty[String, Long]
    }

  private def parseRenames(j: JValue): Map[String, Vector[String]] =
    (j \ "renames") match {
      case JObject(kv) => kv.map { case (n, v) => n -> jStrings(v).toVector }.toMap
      case _ => Map.empty[String, Vector[String]]
    }

  private def parseDvMap(v: JValue): Map[String, Vector[String]] = v match {
    case JObject(kv) => kv.map { case (p, vs) => p -> jStrings(vs).toVector }.toMap
    case _ => Map.empty[String, Vector[String]]
  }

  private def parseManifest(j: JValue): Snapshot =
    Snapshot(
      jLong(j \ "version"),
      jLong(j \ "parent"),
      (j \ "operation").values.toString,
      jStrings(j \ "statsCols"),
      jStrings(j \ "partitionCols"),
      (j \ "lastBatch").toOption.map(jLong).getOrElse(-1L),
      (j \ "schema").values.toString,
      parseFiles(j \ "files", "files"), parseConstraints(j),
      jStrings(j \ "dropped"),
      (j \ "ts").toOption.map(jLong).getOrElse(-1L),
      parseDvMap(j \ "dvs"),
      parseTxns(j),
      parseRenames(j),
      jStrings(j \ "bloomCols"))

  private def parseDelta(j: JValue): DeltaRec =
    DeltaRec(
      jLong(j \ "version"),
      jLong(j \ "parent"),
      (j \ "operation").values.toString,
      jStrings(j \ "statsCols"),
      jStrings(j \ "partitionCols"),
      (j \ "lastBatch").toOption.map(jLong).getOrElse(-1L),
      (j \ "schema").values.toString,
      parseConstraints(j),
      jStrings(j \ "dropped"),
      parseTxns(j),
      parseRenames(j),
      (j \ "ts").toOption.map(jLong).getOrElse(-1L),
      parseFiles(j \ "add", "add"),
      jStrings(j \ "remove").toVector,
      parseDvMap(j \ "dvset"),
      jStrings(j \ "dvdel").toVector,
      jStrings(j \ "bloomCols"))

  // ---------------------------------------------------- footer stats

  /** Exact (rows, per-column min/max) for one sealed parquet file, from
    * the FOOTER only — the same numbers the writer already serialized;
    * no data pages are read. A column reports stats only when every
    * row group carries non-null bounds of a supported physical type
    * (INT32/INT64/FLOAT/DOUBLE/BINARY-UTF8); a partial answer would
    * make pruning unsound, so it becomes "no stats" instead. */
  private def footerStats(c: Configuration, p: Path, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomBudget: Int = 0)
      : (Long, Map[String, ColStats], Vector[RowGroup],
        Map[String, Vector[Option[BloomBits]]]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, c))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.iterator.map(_.getRowCount).sum
      def blockBounds(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
          k: String): Option[(Any, Any)] =
        b.getColumns.asScala.find(_.getPath.toDotString == k).flatMap { cc =>
          cc.getStatistics match {
            case ls: LongStatistics if ls.hasNonNullValue =>
              Some((ls.getMin: Any, ls.getMax: Any))
            case is: IntStatistics if is.hasNonNullValue =>
              Some((is.getMin.toLong: Any, is.getMax.toLong: Any))
            case ds: DoubleStatistics if ds.hasNonNullValue =>
              Some((ds.getMin: Any, ds.getMax: Any))
            case fs: FloatStatistics if fs.hasNonNullValue =>
              Some((fs.getMin.toDouble: Any, fs.getMax.toDouble: Any))
            case bs: BinaryStatistics if bs.hasNonNullValue &&
                cc.getPrimitiveType.getLogicalTypeAnnotation
                  .isInstanceOf[org.apache.parquet.schema
                    .LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              Some((bs.genericGetMin.toStringUsingUTF8: Any,
                bs.genericGetMax.toStringUsingUTF8: Any))
            case _ => None
          }
        }
      val stats = statsCols.flatMap { k =>
        val per = blocks.flatMap(blockBounds(_, k))
        if (per.size != blocks.size || per.isEmpty) None
        else {
          val mn = per.map(_._1).reduce((a, b) => if (primLt(a, b)) a else b)
          val mx = per.map(_._2).reduce((a, b) => if (primLt(a, b)) b else a)
          Some(k -> ColStats(mn, mx))
        }
      }.toMap
      // per-row-group bounds: only meaningful when the file has several
      // row groups (a single group's bounds ARE the file's); each block
      // reports a column independently — a block without bounds on a
      // column simply never prunes on it
      val rgs =
        if (blocks.size <= 1) Vector.empty[RowGroup]
        else blocks.iterator.map { b =>
          RowGroup(b.getStartingPos, b.getCompressedSize, b.getRowCount,
            statsCols.flatMap(k => blockBounds(b, k)
              .map { case (mn, mx) => k -> ColStats(mn, mx) }).toMap)
        }.toVector
      // manifest-resident bloom harvest (r17 verdict #4): the footer is
      // already open here, so copying the bitsets costs no extra IO
      // round-trip; the PER-FILE byte budget keeps snapshot/log bytes
      // O(files) with a bounded constant — a file whose filters exceed
      // it simply keeps the (cached, distributable) footer probe path
      val blooms: Map[String, Vector[Option[BloomBits]]] =
        if (bloomCols.isEmpty || bloomBudget <= 0)
          Map.empty[String, Vector[Option[BloomBits]]]
        else {
          val m = bloomCols.flatMap { k =>
            val per = blocks.map { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == k)
                .flatMap { cc =>
                  val bf = reader.getBloomFilterDataReader(b)
                    .readBloomFilter(cc)
                  if (bf == null) None
                  else {
                    val isString = cc.getPrimitiveType
                      .getLogicalTypeAnnotation.isInstanceOf[
                        org.apache.parquet.schema.LogicalTypeAnnotation
                          .StringLogicalTypeAnnotation]
                    val out = new java.io.ByteArrayOutputStream(
                      bf.getBitsetSize)
                    bf.writeTo(out)
                    Some(BloomBits(
                      cc.getPrimitiveType.getPrimitiveTypeName.name,
                      isString, out.toByteArray))
                  }
                }
            }.toVector
            if (per.forall(_.isEmpty)) None else Some(k -> per)
          }.toMap
          val total = m.valuesIterator.flatMap(_.iterator.flatten)
            .map(_.bits.length.toLong).sum
          if (total <= bloomBudget) m
          else {
            log.info(s"bloom harvest skipped for $p: $total bitset bytes " +
              s"exceed the ${bloomBudget}B per-file budget — the file " +
              "keeps the footer probe path")
            Map.empty[String, Vector[Option[BloomBits]]]
          }
        }
      (rows, stats, rgs, blooms)
    } finally reader.close()
  }

  private[table] def primLt(a: Any, b: Any): Boolean = primCompare(a, b).exists(_ < 0)

  /** Total order across matching primitive families; None = not
    * comparable (pruning then keeps the file). */
  private def primCompare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Long) => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  // -------------------------------------------------------- staging

  /** Write `df` as a sealed commit directory and return its manifest
    * entries. The Spark job's own output commit seals the directory;
    * nothing references it until OUR manifest rename succeeds.
    *
    * Partitioned staging keeps the partition columns IN the data files
    * (the Iceberg shape): the writer splits on shadow `__p_<col>`
    * copies, the shadow directory components are parsed back into the
    * manifest's per-file partition values, and the read path never
    * looks at a path again. */
  /** Right-size the commit's file fan-out (optimization guide §6: aim
    * for few, 128 MB-class files, never one tiny part file per
    * incidental shuffle partition). A frame whose OPTIMIZER-estimated
    * output is under `spark.graft.commit.targetFileBytes` (default
    * 128 MB) per current partition is coalesced down to
    * ceil(bytes / target) write tasks — every later scan, footer sweep
    * and merge probe of the table then touches that many files instead
    * of `spark.sql.shuffle.partitions`. Scale-adaptive by construction:
    * the decision is driven by estimated BYTES, so a 100 TB commit
    * keeps its full write parallelism and a metadata-sized one writes
    * one file. Frames carrying an EXPLICIT Repartition operation are
    * exempt — a caller that chose a layout (e.g. repartitionByRange for
    * disjoint per-file key ranges) keeps it verbatim. Layout-only:
    * committed CONTENT is identical either way. */
  private def rightSized(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.conf.getOption("spark.graft.commit.targetFileBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    if (target <= 0) return df // knob: <=0 disables right-sizing
    try {
      val deliberate = df.queryExecution.logical.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
        case _ => false
      }
      if (deliberate) df
      else {
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (!est.isValidLong) df
        else {
          val want = math.max(1L, (est.toLong + target - 1) / target)
          // coalesce to >= the frame's actual partition count is a
          // no-op, so the RDD lineage is never materialized just to
          // learn the count; a fan-out above the session's shuffle
          // parallelism is left entirely to the writer
          val cap = spark.sessionState.conf.numShufflePartitions.toLong
          if (want >= cap) df else df.coalesce(want.toInt)
        }
      }
    } catch { case NonFatal(_) => df } // sizing is advisory, never fatal
  }

  /** One staged file → its manifest entry: parse the shadow partition
    * components out of the path, read rows/stats/row-group bounds from
    * the footer. Pure function of serializable inputs so the commit
    * sweep can run it on the driver pool OR executor-side unchanged. */
  private def sweepEntry(c: Configuration, absQ: String, rel: String,
      pathStr: String, len: Long, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomBudget: Int = 0): FileEntry = {
    val sub = pathStr.stripPrefix(absQ).stripPrefix("/")
    val parts = sub.split('/').init.flatMap { comp =>
      val eq = comp.indexOf('=')
      if (eq < 0) None
      else {
        val name = comp.substring(0, eq).stripPrefix(PartPrefix)
        val raw = ExternalCatalogUtils.unescapePathName(comp.substring(eq + 1))
        Some(name -> (if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
          None else Some(raw)))
      }
    }.toMap
    val (rows, stats, rgs, blooms) = footerStats(c, new Path(pathStr),
      statsCols, bloomCols, bloomBudget)
    FileEntry(s"$rel/$sub", rows, len, stats, parts, rgs, blooms)
  }

  /** Writes `df` under `dir/rel` and returns one manifest entry per
    * non-empty staged file. The footer sweep that reads each file's
    * rows, stats and row-group bounds runs through [[footerFanOut]]
    * (driver pool for metadata-sized commits, one Spark job past
    * [[footerPoolMax]] files) under a 600 s-floored deadline: a file
    * unresolved at it fails the commit loudly, since the stats ARE the
    * commit's metadata (nothing is published; staged bytes are
    * vacuumable). */
  private[table] def stage(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], partitionCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      rel: String = s"$DataDir/${UUID.randomUUID()}"): Vector[FileEntry] = {
    val abs = new Path(dir, rel)
    // parquet-NATIVE bloom filters: the writer builds them while it
    // writes (no extra data pass); they live in the footer and are
    // consulted at plan time by pruneFilesBloom. Columns absent from
    // the frame (possible mid-evolution) are simply not configured.
    // ADAPTIVE sizing (r18): without it parquet-mr writes the MAXIMUM
    // 1 MB bitset per column per row group regardless of cardinality
    // (measured); adaptive right-sizes each bitset to the row group's
    // observed NDV over 9 candidates (1 MB down to 4 KB at the same
    // fpp target) — smaller footers AND bitsets that actually fit the
    // manifest-residency budget below. Probe semantics are unchanged
    // (the filter is self-describing).
    val presentBloomCols = bloomCols.filter(df.schema.fieldNames.contains)
    val bloomOpts =
      if (presentBloomCols.isEmpty) Map.empty[String, String]
      else presentBloomCols
        .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap ++
        Map("parquet.bloom.filter.adaptive.enabled" -> "true",
          "parquet.bloom.filter.candidates.number" -> "9")
    // per-file byte budget for copying bloom bitsets into the manifest
    // (<= 0 disables harvesting; files over budget keep the footer
    // probe path) — resolved once so both sweep routes agree
    val bloomBudget =
      if (presentBloomCols.isEmpty) 0 else bloomManifestBudgetBytes
    val out = rightSized(spark, df)
    if (partitionCols.isEmpty)
      writer(out).options(bloomOpts).parquet(abs.toString)
    else {
      val shadowed = partitionCols.foldLeft(out) { (d, c) =>
        d.withColumn(s"$PartPrefix$c", col(c))
      }
      writer(shadowed).options(bloomOpts)
        .partitionBy(partitionCols.map(PartPrefix + _): _*)
        .parquet(abs.toString)
    }
    val c = conf(spark)
    val fs = abs.getFileSystem(c)
    val absQ = fs.makeQualified(abs).toString
    val sealed0 = NioLocalFileSystem.leafFiles(fs, abs).filter { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.toString)
    val hconf = new org.apache.spark.util.SerializableConfiguration(c)
    val swept = footerFanOut(spark, "commit footer sweep",
      sealed0.map(st => (st.getPath.toString, st.getLen)), 600000L,
      "failing the commit") { case (p, len) =>
      sweepEntry(hconf.value, absQ, rel, p, len, statsCols,
        presentBloomCols, bloomBudget)
    }
    if (swept.exists(_.isEmpty)) throw new IllegalStateException(
      s"stage: footer sweep of ${swept.size} staged files did not complete " +
        "within its deadline — failing the commit loudly (nothing was " +
        "published; staged bytes are vacuumable)")
    val entries = swept.flatten
    // zero-row part files (an empty shuffle partition the writer still
    // materialized) carry no data AND no stats — listing them would
    // make every later stats-pruned operation treat them as unbounded
    // "always touched" files; drop them here, vacuum sweeps the bytes
    entries.filter(_.rows > 0)
  }

  /** Atomic publish: dot-tmp write + putIfAbsent onto the versioned
    * name. Exactly one committer of version `s.version` wins
    * ([table]-visible so the spec can pin the race law
    * deterministically).
    *
    * The putIfAbsent primitive is per-scheme, exactly like the log
    * stores every open table format ships: on HDFS,
    * `FileContext.rename` with Options.Rename.NONE is an atomic
    * no-overwrite rename (one NameNode op). On the LOCAL scheme that
    * rename is check-then-act (LocalFs probes the destination, then
    * POSIX rename — which overwrites), so two racing committers could
    * both "succeed" and silently drop a manifest; the true local
    * putIfAbsent is a HARD LINK, which the kernel fails atomically
    * with EEXIST. (Object stores without either need a commit service
    * in front — same as Delta.) */
  private[graft] def publish(spark: SparkSession, dir: String,
      s0: Snapshot, parent: Option[Snapshot] = None): Snapshot = {
    // the DELTA against the parent is what hits the log — commit bytes
    // are ∝ touched files at any table size. Callers on the hot path
    // hand the parent snapshot they already hold; the fallback
    // reconstruction is only for external callers without one.
    val par = parent.orElse {
      if (s0.parent < 0) None
      else Some(readManifest(spark, dir, s0.parent))
    }
    require(par.forall(_.version == s0.parent),
      s"publish: parent snapshot v${par.map(_.version).getOrElse(-2L)} " +
        s"does not match s.parent=${s0.parent}")
    // stamp the commit wall-clock, forced past the parent's so AS OF
    // <timestamp> resolution stays total under clock steps
    val parentTs = par.map(_.ts).getOrElse(-1L)
    val s = s0.copy(ts = math.max(System.currentTimeMillis(), parentTs + 1))
    val delta = diffDelta(par, s)
    putIfAbsent(spark, logPath(dir), renderDelta(delta),
      deltaName(s.version)).foreach { e =>
      throw new ConcurrentCommitException(
        s"snapshot v${s.version} already committed at " +
          s"${new Path(logPath(dir), deltaName(s.version))}", e)
    }
    // canonical form: what any later replay reconstructs
    val committed = applyDelta(par, delta)
    // seed the snapshot cache: the common write-then-plan sequence then
    // never reconstructs at all (the key needs the just-written file's
    // fingerprint — one cheap stat on a path this commit just created)
    try {
      val lp = logPath(dir)
      val st = lp.getFileSystem(conf(spark))
        .getFileStatus(new Path(lp, deltaName(s.version)))
      snapshotCache.put(
        (dir, s.version, fileToken(st.getLen, st.getModificationTime)),
        committed)
    } catch { case NonFatal(_) => () }
    // amortized full listing so reads never replay more than one
    // interval of deltas; best-effort — a crash here just means the
    // next reader replays a longer suffix. Best-effort must NOT mean
    // invisible: a persistently failing checkpoint writer (permissions,
    // quota) degrades every later cold read, so the failure is logged
    // and counted (surfaced by `CALL system.detail`).
    if (s.version > 0 && s.version % CheckpointInterval == 0)
      try writeCheckpoint(spark, dir, committed)
      catch { case NonFatal(e) =>
        countCheckpointFailure(dir)
        log.warn(s"checkpoint write failed at $dir v${s.version} — " +
          "readers replay a longer delta suffix until one succeeds " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    committed
  }

  /** FAULT-INJECTION seam (spec-only): when set, the next
    * [[writeCheckpoint]] throws once — how the observability law
    * (failure logged + counted, table still reads) is pinned without
    * depending on filesystem permissions the test user may bypass. */
  @volatile private[graft] var failNextCheckpoint: Boolean = false

  /** The newest checkpointed version, if any. Together with the head
    * version this prices the replay suffix every COLD read pays — the
    * checkpoint-health observability `CALL system.detail` surfaces (a
    * persistently failing checkpoint writer shows up as a growing
    * suffix here, not as silent degradation). */
  def lastCheckpoint(spark: SparkSession, dir: String): Option[Long] =
    listLog(spark, dir)._2.lastOption

  /** Checkpoint health: (head version, last checkpointed version if
    * any, replay-suffix length — the delta parses a COLD read of the
    * head pays). A growing suffix is the observable symptom of a
    * persistently failing checkpoint writer. */
  def logHealth(spark: SparkSession, dir: String)
      : (Long, Option[Long], Long) = {
    val (versions, cks, _) = listLog(spark, dir)
    val head = versions.lastOption.getOrElse(
      sys.error(s"no manifest table at $dir"))
    val ck = cks.filter(_ <= head).lastOption
    val floor = ck.map(_ + 1).getOrElse(versions.headOption.getOrElse(0L))
    (head, ck, math.max(0L, head - floor + 1))
  }

  /** Force a full checkpoint of the CURRENT snapshot (maintenance
    * hook; [[publish]] also writes one every [[CheckpointInterval]]
    * commits and [[vacuum]] one at the retention horizon). */
  def checkpoint(spark: SparkSession, dir: String): Snapshot = {
    val head = current(spark, dir)
    writeCheckpoint(spark, dir, head)
    head
  }

  /** Two-part columnar checkpoint write: (1) the live-file listing as
    * ONE parquet file (`c%020d.files.parquet`) written by Spark and
    * promoted onto its versioned name, then (2) the tiny JSON meta SEAL
    * (`c%020d.json`, putIfAbsent) — readers never consider a checkpoint
    * until the seal exists, so a crash between the parts just leaves an
    * orphan parquet for vacuum. Idempotent: checkpoint content is a
    * pure function of the log, so a racing writer losing either
    * promotion is fine — identical bytes already sit there. Throws when
    * the seal could not be placed AND is absent (a genuinely failed
    * write — publish counts and logs it). */
  private def writeCheckpoint(spark: SparkSession, dir: String,
      s: Snapshot): Unit = {
    if (failNextCheckpoint) {
      failNextCheckpoint = false
      sys.error("injected checkpoint-write failure (test seam)")
    }
    val lp = logPath(dir)
    val fs = lp.getFileSystem(conf(spark))
    val sealDst = new Path(lp, checkpointName(s.version))
    if (fs.exists(sealDst)) return // already checkpointed (idempotent)
    val tmpDir = new Path(lp, s".tmpck-${s.version}-${UUID.randomUUID()}")
    try {
      writer(spark.createDataFrame(s.files.map(fileRow).asJava, ckptFilesSchema)
        .coalesce(1)).parquet(tmpDir.toString)
      val part = fs.listStatus(tmpDir).map(_.getPath)
        .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
        .getOrElse(sys.error(s"checkpoint: no parquet part under $tmpDir"))
      promoteFile(spark, lp, part, ckptFilesName(s.version))
    } finally {
      try fs.delete(tmpDir, true) catch { case NonFatal(_) => () }
    }
    putIfAbsent(spark, lp, renderCheckpointSeal(s),
      checkpointName(s.version)).foreach { e =>
      if (!fs.exists(sealDst)) throw new java.io.IOException(
        s"checkpoint seal write failed at $sealDst", e)
    }
  }

  /** Promote an existing (sealed) file onto `lp/dstName` with the same
    * per-scheme putIfAbsent primitive as [[putIfAbsent]]; losing to an
    * existing destination is accepted (checkpoint content under one
    * name is unique, so the incumbent is byte-identical). */
  private def promoteFile(spark: SparkSession, lp: Path, src: Path,
      dstName: String): Unit = {
    val fs = lp.getFileSystem(conf(spark))
    val dst = new Path(lp, dstName)
    val isLocal = Option(fs.getUri.getScheme).forall(_ == "file")
    if (isLocal) {
      val sp = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
      val dp = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      try { java.nio.file.Files.createLink(dp, sp); () }
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    } else {
      val fc = FileContext.getFileContext(lp.toUri, conf(spark))
      try { fc.rename(src, dst); () }
      catch { case NonFatal(e) => if (!fs.exists(dst)) throw e }
    }
  }

  /** Write `text` to `lp/dstName` via dot-tmp + atomic no-overwrite
    * promotion. None = this writer created the file; Some(cause) = the
    * name already existed (or the promotion failed).
    *
    * The putIfAbsent primitive is per-scheme, exactly like the log
    * stores every open table format ships: on HDFS,
    * `FileContext.rename` with Options.Rename.NONE is an atomic
    * no-overwrite rename (one NameNode op). On the LOCAL scheme that
    * rename is check-then-act (LocalFs probes the destination, then
    * POSIX rename — which overwrites), so two racing committers could
    * both "succeed" and silently drop a record; the true local
    * putIfAbsent is a HARD LINK, which the kernel fails atomically
    * with EEXIST. (Object stores without either need a commit service
    * in front — same as Delta.) */
  private def putIfAbsent(spark: SparkSession, lp: Path, text: String,
      dstName: String): Option[Throwable] = {
    lazy val fc = FileContext.getFileContext(lp.toUri, conf(spark))
    val tmp = new Path(lp, s".tmp-$dstName-${UUID.randomUUID()}")
    val dst = new Path(lp, dstName)
    val fs = lp.getFileSystem(conf(spark))
    val isLocal = Option(fs.getUri.getScheme).forall(_ == "file")
    // the commit must ride on exactly ONE file: a loser's separately-
    // moved .crc sidecar could shadow the winner's data and fail
    // readers with ChecksumException. Locally the tmp file is written
    // checksum-free (and process-free, see NioLocalFileSystem); through
    // a ChecksumFs the sidecar is dropped (HDFS checksums are
    // block-level, no sidecar — the delete is a no-op there).
    if (isLocal && NioLocalFileSystem.available) {
      val out = NioLocalFileSystem.raw(conf(spark)).create(tmp, false)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    } else {
      val out = fc.create(tmp,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        CreateOpts.createParent())
      try out.write(text.getBytes("UTF-8")) finally out.close()
      try fc.delete(new Path(lp, s".${tmp.getName}.crc"), false)
      catch { case NonFatal(_) => () }
    }
    def lose(e: Throwable): Option[Throwable] = {
      try fs.delete(tmp, false) catch { case NonFatal(_) => () }
      Some(e)
    }
    if (isLocal) {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      try {
        java.nio.file.Files.createLink(d, t) // kernel-atomic putIfAbsent
        java.nio.file.Files.deleteIfExists(t)
        None
      } catch { case e: java.nio.file.FileAlreadyExistsException => lose(e) }
    } else {
      try { fc.rename(tmp, dst); None } // Options.Rename.NONE: atomic on HDFS
      catch { case NonFatal(e) => lose(e) }
    }
  }

  // --------------------------------------- optimistic concurrency

  /** Why a stale file-rewriting commit (prepared against `parent`,
    * currently rebased up to `base`) can NOT be rebased onto `head`;
    * None ⇒ the rebase is safe. The rules are the standard
    * optimistic-concurrency conflict taxonomy every log-structured
    * table format applies at commit time:
    *
    *  - any METADATA change (schema, constraints, stats/partition
    *    spec) conflicts — the staged files were written under the old
    *    spec;
    *  - a file this commit REWROTE that is no longer live is a
    *    write-write conflict (rebasing would resurrect rows the
    *    concurrent commit changed, or double-apply ours);
    *  - a file the concurrent commit ADDED that `conflictsWith` says
    *    may hold rows this operation would have needed to touch (its
    *    DELETE/UPDATE predicate, its MERGE key range) is a read-write
    *    conflict — serializing the two commits in either order could
    *    not produce the rebased state.
    *
    * Only files added AFTER `base` are probed, so a retry loop checks
    * each concurrent commit exactly once. Conservative by
    * construction: a false "conflict" costs a loud retry-at-caller,
    * never a lost update. */
  private[table] def rebaseConflict(parent: Snapshot, base: Snapshot,
      head: Snapshot, removed: Set[String],
      conflictsWith: FileEntry => Boolean): Option[String] = {
    val live = head.files.map(_.path).toSet
    if (head.schemaJson != parent.schemaJson)
      Some("table schema changed concurrently")
    else if (head.constraints != parent.constraints)
      Some("table constraints changed concurrently")
    else if (head.statsCols != parent.statsCols ||
        head.partitionCols != parent.partitionCols ||
        head.bloomCols != parent.bloomCols)
      Some("table stats/partition/bloom spec changed concurrently")
    else removed.find(p => !live(p)).map(p =>
      s"write-write conflict: $p was rewritten by a concurrent commit")
      .orElse {
        // a concurrent DV delete on a file this commit rewrote would be
        // LOST (the rewrite materialized the parent's view of the file)
        removed.find(p => head.dvs.getOrElse(p, Vector.empty) !=
          parent.dvs.getOrElse(p, Vector.empty)).map(p =>
          s"write-write conflict: deletion vector added to $p by a " +
            "concurrent commit")
      }
      .orElse {
        val seen = base.files.map(_.path).toSet
        head.files.find(f => !seen(f.path) && conflictsWith(f)).map(f =>
          s"read-write conflict: concurrently added ${f.path} may hold " +
            "rows this operation had to touch")
      }
  }

  /** Publish a file-REWRITING commit (merge / delete / update /
    * compact) with optimistic rebase: on losing the version race,
    * re-read the head, prove the concurrent commit commutes with this
    * one via [[rebaseConflict]], and re-publish on top of it — the
    * staged data files are reused as-is, so a rebase costs one
    * manifest read + one rename, no data IO. A provable conflict
    * throws [[ConcurrentCommitException]] with the reason (the caller
    * must re-read and re-run — its rewrite was computed against rows
    * that changed under it). `batchId` carries the streaming
    * high-water mark; if a concurrent commit already advanced the
    * mark past it, the batch landed elsewhere and the CURRENT head is
    * returned uncommitted (the replay contract under races). */
  private[table] def commitRewrite(spark: SparkSession, dir: String,
      parent: Snapshot, operation: String, removed: Set[String],
      staged: Vector[FileEntry], conflictsWith: FileEntry => Boolean,
      batchId: Option[Long], txnId: Option[String] = None,
      maxRetries: Int = 5,
      /** Overrides the committed schema (MERGE schema evolution: the
        * widened schema rides the SAME commit as the merged data). The
        * rebase conflict test still compares the PARENT's schema
        * against the head's, so a concurrent metadata change fails
        * loudly exactly as before. */
      schemaJson: Option[String] = None): Snapshot = {
    def mark(s: Snapshot): Long =
      txnId.map(id => s.txns.getOrElse(id, -1L)).getOrElse(s.lastBatch)
    var base = parent
    var attempt = 0
    while (true) {
      val newLast =
        if (txnId.isEmpty)
          batchId.map(math.max(_, base.lastBatch)).getOrElse(base.lastBatch)
        else base.lastBatch
      val newTxns = (batchId, txnId) match {
        case (Some(b), Some(id)) =>
          base.txns + (id -> math.max(b, base.txns.getOrElse(id, -1L)))
        case _ => base.txns
      }
      val snap = Snapshot(base.version + 1, base.version, operation,
        parent.statsCols, parent.partitionCols, newLast,
        schemaJson.getOrElse(parent.schemaJson),
        base.files.filterNot(f => removed(f.path)) ++ staged,
        parent.constraints, parent.dropped,
        dvs = base.dvs -- removed, txns = newTxns,
        renames = parent.renames, bloomCols = parent.bloomCols)
      try return publish(spark, dir, snap, Some(base))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val head = current(spark, dir)
          if (batchId.exists(_ <= mark(head))) return head
          rebaseConflict(parent, base, head, removed, conflictsWith)
            .foreach { why =>
              throw new ConcurrentCommitException(
                s"$operation cannot rebase onto v${head.version}: $why", e)
            }
          base = head
      }
    }
    sys.error("unreachable")
  }

  // ------------------------------------------------------- commits

  /** Create the table at version 0 (fails if a log already exists).
    * `statsCols` selects the columns whose footer min/max every commit
    * harvests (pruning + MERGE metadata); `partitionCols` makes the
    * table partitioned — partition values are recorded per file and
    * the columns stay in the data files. */
  def create(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String] = Nil, partitionCols: Seq[String] = Nil,
      constraints: Map[String, String] = Map.empty,
      /** Opt-in parquet-native bloom filters for point-predicate file
        * skipping on UNSORTED layouts — see [[Snapshot.bloomCols]]. */
      bloomCols: Seq[String] = Nil): Snapshot = {
    require(latestVersion(spark, dir).isEmpty,
      s"table already exists at $dir — use append/overwrite/merge")
    // a DROPPED table recreated at the same path must never be answered
    // from the old table's cached snapshots (the v-file fingerprint
    // usually catches this, but length+mtime can collide within the
    // filesystem's mtime granularity — purge deterministically instead)
    snapshotCache.invalidateDir(dir)
    (statsCols ++ partitionCols ++ bloomCols).foreach { c =>
      require(df.schema.fieldNames.contains(c), s"column $c not in schema")
    }
    enforce(df, constraints, "create")
    val files = stage(spark, dir, df, statsCols, partitionCols, bloomCols)
    val snap = Snapshot(0L, -1L, "create", statsCols, partitionCols, -1L,
      df.schema.json, files, constraints, bloomCols = bloomCols)
    publish(spark, dir, snap)
  }

  /** Two-phase CREATE for the SQL atomic-CTAS path (r17 verdict #3,
    * [[graft.sources.GraftCatalog]] SupportsStagedTables): phase 1
    * writes + sweeps the data files with NO log record — the table does
    * not exist until [[publishCreate]] commits version 0 listing them,
    * so CTAS pays ONE commit instead of create-empty + append (two
    * commits, two footer sweeps, one read-back). Identical building
    * blocks to [[create]], just split at the stage/publish seam.
    * Returns the table-relative stage dir holding every staged byte
    * (what an abort hands to [[dropStaged]]) with the staged entries; a
    * failed stage drops its own dir before rethrowing. */
  private[graft] def stageForCreate(spark: SparkSession, dir: String,
      df: DataFrame, statsCols: Seq[String], partitionCols: Seq[String],
      bloomCols: Seq[String]): (String, Vector[FileEntry]) = {
    require(latestVersion(spark, dir).isEmpty,
      s"table already exists at $dir — use append/overwrite/merge")
    (statsCols ++ partitionCols ++ bloomCols).foreach { c =>
      require(df.schema.fieldNames.contains(c), s"column $c not in schema")
    }
    val rel = s"$DataDir/${UUID.randomUUID()}"
    try rel -> stage(spark, dir, df, statsCols, partitionCols, bloomCols, rel)
    catch { case NonFatal(e) => dropStaged(spark, dir, rel); throw e }
  }

  /** Delete a stage dir returned by [[stageForCreate]]. */
  private[graft] def dropStaged(spark: SparkSession, dir: String,
      rel: String): Unit = {
    val p = new Path(dir, rel)
    p.getFileSystem(conf(spark)).delete(p, true)
  }

  /** Phase 2 of the staged CTAS: publish version 0 over files staged by
    * [[stageForCreate]]. Loses the race loudly if a table appeared at
    * `dir` meanwhile (same guarantee as [[create]]). */
  private[graft] def publishCreate(spark: SparkSession, dir: String,
      schemaJson: String, statsCols: Seq[String], partitionCols: Seq[String],
      bloomCols: Seq[String], files: Vector[FileEntry]): Snapshot = {
    require(latestVersion(spark, dir).isEmpty,
      s"table already exists at $dir — use append/overwrite/merge")
    snapshotCache.invalidateDir(dir)
    publish(spark, dir, Snapshot(0L, -1L, "create", statsCols,
      partitionCols, -1L, schemaJson, files, Map.empty,
      bloomCols = bloomCols))
  }

  /** Append-only commit; auto-retries the version race (an append is
    * insensitive to what the concurrent commit did to OTHER files).
    *
    * Schema EVOLUTION, additive only: `df` may carry columns the table
    * doesn't have yet — the snapshot schema widens to (table columns in
    * their original order) ++ (new columns), and files written before
    * the widening read back with NULLs in the new columns (parquet
    * resolves the explicit read schema by name, so old files simply
    * lack them). Older snapshots keep their own schemaJson — time
    * travel returns each version with the schema it was committed
    * under. Missing table columns or a changed dataType throw before
    * any data is staged. */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      maxRetries: Int = 5): Snapshot = {
    val base = current(spark, dir)
    evolveSchema(base, df) // fail fast, before any data is staged
    enforce(df, base.constraints, "append")
    val files = stage(spark, dir, df, base.statsCols, base.partitionCols,
      base.bloomCols)
    var attempt = 0
    while (true) {
      val head = current(spark, dir)
      val snap = Snapshot(head.version + 1, head.version, "append",
        head.statsCols, head.partitionCols, head.lastBatch,
        evolveSchema(head, df), head.files ++ files, head.constraints,
        head.dropped, dvs = head.dvs, txns = head.txns,
        renames = head.renames, bloomCols = head.bloomCols)
      try return publish(spark, dir, snap, Some(head))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1; if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Exactly-once APPEND for streaming writers: the micro-batch id is
    * recorded as a high-water mark — PER WRITER when `txnId` names the
    * writer (the streaming query id / a user txnAppId: Delta's
    * txnAppId pattern, [[Snapshot.txns]]), else against the
    * table-global legacy mark. A replayed id returns the current
    * snapshot without committing; the check is O(1) (it rides the
    * LATEST snapshot) and survives vacuum. The sink behind
    * `writeStream.format("graft")` in append mode. */
  def appendBatch(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Long, txnId: Option[String] = None,
      maxRetries: Int = 5): Snapshot = {
    def mark(s: Snapshot): Long = replayMark(s, txnId, batchId, "append")
    val base = current(spark, dir)
    if (batchId <= mark(base)) return base
    evolveSchema(base, df)
    enforce(df, base.constraints, s"append@batch=$batchId")
    val files = stage(spark, dir, df, base.statsCols, base.partitionCols,
      base.bloomCols)
    var attempt = 0
    while (true) {
      val head = current(spark, dir)
      if (batchId <= mark(head)) return head // landed concurrently
      val newLast =
        if (txnId.isEmpty) math.max(batchId, head.lastBatch)
        else head.lastBatch
      val newTxns = txnId.map(id =>
        head.txns + (id -> math.max(batchId, head.txns.getOrElse(id, -1L))))
        .getOrElse(head.txns)
      val snap = Snapshot(head.version + 1, head.version,
        s"append@batch=$batchId", head.statsCols, head.partitionCols,
        newLast, evolveSchema(head, df),
        head.files ++ files, head.constraints, head.dropped,
        dvs = head.dvs, txns = newTxns, renames = head.renames,
        bloomCols = head.bloomCols)
      try return publish(spark, dir, snap, Some(head))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1; if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** The replay high-water mark `batchId` must exceed for a streaming
    * commit to be NEW: the writer's own txn mark when `txnId` names it,
    * else the table-global legacy mark. UPGRADE seam: a txn-scoped
    * writer with no mark yet, on a table whose marks all predate
    * per-writer txns (`s.txns` empty, only the global mark advanced),
    * is a pre-upgrade streaming query RESTARTING — Spark only ever
    * replays the LAST committed batch, so when the head commit is
    * literally this operation at this batch id the batch already
    * landed and must not double-commit. One new batch later the writer
    * carries its own mark and the seam can never fire again. */
  private def replayMark(s: Snapshot, txnId: Option[String],
      batchId: Long, opPrefix: String): Long = txnId match {
    case None => s.lastBatch
    case Some(id) => s.txns.get(id) match {
      case Some(m) => m
      case None =>
        if (s.txns.isEmpty && batchId <= s.lastBatch &&
          s.operation == s"$opPrefix@batch=$batchId") batchId
        else -1L
    }
  }

  /** The widened schema json for appending `df` onto `head` (additive
    * evolution; loud on anything else). */
  private def evolveSchema(head: Snapshot, df: DataFrame): String = {
    val table = head.schema
    val incoming = df.schema
    val byName = incoming.fields.map(f => f.name -> f).toMap
    table.fields.foreach { tf =>
      byName.get(tf.name) match {
        case None => throw new IllegalArgumentException(
          s"append: table column ${tf.name} missing from the frame " +
            "(evolution is additive only)")
        case Some(inf) if inf.dataType != tf.dataType =>
          throw new IllegalArgumentException(
            s"append: column ${tf.name} type ${inf.dataType} != table " +
              s"type ${tf.dataType}")
        case _ => ()
      }
    }
    val existing = table.fieldNames.toSet
    val added = incoming.fields.filterNot(f => existing(f.name))
      .map(_.copy(nullable = true))
    val reserved = head.dropped.toSet ++ head.renames.valuesIterator.flatten
    added.find(f => reserved(f.name)).foreach { f =>
      throw new IllegalArgumentException(
        s"append: column ${f.name} was dropped or renamed away — the " +
          "old files still hold its physical data, so re-adding it " +
          "would resurrect stale values; overwrite() the table to " +
          "reuse the name")
    }
    if (added.isEmpty) head.schemaJson
    else StructType(table.fields ++ added).json
  }

  /** ALTER TABLE DROP COLUMN as one METADATA commit — zero data IO at
    * any table size: the logical schema shrinks and the column's
    * per-file stats are dropped from the manifest; the physical data
    * stays in the old files, invisible because every read resolves the
    * EXPLICIT logical schema by name. The name is tombstoned in the
    * snapshot so additive evolution refuses to re-add it (old values
    * must not resurrect — see [[Snapshot.dropped]]); [[overwrite]]
    * rewrites everything and clears the tombstones. Columns load-
    * bearing for the table spec (stats, partition, or referenced by a
    * CHECK constraint) cannot be dropped. Old snapshots time-travel
    * with the column intact, and [[restore]] to a pre-drop version
    * brings it back — the drop is a commit like any other. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Snapshot = {
    val head = current(spark, dir)
    val schema = head.schema
    require(schema.fieldNames.contains(name),
      s"dropColumn: no column $name in the table schema")
    require(schema.fields.length > 1,
      "dropColumn: cannot drop the only column")
    require(!head.statsCols.contains(name) && !head.partitionCols.contains(name),
      s"dropColumn: $name is part of the table's stats/partition spec")
    head.constraints.foreach { case (cn, sql) =>
      val refs = org.apache.spark.sql.GraftSqlBridge
        .expr(org.apache.spark.sql.functions.expr(sql)).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
      require(!refs.contains(name),
        s"dropColumn: $name is referenced by CHECK constraint $cn")
    }
    val snap = Snapshot(head.version + 1, head.version, s"drop@$name",
      head.statsCols, head.partitionCols, head.lastBatch,
      StructType(schema.fields.filterNot(_.name == name)).json,
      head.files.map(f => f.copy(stats = f.stats - name)),
      head.constraints,
      // the dropped column's rename lineage (if any) moves into the
      // tombstones: its physical names must stay reserved
      head.dropped ++ (name +: head.renames.getOrElse(name, Vector.empty)),
      dvs = head.dvs, txns = head.txns, renames = head.renames - name,
      bloomCols = head.bloomCols.filterNot(_ == name))
    publish(spark, dir, snap, Some(head))
  }

  /** ALTER TABLE ADD COLUMN as one METADATA commit — the explicit form
    * of write-time additive evolution: the logical schema widens (new
    * columns forced nullable), existing files read back with NULLs in
    * them, zero data IO at any table size. Tombstoned (dropped) names
    * refuse to return, same as the write path. */
  def addColumns(spark: SparkSession, dir: String,
      newFields: Seq[StructField]): Snapshot = {
    val head = current(spark, dir)
    val schema = head.schema
    val reserved = head.dropped.toSet ++ head.renames.valuesIterator.flatten
    newFields.foreach { f =>
      require(!schema.fieldNames.contains(f.name),
        s"addColumns: column ${f.name} already exists")
      require(!reserved(f.name),
        s"addColumns: ${f.name} was dropped or renamed away — old files " +
          "still hold its physical data; overwrite() the table to " +
          "reuse the name")
    }
    publish(spark, dir, Snapshot(head.version + 1, head.version,
      s"add@${newFields.map(_.name).mkString(",")}", head.statsCols,
      head.partitionCols, head.lastBatch,
      StructType(schema.fields ++ newFields.map(_.copy(nullable = true))).json,
      head.files, head.constraints, head.dropped, dvs = head.dvs,
      txns = head.txns, renames = head.renames,
      bloomCols = head.bloomCols), Some(head))
  }

  /** ALTER TABLE RENAME COLUMN as one METADATA commit — zero data IO
    * at any table size: the logical schema renames the field in place
    * and the snapshot records the rename lineage ([[Snapshot.renames]]);
    * files written before the commit keep the old PHYSICAL name and
    * every read resolves the column as coalesce(new, old) over a
    * widened physical schema, so old and new files answer under the
    * new name exactly. The old name is reserved (like a [[dropColumn]]
    * tombstone) — re-adding it would resurrect stale physical values;
    * [[overwrite]] clears the lineage. Old snapshots time-travel with
    * the old name intact. Columns load-bearing for the table spec
    * (stats, partition, CHECK constraints) must be un-wired first —
    * same rule as dropColumn. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Snapshot = {
    val head = current(spark, dir)
    val schema = head.schema
    require(schema.fieldNames.contains(from),
      s"renameColumn: no column $from in the table schema")
    require(!schema.fieldNames.contains(to),
      s"renameColumn: column $to already exists")
    val reserved = head.dropped ++ head.renames.valuesIterator.flatten
    require(!reserved.contains(to),
      s"renameColumn: $to was dropped or renamed away — old files still " +
        "hold its physical data; overwrite() the table to reuse the name")
    require(!head.statsCols.contains(from) &&
      !head.partitionCols.contains(from) && !head.bloomCols.contains(from),
      s"renameColumn: $from is part of the table's stats/partition/" +
        "bloom spec")
    head.constraints.foreach { case (cn, sql) =>
      val refs = org.apache.spark.sql.GraftSqlBridge
        .expr(org.apache.spark.sql.functions.expr(sql)).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
      require(!refs.contains(from),
        s"renameColumn: $from is referenced by CHECK constraint $cn")
    }
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val chain = from +: head.renames.getOrElse(from, Vector.empty)
    publish(spark, dir, Snapshot(head.version + 1, head.version,
      s"rename@$from->$to", head.statsCols, head.partitionCols,
      head.lastBatch, newSchema.json,
      head.files.map(f => f.copy(stats = f.stats - from)),
      head.constraints, head.dropped, dvs = head.dvs, txns = head.txns,
      renames = (head.renames - from) + (to -> chain),
      bloomCols = head.bloomCols), Some(head))
  }

  /** Replace the table contents atomically (readers flip old→new with
    * no intermediate state). The full rewrite clears [[dropColumn]]
    * tombstones AND rename lineage: no old file is in the new set, so
    * a previously dropped or renamed-away name may return with fresh
    * values. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Snapshot = {
    val head = current(spark, dir)
    enforce(df, head.constraints, "overwrite")
    val files = stage(spark, dir, df, head.statsCols, head.partitionCols,
      head.bloomCols)
    val snap = Snapshot(head.version + 1, head.version, "overwrite",
      head.statsCols, head.partitionCols, head.lastBatch,
      df.schema.json, files, head.constraints, dropped = Nil,
      txns = head.txns, bloomCols = head.bloomCols)
    publish(spark, dir, snap, Some(head)) // conflict ⇒ caller must re-read & re-run
  }

  /** RESTORE TABLE … TO VERSION `version`: re-publish that snapshot's
    * exact file set (and its schema/stats/partition spec) as the NEW
    * head — a pure METADATA commit, zero data IO, because the old data
    * files are still on disk until vacuum() drops them (restore past
    * the vacuum retention fails at read time, same as time travel).
    * History is preserved — the rollback is itself a commit, so a
    * restore can be restored away again and the audit trail keeps
    * every step. The streaming batch high-water mark carries forward
    * from the CURRENT head, never from the restore target: a restore
    * must not re-open the door to replaying already-committed batch
    * ids (exactly-once survives rollback). At 100 TB this is the
    * incident-response primitive: undoing a bad commit costs one JSON
    * rename, not a table rewrite. */
  def restore(spark: SparkSession, dir: String, version: Long): Snapshot = {
    val head = current(spark, dir)
    if (version == head.version) return head // already there: no-op
    val target = readManifest(spark, dir, version)
    val snap = Snapshot(head.version + 1, head.version,
      s"restore@v$version", target.statsCols, target.partitionCols,
      head.lastBatch, target.schemaJson, target.files, target.constraints,
      target.dropped, dvs = target.dvs, txns = head.txns,
      renames = target.renames, bloomCols = target.bloomCols)
    publish(spark, dir, snap, Some(head))
  }

  /** ALTER TABLE {ADD|DROP} CONSTRAINT as one metadata commit: added
    * CHECKs validate the EXISTING data first (one scan of the live
    * files — a constraint that does not hold cannot be added, same as
    * every SQL engine), drops are free. The resulting constraint set
    * rides every later commit. */
  def alterConstraints(spark: SparkSession, dir: String,
      add: Map[String, String] = Map.empty,
      drop: Set[String] = Set.empty): Snapshot = {
    val head = current(spark, dir)
    drop.foreach { n =>
      require(head.constraints.contains(n), s"no constraint named $n")
    }
    if (add.nonEmpty) enforce(scan(spark, dir, head), add, "add constraint")
    val next = head.constraints -- drop ++ add
    val snap = Snapshot(head.version + 1, head.version, "alter",
      head.statsCols, head.partitionCols, head.lastBatch,
      head.schemaJson, head.files, next, head.dropped, dvs = head.dvs,
      txns = head.txns, renames = head.renames,
      bloomCols = head.bloomCols)
    publish(spark, dir, snap, Some(head))
  }

  /** Partition/stats SPEC EVOLUTION as one metadata commit: change the
    * columns FUTURE commits partition new files by and/or harvest
    * footer stats for — no rewrite, any table size. Sound because
    * pruning is per FILE, never per table: every file is judged by its
    * own recorded partition values and stats, so a table carrying
    * several layout generations still answers `read(dir, filter)`
    * exactly (old-generation files without the new partition value
    * fall back to their footer stats, or are conservatively kept).
    * `compact()` is the incremental migrator — rewritten files pick up
    * the new spec. A rewrite prepared under the old spec that races
    * this commit fails its rebase loudly (spec drift is a conflict).
    * This is the operation that saves the 100 TB re-partition when a
    * table's query pattern changes. */
  def alterLayout(spark: SparkSession, dir: String,
      statsCols: Option[Seq[String]] = None,
      partitionCols: Option[Seq[String]] = None,
      /** Changing the bloom spec only affects files written AFTER this
        * commit — old files without a bloom are conservatively kept by
        * the probe (never skipped), so mixed generations stay exact;
        * compact() migrates them, same as every layout change. */
      bloomCols: Option[Seq[String]] = None): Snapshot = {
    val head = current(spark, dir)
    val st = statsCols.getOrElse(head.statsCols)
    val pc = partitionCols.getOrElse(head.partitionCols)
    val bc = bloomCols.getOrElse(head.bloomCols)
    (st ++ pc ++ bc).foreach { c =>
      require(head.schema.fieldNames.contains(c),
        s"alterLayout: column $c not in schema")
    }
    if (st == head.statsCols && pc == head.partitionCols &&
      bc == head.bloomCols) return head
    publish(spark, dir, Snapshot(head.version + 1, head.version,
      "alter-layout", st, pc, head.lastBatch, head.schemaJson,
      head.files, head.constraints, head.dropped, dvs = head.dvs,
      txns = head.txns, renames = head.renames,
      bloomCols = bc), Some(head))
  }

  /** Shallow CLONE: publish `dstDir` as a NEW table whose v0 references
    * the source's live data files by fully-qualified URI — zero bytes
    * copied at any table size, one JSON write. The clone then lives its
    * own life: appends/merges/deletes stage THEIR files under the clone
    * and rewrite source-referenced files copy-on-write (the source is
    * never touched), which is the test-on-production-data primitive.
    * Schema, stats/partition spec, constraints and drop tombstones all
    * carry; the streaming batch mark resets (a clone is a new sink).
    * Hazard, same as every shallow clone: vacuum() on the SOURCE may
    * delete files the clone still references — clones are working
    * copies, not backups. */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Snapshot = {
    require(latestVersion(spark, dstDir).isEmpty,
      s"table already exists at $dstDir")
    val src = snapshot(spark, srcDir, version)
    val fs = new Path(srcDir).getFileSystem(conf(spark))
    val srcQ = fs.makeQualified(new Path(srcDir))
    def qualify(p: String): String =
      // a clone of a clone may already carry qualified URIs — keep them
      if (p.contains(":/") || p.startsWith("/")) p
      else new Path(srcQ, p).toString
    val files = src.files.map(f => f.copy(path = qualify(f.path)))
    val dvs = src.dvs.map { case (p, vs) => qualify(p) -> vs.map(qualify) }
    publish(spark, dstDir, Snapshot(0L, -1L,
      s"clone@v${src.version}", src.statsCols, src.partitionCols, -1L,
      src.schemaJson, files, src.constraints, src.dropped, dvs = dvs,
      renames = src.renames, bloomCols = src.bloomCols))
  }

  private[table] def current(spark: SparkSession, dir: String): Snapshot = {
    // one listing serves both the head lookup and the reconstruction
    val (versions, cks, tokens) = listLog(spark, dir)
    versions.lastOption match {
      case Some(v) => snapshotAt(spark, dir, v, versions, cks, tokens)
      case None => sys.error(s"no manifest table at $dir")
    }
  }

  // --------------------------------------------------------- reads

  /** The physical read plan for a logical schema under a rename
    * lineage: the widened read schema (each renamed column's prior
    * physical names appended as nullable shadows — parquet resolves by
    * name, so every file simply fills the names it has) and the
    * projection back to logical columns (`coalesce(new, priors…)`,
    * exact because a file carries at most ONE of the chain's names). */
  private[table] def renamePlan(schema: StructType,
      renames: Map[String, Vector[String]])
      : (StructType, DataFrame => DataFrame) = {
    val shadows = schema.fields.flatMap(f =>
      renames.getOrElse(f.name, Vector.empty)
        .map(n => StructField(n, f.dataType, nullable = true)))
    val phys = StructType(schema.fields ++ shadows)
    // the projection ALWAYS narrows to exactly the logical columns —
    // callers rely on it to drop scan-side helper columns too
    val project = (df: DataFrame) => df.select(schema.fields.toSeq.map { f =>
      renames.get(f.name) match {
        case Some(chain) =>
          coalesce((f.name +: chain).map(col): _*).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    (phys, project)
  }

  /** The raw physical read of `files` (no rename projection, no DV
    * subtraction) through a [[ManifestFileIndex]] over `snap`'s version:
    * Catalyst's pushed filters prune the file list, and nothing is
    * listed. */
  private def rawScan(spark: SparkSession, dir: String, snap: Snapshot,
      files: Seq[FileEntry], physSchema: StructType): DataFrame =
    ManifestFileIndex.frame(spark,
      new ManifestFileIndex(spark, dir, snap.copy(files = files.toVector)),
      physSchema)

  /** Scan `files` of `snap` under `schema` (a logical schema over the
    * `renames` lineage), subtracting `snap`'s deletion vectors. The one
    * read path: every table read and every commit-side scan of touched
    * files plans here, so each prunes files from the filters Catalyst
    * pushes into its scan. */
  private[table] def scanWith(spark: SparkSession, dir: String, snap: Snapshot,
      files: Seq[FileEntry], schema: StructType,
      renames: Map[String, Vector[String]]): DataFrame = {
    val (physSchema, project) = renamePlan(schema, renames)
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      val dvs = snap.dvs
      val (dvFiles, plainFiles) =
        files.partition(f => dvs.get(f.path).exists(_.nonEmpty))
      def plain = project(rawScan(spark, dir, snap, plainFiles, physSchema))
      if (dvFiles.isEmpty) plain
      else {
        // merge-on-read: subtract each file's deletion vector — a
        // BROADCAST anti-join on (file basename, parquet row position),
        // so the data side never shuffles and the cost rides the DV
        // size (∝ deleted rows), not the table. Production readers push
        // the bitmap into the scan itself; the join is the declarative
        // equivalent at the same asymptotics. The _metadata access
        // rides the RAW physical read (before the rename projection).
        val raw = rawScan(spark, dir, snap, dvFiles, physSchema)
        val dvDirs = dvFiles.flatMap(f => dvs(f.path)).distinct
        // one DV dir may be shared by several files (one delete commit
        // touching many files writes ONE dir) — keep only the pairs for
        // files actually in THIS scan so the broadcast never carries
        // rows for pruned-out files; pairs for other files could never
        // match the anti-join anyway, so the filter is pure IO savings
        val scannedBases = dvFiles
          .map(f => f.path.substring(f.path.lastIndexOf('/') + 1))
        val dvFrame0 = spark.read
          .parquet(dvDirs.map(p => new Path(dir, p).toString): _*)
        val dvFrame = (if (scannedBases.size <= 1000)
            dvFrame0.where(col("base").isin(scannedBases: _*))
          else dvFrame0)
          .select(col("base").as("__dv_base"), col("idx").as("__dv_idx"))
        val subtracted = project(raw
          .withColumn("__base",
            element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn("__idx", col("_metadata.row_index"))
          .join(broadcast(dvFrame),
            col("__base") === col("__dv_base") &&
              col("__idx") === col("__dv_idx"), "left_anti"))
        if (plainFiles.isEmpty) subtracted
        else plain.unionByName(subtracted)
      }
    }
  }

  private def scan(spark: SparkSession, dir: String, snap: Snapshot): DataFrame =
    scanWith(spark, dir, snap, snap.files, snap.schema, snap.renames)

  /** Latest snapshot. Like every read, a filter applied on the result
    * prunes files by manifest bounds and blooms ([[ManifestFileIndex]]). */
  def read(spark: SparkSession, dir: String): DataFrame =
    scan(spark, dir, current(spark, dir))

  /** Latest snapshot with `filter` applied, pruned at two granularities:
    * files whose [min, max] bounds (footer stats and exact partition
    * values) or blooms prove `filter` cannot match are never listed for
    * the scan, and inside surviving multi-row-group files the same
    * test runs per ROW GROUP — only the byte ranges of matching groups
    * are handed to the scan, so a needle query on a 1 GB file reads
    * one row group, not the file. The result always equals
    * `read(dir).where(filter)` — pruning can only skip IO. Supports =,
    * <=>, <, <=, >, >=, IN, AND, OR over column-vs-foldable
    * comparisons; anything else keeps the file/group. */
  def read(spark: SparkSession, dir: String, filter: Column): DataFrame =
    readSnapshot(spark, dir, current(spark, dir), Some(filter))

  /** Time travel: the table exactly as of snapshot `version`. A filter
    * on the result prunes files exactly as at the head. */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    scan(spark, dir, readManifest(spark, dir, version))

  /** Plain scan of files `cur` added, under `schema` (no DV subtraction
    * — the streaming source reads files at the version that ADDED them,
    * before any vector can reference them). */
  private[graft] def readFiles(spark: SparkSession, dir: String,
      cur: Snapshot, files: Seq[FileEntry], schema: StructType,
      renames: Map[String, Vector[String]]): DataFrame =
    scanWith(spark, dir, cur.copy(dvs = Map.empty), files, schema, renames)

  /** Scan an explicit snapshot with an optional filter — the shared
    * read path behind `read(dir, filter)` AND the `format("graft")`
    * DataSourceV2 connector. File pruning happens in the scan's
    * [[ManifestFileIndex]]; multi-row-group files the filter only
    * partly matches are read as the byte ranges of their matching row
    * groups (planned via
    * [[org.apache.spark.sql.GraftSqlBridge.parquetRangeFrame]] — the
    * pruned groups are never opened). The filter is re-applied on
    * everything scanned, so pruning only skips IO. */
  private[graft] def readSnapshot(spark: SparkSession, dir: String,
      snap: Snapshot, filter: Option[Column],
      /** Pruned survivor set a caller already computed for THIS
        * (snapshot, filter) — e.g. the DSv2 scan, which prunes once for
        * statistics + file listing + execution. */
      precomputed: Option[Vector[FileEntry]] = None): DataFrame =
    filter match {
    case Some(c) =>
      val expr = org.apache.spark.sql.GraftSqlBridge.expr(c)
      val files = precomputed.getOrElse(snap.files)
      def hasDv(f: FileEntry) = snap.dvs.get(f.path).exists(_.nonEmpty)
      // files needing more than a plain scan are judged up front, so the
      // plan carries that machinery only for survivors: a vectored file
      // plans the DV anti-join, a multi-row-group file may read as byte
      // ranges. The scan's index prunes every other file.
      val special = files.filter(f => hasDv(f) || f.rgs.size > 1)
      val kept =
        if (special.isEmpty) special
        else pruneExpr(spark, dir, snap.copy(files = special), expr)
      // row-group pruning applies to multi-group files WITHOUT deletion
      // vectors (a DV read needs _metadata row positions over the whole
      // file)
      val partial = kept.filter(f => f.rgs.size > 1 && !hasDv(f))
        .map(f => f -> keptGroups(f, snap.schema, expr))
        .filter { case (f, groups) => groups.size < f.rgs.size }
      val skip = (special.iterator.map(_.path).toSet --
        kept.map(_.path)) ++ partial.map(_._1.path)
      val base = scanWith(spark, dir, snap, files.filterNot(f => skip(f.path)),
        snap.schema, snap.renames)
      val ranges = partial.flatMap { case (f, kept) =>
        rangeRuns(f, kept).map { case (start, len) =>
          (new Path(dir, f.path).toString, start, len, f.bytes) }
      }
      val withRanges =
        if (ranges.isEmpty) base
        else {
          val (physSchema, project) = renamePlan(snap.schema, snap.renames)
          base.unionByName(project(org.apache.spark.sql.GraftSqlBridge
            .parquetRangeFrame(spark, physSchema, ranges)))
        }
      withRanges.where(c)
    case None => scan(spark, dir, snap)
  }

  /** Indexes of `f`'s row groups the filter may match (a group judges
    * by its own bounds plus the file's exact partition values). */
  private def keptGroups(f: FileEntry, schema: StructType,
      e: Expression): Seq[Int] =
    f.rgs.zipWithIndex.collect {
      case (g, i) if mayMatch(
        FileEntry(f.path, g.rows, g.bytes, g.stats, f.partitions), schema, e)
        => i
    }

  /** Maximal runs of consecutive kept row groups as (start, length)
    * byte ranges. A range covers exactly its groups' midpoints
    * (`offset + bytes/2` — parquet's split-assignment rule): it starts
    * at the first kept group's offset and ends where the last kept
    * group's bytes end, and since blocks are laid out sequentially no
    * excluded group's midpoint can fall inside. */
  private def rangeRuns(f: FileEntry, kept: Seq[Int]): Seq[(Long, Long)] = {
    if (kept.isEmpty) return Nil
    val runs = kept.foldLeft(Vector.empty[Vector[Int]]) { (acc, i) =>
      if (acc.nonEmpty && acc.last.last == i - 1)
        acc.init :+ (acc.last :+ i)
      else acc :+ Vector(i)
    }
    runs.map { run =>
      val first = f.rgs(run.head)
      val last = f.rgs(run.last)
      (first.offset, last.offset + last.bytes - first.offset)
    }
  }

  /** The row-group pruning decision for `filter` on the current
    * snapshot, per multi-group file: (kept groups, total groups, kept
    * bytes, total bytes) — the spec/marquee observability hook. */
  def rowGroupPlan(snap: Snapshot, filter: Column)
      : Map[String, (Int, Int, Long, Long)] = {
    val e = org.apache.spark.sql.GraftSqlBridge.expr(filter)
    pruneFiles(snap, filter).filter(_.rgs.size > 1).map { f =>
      val kept = keptGroups(f, snap.schema, e)
      f.path -> (kept.size, f.rgs.size,
        kept.map(f.rgs(_).bytes).sum, f.rgs.map(_.bytes).sum)
    }.toMap
  }

  /** Latest snapshot with per-row provenance columns: `_file` (the data
    * file the row came from) and `_commit_version` (the snapshot that
    * first listed that file — files are immutable, so this is the
    * commit that WROTE the row's current copy). The attribution is a
    * broadcast join of a metadata-sized (basename → version) frame
    * against `input_file_name()`; basenames are writer-unique, so the
    * join is exact. Costs one manifest read per retained version on
    * the driver, zero extra data IO.
    *
    * Attribution is relative to RETAINED history: `_commit_version` is
    * the earliest retained manifest listing the file, so after
    * [[vacuum]] removes old manifests a file written by a vacuumed-away
    * commit is attributed to the earliest SURVIVING version that lists
    * it (the same "history starts at the retention horizon" contract as
    * time travel — vacuum trades provenance depth for space, it never
    * fabricates a version that postdates the row). */
  def readWithMeta(spark: SparkSession, dir: String): DataFrame = {
    val hist = history(spark, dir)
    val head = hist.last
    val firstSeen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    hist.foreach { s =>
      s.files.foreach { f =>
        val base = f.path.substring(f.path.lastIndexOf('/') + 1)
        if (!firstSeen.contains(base)) firstSeen(base) = s.version
      }
    }
    import spark.implicits._
    val meta = head.files.map { f =>
      val base = f.path.substring(f.path.lastIndexOf('/') + 1)
      (base, firstSeen(base))
    }.toSeq.toDF("__base", "_commit_version")
    scan(spark, dir, head)
      .withColumn("_file", input_file_name())
      .withColumn("__base", element_at(split(col("_file"), "/"), -1))
      .join(broadcast(meta), Seq("__base"), "left")
      .drop("__base")
  }

  /** `AS OF <timestamp>` resolution: the highest version committed at
    * or before `tsMillis` (epoch millis). Commit stamps are forced
    * strictly increasing at publish, so the answer is unique; asking
    * before the first retained commit throws (same as asking for a
    * vacuumed version). */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    // commit stamps are strictly increasing, so the answer is the last
    // retained version at or before tsMillis — found by BINARY SEARCH:
    // O(log history) tiny ts-only parses (no snapshot reconstruction),
    // never one read per commit (a 10⁶-commit history would otherwise
    // pay up to 10⁶ driver-side reads for an early timestamp)
    val versions = listVersions(spark, dir).toVector
    val firstAfter = tsBoundary(spark, dir, versions)(_ > tsMillis)
    val hit = if (firstAfter == 0) None else {
      val v = versions(firstAfter - 1)
      val t = entryTs(spark, dir, v)
      if (t >= 0 && t <= tsMillis) Some(v)
      else
        // the boundary hit is unstamped (legacy −1) or out of range —
        // either a legacy prefix (nothing stamped at or before
        // tsMillis) or a mid-history record whose missing/unparsable
        // ts broke the monotone invariant binary search relies on
        // (r17 ADVICE). Fall back to the linear descending walk, which
        // skips unstamped records and resolves to the next older
        // stamped commit — exactly what the pre-binary-search code
        // did; O(history) only on this corrupt/legacy path.
        versions.reverseIterator
          .map(v2 => v2 -> entryTs(spark, dir, v2))
          .collectFirst { case (v2, t2) if t2 >= 0 && t2 <= tsMillis => v2 }
    }
    require(hit.nonEmpty,
      s"no snapshot of $dir committed at or before epoch-millis $tsMillis")
    hit.get
  }

  /** Time travel by wall clock: the table as of `tsMillis`. A filter
    * on the result prunes files exactly as at the head. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readVersion(spark, dir, versionAsOf(spark, dir, tsMillis))

  // ------------------------------------------------------- pruning

  /** The subset of `snap.files` that MAY contain rows matching
    * `filter` (exposed so specs and maintenance tools can assert the
    * pruned file list directly). The per-file decision is pure, so a
    * MANY-file manifest (10⁵+) is judged on a driver thread pool —
    * plan-time pruning stays sub-second into the 10⁶-file range (and
    * [[filesFrame]] remains the fully distributed escape hatch). */
  def pruneFiles(snap: Snapshot, filter: Column): Vector[FileEntry] =
    pruneIntervals(snap, org.apache.spark.sql.GraftSqlBridge.expr(filter))

  private def pruneIntervals(snap: Snapshot, e: Expression): Vector[FileEntry] = {
    val schema = snap.schema
    val files = snap.files
    if (files.size < 50000) files.filter(f => mayMatch(f, schema, e))
    else {
      val par = math.min(16, Runtime.getRuntime.availableProcessors())
      val chunk = (files.size + par - 1) / par
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val fut = Future.traverse(files.grouped(chunk).toVector) { g =>
          Future(g.filter(f => mayMatch(f, schema, e)))
        }
        Await.result(fut, Duration.Inf).flatten
      } finally pool.shutdown()
    }
  }

  /** This file's [min, max] bounds for `name`: the exact partition
    * value when the table is partitioned on it (min = max = value),
    * else footer stats. None ⇒ unbounded (never pruned) — EXCEPT the
    * all-null partition, which [[mayMatch]] handles via
    * [[isNullPartition]] (every row is null there, so no value
    * comparison can match). */
  private[table] def fileBounds(f: FileEntry, schema: StructType, name: String)
      : Option[(Any, Any)] =
    f.partitions.get(name) match {
      case Some(Some(raw)) =>
        partitionPrim(raw, schema(name).dataType).map(v => (v, v))
      case Some(None) => None // all-null partition: handled in mayMatch
      case None => f.stats.get(name).map(cs => (cs.min, cs.max))
    }

  private def isNullPartition(f: FileEntry, name: String): Boolean =
    f.partitions.get(name).contains(None)

  /** Partition value string → pruning primitive, by column type. */
  private def partitionPrim(raw: String, dt: DataType): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      scala.util.Try(raw.toLong).toOption
    case FloatType | DoubleType => scala.util.Try(raw.toDouble).toOption
    case StringType => Some(raw)
    case DateType =>
      scala.util.Try(java.time.LocalDate.parse(raw).toEpochDay).toOption
    case _ => None
  }

  /** Catalyst literal (internal representation) → pruning primitive. */
  private def litPrim(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (x: Byte, _) => Some(x.toLong)
    case (x: Short, _) => Some(x.toLong)
    case (x: Int, _) => Some(x.toLong) // covers IntegerType and DateType days
    case (x: Long, _) => Some(x) // covers LongType and TimestampType micros
    case (x: Float, _) => Some(x.toDouble)
    case (x: Double, _) => Some(x)
    case (x: org.apache.spark.unsafe.types.UTF8String, _) => Some(x.toString)
    case (x: String, _) => Some(x)
    case _ => None
  }

  /** Conservative may-match of `e` against one file's bounds: false
    * only when the bounds PROVE no row can satisfy the predicate. */
  private[table] def mayMatch(f: FileEntry, schema: StructType, e: Expression): Boolean = {
    def attrName(a: Expression): Option[String] = a match {
      case att: Attribute => Some(att.name)
      case _ => None
    }
    def foldablePrim(x: Expression): Option[Any] =
      if (x.foldable)
        scala.util.Try(litPrim(x.eval(null), x.dataType)).toOption.flatten
      else None

    /** May some value x in this file's bounds on `name` satisfy
      * test(sign(x compare v))? The achievable sign set over [mn, mx]
      * is every sign between sign(mn cmp v) and sign(mx cmp v) —
      * claiming an interior sign achievable when the file's actual
      * values skip it merely keeps the file (conservative). */
    def boundsAdmit(name: String, v: Any, test: Int => Boolean): Boolean = {
      if (isNullPartition(f, name)) return false // all-null column: no value matches
      fileBounds(f, schema, name) match {
        case None => true
        case Some((mn, mx)) =>
          (primCompare(mn, v), primCompare(mx, v)) match {
            case (Some(cl), Some(ch)) =>
              (Integer.signum(cl) to Integer.signum(ch)).exists(test)
            case _ => true
          }
      }
    }

    /** (col op lit) → testDirect on sign(colValue cmp lit); (lit op
      * col) → testFlipped; anything else keeps the file. */
    def binary(l: Expression, r: Expression, testDirect: Int => Boolean,
        testFlipped: Int => Boolean): Boolean =
      (attrName(l), foldablePrim(r), attrName(r), foldablePrim(l)) match {
        case (Some(n), Some(p), _, _) => boundsAdmit(n, p, testDirect)
        case (_, _, Some(n), Some(p)) => boundsAdmit(n, p, testFlipped)
        case _ => true
      }

    def inList(a: Expression, vs: Seq[Expression]): Boolean =
      attrName(a) match {
        case Some(n) if vs.forall(_.foldable) =>
          val prims = vs.flatMap(foldablePrim)
          if (prims.size != vs.size) true
          else prims.exists(p => boundsAdmit(n, p, _ == 0))
        case _ => true
      }

    e match {
      case CAnd(l, r) => mayMatch(f, schema, l) && mayMatch(f, schema, r)
      case COr(l, r) => mayMatch(f, schema, l) || mayMatch(f, schema, r)
      case EqualTo(l, r) => binary(l, r, _ == 0, _ == 0)
      case EqualNullSafe(l, r) => binary(l, r, _ == 0, _ == 0)
      case GreaterThan(l, r) => binary(l, r, _ > 0, _ < 0)
      case GreaterThanOrEqual(l, r) => binary(l, r, _ >= 0, _ <= 0)
      case LessThan(l, r) => binary(l, r, _ < 0, _ > 0)
      case LessThanOrEqual(l, r) => binary(l, r, _ <= 0, _ >= 0)
      case In(a, vs) => inList(a, vs)
      // OptimizeIn turns a long resolved IN list into a set of literals
      case InSet(a, vs) => attrName(a) match {
        case Some(n) =>
          val prims = vs.toSeq.flatMap(litPrim(_, a.dataType))
          prims.size != vs.size || prims.exists(p => boundsAdmit(n, p, _ == 0))
        case None => true
      }
      // A Column built through the public DataFrame API arrives
      // UNANALYZED: comparisons are function calls by name. Same
      // dispatch, same conservatism (unknown names keep the file).
      case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (uf.nameParts.last.toLowerCase(java.util.Locale.ROOT),
          uf.arguments.toList) match {
          case ("and", l :: r :: Nil) =>
            mayMatch(f, schema, l) && mayMatch(f, schema, r)
          case ("or", l :: r :: Nil) =>
            mayMatch(f, schema, l) || mayMatch(f, schema, r)
          case ("=" | "==" | "<=>", l :: r :: Nil) => binary(l, r, _ == 0, _ == 0)
          case (">", l :: r :: Nil) => binary(l, r, _ > 0, _ < 0)
          case (">=", l :: r :: Nil) => binary(l, r, _ >= 0, _ <= 0)
          case ("<", l :: r :: Nil) => binary(l, r, _ < 0, _ > 0)
          case ("<=", l :: r :: Nil) => binary(l, r, _ <= 0, _ >= 0)
          case ("in", a :: vs) if vs.nonEmpty => inList(a, vs)
          case _ => true
        }
      case _ => true
    }
  }

  // ------------------------------------------------ bloom skipping

  /** Top-level conjuncts of a (possibly unanalyzed) filter tree. */
  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if uf.nameParts.last.equalsIgnoreCase("and") &&
          uf.arguments.size == 2 =>
      conjunctsOf(uf.arguments.head) ++ conjunctsOf(uf.arguments(1))
    case x => Seq(x)
  }

  private def attrNameOf(a: Expression): Option[String] = a match {
    case att: Attribute => Some(att.name)
    case _ => None
  }

  private def foldPrim(x: Expression): Option[Any] =
    if (x.foldable)
      scala.util.Try(litPrim(x.eval(null), x.dataType)).toOption.flatten
    else None

  /** The REQUIRED point-lookup values per bloom column: a top-level
    * conjunct `col = lit` / `col IN (lits)` pins the column to a finite
    * value set the whole filter cannot match outside of — exactly the
    * predicates a bloom filter can answer. Disjunctions and range
    * predicates contribute nothing (conservative). */
  private def pointLookups(filter: Expression,
      bloomCols: Seq[String]): Map[String, Seq[Any]] = {
    val want = bloomCols.toSet
    def ofConjunct(c: Expression): Option[(String, Seq[Any])] = c match {
      case EqualTo(l, r) => eq(l, r)
      case EqualNullSafe(l, r) => eq(l, r)
      case In(a, vs) => in(a, vs)
      case InSet(a, vs) => attrNameOf(a).filter(want) flatMap { n =>
        val prims = vs.toSeq.flatMap(litPrim(_, a.dataType))
        if (prims.size == vs.size) Some(n -> prims) else None
      }
      case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (uf.nameParts.last.toLowerCase(java.util.Locale.ROOT),
          uf.arguments.toList) match {
          case ("=" | "==" | "<=>", l :: r :: Nil) => eq(l, r)
          case ("in", a :: vs) if vs.nonEmpty => in(a, vs)
          case _ => None
        }
      case _ => None
    }
    def eq(l: Expression, r: Expression): Option[(String, Seq[Any])] =
      (attrNameOf(l), foldPrim(r), attrNameOf(r), foldPrim(l)) match {
        case (Some(n), Some(p), _, _) if want(n) => Some(n -> Seq(p))
        case (_, _, Some(n), Some(p)) if want(n) => Some(n -> Seq(p))
        case _ => None
      }
    def in(a: Expression, vs: Seq[Expression]): Option[(String, Seq[Any])] =
      attrNameOf(a).filter(want) flatMap { n =>
        val prims = vs.flatMap(foldPrim)
        if (prims.size == vs.size) Some(n -> prims) else None
      }
    conjunctsOf(filter).flatMap(ofConjunct).toMap
  }

  /** Hash `v` (a pruning primitive) for this column chunk's bloom
    * filter, matching the column's PHYSICAL type (an INT32 column
    * hashed with a long would never match). None ⇒ untestable value /
    * type pair — the caller keeps the file. */
  private def bloomHashPrim(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      typeName: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      isString: Boolean, v: Any): Option[Long] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    (typeName, v) match {
      case (INT64, x: Long) => Some(bf.hash(x))
      case (INT32, x: Long) if x >= Int.MinValue && x <= Int.MaxValue =>
        Some(bf.hash(x.toInt))
      case (DOUBLE, x: Double) => Some(bf.hash(x))
      case (FLOAT, x: Double) => Some(bf.hash(x.toFloat))
      case (BINARY, x: String) if isString =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(x)))
      case _ => None
    }
  }

  /** Loaded bloom-filter state of one (file, column): one element per
    * row group — None = no testable bloom in that group (pre-spec file,
    * bloom-less group, column absent: conservative KEEP), Some(physical
    * type, isString, filter). */
  private type BloomState = Vector[Option[(
    org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName, Boolean,
    org.apache.parquet.column.values.bloomfilter.BloomFilter)]]

  /** Bounded LRU cache of [[BloomState]] keyed by (file path, column).
    * Data files are IMMUTABLE once committed (staged under a fresh UUID
    * commit dir), so entries never invalidate; the bound is cumulative
    * bloom BITSET bytes, so a hot needle workload re-probes from memory
    * (zero footer RPCs after the first plan) without letting wide probe
    * sets pin unbounded driver memory. */
  private val BloomCacheMaxBytes = 64L * 1024 * 1024
  private object bloomCache {
    private val map = new java.util.LinkedHashMap[
      (String, String), (BloomState, Long)](64, 0.75f, true)
    private var bytes = 0L
    def get(k: (String, String)): Option[BloomState] =
      map.synchronized(Option(map.get(k)).map(_._1))
    def put(k: (String, String), e: BloomState): Unit = map.synchronized {
      val sz = e.iterator.flatten
        .map(_._3.getBitsetSize.toLong).sum
      val prev = map.put(k, (e, sz))
      bytes += sz - (if (prev != null) prev._2 else 0L)
      val it = map.entrySet().iterator()
      while (map.size > 1 && bytes > BloomCacheMaxBytes) {
        bytes -= it.next().getValue._2; it.remove()
      }
    }
    def clear(): Unit = map.synchronized { map.clear(); bytes = 0L }
  }
  private[graft] def clearBloomCache(): Unit = bloomCache.clear()
  /** Footer opens the bloom path actually paid (spec hook: a repeat of
    * the same probe must add ZERO). */
  private[graft] val bloomFooterOpens = new java.util.concurrent.atomic.AtomicLong

  /** One footer open: harvest `column`'s bloom state for every row
    * group of `p`. */
  private def loadBloomState(c: Configuration, p: Path,
      column: String): BloomState = {
    bloomFooterOpens.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, c))
    try {
      reader.getFooter.getBlocks.asScala.iterator.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column).flatMap {
          cc =>
            val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
            if (bf == null) None
            else {
              val isString = cc.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation
                  .StringLogicalTypeAnnotation]
              Some((cc.getPrimitiveType.getPrimitiveTypeName, isString, bf))
            }
        }
      }.toVector
    } finally reader.close()
  }

  /** May this file contain ANY of `values` in `column`, judged by the
    * parquet-native bloom filters in its footer? At most one footer
    * open per (file, column) per process ([[bloomCache]]), no data IO.
    * Conservative: a row group without a testable bloom keeps the
    * file. Also returns the footer opens this probe paid (0 on a cache
    * hit): an executor-side probe ships the count back so the
    * driver-side [[bloomFooterOpens]] law stays observable OFF local
    * mode too (r17 ADVICE — caches and counters live per executor JVM
    * there). */
  private def bloomProbeCounted(c: Configuration, p: Path, column: String,
      values: Seq[Any]): (Boolean, Int) = {
    val key = (p.toString, column)
    val (state, opens) = bloomCache.get(key) match {
      case Some(s) => (s, 0)
      case None =>
        val e = loadBloomState(c, p, column)
        bloomCache.put(key, e)
        (e, 1)
    }
    (state.isEmpty || state.exists {
      case None => true
      case Some((t, isString, bf)) =>
        values.exists(v => bloomHashPrim(bf, t, isString, v).forall(bf.findHash))
    }, opens)
  }

  /** Items above which [[footerFanOut]] runs as one Spark job instead
    * of the driver pool. Spec seam: only the routing specs move it. */
  @volatile private[table] var footerPoolMax: Int = 64
  /** Items [[footerFanOut]] handed to a Spark job (spec hook for the
    * routing laws). */
  private[graft] val footerJobItems = new java.util.concurrent.atomic.AtomicLong

  /** The one bounded fan-out for per-file footer IO (the commit sweep
    * and the bloom footer probe): applies `f` to every item and returns
    * one result per item, None = still unresolved at the deadline.
    * Footer opens are metadata-sized but LATENCY-bound, so up to
    * [[footerPoolMax]] items run on a min(8, n)-thread driver pool
    * (pays max(latency), not the sum) under a `floorMs` deadline. Above
    * it they run as ONE Spark job (the driver must not serialize 10⁵
    * remote footer opens through ≤8 threads) under a deadline of
    * max(`floorMs`, 2 s per task-slot wave), counted from the job's
    * FIRST TASK LAUNCH: a job queued behind other work is not hung.
    * Spark has no default task timeout, so past the deadline the call's
    * unique job group is cancelled and every item is None. An exception
    * from `f` or the job propagates; `onDeadline` names what the caller
    * does with unresolved items (logged). */
  private def footerFanOut[A: ClassTag, B: ClassTag](spark: SparkSession,
      what: String, items: Vector[A], floorMs: Long, onDeadline: String)(
      f: A => B): Vector[Option[B]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.{Duration, MILLISECONDS}
    import java.util.concurrent.{CountDownLatch, Executors, TimeoutException}
    val n = items.size
    def warn(unresolved: Int, deadlineMs: Long): Unit =
      log.warn(s"$what: $unresolved of $n files unresolved at the " +
        s"$deadlineMs ms deadline — $onDeadline")
    if (n <= footerPoolMax) {
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(8, n)))
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val futs = items.map(a => Future(f(a)))
        val deadline = System.nanoTime() + floorMs * 1000000L
        val out = futs.map { fut =>
          val left = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
          try Some(Await.result(fut, Duration(left, MILLISECONDS)))
          catch { case _: TimeoutException => None }
        }
        val unresolved = out.count(_.isEmpty)
        if (unresolved > 0) warn(unresolved, floorMs)
        out
      } finally pool.shutdown()
    } else {
      val sc = spark.sparkContext
      val par = math.max(1, sc.defaultParallelism)
      val deadlineMs = math.max(floorMs, 2000L * ((n + par - 1) / par))
      log.info(s"$what: $n files as one Spark job, deadline $deadlineMs ms " +
        "from its first task launch")
      footerJobItems.addAndGet(n.toLong)
      val groupId = s"graft-footer-${UUID.randomUUID()}"
      // released by the group's first task launch, or by the job's end
      val launched = new CountDownLatch(1)
      val listener = new SparkListener {
        private var stages = Set.empty[Int] // listener-bus thread only
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == groupId)
            stages ++= e.stageIds
        override def onTaskStart(e: SparkListenerTaskStart): Unit =
          if (stages.contains(e.stageId)) launched.countDown()
      }
      val pool = Executors.newSingleThreadExecutor()
      var finished = false
      sc.addSparkListener(listener)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        // the side thread inherits the caller's local properties; the
        // job group set inside it stays scoped to that thread
        val fut = Future {
          sc.setJobGroup(groupId, s"graft: $what of $n files",
            interruptOnCancel = true)
          try sc.parallelize(items, math.min(n, par * 4)).map(f)
            .collect().toVector
          finally { sc.clearJobGroup(); launched.countDown() }
        }
        launched.await()
        val out =
          try Await.result(fut, Duration(deadlineMs, MILLISECONDS)).map(Some(_))
          catch { case _: TimeoutException =>
            warn(n, deadlineMs)
            Vector.fill(n)(None)
          }
        finished = out.forall(_.nonEmpty)
        out
      } finally {
        if (!finished) sc.cancelJobGroup(groupId)
        sc.removeSparkListener(listener)
        pool.shutdown()
      }
    }
  }

  /** [[pruneFiles]] + parquet-native BLOOM consultation: files whose
    * interval bounds admit the filter are additionally probed on every
    * bloom column the filter pins to a point set — a file survives only
    * if each such column MAY contain one of its values. On an UNSORTED
    * layout (overlapping min/max everywhere) this is what keeps a
    * needle DELETE/UPDATE/SELECT touched-files-priced: the probe costs
    * one footer open per admitted file (parallel, metadata IO only),
    * and the filter is re-applied on every scanned row, so — like all
    * pruning here — a bloom can only skip IO, never change results.
    * Files without manifest-resident bitsets are probed through
    * [[footerFanOut]] (a driver pool, or one Spark job past
    * [[footerPoolMax]] files; footers cached per process). A file whose
    * probe errs, or is unresolved at the `bloomProbeTimeoutMs`-floored
    * deadline, is KEPT (a deadline hit is counted and logged). */
  def pruneFilesBloom(spark: SparkSession, dir: String, snap: Snapshot,
      filter: Column): Vector[FileEntry] =
    pruneExpr(spark, dir, snap, org.apache.spark.sql.GraftSqlBridge.expr(filter))

  /** [[pruneFilesBloom]] over a Catalyst expression, resolved (a scan's
    * pushed filters, see [[ManifestFileIndex]]) or not. */
  private[table] def pruneExpr(spark: SparkSession, dir: String,
      snap: Snapshot, e: Expression): Vector[FileEntry] = {
    val base = pruneIntervals(snap, e)
    if (snap.bloomCols.isEmpty || base.isEmpty) return base
    val lookups = pointLookups(e, snap.bloomCols)
    if (lookups.isEmpty) return base
    // MANIFEST-RESIDENT bitsets answer first (r17 verdict #4): a file
    // whose harvested blooms cover every probed column is judged
    // straight from the snapshot — ZERO footer IO, so a fully-harvested
    // table's needle plan pays no per-file RPC at ANY table size, even
    // fully cold. Files without resident state (pre-spec generations,
    // or over the harvest byte budget at commit time) keep the footer
    // path below.
    val residentKeep: Map[String, Boolean] = base.iterator
      .filter(f => lookups.keysIterator.forall(f.blooms.contains))
      .map { f =>
        f.path -> lookups.forall { case (column, values) =>
          val state = f.blooms(column)
          state.isEmpty || state.exists {
            case None => true // a row group without a testable filter
            case Some(bb) => bb.mayContain(values)
          }
        }
      }.toMap
    val needFooter = base.filterNot(f => residentKeep.contains(f.path))
    if (needFooter.isEmpty) return base.filter(f => residentKeep(f.path))
    // only relative paths + the pinned values cross the wire, never
    // bloom bytes; footer opens paid in another JVM ship back (local
    // mode shares the JVM, so they are already counted)
    val hconf = new org.apache.spark.util.SerializableConfiguration(conf(spark))
    val delay = bloomProbeDelayMs
    val probed = try footerFanOut(spark, "bloom footer probe",
      needFooter.map(_.path), bloomProbeTimeoutMs,
      "keeping them (pruning is advisory, the filter re-applies on scan)") {
      rel =>
        if (delay > 0) Thread.sleep(delay.toLong)
        try {
          var opens = 0
          val keep = lookups.forall { case (column, values) =>
            val (k, o) = bloomProbeCounted(hconf.value, new Path(dir, rel),
              column, values)
            opens += o; k
          }
          (keep, if (SparkEnv.get.executorId == "driver") 0 else opens)
        } catch { case NonFatal(_) => (true, 0) }
    } catch { case NonFatal(e) =>
      log.warn(s"bloom footer probe of ${needFooter.size} files failed — " +
        "keeping them (pruning is advisory, the filter re-applies on " +
        s"scan): ${e.getClass.getSimpleName}: ${e.getMessage}")
      needFooter.map(_ => Some((true, 0)))
    }
    if (probed.exists(_.isEmpty)) bloomProbeTimeouts.incrementAndGet()
    bloomFooterOpens.addAndGet(probed.iterator.flatten.map(_._2.toLong).sum)
    val footerKeep = needFooter.iterator.map(_.path)
      .zip(probed.iterator.map(_.forall(_._1))).toMap
    base.filter(f => residentKeep.getOrElse(f.path, footerKeep(f.path)))
  }

  /** Per-FILE byte budget for copying a staged file's bloom bitsets
    * into the manifest (r17 verdict #4; spec-settable, `<= 0`
    * disables).
    * Sizing math behind the default: with adaptive write sizing a
    * 64 KB bitset covers ~55 k distinct keys per file at the 1 % fpp
    * target, and a fully-harvested 10⁵-file table costs the driver at
    * most 6.4 GB of snapshot residency — the budget is the knob that
    * trades first-probe footer RPCs against log/snapshot bytes, and
    * files over it keep the (cached, distributable) footer path. */
  @volatile private[graft] var bloomManifestBudgetBytes: Int = 64 * 1024

  /** Per-plan budget for the WHOLE bloom footer probe batch (the probes
    * run in parallel; unresolved files are kept). Spec-settable. It is
    * the driver pool's deadline and the floor of the job route's. */
  @volatile private[graft] var bloomProbeTimeoutMs: Long = 30000L
  /** Fault-injection seam (spec-only): artificial per-probe latency. */
  @volatile private[graft] var bloomProbeDelayMs: Int = 0
  /** Probe batches that hit the deadline and kept their unresolved
    * files. */
  private[graft] val bloomProbeTimeouts = new java.util.concurrent.atomic.AtomicLong

  // --------------------------------------------------------- merge

  /** MERGE `source` into the table on `key`: latest-wins upsert, with
    * rows whose `opCol` (if any) equals 'D' deleted. Only files holding
    * at least one source key (by manifest [min, max] bounds on `key` —
    * footer stats or partition values) are rewritten; the rest carry
    * over by reference. Which files are touched, whether the source
    * broadcasts and which concurrent files conflict is decided by
    * [[MergeInto.SourceProbe]], the one merge core shared with SQL
    * MERGE INTO. The rewrite is a broadcast ANTI join: touched base
    * rows whose key appears in the source are replaced, all other base
    * rows pass through UNCHANGED (pre-existing duplicate or null-key
    * base rows are preserved verbatim — only keys present in the source
    * are resolved). That rewrite stays its own algorithm rather than
    * MERGE INTO clauses: it is an upsert (every non-'D' source row
    * lands, matched or not, and duplicate base rows of a source key
    * collapse to the one winner), which as clauses would become a left
    * join plus MERGE INTO's collect_set pass — more jobs, and a
    * different result for duplicate base keys.
    *
    * '''Source key contract''': at most one row per key. Without
    * `seqCol` a duplicate-key source FAILS LOUDLY (raise_error inside
    * the merge job — no partial commit). With `seqCol` the highest
    * sequence wins deterministically (ties broken by a stable hash of
    * the row). Null-key source rows are dropped. Content-idempotent:
    * replaying the same source yields a byte-different but
    * value-identical table.
    *
    * Concurrency: losing the version race auto-rebases when the
    * concurrent commit provably commutes — it kept every file this
    * merge rewrote AND no file it added overlaps the source key range
    * (two merges landing rows for the same key must serialize through
    * a retry, never interleave into duplicate keys). A provable
    * conflict throws [[ConcurrentCommitException]]; the caller
    * re-reads and re-runs. */
  def merge(spark: SparkSession, dir: String, source: DataFrame, key: String,
      opCol: Option[String] = None, seqCol: Option[String] = None): Snapshot =
    mergeImpl(spark, dir, current(spark, dir), source, key, opCol, seqCol,
      "merge", None)

  /** MERGE prepared against an explicit snapshot `version` — the manual
    * optimistic-transaction form of [[merge]]: the rewrite is computed
    * against that frozen snapshot, then committed under the same
    * rebase/conflict rules, so work batched against an old view either
    * lands serializably on the current head or fails loudly. */
  def mergeAt(spark: SparkSession, dir: String, version: Long,
      source: DataFrame, key: String, opCol: Option[String] = None,
      seqCol: Option[String] = None): Snapshot =
    mergeImpl(spark, dir, readManifest(spark, dir, version), source, key,
      opCol, seqCol, "merge", None)

  /** Exactly-once MERGE for streaming writers: the micro-batch id is
    * recorded BOTH in the snapshot's operation (`merge@batch=<id>`)
    * and as the table's `lastBatch` high-water mark, which every
    * subsequent commit carries forward. A replay of an
    * already-committed id (batchId ≤ lastBatch) returns the CURRENT
    * snapshot without committing — the foreachBatch retry contract
    * (Spark may re-run a batch after a failure between sink write and
    * offset commit; replayed ids are never ahead of the mark because
    * micro-batch ids are strictly increasing). The check is O(1) — one
    * manifest read, no history scan — and survives vacuum() because
    * the mark lives in the LATEST manifest, not the historical one. */
  def mergeBatch(spark: SparkSession, dir: String, source: DataFrame,
      key: String, batchId: Long, opCol: Option[String] = None,
      seqCol: Option[String] = None, txnId: Option[String] = None): Snapshot = {
    val head = current(spark, dir)
    val mark = replayMark(head, txnId, batchId, "merge")
    if (batchId <= mark) head
    else mergeImpl(spark, dir, head, source, key, opCol, seqCol,
      s"merge@batch=$batchId", Some(batchId), txnId)
  }

  private[table] def mergeImpl(spark: SparkSession, dir: String,
      head: Snapshot, source: DataFrame, key: String, opCol: Option[String],
      seqCol: Option[String], operation: String,
      batchId: Option[Long], txnId: Option[String] = None): Snapshot = {
    val schema = head.schema
    val cols = schema.fieldNames.toSeq
    require(cols.contains(key), s"merge key $key not in table schema")

    // Resolve the source ONCE — a single key-partitioned window pass
    // (the only shuffle the source ever takes), cached; the pruning
    // probe, the anti-join key set and the winner rows are all derived
    // from this cache. One row per key with its resolved _op.
    val srcOp = opCol.map(col).getOrElse(lit("U"))
    val src0 = source.where(col(key).isNotNull)
    val cached = (seqCol match {
      case Some(sc) =>
        val w = Window.partitionBy(key)
          .orderBy(col(sc).desc, xxhash64(cols.map(col): _*).asc)
        src0.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
      case None =>
        val w = Window.partitionBy(key)
        src0.withColumn("__cnt", count(lit(1)).over(w))
          .where(when(col("__cnt") > 1, raise_error(concat(
            lit(s"merge: duplicate source rows for $key="),
            col(key).cast("string"),
            lit(" — pre-compact or pass seqCol")))).otherwise(lit(true)))
    }).select(cols.map(col) :+ srcOp.as("__op"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched files, broadcast gate and rebase-conflict test: the
      // merge core shared with MERGE INTO
      val probe = new MergeInto.SourceProbe(dir, head, schema, cached,
        Seq(key))
      val resolved = probe.resolved
      val touched = probe.touched

      // Rewrite = broadcast ANTI join (touched rows whose key appears
      // in the source are dropped) ∪ non-delete winners. The table
      // side is never shuffled, and the output is coalesced back to
      // touched-file granularity so a merge PRESERVES the table's file
      // layout instead of splintering it (and the footer sweep stays
      // proportional to touched files).
      val winners = resolved.where(col("__op") =!= "D").select(cols.map(col): _*)
      // only the NEW rows need checking — touched base rows conformed
      // at their own commit and pass through byte-identical
      enforce(winners, head.constraints, operation)
      // nothing touched: nothing to join against, and the broadcast
      // gate (a source count the empty probe did not observe) never runs
      val rewritten =
        if (touched.isEmpty) winners.coalesce(1)
        else scanWith(spark, dir, head, touched, schema, head.renames)
          .join(probe.maybeBroadcast(resolved.select(col(key))), Seq(key),
            "left_anti")
          .unionByName(winners)
          .coalesce(touched.size)

      // staged under a known dir: an empty result stages no file, and
      // its dir is dropped
      val rel = s"$DataDir/${UUID.randomUUID()}"
      val staged = stage(spark, dir, rewritten, head.statsCols,
        head.partitionCols, head.bloomCols, rel)
      if (staged.isEmpty) dropStaged(spark, dir, rel)
      commitRewrite(spark, dir, head, operation,
        touched.map(_.path).toSet, staged, probe.conflicts, batchId, txnId)
    } finally {
      cached.unpersist()
    }
  }

  // ----------------------------------------------------------- dml

  /** DELETE FROM … WHERE `filter`: rewrite ONLY the files whose
    * manifest bounds admit the predicate (the same [[pruneFiles]]
    * decision the read path uses — partition values + footer stats),
    * dropping rows where `filter` is TRUE; every other file carries
    * over by reference. SQL semantics: rows where the predicate is
    * NULL survive. Structural no-op (current snapshot back, no new
    * version) when no file can match. At 100 TB a partition-scoped
    * delete rewrites one partition, never the table.
    *
    * Concurrency: losing the version race auto-rebases when the
    * concurrent commit provably commutes (it kept every file this
    * delete rewrote, and no file it added may hold rows matching
    * `filter` — the same [[pruneFiles]] bounds test); otherwise
    * throws [[ConcurrentCommitException]] with the conflict. */
  def delete(spark: SparkSession, dir: String, filter: Column): Snapshot =
    deleteFrom(spark, dir, current(spark, dir), filter)

  private[table] def deleteFrom(spark: SparkSession, dir: String,
      head: Snapshot, filter: Column): Snapshot = {
    val touched = pruneFilesBloom(spark, dir, head, filter)
    if (touched.isEmpty) return head
    val rewritten = scanWith(spark, dir, head, touched, head.schema,
        head.renames)
      .where(!coalesce(filter, lit(false)))
    val staged = stage(spark, dir, rewritten, head.statsCols,
      head.partitionCols, head.bloomCols)
    val expr = org.apache.spark.sql.GraftSqlBridge.expr(filter)
    commitRewrite(spark, dir, head, "delete",
      touched.map(_.path).toSet, staged,
      f => mayMatch(f, head.schema, expr), None)
  }

  /** Materialize every deletion vector (REORG … PURGE): rewrite ONLY
    * the DV-carrying files to their effective content and drop the
    * vectors — the maintenance op that converts accumulated
    * merge-on-read debt back to plain scans (vacuum then reclaims the
    * vector files). Cost ∝ DV-carrying files, never the table. No-op
    * when the table has no vectors. Commutes with any concurrent
    * commit that kept the purged files (pure materialization), so it
    * rebases like compact. */
  def purgeVectors(spark: SparkSession, dir: String): Snapshot = {
    val head = current(spark, dir)
    val touched =
      head.files.filter(f => head.dvs.get(f.path).exists(_.nonEmpty))
    if (touched.isEmpty) return head
    val rewritten = scanWith(spark, dir, head, touched, head.schema,
        head.renames)
      .coalesce(math.max(touched.size, 1))
    val staged = stage(spark, dir, rewritten, head.statsCols,
      head.partitionCols, head.bloomCols)
    commitRewrite(spark, dir, head, "purge",
      touched.map(_.path).toSet, staged, _ => false, None)
  }

  /** UPDATE … SET … WHERE as ONE MERGE-ON-READ commit: the matched
    * rows' old copies are hidden by a deletion vector and their updated
    * copies appended, both in the SAME snapshot — data IO ∝ matched
    * rows instead of rewriting every touched file, with the same
    * atomicity as every other commit (a reader sees either the old
    * table or delete+insert together, never the gap). Constraints are
    * enforced and all files staged BEFORE the publish, so any failure
    * leaves the table untouched; a concurrent commit landing between
    * the scan and the publish fails this one loudly with
    * [[ConcurrentCommitException]] (the rewrite was computed against a
    * stale snapshot — re-run), never a silent lost update. This is the
    * bulk-pipeline form where the updated slice is tiny and files are
    * huge; copy-on-write [[update]] remains right for bulk predicates.
    * Writes [[deleteVector]]'s vector (each hit file's NET deleted
    * rows) plus the matched rows' new copies. */
  def updateVector(spark: SparkSession, dir: String, filter: Column,
      set: Map[String, Column]): Snapshot = {
    val head = current(spark, dir)
    val schema = head.schema
    set.keys.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"updateVector: column $c not in schema")
    }
    val hit = coalesce(filter, lit(false))
    val touched = pruneFilesBloom(spark, dir, head, filter)
    if (touched.isEmpty) return head
    val updated = scanWith(spark, dir, head, touched, schema,
      head.renames).where(hit)
      .select(schema.fieldNames.toSeq.map { c =>
        set.get(c).map(_.cast(schema(c).dataType).as(c)).getOrElse(col(c))
      }: _*)
    // enforce BEFORE anything commits: a constraint-violating SET (or a
    // staging failure) must leave the table untouched, exactly like the
    // copy-on-write update()
    enforce(updated, head.constraints, "updateVector")
    stageVector(spark, dir, head, touched, filter).fold(head) { dvs =>
      val staged = stage(spark, dir, updated, head.statsCols,
        head.partitionCols, head.bloomCols)
      // ONE commit carries both the hiding vector and the new copies,
      // pinned to the snapshot the rewrite was computed against: a
      // concurrent commit landing in between fails THIS publish with
      // ConcurrentCommitException and nothing is visible (the staged
      // data and vector are vacuum-able orphans) — no reader ever
      // sees the delete without the update, and no stale-snapshot
      // overwrite can lose a concurrent writer's rows
      publish(spark, dir, Snapshot(head.version + 1, head.version,
        "update-dv", head.statsCols, head.partitionCols, head.lastBatch,
        head.schemaJson, head.files ++ staged, head.constraints,
        head.dropped, dvs = dvs, txns = head.txns,
        renames = head.renames, bloomCols = head.bloomCols), Some(head))
    }
  }

  /** DELETE FROM … WHERE as a MERGE-ON-READ commit (deletion vectors):
    * instead of rewriting every touched file, the matching rows'
    * (file basename, parquet row position) pairs are written to ONE
    * small DV parquet attached to the touched files in the manifest;
    * every read subtracts them via a broadcast anti-join. Cost ∝
    * deleted rows — at 100 TB a needle delete costs a needle, not a
    * file rewrite; [[delete]] (copy-on-write) remains the right call
    * for bulk predicates. Same SQL semantics (NULL keeps the row);
    * the result always equals `delete()`'s. The next rewrite of a
    * DV-carrying file (merge/update/compact/delete) MATERIALIZES the
    * vector and drops it, and the structural changelog treats a DV
    * change as the file changing hands, so incremental consumers stay
    * exact. Structural no-op when nothing matches. Version races are
    * not auto-rebased — re-run; the op is deleted-rows-priced.
    *
    * One vector per file: the commit writes ONE vector dir, and each
    * file with a net-new hit gets that dir as its whole entry, holding
    * the file's prior pairs plus the fresh ones (already-hidden rows
    * are never re-recorded). So a delete writes the hit files' NET
    * deleted rows, not only the fresh ones, and a read lists and opens
    * one dir per vectored file it scans, whatever the number of
    * deletes. Scans pruned to vector-free files never pay for other
    * files' vectors (the subtraction is planned per scanned file set —
    * see ManifestTableSpec's vector-priced law). */
  def deleteVector(spark: SparkSession, dir: String, filter: Column): Snapshot = {
    val head = current(spark, dir)
    val touched = pruneFilesBloom(spark, dir, head, filter)
    if (touched.isEmpty) return head
    // structural no-op when nothing net-new matched
    stageVector(spark, dir, head, touched, filter).fold(head) { dvs =>
      publish(spark, dir, Snapshot(head.version + 1,
        head.version, "delete-dv", head.statsCols, head.partitionCols,
        head.lastBatch, head.schemaJson, head.files, head.constraints,
        head.dropped, dvs = dvs, txns = head.txns,
        renames = head.renames, bloomCols = head.bloomCols), Some(head))
    }
  }

  /** Write this commit's ONE vector dir for the rows of `touched`
    * matching `filter` under the frozen `head`, and return the next
    * `dvs` map: each file with a net-new hit (a matching row its vector
    * does not hide yet) gets the dir, holding its prior pairs plus its
    * fresh ones, as its whole entry; other files keep theirs. None (dir
    * cleaned up) when no file is hit. Nothing is committed here. */
  private def stageVector(spark: SparkSession, dir: String, head: Snapshot,
      touched: Vector[FileEntry], filter: Column)
      : Option[Map[String, Vector[String]]] = {
    val rel = s"$DvDir/${UUID.randomUUID()}"
    val abs = new Path(dir, rel)
    val (physSchema, _) = renamePlan(head.schema, head.renames)
    val raw = rawScan(spark, dir, head, touched, physSchema)
      .withColumn("__dv_b",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__dv_i", col("_metadata.row_index"))
    // logical view of each row (rename coalesce) with its position kept
    val logical = raw.select(head.schema.fields.toSeq.map { f =>
      head.renames.get(f.name) match {
        case Some(chain) => coalesce((f.name +: chain).map(col): _*).as(f.name)
        case None => col(f.name)
      }
    } ++ Seq(col("__dv_b"), col("__dv_i")): _*)
    val matches = logical
      .where(coalesce(filter, lit(false)))
      .select(col("__dv_b").as("base"), col("__dv_i").as("idx"))
    // the pairs `files`' current vectors hide (a dir written by a
    // multi-file commit also holds other files' pairs)
    def prior(files: Seq[FileEntry]): Option[DataFrame] = {
      val dirs = files.flatMap(f => head.dvs.getOrElse(f.path, Vector.empty))
        .distinct
      if (dirs.isEmpty) None
      else Some(spark.read.parquet(dirs.map(p => new Path(dir, p).toString): _*)
        .select(col("base"), col("idx")))
    }
    val fresh = prior(touched).fold(matches)(p =>
      matches.join(broadcast(p), Seq("base", "idx"), "left_anti"))
    // which touched files actually hold hits: a metadata-sized set the
    // write itself observes. A dropped observation (the executed plan
    // lost its CollectMetricsExec, as AQE's empty-relation replanning
    // does to MergeInto's probe) reads the written pairs back.
    val obs = org.apache.spark.sql.Observation()
    writer(fresh.observe(obs, collect_set(col("base")).as("bases")))
      .parquet(abs.toString)
    val hitBases = obs.get.get("bases") match {
      case Some(s: scala.collection.Seq[_]) => s.map(_.toString).toSet
      case _ =>
        log.info(s"deletion vector on $dir@v${head.version}: hit-base " +
          "observation dropped (no metrics from the fresh-pair write) — " +
          "reading the written pairs back")
        spark.read.parquet(abs.toString)
          .select("base").distinct().collect().map(_.getString(0)).toSet
    }
    if (hitBases.isEmpty) {
      abs.getFileSystem(conf(spark)).delete(abs, true)
      None
    } else {
      val hit = touched.filter(f =>
        hitBases(f.path.substring(f.path.lastIndexOf('/') + 1)))
      prior(hit).foreach(p => writer(p.where(col("base").isin(hitBases.toSeq: _*)))
        .mode("append").parquet(abs.toString))
      Some(head.dvs ++ hit.map(_.path -> Vector(rel)))
    }
  }

  /** UPDATE … SET `set` WHERE `filter`: same touched-files-only
    * rewrite as [[delete]]; matching rows get each `set` column
    * replaced (expressions may reference any table column), all other
    * rows and files pass through unchanged. Footer stats are
    * re-harvested on the staged files, so pruning metadata follows the
    * new values automatically. Assignments to columns outside the
    * schema throw before any data is staged. */
  def update(spark: SparkSession, dir: String, filter: Column,
      set: Map[String, Column]): Snapshot =
    updateFrom(spark, dir, current(spark, dir), filter, set)

  private[table] def updateFrom(spark: SparkSession, dir: String,
      head: Snapshot, filter: Column, set: Map[String, Column]): Snapshot = {
    val schema = head.schema
    set.keys.foreach { c =>
      require(schema.fieldNames.contains(c), s"update: column $c not in schema")
    }
    val touched = pruneFilesBloom(spark, dir, head, filter)
    if (touched.isEmpty) return head
    val hit = coalesce(filter, lit(false))
    val rewritten = scanWith(spark, dir, head, touched, schema,
        head.renames)
      .select(schema.fieldNames.toSeq.map { c =>
        set.get(c) match {
          case Some(e) => when(hit, e.cast(schema(c).dataType))
            .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    // only the rows the SET actually modified need re-checking
    enforce(scanWith(spark, dir, head, touched, schema,
      head.renames).where(hit)
      .select(schema.fieldNames.toSeq.map { c =>
        set.get(c).map(_.cast(schema(c).dataType).as(c)).getOrElse(col(c))
      }: _*), head.constraints, "update")
    val staged = stage(spark, dir, rewritten, head.statsCols,
      head.partitionCols, head.bloomCols)
    val expr = org.apache.spark.sql.GraftSqlBridge.expr(filter)
    commitRewrite(spark, dir, head, "update",
      touched.map(_.path).toSet, staged,
      f => mayMatch(f, schema, expr), None)
  }

  // ------------------------------------------------------- changes

  /** Rows that differ between two snapshots, as a changelog frame:
    * `_change` ∈ ('I', 'D') — a row present in `to` but not `from` is an
    * insert, the reverse a delete (an update appears as its D+I pair).
    * Multiset semantics via a count-compare (EXCEPT ALL shape): two
    * group-by-all-columns aggregates joined full-outer — one exchange
    * per side, no row-scale driver state.
    *
    * The diff runs under the WIDER of the two snapshot schemas (the
    * higher version's — evolution is additive), so after a schema
    * evolution the old side reads with NULLs in the new columns and
    * rows differing only there surface correctly. */
  def changes(spark: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    val sa = readManifest(spark, dir, from)
    val sb = readManifest(spark, dir, to)
    val wideSnap = if (to >= from) sb else sa
    val wide = wideSnap.schema
    val a = scanWith(spark, dir, sa, sa.files, wide, wideSnap.renames)
    val b = scanWith(spark, dir, sb, sb.files, wide, wideSnap.renames)
    val cols = wide.fieldNames.toSeq
    val ca = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__na"))
    val cb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__nb"))
    ca.join(cb, cols, "full_outer")
      .select(cols.map(col) :+
        (coalesce(col("__nb"), lit(0L)) - coalesce(col("__na"), lit(0L)))
          .as("__d"): _*)
      .where(col("__d") =!= 0L)
      .select(cols.map(col) :+ explode(transform(
        sequence(lit(1L), abs(col("__d"))),
        _ => when(col("__d") > 0, lit("I")).otherwise(lit("D"))))
        .as("_change"): _*)
  }

  /** The changelog between two snapshots computed STRUCTURALLY from the
    * manifests — no diff join, no scan of carried-over data: files are
    * immutable, so a file present in both manifests contributes nothing,
    * every row in an ADDED file is an 'I' and every row in a REMOVED
    * file a 'D'. Cost ∝ touched files, not table size — the changelog
    * read that makes incremental consumers (see [[IncrementalView]])
    * changelog-priced on a 100 TB table.
    *
    * Semantics vs [[changes]]: the same multiset I/D difference PLUS
    * canceling pairs — a rewritten file's unchanged rows appear as both
    * one 'D' (old file) and one 'I' (new file). Any signed consumer
    * (Σ over +I/−D, the incremental-maintenance contract) gets
    * identical results; consumers needing the minimal changelog use
    * [[changes]] and pay the value diff. Reads run under the wider (to)
    * schema so post-evolution rows surface with their new columns. */
  def changesStructural(spark: SparkSession, dir: String, from: Long,
      to: Long): DataFrame = {
    val sa = readManifest(spark, dir, from)
    val sb = readManifest(spark, dir, to)
    val wideSnap0 = if (to >= from) sb else sa
    val wide = wideSnap0.schema
    // a file's EFFECTIVE content is (path, deletion vectors): a DV-only
    // delete leaves the file in place but changes what it contributes,
    // so it must change hands in the structural diff — old effective
    // rows out as 'D', new effective rows in as 'I' (net: the deleted
    // rows, for any signed consumer)
    def eff(s: Snapshot): Map[String, Vector[String]] =
      s.files.map(f => f.path -> s.dvs.getOrElse(f.path, Vector.empty)).toMap
    val ea = eff(sa)
    val eb = eff(sb)
    val removed = sa.files.filterNot(f => eb.get(f.path).contains(ea(f.path)))
    val added = sb.files.filterNot(f => ea.get(f.path).contains(eb(f.path)))
    val cols = wide.fieldNames.toSeq.map(col)
    scanWith(spark, dir, sa, removed, wide, wideSnap0.renames)
      .select(cols :+ lit("D").as("_change"): _*)
      .unionAll(scanWith(spark, dir, sb, added, wide, wideSnap0.renames)
        .select(cols :+ lit("I").as("_change"): _*))
  }

  /** Incremental consumption feed: everything that changed after
    * `sinceVersion`, up to the current head (= changes(since, head)),
    * tagged with the head version so the consumer can checkpoint it and
    * ask again later — the batch-incremental CDC pattern (poll, process
    * the delta, persist `_as_of_version`, repeat) that needs no
    * streaming machinery. [[graft.streaming.StreamOps.tableChangesFeed]]
    * wraps exactly this loop with a durable checkpoint. */
  def changesSince(spark: SparkSession, dir: String, sinceVersion: Long): DataFrame = {
    val head = current(spark, dir).version
    changes(spark, dir, sinceVersion, head)
      .withColumn("_as_of_version", lit(head))
  }

  // ------------------------------------------------------ compact

  /** Bin-pack small data files into larger ones: every file under
    * `smallBytes` is rewritten (one coalesced staged commit sized at
    * ~`targetBytes` per output file), files already at weight carry
    * over by reference. Contents are untouched — a pure layout commit,
    * the OPTIMIZE half of table maintenance (vacuum is the other).
    * No-op (returns the current snapshot, no new version) when fewer
    * than two small files exist.
    *
    * `zorderBy` is the `OPTIMIZE ... ZORDER BY` pairing: one column ⇒
    * range-partition + sort (tight per-file bounds on it), two columns
    * ⇒ Morton-interleave via [[graft.operators.ZOrderLayout]] so EVERY
    * packed file gets tight bounds on BOTH dimensions — the manifest
    * stats then prune reads filtered on either column. */
  def compact(spark: SparkSession, dir: String, smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20, zorderBy: Seq[String] = Nil,
      /** `OPTIMIZE … WHERE`: scope the compaction to files whose
        * bounds (partition values / footer stats) MAY match this
        * predicate — at 100 TB, maintenance targets one partition, not
        * the table. The predicate selects whole FILES, never filters
        * rows (a kept file's every row survives — compaction stays a
        * pure layout commit); files it cannot match carry over
        * untouched. */
      where: Option[Column] = None): Snapshot = {
    val head = current(spark, dir)
    val schema = head.schema
    require(zorderBy.size <= 4 && zorderBy.forall(schema.fieldNames.contains),
      s"zorderBy must name at most four table columns, got $zorderBy")
    val inScope: FileEntry => Boolean = where match {
      case None => _ => true
      case Some(c) =>
        val e = org.apache.spark.sql.GraftSqlBridge.expr(c)
        f => mayMatch(f, schema, e)
    }
    val (small, big) = head.files.partition(f =>
      f.bytes < smallBytes && inScope(f))
    if (small.size < 2) return head
    val df = scanWith(spark, dir, head, small, schema, head.renames)
    val outFiles = math.max(1L,
      (small.iterator.map(_.bytes).sum + targetBytes - 1) / targetBytes).toInt
    val packed = zorderBy match {
      case Seq(a, b) =>
        graft.operators.ZOrderLayout.withZ(df, a, b)
          .repartitionByRange(outFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      case many if many.size >= 3 => // 3–4 dims: the n-way interleave
        graft.operators.ZOrderLayout.withZN(df, many)
          .repartitionByRange(outFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      case Seq(a) =>
        df.repartitionByRange(outFiles, col(a)).sortWithinPartitions(a)
      case _ => df.coalesce(outFiles)
    }
    val staged = stage(spark, dir, packed, head.statsCols,
      head.partitionCols, head.bloomCols)
    // a pure layout commit commutes with ANY concurrent row change that
    // kept the packed files alive — no read-write conflict possible
    commitRewrite(spark, dir, head, "compact",
      small.map(_.path).toSet, staged, _ => false, None)
  }

  // -------------------------------------------------------- vacuum

  /** Delete commit directories no longer referenced by the newest
    * `keepLast` snapshots (older snapshots become unreadable — the
    * usual retention trade). Safe against in-flight commits only if
    * `keepLast ≥ 1` and no writer is staging right now; production
    * would add an age threshold like every table format does.
    * [[mergeBatch]]'s replay check survives vacuum by design: the
    * batch high-water mark rides the LATEST manifest, which vacuum
    * always keeps. Returns the number of data files deleted. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      retainMillis: Long = 0L): Long = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val (versions, cks, tokens) = listLog(spark, dir)
    // age-based retention on top of the count-based floor: every
    // snapshot younger than `retainMillis` stays time-travelable (the
    // production contract — "keep 7 days" — independent of commit rate)
    val cutoff =
      if (retainMillis <= 0L) Long.MaxValue
      else System.currentTimeMillis() - retainMillis
    val young =
      if (retainMillis <= 0L) Set.empty[Long]
      else {
        // stamps are strictly increasing ⇒ the young versions are a
        // SUFFIX; find its start by binary search (O(log history)
        // ts-only reads, never one per retained commit)
        val vs = versions.toVector
        vs.drop(tsBoundary(spark, dir, vs)(_ >= cutoff)).toSet
      }
    val keep = versions.takeRight(keepLast).toSet ++ young
    // commit stamps are strictly increasing ⇒ the kept set is a SUFFIX
    val kept = versions.filter(keep)
    if (kept.isEmpty) return 0L
    // reconstruct every kept snapshot in ONE forward fold
    var snap = snapshotAt(spark, dir, kept.head, versions, cks, tokens)
    val keptSnaps = Vector.newBuilder[Snapshot]
    keptSnaps += snap
    kept.tail.foreach { v =>
      readLogEntry(spark, dir, v) match {
        case Left(full) => snap = full
        case Right(d) => snap = applyDelta(Some(snap), d)
      }
      keptSnaps += snap
    }
    val snaps = keptSnaps.result()
    val fs = logPath(dir).getFileSystem(conf(spark))
    val dropping = versions.exists(v => !keep(v))
    if (dropping) {
      // the horizon snapshot must stay reconstructible after its delta
      // chain is deleted: checkpoint it (idempotent), then VERIFY the
      // file exists before any log entry is removed
      writeCheckpoint(spark, dir, snaps.head)
      require(fs.exists(new Path(logPath(dir), checkpointName(kept.head))),
        s"vacuum: could not checkpoint horizon v${kept.head} — aborting " +
          "before any deletion")
    }
    val live = snaps.flatMap(_.files.map(_.path))
      .map(p => p.split("/")(1)) // commit uuid component
      .toSet
    val dataRoot = new Path(dir, DataDir)
    if (!fs.exists(dataRoot)) return 0L
    var deleted = 0L
    fs.listStatus(dataRoot).foreach { st =>
      if (st.isDirectory && !live.contains(st.getPath.getName)) {
        deleted += NioLocalFileSystem.leafFiles(fs, st.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        fs.delete(st.getPath, true)
      }
    }
    // deletion-vector sweep: same liveness rule over the dv/ root
    val dvRoot = new Path(dir, DvDir)
    if (fs.exists(dvRoot)) {
      val liveDv = snaps.flatMap(_.dvs.values.flatten)
        .map(p => p.split("/").last).toSet
      fs.listStatus(dvRoot).foreach { st =>
        if (st.isDirectory && !liveDv.contains(st.getPath.getName)) {
          fs.delete(st.getPath, true)
          deleted += 1
        }
      }
    }
    // drop log entries below the horizon so history() stays honest —
    // deltas of vacuumed versions AND the checkpoints they fed
    versions.filterNot(keep).foreach { v =>
      fs.delete(new Path(logPath(dir), deltaName(v)), false)
    }
    cks.filter(_ < kept.head).foreach { c =>
      fs.delete(new Path(logPath(dir), checkpointName(c)), false)
      fs.delete(new Path(logPath(dir), ckptFilesName(c)), false)
    }
    deleted
  }
}
