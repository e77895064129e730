package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.ManifestTable

/** The manifest table as a registered Spark SQL data source —
  * `spark.read.format("graft").load(dir)`,
  * `df.write.format("graft").mode(...).save(dir)`,
  * `CREATE TABLE t USING graft OPTIONS (path '...')` + `SELECT`/
  * `INSERT INTO` — so plain-SQL users get the SAME manifest-level file
  * pruning, deletion-vector subtraction and ACID commit protocol as
  * the Scala facade, with zero facade imports.
  *
  * Architecture: a DataSourceV2 [[TableProvider]] whose scan implements
  * [[SupportsPushDownFilters]] + [[SupportsPushDownRequiredColumns]] and
  * falls back to a V1 relation for EXECUTION ([[V1Scan]] — the pattern
  * Spark's own JDBC connector uses): Catalyst hands the scan its
  * filters and required columns, the scan prunes the manifest file list
  * with them (the same [[ManifestTable.pruneFiles]] decision as
  * `read(dir, filter)`), and execution delegates to a pruned parquet
  * read — vectorized scan, parquet row-group pushdown and whole-stage
  * codegen all intact, because the inner plan IS a parquet scan.
  * Filters are reported as residual, so Spark re-applies them above the
  * scan: pushdown can only skip IO, never change results.
  *
  * Writes go through [[V1Write]] → the commit protocol: `mode("append")`
  * = [[ManifestTable.append]] (additive schema evolution included),
  * `mode("overwrite")` = [[ManifestTable.overwrite]], both atomic.
  * `mode("errorifexists")` (the default) CREATES the table — options
  * `statsCols`/`partitionCols` (comma-separated) set the layout spec.
  *
  * Time travel: `option("versionAsOf", v)` or
  * `option("timestampAsOf", epochMillis)` pin the snapshot.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  /** `readStream.format("graft")` — the table as a STREAMING SOURCE of
    * its appended rows (offsets are snapshot versions, each micro-batch
    * is the added files of a commit range — manifest-priced, the table
    * is never rescanned). A commit that REWRITES or vector-deletes
    * (merge/delete/update/compact) is not representable in an
    * append-only stream: the source fails loudly there unless
    * `option("ignoreChanges", "true")`, in which case rewritten
    * commits' added files are emitted (possibly re-delivering
    * carried-over rows — the standard lakehouse contract).
    * `startingVersion` = the first commit INCLUDED (0 = the table's
    * full history, create commit and all; default: head + 1, i.e. new
    * appends only). `maxFilesPerTrigger` rate-limits a backlog drain
    * to ~n added files per micro-batch (whole commits, admission
    * control). For the CDC feed with _change/_commit_version use
    * `format("graft-changefeed")`. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft", ManifestTable.snapshot(sqlContext.sparkSession,
      parameters.getOrElse("path", sys.error(
        "graft source: option(\"path\", <table dir>) is required"))).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = parameters.getOrElse("path", sys.error(
      "graft source: option(\"path\", <table dir>) is required"))
    val starting = parameters.get("startingVersion").map(_.toLong)
      .getOrElse(ManifestTable.latestVersion(sqlContext.sparkSession, dir)
        .map(_ + 1).getOrElse(0L))
    new GraftTableStreamSource(sqlContext, dir, starting,
      parameters.get("ignoreChanges").exists(_.toBoolean),
      parameters.get("maxFilesPerTrigger").map(_.toInt))
  }

  /** `writeStream.format("graft")` — the table as a STREAMING SINK
    * with exactly-once semantics riding the batch high-water mark:
    * a replayed micro-batch id (Spark re-runs a batch after a failure
    * between sink write and offset commit) is a structural no-op.
    * Options: `path` (required); `mode` = `append` (default, one
    * [[ManifestTable.appendBatch]] commit per micro-batch) or `merge`
    * (latest-wins CDC via [[ManifestTable.mergeBatch]]; requires
    * `key`, optional `opCol`/`seqCol`). A missing table is CREATED on
    * the first batch (`statsCols`/`partitionCols` options set the
    * layout spec). `autoCompactAt` = opt-in bin-packing once the live
    * small-file count breaches the threshold (`autoCompactSmallMb` /
    * `autoCompactTargetMb` tune it) — the streaming small-file
    * pathology self-heals. Exactly-once is PER WRITER via the
    * streaming query id / `txnAppId` ([[graft.table.ManifestTable.Snapshot.txns]]). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val dir = parameters.getOrElse("path",
      sys.error("graft sink: option(\"path\", <table dir>) is required"))
    new GraftTableSink(dir, parameters)
  }

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = Option(options.get("path")).getOrElse(sys.error(
      "graft: option(\"path\", <table dir>) is required"))
    // a MISSING table infers an empty schema instead of throwing: the
    // default-mode write path (`save` without mode) probes getTable
    // before falling back to the V1 create, so the probe must survive
    // a not-yet-created table — reads still fail loudly at scan build
    if (ManifestTable.latestVersion(spark, dir).isEmpty) new StructType()
    else GraftTableProvider.resolve(spark, options)._2.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftTable(schema, new CaseInsensitiveStringMap(properties))

  /** V1 save path: `df.write.format("graft").save(dir)` with
    * ErrorIfExists/Ignore (Append/Overwrite ride the V2 path above). */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      sys.error("graft: option(\"path\", <table dir>) is required"))
    def csv(k: String): Seq[String] = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exists = ManifestTable.latestVersion(spark, dir).isDefined
    mode match {
      case _ if !exists => ManifestTable.create(spark, dir, data,
        statsCols = csv("statsCols"), partitionCols = csv("partitionCols"),
        bloomCols = csv("bloomCols"))
      case Append => ManifestTable.append(spark, dir, data)
      case Overwrite => ManifestTable.overwrite(spark, dir, data)
      case Ignore => ()
      case ErrorIfExists => sys.error(s"graft: table already exists at $dir")
    }
    val committed = ManifestTable.snapshot(spark, dir).schema
    new BaseRelation {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = committed
    }
  }
}

object GraftTableProvider {
  /** (dir, snapshot) for the given reader options — head by default,
    * `versionAsOf` / `timestampAsOf` for time travel. */
  private[sources] def resolve(spark: SparkSession,
      options: CaseInsensitiveStringMap)
      : (String, ManifestTable.Snapshot) = {
    val dir = Option(options.get("path")).getOrElse(sys.error(
      "graft: option(\"path\", <table dir>) is required"))
    val version = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map(ts =>
        ManifestTable.versionAsOf(spark, dir, ts.toLong)))
    (dir, ManifestTable.snapshot(spark, dir, version))
  }

  /** The largest subset of a pushed filter convertible to a pruning
    * [[Column]]. Conjunctions keep their convertible legs (sound: a
    * weaker predicate prunes less); a disjunction converts only when
    * BOTH legs do (a weaker leg would widen, an absent one would make
    * pruning unsound). Anything unconvertible prunes nothing — the
    * engine re-applies every filter above the scan regardless. */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) if vs.nonEmpty => Some(col(a).isin(vs.toSeq: _*))
    case sources.And(l, r) =>
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, other) => one.orElse(other)
      }
    case sources.Or(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case _ => None
  }

  /** EXACT filter → Column translation: every node must convert (used
    * by DELETE, where a weakened predicate would be wrong — contrast
    * [[toColumn]], whose And keeps the convertible subset because a
    * weaker predicate only prunes less). */
  private[sources] def toColumnExact(f: Filter): Option[Column] = f match {
    case sources.And(l, r) =>
      for { a <- toColumnExact(l); b <- toColumnExact(r) } yield a && b
    case sources.Or(l, r) =>
      for { a <- toColumnExact(l); b <- toColumnExact(r) } yield a || b
    case sources.Not(c) => toColumnExact(c).map(!_)
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case sources.In(a, vs) if vs.isEmpty => Some(lit(false))
    case leaf => toColumn(leaf) match {
      // only LEAF conversions are reusable (the pruning And weakens)
      case some @ Some(_) if !leaf.isInstanceOf[sources.And] &&
        !leaf.isInstanceOf[sources.Or] => some
      case _ => None
    }
  }
}

private[sources] class GraftTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private val dir = Option(options.get("path")).getOrElse(sys.error(
    "graft: option(\"path\", <table dir>) is required"))

  /** Table root — the handle the SQL DML rules hand to the facade. */
  private[sources] def tableDir: String = dir

  override def name(): String = s"graft.`$dir`"

  override def schema(): StructType = tableSchema

  /** AUTOMATIC_SCHEMA_EVOLUTION: `MERGE INTO … WITH SCHEMA EVOLUTION`
    * on a CATALOG-resolved graft table routes through Spark's own
    * ResolveMergeIntoSchemaEvolution, which applies the additive
    * AddColumn changes via [[GraftCatalog.alterTable]] — the engine's
    * metadata-only commit with its tombstone/rename guards — then
    * re-resolves the merge against the widened schema. Non-additive
    * changes are refused loudly by the same alterTable. */
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** SQL `DELETE FROM t WHERE …`: a predicate that converts EXACTLY to
    * a Column (strict — every node, unlike the pruning converter's
    * sound-to-weaken subset, because a weakened DELETE predicate would
    * delete too much) runs as a touched-files-only rewrite commit (the
    * same [[ManifestTable.delete]] the facade exposes) — not just a
    * metadata delete. An unconvertible predicate is refused loudly
    * (canDeleteWhere false) rather than silently mis-deleting. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTableProvider.toColumnExact(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.toSeq.map(f =>
      GraftTableProvider.toColumnExact(f).getOrElse(sys.error(
        s"graft: unconvertible DELETE predicate $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    ManifestTable.delete(SparkSession.active, dir, cond)
  }

  /** SQL `TRUNCATE TABLE t`: one atomic overwrite-with-empty commit —
    * history is preserved (time travel still sees pre-truncate
    * versions until vacuum). */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val snap = ManifestTable.snapshot(spark, dir)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], snap.schema)
    ManifestTable.overwrite(spark, dir, empty)
    true
  }

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // reader options (time travel) merge over table properties
    val merged = new CaseInsensitiveStringMap(
      (options.asCaseSensitiveMap().asScala ++
        caseInsensitiveOptions.asCaseSensitiveMap().asScala).asJava)
    new GraftScanBuilder(merged, tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(dir)
}

private[sources] class GraftScanBuilder(options: CaseInsensitiveStringMap,
    tableSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL filters stay residual: pruning only skips IO
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftScan(options, pushed, required)
}

/** One resolved scan: snapshot pinned at build time, manifest pruning
  * decided from the pushed filters. `prunedFilePaths` is the
  * spec-visible contract that SQL pushdown prunes the SAME file set as
  * the Scala facade's `read(dir, filter)`.
  *
  * Implements [[SupportsReportStatistics]] with the snapshot's EXACT
  * post-prune rows/bytes (the manifest holds both per file — zero IO),
  * so a small catalog table joined through the SQL front door plans a
  * broadcast join at PLAN time instead of carrying Spark's
  * default-infinite size estimate until AQE rescues it after a full
  * build-side shuffle map stage. Time travel reads report the pinned
  * HISTORICAL snapshot's size for free, because `snap` is already the
  * resolved snapshot. */
class GraftScan(options: CaseInsensitiveStringMap,
    pushed: Array[Filter], required: StructType) extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private val spark = SparkSession.active
  private val (dir, snap) = GraftTableProvider.resolve(spark, options)
  private val pruneCol: Option[Column] = {
    val legs = pushed.flatMap(GraftTableProvider.toColumn)
    legs.reduceOption(_ && _)
  }

  /** Pruned ONCE per scan: stats, `prunedFilePaths` and execution all
    * reuse the same survivor set (bloom probes are not re-paid). */
  private lazy val survivors: Vector[ManifestTable.FileEntry] =
    pruneCol.map(c => ManifestTable.pruneFilesBloom(spark, dir, snap, c))
      .getOrElse(snap.files)

  /** The file set this scan will read (root-relative). */
  def prunedFilePaths: Seq[String] = survivors.map(_.path)

  override def readSchema(): StructType = required

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = survivors.iterator.map(_.rows).sum
    // on-disk parquet bytes under-estimate the in-memory row width the
    // join planner reasons about; scale by the same knob Spark's file
    // sources use (spark.sql.sources.fileCompressionFactor, default 1.0)
    val factor = spark.sessionState.conf.fileCompressionFactor
    val bytes = math.max(1L,
      (survivors.iterator.map(_.bytes).sum * factor).toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val frame = ManifestTable
      .readSnapshot(spark, dir, snap, pruneCol, Some(survivors))
      .select(required.fieldNames.toSeq.map(col): _*)
    new GraftV1Relation(context, required, frame,
      survivors.iterator.map(_.bytes).sum).asInstanceOf[T]
  }
}

/** Execution-side V1 relation: the plan UNDER this scan is a normal
  * pruned parquet read (vectorized, codegen'd, row-group pushdown), so
  * the V1 seam costs one InternalRow pass-through, no conversion.
  * `sizeInBytes` mirrors the scan's manifest-exact estimate (default
  * would be spark.sql.defaultSizeInBytes = infinite). */
private[sources] class GraftV1Relation(ctx: SQLContext,
    relSchema: StructType, frame: DataFrame, scanBytes: Long)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = relSchema
  override def needConversion: Boolean = false
  override def sizeInBytes: Long = math.max(1L,
    (scanBytes * ctx.sparkSession.sessionState.conf.fileCompressionFactor)
      .toLong)
  override def buildScan(): RDD[Row] =
    frame.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** The table as an append-only streaming source: offsets ARE snapshot
  * versions, each batch is the union of the added files of the commits
  * in range — manifest-priced (only the new files are ever scanned).
  * Non-append commits (a file removed, or a deletion vector attached)
  * fail loudly unless `ignoreChanges` — an append-only stream cannot
  * express them; the CDC-complete alternative is `graft-changefeed`. */
private[sources] class GraftTableStreamSource(sqlContext: SQLContext,
    dir: String, startingVersion: Long, ignoreChanges: Boolean,
    maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit, ReadMaxFiles}
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}

  private val spark = sqlContext.sparkSession
  // schema AND rename lineage are pinned at stream start; a later
  // rename commit changes schemaJson and fails the version walk loudly
  private val startSnap = ManifestTable.snapshot(spark, dir)
  override val schema: StructType = startSnap.schema

  private def ver(o: V1Offset): Long = o match {
    case LongOffset(v) => v
    case so: SerializedOffset => LongOffset(so).offset
    case other => sys.error(s"graft source: alien offset $other")
  }

  override def getOffset: Option[V1Offset] =
    ManifestTable.latestVersion(spark, dir)
      .filter(_ >= startingVersion).map(LongOffset.apply)

  /** ADMISSION CONTROL (`option("maxFilesPerTrigger", n)`): a restart
    * against a long backlog must not land the whole history in ONE
    * micro-batch — the end offset advances only as far as ~n added
    * files per trigger (whole commits; always ≥ 1 commit so the stream
    * progresses). The count comes from the commit DELTAS — one forward
    * replay over the candidate range, no data IO. The engine calls
    * this instead of [[getOffset]] when a limit is in play (the same
    * seam Spark's own file source rate-limits through). */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: V2Offset, limit: ReadLimit)
      : V2Offset = {
    val head = ManifestTable.latestVersion(spark, dir)
      .filter(_ >= startingVersion)
    head match {
      case None => null
      case Some(h) =>
        val from = Option(startOffset)
          .map(o => ver(o.asInstanceOf[V1Offset]) + 1)
          .getOrElse(startingVersion)
        if (from > h) return Option(startOffset).orNull
        val end = limit match {
          case mf: ReadMaxFiles =>
            var taken = 0
            var endV = from // always include at least one commit
            ManifestTable.snapshotPairs(spark, dir, from, h)
              .iterator.takeWhile { case (prev, cur) =>
                val prevPaths = prev.map(_.files.map(_.path).toSet)
                  .getOrElse(Set.empty[String])
                val added = cur.files.count(f => !prevPaths(f.path))
                val first = cur.version == from
                if (first || taken + added <= mf.maxFiles()) {
                  taken += added
                  endV = cur.version
                  true
                } else false
              }.foreach(_ => ())
            endV
          case _ => h
        }
        LongOffset(end)
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : DataFrame = {
    // offsets are INCLUSIVE upper bounds; the first batch starts at
    // startingVersion (inclusive — version 0's create content streams
    // when startingVersion = 0)
    val from = start.map(ver(_) + 1).getOrElse(startingVersion)
    val to = ver(end)
    // ONE forward replay over the whole commit range — the per-batch
    // log cost is O(range) small JSON reads, not O(range × interval)
    val steps = ManifestTable.snapshotPairs(spark, dir, from, to)
      .flatMap { case (prev, cur) =>
      val v = cur.version
      // the stream's schema is pinned at start: a commit that CHANGES
      // the table schema mid-stream would otherwise have its files read
      // under the old schema, silently projecting new columns away —
      // fail loudly instead (Delta's behavior), the stream restarts
      // with the new schema
      prev.filter(_.schemaJson != cur.schemaJson).foreach { p =>
        sys.error(
          s"graft source: commit v$v of $dir (${cur.operation}) changed " +
            "the table schema mid-stream — restart the streaming query " +
            "to pick up the new schema")
      }
      val curPaths = cur.files.map(_.path).toSet
      val nonAppend = prev.exists(p =>
        p.files.exists(f => !curPaths(f.path)) ||
          p.files.exists(f => cur.dvs.getOrElse(f.path, Vector.empty) !=
            p.dvs.getOrElse(f.path, Vector.empty)))
      if (nonAppend && !ignoreChanges) sys.error(
        s"graft source: commit v$v of $dir (${cur.operation}) rewrote " +
          "or vector-deleted data — not representable in an append-only " +
          "stream. Use option(\"ignoreChanges\", \"true\") to stream " +
          "only added files, or format(\"graft-changefeed\") for the " +
          "full CDC feed.")
      val prevPaths = prev.map(_.files.map(_.path).toSet)
        .getOrElse(Set.empty[String])
      val added = cur.files.filterNot(f => prevPaths(f.path))
      if (added.isEmpty) None
      else Some(ManifestTable.readFiles(spark, dir, cur, added, schema,
        startSnap.renames))
    }
    val batch = steps.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema))
    org.apache.spark.sql.GraftSqlBridge.streamingFrame(batch)
  }

  override def stop(): Unit = ()
}

/** V1 streaming sink: each micro-batch re-enters batch-land
  * ([[org.apache.spark.sql.GraftSqlBridge.batchFrame]]) and lands as
  * ONE exactly-once table commit. */
private[sources] class GraftTableSink(dir: String,
    parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  private def csv(k: String): Seq[String] = parameters.get(k)
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.GraftSqlBridge.batchFrame(data)
    // the replay mark is scoped PER WRITER (Delta's txnAppId pattern):
    // a user-chosen option("txnAppId", …), else the streaming query id
    // Spark publishes as a local property while the batch runs — so a
    // second query, or one restarted with a fresh checkpoint (batch
    // ids restart at 0), never has its batches silently dropped
    // against another writer's high-water mark
    val txnId = parameters.get("txnAppId").orElse(
      Option(spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.streaming.runtime
          .StreamExecution.QUERY_ID_KEY)))
    if (ManifestTable.latestVersion(spark, dir).isEmpty) {
      // first batch creates the table; the batch id still needs to be
      // recorded for the replay contract, so create empty then commit
      ManifestTable.create(spark, dir, batch.limit(0),
        statsCols = csv("statsCols"), partitionCols = csv("partitionCols"),
        bloomCols = csv("bloomCols"))
    }
    val committed = parameters.getOrElse("mode", "append") match {
      case "append" =>
        ManifestTable.appendBatch(spark, dir, batch, batchId, txnId)
      case "merge" => ManifestTable.mergeBatch(spark, dir, batch,
        parameters.getOrElse("key", sys.error(
          "graft sink: merge mode requires option(\"key\", <column>)")),
        batchId, parameters.get("opCol"), parameters.get("seqCol"), txnId)
      case other => sys.error(s"graft sink: unknown mode $other")
    }
    // opt-in AUTO-COMPACTION (`option("autoCompactAt", n)`): streaming
    // ingest is the small-file pathology — one file per micro-batch
    // forever. When the live count of files under `autoCompactSmallMb`
    // (default 32) reaches n, one bin-packing compact commit runs
    // inline (contents untouched, a pure layout commit that rebases
    // over concurrent appends). Cost ∝ the small files; between
    // breaches every batch stays batch-priced.
    parameters.get("autoCompactAt").map(_.toInt).foreach { n =>
      val smallBytes = parameters.get("autoCompactSmallMb")
        .map(_.toLong).getOrElse(32L) << 20
      val small = committed.files.count(_.bytes < smallBytes)
      if (small >= n) ManifestTable.compact(spark, dir,
        smallBytes = smallBytes,
        targetBytes = parameters.get("autoCompactTargetMb")
          .map(_.toLong).getOrElse(128L) << 20)
    }
  }

  override def toString: String = s"GraftTableSink[$dir]"
}

private[sources] class GraftWriteBuilder(dir: String)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: Dataset[Row], overwriteFlag: Boolean)
            : Unit = {
          val spark = data.sparkSession
          if (overwrite || overwriteFlag)
            ManifestTable.overwrite(spark, dir, data)
          else ManifestTable.append(spark, dir, data)
        }
      }
  }
}
