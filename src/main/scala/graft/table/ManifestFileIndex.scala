package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import ManifestTable.{FileEntry, Snapshot}

/** An immutable Spark [[FileIndex]] over one snapshot's file list — the
  * leaf of every graft read. Catalyst hands the scan's pushed data
  * filters to [[listFiles]], which returns only the files the manifest
  * cannot rule out: interval bounds ([[ManifestTable.mayMatch]]) plus
  * manifest-resident or footer bloom probes
  * ([[ManifestTable.pruneFilesBloom]]), decided once per filter set and
  * memoised. The filters still run above the scan, so pruning only
  * ever skips IO.
  *
  * Nothing is listed: a file's status and length come from its
  * manifest entry ([[FileEntry.bytes]] — exact, parquet locates the
  * footer from it), so planning pays no `getFileStatus`, no
  * `InMemoryFileIndex` listing and no parallel-listing job however many
  * files the snapshot holds. A file deleted under a live version still
  * fails the read loudly when the scan opens it.
  *
  * `snap` is the snapshot the files belong to with `files` narrowed to
  * the ones this scan covers; equality is (table dir, version, file
  * set), so two scans of the same files compare equal for plan reuse
  * and caching. */
final class ManifestFileIndex(spark: SparkSession, val dir: String,
    snap: Snapshot) extends FileIndex {

  def version: Long = snap.version
  private val files: Vector[FileEntry] = snap.files
  private lazy val paths: Set[String] = files.iterator.map(_.path).toSet

  private lazy val root: Path = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def status(f: FileEntry): FileStatusWithMetadata =
    FileStatusWithMetadata(
      new FileStatus(f.bytes, false, 0, 0L, 0L, new Path(root, f.path)))

  /** Pruning decisions by (canonical) filter set. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[Set[Expression], Vector[FileEntry]]
  @volatile private var lastKept: Option[Int] = None

  override def rootPaths: Seq[Path] = Seq(root)

  /** The files the filters (conjuncts) may match. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = partitionFilters ++ dataFilters
    val kept = if (filters.isEmpty) files
      else memo.computeIfAbsent(filters.map(_.canonicalized).toSet, _ =>
        ManifestTable.pruneExpr(spark, dir, snap, filters.reduce(And)))
    lastKept = Some(kept.size)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(status)))
  }

  override def inputFiles: Array[String] =
    files.iterator.map(f => new Path(root, f.path).toString).toArray

  override def refresh(): Unit = () // a committed version never changes

  override lazy val sizeInBytes: Long = files.iterator.map(_.bytes).sum

  override def partitionSchema: StructType = new StructType()

  /** `ManifestFileIndex[<dir>@v<n>: kept k of n files]` once a scan has
    * listed it (`<n> files` before): `explain(true)` after an action
    * shows the pruning decision on the plan's `Relation` line. */
  override def toString: String = {
    val n = files.size
    s"ManifestFileIndex[$dir@v$version: " +
      lastKept.fold(s"$n files")(k => s"kept $k of $n files") + "]"
  }

  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex =>
      m.dir == dir && m.version == version && m.paths == paths
    case _ => false
  }

  override def hashCode: Int = (dir, version, paths).hashCode
}

object ManifestFileIndex {

  /** A parquet relation over `index` with `schema` and no partition
    * columns: the one leaf every graft read plans. Like every Spark file
    * source the read schema is nullable — a file may lack a column. */
  private[table] def frame(spark: SparkSession, index: ManifestFileIndex,
      schema: StructType): DataFrame =
    GraftSqlBridge.ofRows(spark, LogicalRelation(
      new Relation(index, GraftSqlBridge.asNullable(schema))(spark)))

  /** Shows the index (and its pruning decision) where a plain parquet
    * relation prints `parquet`. */
  private final class Relation(index: ManifestFileIndex, schema: StructType)(
      spark: SparkSession) extends HadoopFsRelation(index, new StructType(),
      schema, None, new ParquetFileFormat, Map.empty)(spark) {
    override def toString: String = index.toString
  }
}
