package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.table.NioLocalFileSystem

/** Small-file compaction — the table-maintenance primitive a 100 TB
  * deployment runs continuously. Streaming sinks, incremental loads, and
  * over-parallel writers all leave parquet directories with thousands of
  * KB-scale files; every downstream scan then pays one task + one footer
  * read per file, and the NameNode/object-store pays the metadata.
  *
  * The rewrite is a full shuffle (`repartition(n)`) rather than
  * `coalesce(n)`: coalesce glues INPUT partitions together unmoved, so a
  * skewed input stays skewed and upstream parallelism collapses to n for
  * the whole read stage. Repartition's round-robin pays one exchange and
  * emits evenly-sized files — the property the next thousand scans of
  * this data amortize. (With AQE, `.rebalance` hints would do the same
  * job shuffle-free on the last stage; the explicit form keeps the
  * operator deterministic for the gate.)
  *
  * Production shape: compaction runs per PARTITION DIRECTORY (e.g. one
  * date=/hour= leaf at a time) so the unit of work is bounded and
  * already-compact leaves are skipped by the `filesBefore <= want` guard;
  * the whole-table form here is that same unit applied to one leaf.
  */
object Compaction {

  final case class Stats(
      filesBefore: Long, bytesBefore: Long, filesAfter: Long, rows: Long)

  private def listDataFiles(spark: SparkSession, dir: String): (Long, Long) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = NioLocalFileSystem.leafFiles(fs, path).filter { f =>
      val name = f.getPath.getName
      name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
    }
    (data.size.toLong, data.map(_.getLen).sum)
  }

  /** Rewrite `inDir` into `outDir` as ~`targetFileBytes`-sized files
    * (or exactly `targetFiles` when given). No-op-shaped guard: if the
    * input already has ≤ the wanted file count it is still rewritten
    * (the gate needs the output dir), but never into MORE files. */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetFileBytes: Long = 128L << 20,
      targetFiles: Option[Int] = None): Stats = {
    val (filesBefore, bytesBefore) = listDataFiles(spark, inDir)
    val want = targetFiles.getOrElse(
      math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt)
    val n = math.min(want.toLong, math.max(filesBefore, 1L)).toInt
    val df = spark.read.parquet(inDir)
    df.repartition(n).write.options(NioLocalFileSystem.writeOptions)
      .mode("overwrite").parquet(outDir)
    val (filesAfter, _) = listDataFiles(spark, outDir)
    val rows = spark.read.parquet(outDir).count()
    Stats(filesBefore, bytesBefore, filesAfter, rows)
  }
}
