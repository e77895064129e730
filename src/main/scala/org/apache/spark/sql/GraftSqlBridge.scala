package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Thin `private[sql]`-access bridge for graft's custom plan machinery
  * (the standard pattern for libraries shipping their own operators):
  *  - build a DataFrame from a custom LogicalPlan node;
  *  - register an extra planner strategy on a live session.
  * Deployments that configure `spark.sql.extensions=graft.GraftExtensions`
  * get the strategy injected at session build instead.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression behind a Column (Spark 4 moved `.expr`
    * behind the sql-api ColumnNode seam; this runs the classic-side
    * eager converter, so Column-built comparisons surface as catalyst
    * `UnresolvedFunction("<=", ...)` nodes rather than an opaque lazy
    * wrapper) — used by ManifestTable's manifest-level pruning to walk
    * a filter's predicate tree. */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The inverse seam: a catalyst Expression as a Column (Spark 4's
    * classic-side wrapper) — used by the SQL DML rules to re-plan
    * resolved statement fragments onto fresh engine frames. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `schema` with every field nullable, nested ones included — what
    * Spark's file sources read under (a file may lack a column). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Re-plan a batch frame as a STREAMING one (isStreaming = true) —
    * what a V1 `Source.getBatch` must hand the engine, and exactly how
    * the built-in file stream source wraps its batch reads: the batch
    * plan compiles to an InternalRow RDD (lazy) and re-enters the
    * streaming query as a leaf. */
  def streamingFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Re-plan a STREAMING micro-batch frame as a plain batch one — what
    * a V1 `Sink.addBatch` must do before handing the data to batch
    * writers (the incoming frame is planned against the streaming
    * query and cannot re-enter batch APIs directly); exactly the
    * ForeachBatchSink/foreachBatch mechanism. */
  def batchFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Plan a parquet read over EXPLICIT byte-range splits — the hook
    * behind manifest-level ROW-GROUP pruning: a split covers a row
    * group iff it contains the group's byte midpoint (the parquet
    * range-filter rule Spark's own scan planning relies on), so
    * handing the scan only the ranges whose row groups may match a
    * filter skips the rest without ever opening the file. Execution is
    * Spark's own vectorized parquet reader via
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    * .buildReaderWithPartitionValues]] + [[org.apache.spark.sql
    * .execution.datasources.FileScanRDD]] — the same machinery a
    * normal scan plans, minus the pruned ranges. Ranges are bin-packed
    * into partitions under the session's maxPartitionBytes.
    *
    * `ranges`: (absolute path, start, length, total file size). */
  def parquetRangeFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      ranges: Seq[(String, Long, Long, Long)]): DataFrame = {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
    import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
    import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    val session = spark.asInstanceOf[classic.SparkSession]
    // OPTION_RETURNING_BATCH=false: rows come back as InternalRows
    // (vectorized decode inside the reader, row handoff outside) — the
    // safe shape for re-entering a logical plan
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConfWithOptions(Map.empty))
    val pfiles = ranges.map { case (p, start, len, size) =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p),
        start, len, Array.empty, 0L, size, Map.empty)
    }
    val parts = FilePartition.getFilePartitions(session, pfiles.toSeq,
      session.sessionState.conf.filesMaxPartitionBytes)
    val rdd = new FileScanRDD(session, reader, parts, schema, Nil,
      Map.empty, new FileSourceOptions(CaseInsensitiveMap(Map.empty)))
    session.internalCreateDataFrame(rdd, schema)
  }

  /** Idempotently append a planner strategy to the session. */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }
}
