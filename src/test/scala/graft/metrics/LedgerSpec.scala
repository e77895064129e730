package graft.metrics

import graft.{Bench, SparkSuite}
import graft.table.ManifestTable
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Laws of the work ledger: installed once, and each counter reads the
  * quantity its name says, checked against an independent count. */
class LedgerSpec extends SparkSuite {

  private def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("Ledger.of is idempotent: one instance, and one count() adds its jobs once") {
    val a = Ledger.of(spark)
    assert(Ledger.of(spark) eq a)
    val (n, work) = Ledger.of(spark).measure(
      spark.sparkContext.parallelize(1 to 100, 2).count())
    assert(n == 100L)
    assert(work("exec.jobs") == 1.0 && work("exec.stages") == 1.0 &&
      work("exec.tasks") == 2.0, work)
  }

  test("scan.records of a full parquet scan equals the footer row count") {
    val file = sf("0.01") + "/orders.parquet"
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), spark.sparkContext.hadoopConfiguration))
    val footerRows = try reader.getRecordCount finally reader.close()
    val (_, work) = Ledger.of(spark).measure(noop(spark.read.parquet(file)))
    assert(footerRows > 0 && work("scan.records") == footerRows.toDouble, work)
  }

  test("shuffle.write_records of repartition(4) over n rows equals n") {
    val n = 10000L
    val (_, work) = Ledger.of(spark).measure(noop(spark.range(n).repartition(4)))
    assert(work("shuffle.write_records") == n.toDouble, work)
  }

  test("a SQL query records its planner phases") {
    spark.read.parquet(sf("0.01") + "/nation.parquet").createOrReplaceTempView("ledger_nation")
    spark.read.parquet(sf("0.01") + "/region.parquet").createOrReplaceTempView("ledger_region")
    val (rows, work) = Ledger.of(spark).measure(spark.sql(
      """WITH n AS (SELECT n_regionkey, count(*) AS c FROM ledger_nation
        |  GROUP BY n_regionkey)
        |SELECT r_name, c FROM ledger_region JOIN n ON r_regionkey = n_regionkey
        |ORDER BY r_name""".stripMargin).collect())
    assert(rows.length == 5)
    assert(work("planner.analysis_s") > 0.0, work)
  }

  test("a cold ManifestTable.snapshot moves table.delta_parses") {
    val dir = java.nio.file.Files.createTempDirectory("ledger_table").toString
    import spark.implicits._
    ManifestTable.create(spark, dir, Seq(1L -> "a").toDF("k", "v"))
    ManifestTable.append(spark, dir, Seq(2L -> "b").toDF("k", "v"))
    ManifestTable.clearSnapshotCache()
    val (snap, work) = Ledger.of(spark).measure(ManifestTable.snapshot(spark, dir))
    assert(snap.version == 1L)
    assert(work("table.delta_parses") >= 1.0, work)
  }

  test("Bench's tail line stays under 1500 bytes and parses as JSON in " +
    "the worst case: 294 queries, all failed, 40-character names") {
    val names = (1 to 294).map(i => f"q_$i%038d")
    val line = Bench.tailLine(1234.5, names.size, names, "degraded", 294,
      names.take(10).map(q => (q, 9.99, "planner.optimization_s")), "BENCH_QUERIES.json")
    assert(line.getBytes("UTF-8").length <= 1500, line.length)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "total" && json.get("value").asDouble == 1234.5)
    assert(json.get("query_count").asInt == 294 && json.get("failed_count").asInt == 294)
    assert(json.get("failed").size > 0 && json.get("slowest").size == 10)
    assert(json.get("artifact").asText == "BENCH_QUERIES.json")
  }
}
