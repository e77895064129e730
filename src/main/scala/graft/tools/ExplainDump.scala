package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: write `.explain("formatted")` of named registry queries to
  * files — the before/after plan evidence the optimization rounds
  * commit under plans/r<N>/ — and print each plan's [[PlanShape]]
  * signature. Usage:
  *   runMain graft.tools.ExplainDump <outDir> <suffix> <query ...>
  * Runs at the bench shape (local[32], shuffle=32, sf0.1). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <q ...>")
    val outDir = Paths.get(args(0)); Files.createDirectories(outDir)
    val suffix = args(1)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.drop(2).foreach { q =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${q}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[explain] wrote ${q}_$suffix.txt: " +
          PlanShape.of(df.queryExecution.executedPlan.toString))
      } catch { case e: Throwable =>
        println(s"[explain] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
