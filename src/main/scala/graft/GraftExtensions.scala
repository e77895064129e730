package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: lets any Spark deployment pick up
  * graft's custom expressions with
  *   --conf spark.sql.extensions=graft.GraftExtensions
  * (no code changes in the consuming job). Queries inside this repo also
  * register per-session via [[graft.functions.GraftFunctions.register]],
  * which works on an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[graft.functions.CharNGrams].getName, "graft_ngrams"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.CharNGrams(children(0), children(1))))
    // graft_normalize backs the SQL-twin census (SparkDialect) — the
    // deployment path must carry every function the per-session
    // registrar (GraftFunctions.register) does, or SQL text that runs
    // in-repo fails on a --conf-configured cluster.
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[graft.functions.NormalizeText].getName,
        "graft_normalize"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.NormalizeText(children(0))))
    // Runtime bloom-prefilter primitives (operators/BloomJoin.scala):
    // build with graft_bloom_agg(key, items, bits), probe with
    // graft_bloom_contains(bloomBytes, key) — the same Spark-internal
    // expressions the optimizer's InjectRuntimeFilter uses, exposed so
    // SQL-first jobs can prefilter unconditionally.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(children(0))),
          children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0),
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(children(1))))))
    // Whole-operator as-of join: plans AsOfJoinNode into the single-pass
    // partitioned-merge AsOfJoinExec (graft.plans).
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    // Scale lint: opt-in analysis failure on unpartitioned ordered windows
    // (spark.graft.failUnpartitionedWindow=true).
    ext.injectCheckRule(s => new graft.plans.UnpartitionedWindowCheck(s))
    // Opt-in rewrite of pure BETWEEN theta joins to bin-keyed hash joins
    // (fires only when spark.graft.rangeJoin.binWidth is set).
    ext.injectOptimizerRule(_ => graft.plans.RangeBinJoinRewrite)
    // SQL row-level DML on graft tables: UPDATE and MERGE INTO resolve
    // into the engine's own commit operations (see GraftSqlDml).
    ext.injectResolutionRule(s => new graft.sources.GraftSqlDmlRule(s))
    // Plan-time statistics for graft scans: V1ScanWrapper hides the
    // scan's SupportsReportStatistics from computeStats (and no
    // optimizer extension point runs after that pushdown), so a
    // planner strategy substitutes stats-bearing leaves, re-plans, and
    // restores the original relations at the leaves (execution
    // byte-identical) — see GraftScanStats.
    ext.injectPlannerStrategy(s => org.apache.spark.sql.GraftScanStatsStrategy(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
    // Comparison and IN-list constants in filters and projections read
    // from `references`: one compiled class serves every key value.
    ext.injectColumnar(_ => graft.plans.ParamLiterals.columnar)
  }
}
