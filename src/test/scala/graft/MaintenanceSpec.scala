package graft

import graft.operators.Compaction
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maintenance/typed-API block: compaction, schema-evolution reads, the
  * column profiler, and typed-cogroup vs declarative-window equivalence. */
class MaintenanceSpec extends SparkSuite {

  test("scratch dirs live under a per-process root carrying this pid, so " +
    "two JVMs on one host never share one") {
    val root = graft.core.Scratch.root
    assert(root.getFileName.toString ==
      s"graft_scratch_${ProcessHandle.current.pid}")
    assert(root.getParent == java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir")))
    val d = graft.core.Scratch.wiped("spec_pid")
    assert(java.nio.file.Paths.get(d) == root.resolve("spec_pid") &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
  }

  test("compaction: 64 splinter files -> 4 even files, rows preserved") {
    val in = graft.core.Scratch.dir("spec_frag_in")
    val out = graft.core.Scratch.dir("spec_frag_out")
    val li = graft.core.Tables.lineitem(spark, sf("0.001"))
    li.repartition(64).write.mode("overwrite").parquet(in)
    val st = Compaction.compact(spark, in, out, targetFiles = Some(4))
    assert(st.filesBefore == 64 && st.filesAfter == 4)
    assert(st.rows == li.count())
    // round-robin repartition must yield evenly-sized output files
    val sizes = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.length())
    assert(sizes.length == 4)
    assert(sizes.max.toDouble / sizes.min < 2.0,
      s"uneven compacted files: ${sizes.mkString(",")}")
  }

  test("compaction: never grows the file count of an already-compact input") {
    val in = graft.core.Scratch.dir("spec_comp_in")
    val out = graft.core.Scratch.dir("spec_comp_out")
    graft.core.Tables.region(spark, sf("0.001"))
      .repartition(2).write.mode("overwrite").parquet(in)
    // byte-based target would want many tiny files; the guard caps at input
    val st = Compaction.compact(spark, in, out, targetFileBytes = 1L)
    assert(st.filesAfter <= st.filesBefore)
  }

  test("schema evolution: late column null-backfills the old batch only") {
    val rows = SparkEntry.queries("cap_source_evolution")(spark, sf("0.001"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 2)
    val (b1, b2) = (rows(0), rows(1))
    assert(b1._1 == 1 && b1._2 > 0 && b1._3 == b1._2,
      s"batch 1 must be all-null in the late column: $b1")
    assert(b2._1 == 2 && b2._3 == 0L, s"batch 2 must have no nulls: $b2")
  }

  test("column profiler matches direct per-column computation") {
    val d = sf("0.001")
    val got = SparkEntry.queries("q_profile_table")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    val o = graft.core.Tables.orders(spark, d)
    val n = o.count()
    val okey = got("o_orderkey")
    assert(okey._1 == n && okey._2 == 0L)
    assert(okey._3 == o.select("o_orderkey").distinct().count())
    assert(okey._4 == o.agg(min("o_orderkey")).head().getLong(0).toString)
    val dt = got("o_orderdate")
    assert(dt._3 == o.select(col("o_orderdate").cast("date")).distinct().count())
    assert(dt._4.matches("\\d{4}-\\d{2}-\\d{2}"), s"date min_s format: ${dt._4}")
  }

  test("typed cogroupSorted equals the declarative window plan row-for-row") {
    val d = sf("0.001")
    val typed = SparkEntry.queries("q_typed_cogroup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val o = graft.core.Tables.orders(spark, d)
      .withColumn("brk",
        when(lag("o_totalprice", 1).over(w).isNull
          || col("o_totalprice") <= lag("o_totalprice", 1).over(w), 1L).otherwise(0L))
      .withColumn("run_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("o_custkey", "run_id").agg(count(lit(1)).as("run_len"))
      .groupBy("o_custkey")
      .agg(sum("run_len").as("n_orders"), max("run_len").as("max_run"))
    val decl = o.join(
      graft.core.Tables.customer(spark, d).select("c_custkey", "c_mktsegment"),
      col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_mktsegment", "n_orders", "max_run")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(typed.nonEmpty && typed == decl)
  }

  test("dynamic partition overwrite restates ONLY the touched partition") {
    val rows = SparkEntry.queries("cap_sink_dynamic_overwrite")(spark, sf("0.001"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(rows.keySet == Set("A", "N", "R"))
    // untouched partitions survive bit-identically — a static overwrite
    // would have truncated them away entirely
    Seq("A", "N").foreach { f =>
      val (nb, na, sb, sa) = rows(f)
      assert(nb == na && nb > 0, s"$f rows changed: $nb -> $na")
      assert(sb == sa, s"$f sum changed: $sb -> $sa")
    }
    // the restated partition carries the rewrite: same rows, doubled sum
    // (x2 is a power-of-two scale, so the doubles compare exactly)
    val (nb, na, sb, sa) = rows("R")
    assert(nb == na && nb > 0)
    assert(sa == sb * 2, s"R sum must double exactly: $sb -> $sa")
  }

  test("corrupt-record ingest quarantines exactly the malformed lines") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("cap_source_corrupt")(spark, sf("0.001")).head
    val o = graft.core.Tables.orders(spark, sf("0.001"))
    val wantBad = o.where(col("o_orderkey") % 7 === 0).count()
    val wantGood = o.count() - wantBad
    assert(r.getLong(0) === wantGood, "every good line must parse")
    assert(r.getLong(1) === wantBad, "every torn line must be captured")
    val wantSum = o.where(col("o_orderkey") % 7 =!= 0)
      .agg(graft.core.Dsl.d2d(graft.core.Dsl.dsum(col("o_totalprice"))))
      .head.getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
      java.lang.Double.doubleToRawLongBits(wantSum),
      "good-row sum must match the batch ground truth bitwise")
    // DROPMALFORMED must agree on the good set (count only — the mode
    // drops bad lines instead of capturing them)
    val root = graft.core.Scratch.dir("corrupt") // same deterministic dir
    val dropped = spark.read.schema("o_orderkey BIGINT, o_totalprice DOUBLE")
      .option("mode", "DROPMALFORMED").json(root).count()
    assert(dropped === wantGood)
  }

  test("incremental rollup: merged partials == from-scratch recompute, every month") {
    val rows = SparkEntry.queries("cap_incremental_rollup")(spark, sf("0.001"))
      .collect()
    assert(rows.length > 12, s"expected a multi-year month span, got ${rows.length}")
    // full-outer join nulls would mean a month existed on one side only
    assert(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2)),
      "view and recompute must cover the identical month set")
    assert(rows.forall(_.getBoolean(4)),
      s"months diverged: ${rows.filterNot(_.getBoolean(4)).mkString(", ")}")
    val total = rows.map(_.getLong(1)).sum
    val want = graft.core.Tables.orders(spark, sf("0.001")).count()
    assert(total === want, s"view rows $total != orders $want")
  }
}
