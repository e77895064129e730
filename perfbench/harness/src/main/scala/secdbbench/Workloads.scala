package secdbbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.table.ManifestTable
import secdbbench.Main.{Ctx, Op}

/** The closed-loop workloads. One operation of a query workload
  * lasts from calling `Q.fn` until `collect` has returned every result row. */
object Workloads {
  def query(ctx: Ctx, q: String): Op = ctx.op("query", q) { id =>
    val (rows, layers) = ctx.frame(id)(SparkEntry.queries(q)(ctx.spark, ctx.data))
    val d = Digest.of(rows)
    (d.rows, d.text, None, layers)
  }

  /** Each query once, in the given order. */
  def queryFirst(ctx: Ctx, queries: Seq[String]): Seq[Op] = queries.map(query(ctx, _))

  /** The seed's order of a query list: the committed base order with each
    * consecutive block of [[OrderBlock]] queries shuffled. Every query's
    * neighbours change from seed to seed, but its rank (how warm the JIT
    * is when it first runs) moves by less than a block, so the order does
    * not dominate the run-to-run spread of first-execution latency. */
  def seedOrder(queries: Seq[String], rng: scala.util.Random): Seq[String] =
    queries.grouped(OrderBlock).flatMap(rng.shuffle(_)).toSeq
  val OrderBlock = 3

  /** Commits between maintenance rounds (compact + checkpoint + vacuum). */
  val MaintainEvery = 3
  /** Entries of the manifest snapshot cache (`ManifestTable.SnapshotCacheSize`). */
  val SnapshotCacheEntries = 64

  /** Seeds a history longer than the snapshot cache, so AS-OF reads drawn
    * over it miss the cache: appends (the cheapest commit, which keeps
    * set-up short) with a compaction after every [[MaintainEvery]]th, as
    * in the timed phase. Checkpoints come from the table's own
    * every-16-versions rule. */
  def seedHistory(t: TableHistory): Unit = {
    var commits = 0
    while (t.versionCount <= SnapshotCacheEntries) {
      t.commit(t.nextAppend())
      commits += 1
      if (commits % MaintainEvery == 0) t.commit(TableHistory.Compact)
    }
  }

  /** One cycle of the operation stream: 3 needle reads at the head, 4
    * AS-OF reads over the whole history and 3 commits, in a seeded order.
    * A fixed mix per cycle keeps the share of each kind the same from seed
    * to seed, so the median and the tail each fall inside one kind's
    * latencies rather than on the step between two kinds. */
  val Cycle = Seq.fill(3)('H') ++ Seq.fill(4)('A') ++ Seq.fill(3)('C')

  /** Cycles of [[Cycle]] until the deadline; every [[MaintainEvery]]th
    * commit is followed by a maintenance round. */
  def tableHistory(ctx: Ctx, t: TableHistory, rng: scala.util.Random,
      deadline: Long): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    var commits = 0
    val trace = ctx.trace
    val stream = Iterator.continually(rng.shuffle(Cycle)).flatten
    while (System.nanoTime() < deadline) {
      val next = stream.next()
      if (next == 'H') ops += readHead(ctx, t)
      else if (next == 'A') ops += readAsOf(ctx, t)
      else {
        ops += commit(ctx, t, t.nextCommit())
        commits += 1
        if (commits % MaintainEvery == 0) ops += ctx.op("maintain", "compact+checkpoint+vacuum") { id =>
          trace.span("table.maintain.compact", id)(t.commit(TableHistory.Compact))
          trace.span("table.maintain.checkpoint", id)(t.checkpoint())
          trace.span("table.maintain.vacuum", id)(t.vacuum())
          (0L, "", None, if (!trace.enabled) Map.empty else Map(
            "table.maintain_s.compact" -> trace.seconds(id, "table.maintain.compact"),
            "table.maintain_s.checkpoint" -> trace.seconds(id, "table.maintain.checkpoint"),
            "table.maintain_s.vacuum" -> trace.seconds(id, "table.maintain.vacuum")))
        }
      }
    }
    ops.toSeq
  }

  private def commit(ctx: Ctx, t: TableHistory, c: TableHistory.Commit): Op =
    ctx.op("commit", c.kind) { id =>
      if (!ctx.trace.enabled) { t.commit(c); (0L, "", None, Map.empty) }
      else {
        // untimed bookkeeping around the span: the snapshot before, the
        // rows the commit changes, the log bytes it adds
        val before = ManifestTable.snapshot(ctx.spark, t.dir)
        val rowBytes = before.files.map(_.bytes).sum.toDouble / math.max(1L, before.files.map(_.rows).sum)
        val touched = TableHistory.touched(t.current, c)
        val log0 = t.logBytes
        val after = ctx.trace.span(s"table.commit.${c.kind}", id)(t.commit(c))
        val old = before.files.map(_.path).toSet
        val written = after.files.filterNot(f => old(f.path)).map(_.bytes).sum
        (0L, "", None, Map(
          s"table.commit_s.${c.kind}" -> ctx.trace.seconds(id, s"table.commit.${c.kind}"),
          "table.log_bytes_per_commit" -> (t.logBytes - log0).toDouble,
          "table.write_amp" -> written / math.max(1.0, touched * rowBytes)))
      }
    }

  private val checked = TableHistory.Checked.map(org.apache.spark.sql.functions.col)

  private def readHead(ctx: Ctx, t: TableHistory): Op = {
    val k = t.needle()
    val filter = t.needleFilter(k)
    ctx.op("read_head", "needle") { id =>
      val extra = if (!ctx.trace.enabled) Map.empty[String, Double] else {
        val snap = ctx.trace.span("table.snapshot_head", id)(ManifestTable.snapshot(ctx.spark, t.dir))
        val kept = ctx.trace.span("table.prune", id)(ManifestTable.pruneFiles(snap, filter))
        Map("table.snapshot_head_s" -> ctx.trace.seconds(id, "table.snapshot_head"),
          "table.prune_kept_ratio" -> kept.size.toDouble / math.max(1, snap.files.size))
      }
      val (rows, layers) = ctx.frame(id)(
        ManifestTable.read(ctx.spark, t.dir, filter).select(checked: _*))
      val got = TableHistory.rowsOf(rows)
      (rows.length.toLong, "", TableHistory.check(got, t.expectNeedle(k)), layers ++ extra)
    }
  }

  private def readAsOf(ctx: Ctx, t: TableHistory): Op = {
    val (v, lo, hi) = t.asOf()
    ctx.op("read_asof", s"v$v") { id =>
      val extra = if (!ctx.trace.enabled) Map.empty[String, Double] else {
        ctx.trace.span("table.snapshot_asof", id)(ManifestTable.snapshot(ctx.spark, t.dir, Some(v)))
        Map("table.snapshot_asof_s" -> ctx.trace.seconds(id, "table.snapshot_asof"))
      }
      val (rows, layers) = ctx.frame(id)(
        ManifestTable.readVersion(ctx.spark, t.dir, v).where(t.asOfFilter(lo, hi))
          .select(checked: _*))
      val got = TableHistory.rowsOf(rows)
      (rows.length.toLong, "", TableHistory.check(got, t.expectAsOf(v, lo, hi)), layers ++ extra)
    }
  }
}
