package secdbbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.table.ManifestTable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The `table_history` workload: a seeded incremental-load stream on one
  * manifest table built from `orders`, checked against an in-memory
  * key → (o_custkey, o_totalprice) model of every committed version.
  *
  * Commits are pure data ([[TableHistory.Commit]]); the model of any
  * version is the fold of the commit log up to it, so a replay that
  * drops one commit is a different model (the checker's self-test). */
object TableHistory {
  type Value = (Long, Double)
  type State = TreeMap[Long, Value]

  val Key = "o_orderkey"
  val InitialFiles = 16
  val Checked = Seq(Key, "o_custkey", "o_totalprice")

  sealed trait Commit { def kind: String }
  final case class Append(rows: Vector[(Long, Value)]) extends Commit { def kind = "append" }
  final case class Merge(upserts: Vector[(Long, Value)], deletes: Vector[Long]) extends Commit {
    def kind = "merge"
  }
  final case class Delete(lo: Long, hi: Long) extends Commit { def kind = "delete" }
  final case class Update(lo: Long, hi: Long) extends Commit { def kind = "update" }
  case object Compact extends Commit { def kind = "compact" }

  /** The table content after `c`, given the content before it. */
  def applyCommit(s: State, c: Commit): State = c match {
    case Append(rows) => s ++ rows
    case Merge(up, del) => (s ++ up) -- del
    case Delete(lo, hi) => s -- s.range(lo, hi + 1).keys
    case Update(lo, hi) => s ++ s.range(lo, hi + 1).map { case (k, (c, p)) => k -> (c + 1, p) }
    case Compact => s
  }

  /** Rows a commit changes (the denominator of write amplification). */
  def touched(s: State, c: Commit): Long = c match {
    case Append(rows) => rows.size.toLong
    case Merge(up, del) => (up.size + del.count(s.contains)).toLong
    case Delete(lo, hi) => s.range(lo, hi + 1).size.toLong
    case Update(lo, hi) => s.range(lo, hi + 1).size.toLong
    case Compact => 0L
  }

  /** Model of every version from a commit log: `log` holds each commit
    * with the table version it produced, oldest first. */
  def replay(v0: Long, initial: State, log: Seq[(Long, Commit)]): Map[Long, State] = {
    val out = mutable.LongMap(v0 -> initial)
    var s = initial
    log.foreach { case (v, c) => s = applyCommit(s, c); out(v) = s }
    out.toMap
  }

  /** Rows of a read, as (key, value) pairs sorted by key. */
  def rowsOf(rows: Array[Row]): Vector[(Long, Value)] =
    rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toVector.sortBy(_._1)

  /** Mismatch description, or None when a read equals the model. */
  def check(got: Vector[(Long, Value)], want: Vector[(Long, Value)]): Option[String] =
    if (got == want) None
    else {
      val g = got.toMap
      val w = want.toMap
      val bad = (g.keySet ++ w.keySet).toSeq.sorted.filter(k => g.get(k) != w.get(k))
      Some(s"${bad.size} keys differ (got ${got.size} rows, want ${want.size}); " +
        bad.take(3).map(k => s"$k: got ${g.get(k)} want ${w.get(k)}").mkString(", "))
    }

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally walk.close()
    }
}

/** One table and its generator. All randomness comes from `rng`, so a
  * seed fixes every commit, key and version the stream touches. */
final class TableHistory(spark: SparkSession, dataDir: String, val dir: String,
    rng: scala.util.Random) {
  import TableHistory._

  private var v0 = 0L
  private var initial: State = TreeMap.empty
  val log = mutable.ArrayBuffer.empty[(Long, Commit)]
  private val versions = mutable.LongMap.empty[State]
  private var state: State = TreeMap.empty
  // live keys, indexable for uniform sampling (swap-remove on delete)
  private val pool = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  private var nextKey = 0L
  private var gap = 1L
  private lazy val schema: StructType = ManifestTable.snapshot(spark, dir).schema

  def headVersion: Long = log.lastOption.map(_._1).getOrElse(v0)
  def versionCount: Int = versions.size

  /** Creates the table from `orders`, range-partitioned on the key into
    * [[TableHistory.InitialFiles]] files with key stats and a key bloom
    * filter, and loads the version-0 model from it. */
  def create(): Unit = {
    val orders = graft.core.Tables.orders(spark, dataDir)
    val snap = ManifestTable.create(spark, dir,
      orders.repartitionByRange(InitialFiles, col(Key)),
      statsCols = Seq(Key), bloomCols = Seq(Key))
    v0 = snap.version
    initial = TreeMap.from(orders.select(Checked.map(col): _*).collect()
      .iterator.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))))
    state = initial
    versions(v0) = state
    state.keysIterator.foreach(addKey)
    nextKey = state.lastKey + 1
    gap = math.max(1L, (state.lastKey - state.firstKey) / state.size)
  }

  private def addKey(k: Long): Unit = if (!slot.contains(k)) { slot(k) = pool.size; pool += k }
  private def dropKey(k: Long): Unit = slot.remove(k).foreach { i =>
    val last = pool.remove(pool.size - 1)
    if (i < pool.size) { pool(i) = last; slot(last) = i }
  }
  private def anyKey(): Long = pool(rng.nextInt(pool.size))
  private def price(): Double = math.round(rng.nextDouble() * 5e7) / 100.0
  private def fresh(n: Int): Vector[(Long, Value)] =
    Vector.fill(n) { nextKey += 1; nextKey -> (1L + rng.nextInt(15000), price()) }

  // commit kinds are dealt from shuffled decks, so every five commits
  // hold two appends, one merge, one delete and one update
  private val kinds = Iterator.continually(
    rng.shuffle(Seq("append", "append", "merge", "delete", "update"))).flatten

  def nextAppend(): Commit = Append(fresh(200 + rng.nextInt(600)))

  /** Draws the next commit of the stream. An append adds 200-800 new
    * keys. A merge is a CDC batch of updates and deletes (one in ten) of
    * up to 300 existing keys in one window of about 2000 keys; new keys
    * arrive by append only, so a merge never widens a file's key range.
    * Deletes and updates cover a range of about 100 keys. */
  def nextCommit(): Commit = kinds.next() match {
    case "append" => nextAppend()
    case "merge" =>
      val lo = anyKey()
      val old = rng.shuffle(state.range(lo, lo + 2000 * gap).keys.toVector).take(300)
      val (dels, ups) = old.splitAt(old.size / 10)
      Merge(ups.map(k => k -> (1L + rng.nextInt(15000), price())), dels)
    case kind =>
      val lo = anyKey()
      val hi = lo + 100 * gap
      if (kind == "delete") Delete(lo, hi) else Update(lo, hi)
  }

  private val Ts = java.time.LocalDateTime.of(2001, 1, 1, 0, 0)
  private def row(k: Long, v: Value, extra: Any*): Row =
    Row.fromSeq(Seq[Any](k, v._1, "O", v._2, Ts, "3-MEDIUM") ++ extra)
  private def frame(rows: Seq[Row], withOp: Boolean): DataFrame =
    spark.createDataFrame(rows.asJava,
      if (withOp) schema.add("op", "string") else schema).coalesce(1)

  private def range(lo: Long, hi: Long): Column = col(Key).between(lo, hi)

  /** Runs `c` through the public `ManifestTable` API and records the
    * version it produced in the model. */
  def commit(c: Commit): ManifestTable.Snapshot = {
    val snap = c match {
      case Append(rows) =>
        ManifestTable.append(spark, dir, frame(rows.map { case (k, v) => row(k, v) }, false))
      case Merge(up, del) =>
        val src = up.map { case (k, v) => row(k, v, "U") } ++ del.map(k => row(k, state(k), "D"))
        ManifestTable.merge(spark, dir, frame(src, true), Key, opCol = Some("op"))
      case Delete(lo, hi) => ManifestTable.delete(spark, dir, range(lo, hi))
      case Update(lo, hi) =>
        ManifestTable.update(spark, dir, range(lo, hi), Map("o_custkey" -> (col("o_custkey") + 1)))
      case Compact =>
        // OPTIMIZE ... WHERE over the appended key range: packs the small
        // append files and leaves the range-partitioned base files alone
        ManifestTable.compact(spark, dir, smallBytes = 1L << 20, targetBytes = 1L << 20,
          where = Some(col(Key) > initial.lastKey))
    }
    record(snap.version, c)
    snap
  }

  private def record(v: Long, c: Commit): Unit = {
    val before = state
    state = applyCommit(state, c)
    if (v != headVersion) {
      log += v -> c
      versions(v) = state
    } else require(state == before, s"${c.kind} changed the model without a new version")
    c match {
      case Append(rows) => rows.foreach(r => addKey(r._1))
      case Merge(up, del) => up.foreach(r => addKey(r._1)); del.foreach(dropKey)
      case Delete(lo, hi) => before.range(lo, hi + 1).keysIterator.foreach(dropKey)
      case _ => ()
    }
  }

  def checkpoint(): Unit = ManifestTable.checkpoint(spark, dir)
  /** Keeps every version: AS-OF reads range over the whole history. */
  def vacuum(): Long = ManifestTable.vacuum(spark, dir, keepLast = Int.MaxValue)

  /** A needle key at the head: nine in ten exist, one in ten is a gap. */
  def needle(): Long = if (rng.nextInt(10) == 0) nextKey + 1 + rng.nextInt(1000) else anyKey()
  def needleFilter(k: Long): Column = col(Key) === k
  def expectNeedle(k: Long): Vector[(Long, Value)] = state.get(k).map(k -> _).toVector

  /** An AS-OF read: a version drawn uniformly over the whole history and
    * a key range of about 50 keys. */
  def asOf(): (Long, Long, Long) = {
    val vs = versions.keysIterator.toIndexedSeq.sorted
    val v = vs(rng.nextInt(vs.size))
    val lo = anyKey()
    (v, lo, lo + 50 * gap)
  }
  def asOfFilter(lo: Long, hi: Long): Column = range(lo, hi)
  def expectAsOf(v: Long, lo: Long, hi: Long): Vector[(Long, Value)] =
    versions(v).range(lo, hi + 1).toVector

  def dirBytes: Long = TableHistory.dirBytes(java.nio.file.Paths.get(dir))
  def logBytes: Long = TableHistory.dirBytes(java.nio.file.Paths.get(dir, "_graft_log"))
  def initialState: (Long, State) = (v0, initial)
  def current: State = state
}
