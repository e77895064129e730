package graft.table

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ManifestTable.{FileEntry, Snapshot, fileBounds, primLt}

/** Standard SQL MERGE INTO over a [[ManifestTable]]: composite join
  * keys, an ordered `WHEN MATCHED [AND <cond>] THEN UPDATE/DELETE`
  * clause list and `WHEN NOT MATCHED [AND <cond>] THEN INSERT` — the
  * full MERGE matrix a user migrating from any lakehouse engine
  * expects, on top of the same touched-files-only commit protocol as
  * the CDC-shaped [[ManifestTable.merge]].
  *
  * Semantics (ANSI MERGE):
  *   - a target row with a matching source row takes the FIRST matched
  *     clause whose condition holds (no clause ⇒ the row passes through
  *     unchanged); matched conditions and UPDATE SET expressions see
  *     target columns by name and source columns via [[MergeInto.src]];
  *   - a source row matching no target row takes the first not-matched
  *     clause whose condition holds (conditions/values see source
  *     columns by name); NULL join keys never match, like every SQL
  *     equality;
  *   - TWO source rows matching the SAME target row fail loudly
  *     (`raise_error`, the Delta/standard cardinality rule) — duplicate
  *     source keys that match nothing insert independently, exactly as
  *     running the INSERT branch per row would.
  *
  * Scale shape: [[SourceProbe]] — the one merge core this module
  * shares with the CDC-shaped [[ManifestTable.merge]] — observes the
  * source, picks the touched files by a PER-COLUMN interval probe (a
  * file is touched iff some source row falls inside its [min,max]
  * bounds on EVERY probed key column), gates the broadcast and decides
  * rebase conflicts by per-column range intersection. The touched side
  * is rewritten with one broadcast left join (the table side never
  * shuffles), and untouched files carry over by reference. INSERT-only
  * merges rewrite nothing at all — they stage just the new rows.
  * Version races rebase through [[ManifestTable.commitRewrite]].
  */
object MergeInto {

  /** WHEN MATCHED action. */
  sealed trait MatchedAction
  /** `UPDATE SET *` — every table column takes the source row's value
    * (the source must carry all table columns). */
  case object UpdateAll extends MatchedAction
  /** `UPDATE SET c = expr, …` — unnamed columns keep their values;
    * expressions see target columns by name, source via [[src]]. */
  final case class Update(set: Map[String, Column]) extends MatchedAction
  /** `DELETE`. */
  case object Delete extends MatchedAction

  /** WHEN NOT MATCHED action. */
  sealed trait NotMatchedAction
  /** `INSERT *` — the source row lands as-is (all table columns). */
  case object InsertAll extends NotMatchedAction
  /** `INSERT (…) VALUES (…)` — unnamed table columns become NULL;
    * expressions see source columns by name. */
  final case class Insert(values: Map[String, Column]) extends NotMatchedAction

  final case class WhenMatched(action: MatchedAction,
      condition: Option[Column] = None)
  final case class WhenNotMatched(action: NotMatchedAction,
      condition: Option[Column] = None)
  /** `WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE/DELETE` —
    * applies to TARGET rows with no matching source row (the sync-
    * to-source half of the matrix). Conditions and UPDATE SET
    * expressions see target columns only ([[UpdateAll]] is meaningless
    * here and rejected). Cost warning: an unconditional by-source
    * clause must rewrite EVERY file (any target row may be unmatched);
    * a conditional one rewrites only the files its condition may match
    * — scope it (e.g. a partition bound) on a big table. */
  final case class WhenNotMatchedBySource(action: MatchedAction,
      condition: Option[Column] = None)

  private val SrcStruct = "__src"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Merges whose insert set was derived from the rewrite pass's OWN
    * observe — i.e. the touched files were scanned exactly once (spec
    * hook for the single-pass law). */
  private[graft] val singlePassMerges =
    new java.util.concurrent.atomic.AtomicLong

  /** The source row's column `name` inside a WHEN MATCHED condition or
    * UPDATE SET expression (target columns are referenced plainly). */
  def src(name: String): Column = col(s"$SrcStruct.$name")

  def apply(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], matched: Seq[WhenMatched] = Nil,
      notMatched: Seq[WhenNotMatched] = Nil,
      notMatchedBySource: Seq[WhenNotMatchedBySource] = Nil,
      /** ADDITIVE schema evolution (`MERGE INTO … WITH SCHEMA
        * EVOLUTION`): source-only columns widen the table schema and
        * the widened schema rides the SAME commit as the merged data —
        * pre-merge rows answer NULL under the new columns (parquet
        * resolves the read schema by name, zero data IO). Additive
        * ONLY: a type conflict on an existing column, or a source
        * column whose name is tombstoned (dropped / renamed away),
        * fails loudly before anything stages. */
      schemaEvolution: Boolean = false): Snapshot =
    applyAt(spark, dir, ManifestTable.current(spark, dir), source, keys,
      matched, notMatched, notMatchedBySource, schemaEvolution)

  /** [[apply]] computed against an explicit `head` snapshot, then
    * committed under the same rebase/conflict rules (the stale-head
    * seam the rebase laws drive, like [[ManifestTable.mergeImpl]]). */
  private[table] def applyAt(spark: SparkSession, dir: String,
      head: Snapshot, source: DataFrame, keys: Seq[String],
      matched: Seq[WhenMatched], notMatched: Seq[WhenNotMatched],
      notMatchedBySource: Seq[WhenNotMatchedBySource],
      schemaEvolution: Boolean): Snapshot = {
    val tableSchema = head.schema
    val newFields: Seq[StructField] =
      if (!schemaEvolution) Nil
      else {
        val existing = tableSchema.fieldNames.toSet
        tableSchema.fields.foreach { tf =>
          source.schema.fields.find(_.name == tf.name).foreach { inf =>
            if (inf.dataType != tf.dataType) throw new IllegalArgumentException(
              s"mergeInto: column ${tf.name} type ${inf.dataType} != " +
                s"table type ${tf.dataType} — WITH SCHEMA EVOLUTION is " +
                "additive only")
          }
        }
        val reserved = head.dropped.toSet ++ head.renames.valuesIterator.flatten
        val added = source.schema.fields.toSeq
          .filterNot(f => existing(f.name)).map(_.copy(nullable = true))
        added.find(f => reserved(f.name)).foreach { f =>
          throw new IllegalArgumentException(
            s"mergeInto: column ${f.name} was dropped or renamed away — " +
              "old files still hold its physical data, so re-adding it " +
              "would resurrect stale values; overwrite() the table to " +
              "reuse the name")
        }
        added
      }
    val schema =
      if (newFields.isEmpty) tableSchema
      else StructType(tableSchema.fields ++ newFields)
    val cols = schema.fieldNames.toSeq
    require(keys.nonEmpty, "mergeInto: at least one join key")
    keys.foreach { k =>
      require(cols.contains(k), s"mergeInto: key $k not in table schema")
      require(source.columns.contains(k),
        s"mergeInto: key $k not in the source frame")
    }
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto: at least one WHEN clause")
    notMatchedBySource.foreach {
      case WhenNotMatchedBySource(UpdateAll, _) =>
        throw new IllegalArgumentException(
          "mergeInto: UPDATE SET * has no source row in a NOT MATCHED " +
            "BY SOURCE clause — name the columns")
      case WhenNotMatchedBySource(Update(set), _) => set.keys.foreach { c =>
        require(cols.contains(c),
          s"mergeInto: BY SOURCE SET column $c not in schema") }
      case _ => ()
    }
    val srcCols = source.columns.toSeq
    val needsAll = matched.exists(_.action == UpdateAll) ||
      notMatched.exists(_.action == InsertAll)
    if (needsAll) cols.foreach { c =>
      require(srcCols.contains(c),
        s"mergeInto: UPDATE/INSERT * needs source column $c")
    }
    matched.foreach {
      case WhenMatched(Update(set), _) => set.keys.foreach { c =>
        require(cols.contains(c), s"mergeInto: SET column $c not in schema") }
      case _ => ()
    }
    notMatched.foreach {
      case WhenNotMatched(Insert(values), _) => values.keys.foreach { c =>
        require(cols.contains(c),
          s"mergeInto: INSERT column $c not in schema") }
      case _ => ()
    }

    // one source-side window pass: the per-composite-key match count
    // feeds the cardinality guard (the only shuffle the source takes)
    val dupW = Window.partitionBy(keys.map(col): _*)
    val cached = source.withColumn("__dup", count(lit(1)).over(dupW))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probe = new SourceProbe(dir, head, schema, cached, keys)
      val resolved = probe.resolved
      // BY SOURCE clauses touch every file their conditions may match
      // (an unconditional clause touches all — any row may be unmatched)
      lazy val bySourceOr = notMatchedBySource.flatMap(_.condition)
        .reduceOption(_ || _)
      val bySourcePaths: Set[String] =
        if (notMatchedBySource.isEmpty) Set.empty
        else if (notMatchedBySource.exists(_.condition.isEmpty))
          head.files.map(_.path).toSet
        else ManifestTable.pruneFiles(head, bySourceOr.get).map(_.path).toSet
      val keyTouched = probe.touched.map(_.path).toSet
      val touched = head.files.filter(f =>
        keyTouched(f.path) || bySourcePaths(f.path))

      val base = ManifestTable.scanWith(spark, dir, head, touched, schema,
        head.renames)
      val srcKeyed = resolved.select(keys.map(col) ++ Seq(
        struct(srcCols.map(col): _*).as(SrcStruct), col("__dup")): _*)
      val isMatched = col(SrcStruct).isNotNull
      val clauseIdx = matched.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) =>
          when(cl.condition.map(c => coalesce(c, lit(false)))
            .getOrElse(lit(true)), lit(i)).otherwise(els)
      }
      val deleteIdx = matched.zipWithIndex.collect {
        case (WhenMatched(Delete, _), i) => i }
      val updateIdx = matched.zipWithIndex.collect {
        case (WhenMatched(UpdateAll | Update(_), _), i) => i }
      val bsClauseIdx = notMatchedBySource.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) =>
          when(cl.condition.map(c => coalesce(c, lit(false)))
            .getOrElse(lit(true)), lit(i)).otherwise(els)
      }
      val bsDeleteIdx = notMatchedBySource.zipWithIndex.collect {
        case (WhenNotMatchedBySource(Delete, _), i) => i }
      val bsUpdateIdx = notMatchedBySource.zipWithIndex.collect {
        case (WhenNotMatchedBySource(Update(_), _), i) => i }
      def valueOf(c: String): Column = {
        val afterBySource = notMatchedBySource.zipWithIndex
          .foldRight(col(c)) { case ((cl, i), els) =>
            cl.action match {
              case Update(set) if set.contains(c) =>
                when(col("__s") === i,
                  set(c).cast(schema(c).dataType)).otherwise(els)
              case _ => els
            }
          }
        matched.zipWithIndex.foldRight(afterBySource) { case ((cl, i), els) =>
          cl.action match {
            case UpdateAll =>
              when(col("__m") === i,
                src(c).cast(schema(c).dataType)).otherwise(els)
            case Update(set) if set.contains(c) =>
              when(col("__m") === i,
                set(c).cast(schema(c).dataType)).otherwise(els)
            case _ => els
          }
        }
      }
      // cardinality guard rides the join: evaluated on every matched
      // row, throws only when a duplicate source key actually matched
      val guard = when(isMatched && col("__dup") > 1,
        raise_error(concat(
          lit("mergeInto: multiple source rows match target key ("),
          concat_ws(",", keys.map(c => col(c).cast("string")): _*),
          lit(") — deduplicate the source")))).otherwise(lit(true))
      // lazy: with nothing touched no rewrite runs, and the broadcast
      // gate (a source count the empty probe did not observe) never does
      lazy val joined0 = base
        .join(probe.maybeBroadcast(srcKeyed), keys, "left")
        .withColumn("__m", when(isMatched, clauseIdx).otherwise(lit(-1)))
        .withColumn("__s", when(!isMatched, bsClauseIdx).otherwise(lit(-1)))
        .where(guard)
      // Single-pass rewrite+insert: the rewrite join above already reads
      // every touched row, so the set of source keys that MATCHED rides
      // the rewrite's own write job through a second observe (collect_set
      // of the key tuple — bounded by the matched subset of the source,
      // which the broadcast gate already materializes driver-side), and
      // inserts are derived from the CACHED source anti-joined against
      // that local key set — the touched files are never scanned a second
      // time. Gated to the broadcast-sized source (a bulk source must not
      // collect_set through the driver; its shuffle-join shape keeps the
      // key-column anti-join) and to constraint-free tables (enforcement
      // must keep its nothing-staged-on-violation ordering, which needs
      // the insert frame BEFORE staging).
      val rewriteNeeded = (matched.nonEmpty ||
        notMatchedBySource.nonEmpty) && touched.nonEmpty
      val singlePass = rewriteNeeded && notMatched.nonEmpty &&
        head.constraints.isEmpty && probe.broadcastable
      val mkObs = org.apache.spark.sql.Observation()
      lazy val joined = if (singlePass)
        joined0.observe(mkObs, collect_set(when(isMatched,
          struct(keys.map(col): _*))).as("__mk"))
      else joined0
      val allDeletes = deleteIdx.map(i => col("__m") === i) ++
        bsDeleteIdx.map(i => col("__s") === i)
      lazy val rewritten0 = allDeletes.reduceOption(_ || _)
        .fold(joined)(d => joined.where(!d))
        .select(cols.map(c => valueOf(c).as(c)): _*)

      // inserts: source rows matching NO touched base row (pruning
      // proves untouched files hold no matching key, so touched-only
      // is exact), first applicable not-matched clause
      val insertClauseIdx = notMatched.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) =>
          when(cl.condition.map(c => coalesce(c, lit(false)))
            .getOrElse(lit(true)), lit(i)).otherwise(els)
      }
      def insertValueOf(c: String): Column =
        notMatched.zipWithIndex.foldRight(
          lit(null).cast(schema(c).dataType)) { case ((cl, i), els) =>
          cl.action match {
            case InsertAll =>
              when(col("__n") === i,
                col(c).cast(schema(c).dataType)).otherwise(els)
            case Insert(values) =>
              when(col("__n") === i, values.getOrElse(c, lit(null))
                .cast(schema(c).dataType)).otherwise(els)
          }
        }
      def insertsFrom(matchedKeys: DataFrame): DataFrame = resolved
        .join(matchedKeys, keys, "left_anti")
        .withColumn("__n", insertClauseIdx)
        .where(col("__n") =!= -1)
        .select(cols.map(c => insertValueOf(c).as(c)): _*)
      val inserts =
        if (notMatched.isEmpty) None
        else Some(insertsFrom(base.select(keys.map(col): _*)))

      // constraints check the CHANGED rows only (updates + inserts);
      // pass-through rows conformed at their own commit
      if (head.constraints.nonEmpty) {
        val changedPred = (updateIdx.map(i => col("__m") === i) ++
          bsUpdateIdx.map(i => col("__s") === i)).reduceOption(_ || _)
        // nothing touched ⇒ no row is updated
        val updatedSlice = changedPred.filter(_ => touched.nonEmpty)
          .map(p => joined.where(p)
            .select(cols.map(c => valueOf(c).as(c)): _*))
        (updatedSlice ++ inserts).reduceOption(_ unionByName _).foreach(
          ManifestTable.enforce(_, head.constraints, "mergeInto"))
      }

      // INSERT-only merges (no matched/by-source clause, or nothing
      // touched) stage just the new rows — no file rewrite; a merge
      // with nothing to rewrite AND nothing to insert is a no-op
      val outOpt: Option[DataFrame] =
        if (singlePass)
          Some(rewritten0.coalesce(math.max(touched.size, 1)))
        else if (rewriteNeeded)
          Some(inserts.fold(rewritten0)(rewritten0.unionByName(_))
            .coalesce(math.max(touched.size, 1)))
        else inserts
      val removed = if (rewriteNeeded) touched.map(_.path).toSet
        else Set.empty[String]
      outOpt.fold(head) { out =>
        // staged under a known dir: an INSERT-only merge whose every
        // source row matched stages zero rows (stage drops zero-row
        // files), and its dir is dropped — the insert frame runs once
        val rel = s"${ManifestTable.DataDir}/${UUID.randomUUID()}"
        val staged0 = ManifestTable.stage(spark, dir, out, head.statsCols,
          head.partitionCols, head.bloomCols, rel)
        val staged = if (!singlePass) staged0 else {
          // the rewrite write above completed the observation; a missing
          // metric (AQE replanned an empty rewrite subtree and dropped
          // the CollectMetricsExec — the same seam as SourceProbe's
          // dropped observation) falls back to the key-column anti-join
          // against the touched scan — correct, just paying the second
          // scan this path exists to avoid
          val insertsDf = mkObs.get.get("__mk") match {
            case Some(s: scala.collection.Seq[_]) =>
              singlePassMerges.incrementAndGet()
              val keySchema = StructType(keys.map(k =>
                StructField(k, schema(k).dataType)).toArray)
              val rows = s.toSeq.map(_.asInstanceOf[Row])
              insertsFrom(broadcast(
                spark.createDataFrame(rows.asJava, keySchema)))
            case _ =>
              log.warn(s"merge-into $dir@v${head.version}: the single-pass " +
                "matched-key observation was dropped (AQE replanned an " +
                "empty rewrite subtree) — deriving inserts from a second " +
                s"key anti-join over the ${touched.size} touched files")
              insertsFrom(base.select(keys.map(col): _*))
          }
          staged0 ++ ManifestTable.stage(spark, dir, insertsDf,
            head.statsCols, head.partitionCols, head.bloomCols)
        }
        if (!rewriteNeeded && staged.isEmpty) {
          ManifestTable.dropStaged(spark, dir, rel)
          head
        } else {
          // a concurrently added file also conflicts when a BY SOURCE
          // clause may touch rows in it (unconditional ⇒ always)
          val bySourceConflicts: FileEntry => Boolean =
            if (notMatchedBySource.isEmpty) _ => false
            else if (notMatchedBySource.exists(_.condition.isEmpty)) _ => true
            else {
              val e = org.apache.spark.sql.GraftSqlBridge.expr(bySourceOr.get)
              f => ManifestTable.mayMatch(f, schema, e)
            }
          ManifestTable.commitRewrite(spark, dir, head, "merge-into",
            removed, staged, f => bySourceConflicts(f) || probe.conflicts(f),
            None, schemaJson =
              if (newFields.isEmpty) None else Some(schema.json))
        }
      }
    } finally cached.unpersist()
  }

  /** Merge sources at or under this row count are BROADCAST to the
    * rewrite join (the table side then never shuffles — the CDC fast
    * path); above it the join degrades to a plain shuffle join with
    * identical semantics instead of OOMing the driver on a bulk
    * source. ~4M keyed rows is comfortably inside Spark's default 8GB
    * broadcast-table hard cap for typical row widths. */
  private val MaxBroadcastSourceRows = 4L * 1000 * 1000

  /** The merge core both merges share — the CDC [[ManifestTable.merge]]
    * (one key) and [[apply]] (composite keys). Given the head snapshot,
    * the table schema and the already-resolved, PERSISTED source, it
    * decides which files the merge touches, whether the source
    * broadcasts, and which concurrently added files conflict.
    * Construction runs the one probe job.
    *
    * One observe rides the source ABOVE the cache point (metrics inside
    * a cached subplan never report): the row count (the broadcast gate)
    * and per-key min/max (the rebase-conflict test) come from the
    * probe's own pass — no separate count() or range aggregate job
    * unless the observation was never set or was dropped.
    *
    * Touched files: a file is touched iff some source row sits inside
    * its manifest [min, max] bounds (footer stats, or the exact
    * partition value) on EVERY bounded key column — one range join of
    * the source keys against the BROADCAST file-interval table
    * (metadata-sized: one row per data file), aggregated down to ≤
    * |files| ints at the driver. Strictly tighter than one [lo, hi]
    * interval, which a changelog with one far-away key (the
    * append-plus-update batch shape) would blow up to the whole table.
    * A file with no bounds on any probed key is always touched; a key
    * type [[keyProbe]] cannot bound is not probed, so with no probeable
    * key every file is touched. */
  private[table] final class SourceProbe(dir: String, head: Snapshot,
      schema: StructType, cached: DataFrame, keys: Seq[String]) {
    private val obs = org.apache.spark.sql.Observation()
    private val probed = keys.flatMap { k =>
      keyProbe(schema(k).dataType).map { case (t, norm) => (k, t, norm) }
    }
    private val rangeAggs = probed.zipWithIndex.flatMap {
      case ((k, _, norm), j) =>
        Seq(min(norm(col(k))).as(s"lo$j"), max(norm(col(k))).as(s"hi$j"))
    }
    /** The source with the observe attached: every consumer of the
      * merge source reads this frame. */
    val resolved: DataFrame =
      cached.observe(obs, count(lit(1)).as("rows"), rangeAggs: _*)
    private var observed = false

    val touched: Vector[FileEntry] = {
      val statFiles = head.files.zipWithIndex.flatMap { case (f, i) =>
        val bs = probed.map { case (k, _, _) => fileBounds(f, schema, k) }
        if (probed.isEmpty || bs.forall(_.isEmpty)) None else Some((i, bs))
      }
      val touchedIdx: Set[Int] =
        if (statFiles.isEmpty) Set.empty
        else {
          val fields = StructField("__fi", IntegerType) +:
            probed.zipWithIndex.flatMap { case ((_, t, _), j) =>
              Seq(StructField(s"__mn$j", t), StructField(s"__mx$j", t)) }
          val rows = statFiles.map { case (i, bs) =>
            Row.fromSeq(i +: bs.zip(probed).flatMap {
              case (Some((mn, mx)), (_, t, _)) =>
                Seq(primExternal(mn, t), primExternal(mx, t))
              case (None, _) => Seq(null, null)
            })
          }
          val ivals = cached.sparkSession.createDataFrame(rows.asJava,
            StructType(fields.toArray))
          // missing bounds on a column ⇒ that leg is unconstrained
          val cond = probed.indices.map { j =>
            col(s"__mn$j").isNull || (col(s"__k$j") >= col(s"__mn$j") &&
              col(s"__k$j") <= col(s"__mx$j"))
          }.reduce(_ && _)
          val idx = resolved.select(probed.zipWithIndex.map {
            case ((k, _, norm), j) => norm(col(k)).as(s"__k$j") }: _*)
            .join(broadcast(ivals), cond)
            .select("__fi").distinct().collect().map(_.getInt(0)).toSet
          observed = true // the probe's full pass set the observe metric
          idx
        }
      val boundedIdx = statFiles.map(_._1).toSet
      head.files.zipWithIndex.collect {
        case (f, i) if !boundedIdx(i) || touchedIdx(i) => f
      }
    }

    /** The observe metrics, or None when no probe ran or the
      * observation was dropped. The drop is load-bearing, not
      * defensive: when the probe's result is EMPTY, AQE replans the
      * finished stage into an empty local relation, the
      * CollectMetricsExec vanishes from the final adaptive plan, and
      * the ObservationManager completes the observation with Row.empty.
      * Blocks until the listener fires when the probe ran. */
    private lazy val metrics: Option[Map[String, Any]] =
      if (!observed) None
      else {
        val m = Some(obs.get).filter(_.get("rows").exists(_.isInstanceOf[Long]))
        if (m.isEmpty) log.info(s"merge source on $dir@v${head.version}: " +
          "probe observation dropped (AQE replanned the empty probe) — " +
          "counting the cached source instead")
        m
      }

    /** Source row count: the observe metric the probe already paid for,
      * else one count() over the ALREADY-CACHED source (the pre-observe
      * cost, never worse). Read only by the broadcast gate of a merge
      * that touched some file: an empty probe (the dropped-observation
      * case) touches none unless a file has no bounds on the keys. */
    lazy val rows: Long = metrics.flatMap(_.get("rows")) match {
      case Some(n: Long) => n
      case _ => cached.count()
    }
    /** The broadcast gate: see [[MaxBroadcastSourceRows]]. */
    def broadcastable: Boolean = rows <= MaxBroadcastSourceRows
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df) else df

    // per probed key, the source's [lo, hi]; None = no non-null key on
    // that column. Lazily priced: the happy path (no race) never reads it
    private lazy val ranges: Seq[Option[(Any, Any)]] =
      if (probed.isEmpty) Nil
      else {
        val r = metrics.map(m => Row.fromSeq(probed.indices.flatMap(j =>
          Seq(m.getOrElse(s"lo$j", null), m.getOrElse(s"hi$j", null)))))
          .getOrElse(resolved.agg(rangeAggs.head, rangeAggs.tail: _*).head())
        probed.indices.map { j =>
          if (r.isNullAt(2 * j)) None else Some((r.get(2 * j), r.get(2 * j + 1)))
        }
      }

    /** Rebase conflict test for a concurrently ADDED file: it conflicts
      * unless its bounds are PROVABLY disjoint from the source key range
      * on some probed column — otherwise the other commit may have
      * landed rows for keys this merge also resolved, and interleaving
      * them would leave duplicate keys. No probeable key ⇒ every added
      * file conflicts; an empty source conflicts with nothing. */
    def conflicts(f: FileEntry): Boolean =
      if (probed.isEmpty) true
      else if (ranges.forall(_.isEmpty)) false
      else !probed.zipWithIndex.exists { case ((k, _, _), j) =>
        (fileBounds(f, schema, k), ranges(j)) match {
          case (Some((mn, mx)), Some((lo, hi))) =>
            primLt(mx, lo) || primLt(hi, mn)
          case _ => false // unknown on this column: can't prove disjoint
        }
      }
  }

  /** Probe-side type plan for a merge key: the Spark column type the
    * interval frame uses, and how to normalize the source key onto it.
    * None ⇒ the key type can't be probed. */
  private def keyProbe(dt: DataType): Option[(DataType, Column => Column)] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((LongType, _.cast("long")))
      case FloatType | DoubleType => Some((DoubleType, _.cast("double")))
      case StringType => Some((StringType, identity[Column] _))
      case DateType => Some((LongType, c => unix_date(c).cast("long")))
      case TimestampType => Some((LongType, c => unix_micros(c)))
      case _ => None
    }

  /** Pruning primitive → external row value for the interval frame. */
  private def primExternal(v: Any, t: DataType): Any = (v, t) match {
    case (x: Long, LongType) => x
    case (x: Double, DoubleType) => x
    case (x: String, StringType) => x
    case _ => sys.error(s"merge probe: $v is not a $t")
  }
}
