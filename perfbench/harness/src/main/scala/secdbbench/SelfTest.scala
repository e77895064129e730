package secdbbench

import scala.collection.mutable.ArrayBuffer

import graft.table.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Self-test of the `table_history` checker: a faithful replay of the
  * commit log must match every version of a real table, and a replay
  * that skips one commit must be reported as a mismatch. Returns the
  * failed expectations (empty = the checker works). */
object SelfTest {
  def run(spark: SparkSession, data: String, dir: String, seed: Long): Seq[String] = {
    val failures = ArrayBuffer.empty[String]
    val t = new TableHistory(spark, data, dir, new scala.util.Random(seed))
    t.create()
    (1 to 8).foreach(_ => t.commit(t.nextCommit()))
    val (v0, initial) = t.initialState
    val versions = v0 to t.headVersion

    def mismatches(model: Map[Long, TableHistory.State]): Int = versions.count { v =>
      model.get(v) match {
        case None => true
        case Some(want) =>
          val rows = ManifestTable.readVersion(spark, dir, v)
            .select(TableHistory.Checked.map(col): _*).collect()
          TableHistory.check(TableHistory.rowsOf(rows), want.toVector).isDefined
      }
    }

    val faithful = mismatches(TableHistory.replay(v0, initial, t.log.toSeq))
    if (faithful != 0) failures += s"faithful replay: $faithful of ${versions.size} versions mismatch"

    var state = initial
    val skip = t.log.indexWhere { case (_, c) =>
      val changes = TableHistory.touched(state, c) > 0
      state = TableHistory.applyCommit(state, c)
      changes
    }
    if (skip < 0) failures += "no commit in the self-test stream changed the table"
    else {
      val skipped = mismatches(TableHistory.replay(v0, initial, t.log.toSeq.patch(skip, Nil, 1)))
      if (skipped == 0)
        failures += s"replay without commit ${t.log(skip)._2.kind} at v${t.log(skip)._1} was not flagged"
      println(s"[selftest] replay skipping ${t.log(skip)._2.kind} at v${t.log(skip)._1}: " +
        s"$skipped of ${versions.size} versions flagged")
    }
    println(s"[selftest] faithful replay: $faithful of ${versions.size} versions mismatch")
    failures.toSeq
  }
}
