package graft.tools

/** Deterministic physical-plan signature: exchange counts + join
  * strategies. The bench guard catches timing drift but timing is noisy
  * (±1.5× run-to-run, measured in SURVEY's round-6 variance study);
  * plan shape is deterministic — a future Spark-conf change or refactor
  * that adds a shuffle or flips a broadcast join to sort-merge shows up
  * as a crisp signature diff in PlanSpec instead of a noisy timing bump.
  */
object PlanShape {

  /** Signature of a physical-plan string, e.g.
    * `shuffle=3,broadcast=2,reused=1,BroadcastHashJoin=2`. Shuffle
    * excludes broadcast and reused exchanges; join strategies appear
    * only when present, with their node counts. */
  def of(plan: String): String = {
    def n(re: String) = re.r.findAllIn(plan).size
    val shuffle = n("""(?<!Broadcast)(?<!Reused)Exchange""")
    val bcast = n("""BroadcastExchange""")
    val reused = n("""ReusedExchange""")
    val joins = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(j => j -> n(j)).filter(_._2 > 0)
      .map { case (j, c) => s"$j=$c" }
    (Seq(s"shuffle=$shuffle", s"broadcast=$bcast") ++
      (if (reused > 0) Seq(s"reused=$reused") else Nil) ++ joins).mkString(",")
  }
}

