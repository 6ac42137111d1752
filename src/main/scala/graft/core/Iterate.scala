package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The one driver for graft's checkpointed loops (graph, ANN, dedup, BPE).
  *
  * Each round applies the caller's body to the previous state and
  * `localCheckpoint`s the result. The checkpoint truncates lineage: a round
  * references its input several times, so without the cut each plan would
  * grow with the whole prior chain; a cut plan also references each input
  * RDD once per job, so the partitioning that input carries is reused.
  *
  * The stop test rides the checkpoint's own job: the `stopOn` aggregates
  * are attached with `Dataset.observe` and read back from the observed
  * Dataset's `queryExecution.observedMetrics` — no listener, no extra job.
  * The loop stops when a round's observed row equals the previous round's
  * (so round 1 never stops). Callers pass only aggregates for which an
  * equal row means every later round is the identity; with no aggregates
  * the loop runs all `bound` rounds.
  *
  * The body gets the previous state, the round number (from 1) and the
  * previous round's observed row (None in round 1 or without aggregates).
  */
object Iterate {

  /** `states(0)` is the initial state and `states(i)` the state after round
    * i; `fixpoint` tells whether the loop stopped on an equal observed row
    * rather than at the round bound.
    */
  final case class Rounds(states: Vector[DataFrame], fixpoint: Boolean) {
    def last: DataFrame = states.last
  }

  private val Observed = "graft_iterate"

  def apply(init: DataFrame, bound: Int, stopOn: Seq[Column] = Nil)(
      round: (DataFrame, Int, Option[Row]) => DataFrame): Rounds = {
    var states = Vector(init)
    var seen = Option.empty[Row]
    while (states.length <= bound) {
      val out = round(states.last, states.length, seen)
      val observed =
        if (stopOn.isEmpty) out else out.observe(Observed, stopOn.head, stopOn.tail: _*)
      states :+= observed.localCheckpoint()
      val row = observed.queryExecution.observedMetrics.get(Observed)
      if (seen.isDefined && row == seen) return Rounds(states, fixpoint = true)
      seen = row
    }
    Rounds(states, fixpoint = false)
  }
}
