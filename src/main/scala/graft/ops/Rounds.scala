package graft.ops

import org.apache.spark.sql.DataFrame

/** The one round driver behind the iterative operators: connected
  * components, redirect resolution, PageRank / TrustRank, HITS, k-means,
  * BPE and perceptron training.
  *
  * Each round's frame is EAGERLY `localCheckpoint(true)`ed, not persisted.
  * Persist caches row data but leaves the logical plan intact, and a
  * round references the previous round's frame, often more than once, so
  * Catalyst re-analyzes a plan tree that grows ~4× per round (measured:
  * connected components at sf0.1 wedged the driver in the optimizer, not
  * in any Spark job). The checkpoint truncates the plan to the
  * materialized RDD, keeping per-round planning O(1). Executor-local
  * checkpoint blocks are the documented non-reliable variant, which a
  * refinement loop can afford: it simply restarts on executor loss
  * (GraphFrames' connected components makes the same call), and the
  * ContextCleaner frees the blocks of superseded rounds.
  */
private[ops] object Rounds {

  /** Runs up to `max` rounds from `init`. Round `r` (1-based) calls
    * `step(frame, r)`: `None` reports that nothing is left to change and
    * ends the loop on the current frame; otherwise the new frame is
    * checkpointed and passed to `settled(frame, r)`, which may run jobs
    * over it and reports whether this round changed nothing. Returns the
    * last frame and whether the loop stopped early (`false`: the cap was
    * hit without a settled round). */
  def run(init: DataFrame, max: Int)(step: (DataFrame, Int) => Option[DataFrame])(
      settled: (DataFrame, Int) => Boolean): (DataFrame, Boolean) = {
    var frame = init
    var round = 1
    var converged = false
    while (!converged && round <= max) {
      step(frame, round) match {
        case None => converged = true
        case Some(next) =>
          frame = next.localCheckpoint(true)
          converged = settled(frame, round)
          round += 1
      }
    }
    (frame, converged)
  }

  /** Exactly `n` rounds of `step`, none of which can settle early. */
  def fixed(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    run(init, n)((frame, round) => Some(step(frame, round)))((_, _) => false)._1
}
