package graft

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame

/** The round driver every iterative kernel goes through: the one per-round
  * cut and the one round bound.
  *
  * Fixed-round kernels fold over `cut` state; kernels that run to a
  * fixpoint hand their step to `fixpoint` (the cap is an error) or `upTo`
  * (the cap is a legitimate stop).
  */
object Rounds {

  /** The eager local checkpoint that ends a round (and every memo leaf).
    *
    * Iterative lineage otherwise grows the logical plan every round (a
    * 14-round min-label chain OOM-ed the planner just printing the plan);
    * a cut makes each round's plan constant-size. A local checkpoint keeps
    * its blocks on the executors and drops the lineage, so losing an
    * executor fails the job: on a real cluster swap this one line for
    * `setCheckpointDir` plus a reliable `checkpoint(true)`.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Runs `step` from `init` until a round reports no change or `cap`
    * rounds have run. Returns the last state, the rounds run, and whether
    * the last round changed nothing.
    */
  def upTo[S](init: S, cap: Int)(step: S => (S, Boolean)): (S, Int, Boolean) = {
    @tailrec def go(s: S, n: Int): (S, Int, Boolean) =
      if (n == cap) (s, n, false)
      else {
        val (next, changed) = step(s)
        if (changed) go(next, n + 1) else (next, n + 1, true)
      }
    go(init, 0)
  }

  /** [[upTo]] for kernels whose answer is only right at the fixpoint:
    * hitting `cap` raises instead of returning a partial state. Returns the
    * fixpoint and the rounds run.
    */
  def fixpoint[S](kernel: String, init: S, cap: Int)(
      step: S => (S, Boolean)): (S, Int) = {
    val (s, n, converged) = upTo(init, cap)(step)
    require(converged, s"$kernel did not converge within $cap rounds")
    (s, n)
  }
}
