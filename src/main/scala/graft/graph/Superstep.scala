package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, lit}

import graft.core.{Checkpoints, Observations}

/** A graph loop whose stop rule has not held after its round cap. Its
  * result is never returned, so it is never memoized either: a cached
  * analytic is always converged, and a later call with a higher cap
  * computes afresh.
  *
  * @param residual what the stop rule read last (a changed or frontier
  *   count, Σ|Δx|, a signature), null when no round ran
  */
final class NotConverged(val algorithm: String, val rounds: Int,
    val residual: Any)
    extends IllegalStateException(s"$algorithm did not converge: fixpoint " +
      s"not reached after $rounds rounds (residual $residual)")

/** The superstep loop of the join-path graph algorithms (the CSR
  * fixpoints have [[CsrLoop]]): the only place such a round's state is
  * checkpointed, its stop metric read and superseded state dropped.
  *
  * A round plans its new state table; the driver checkpoints it eagerly
  * and the round's stop metric (a row or changed count, Σ|Δx|, a
  * signature) is observed in that same job, so a round costs no probe
  * job of its own. The metric is read with the bounded wait of
  * [[Observations.metric]], a null aggregate (a sum over no rows) as 0.
  * The round then says what its checkpoint makes of the state, whether
  * the stop rule held, and which checkpoints the new state supersedes;
  * those are dropped, as the new state has materialized. A loop whose
  * state parts stay in its output (BFS levels) supersedes nothing.
  *
  * The stop rule alone decides convergence: when it has not held after
  * `maxIter` rounds, [[run]] throws [[NotConverged]].
  */
private[graft] object Superstep {
  /** A round's outcome: the next state, whether the stop rule held, and
    * the checkpoints the next state supersedes.
    */
  final case class Step[S](state: S, stop: Boolean = false,
      superseded: Seq[DataFrame] = Nil)

  /** One round: `plan` is checkpointed with `metric` observed, and
    * `next` reads the checkpoint and the metric's value.
    */
  final class Round[S, M] private[Superstep] (val plan: DataFrame,
      val metric: Option[Column], val next: (DataFrame, M) => Step[S])

  object Round {
    def apply[S, M](plan: DataFrame, metric: Column)(
        next: (DataFrame, M) => Step[S]): Round[S, M] =
      new Round(plan, Some(metric), next)

    /** A round of a loop whose stop rule is its round count. */
    def apply[S](plan: DataFrame)(next: DataFrame => Step[S]): Round[S, Unit] =
      new Round[S, Unit](plan, None, (ck, _) => next(ck))
  }

  /** Run `round(state, i)` for i = 0, 1, … from `init` until a round's
    * step stops; the final state and the rounds run. Throws
    * [[NotConverged]] when `maxIter` rounds end without a stop.
    */
  def run[S, M](algorithm: String, maxIter: Int, init: S)(
      round: (S, Int) => Round[S, M]): (S, Int) = {
    var state = init
    var rounds = 0
    var stop = false
    var residual: Any = null
    while (!stop) {
      if (rounds >= maxIter)
        throw new NotConverged(algorithm, rounds, residual)
      val r = round(state, rounds)
      val (ck, m) = r.metric match {
        case None => (r.plan.localCheckpoint(true), ())
        case Some(c) =>
          val obs = Observation()
          val ck = r.plan.observe(obs, coalesce(c, lit(0)).as("m"))
            .localCheckpoint(true)
          (ck, Observations.metric(obs, "m"))
      }
      val step = r.next(ck, m.asInstanceOf[M])
      step.superseded.foreach(Checkpoints.drop)
      state = step.state
      stop = step.stop
      residual = m
      rounds += 1
    }
    (state, rounds)
  }

  /** `n` rounds of a loop whose stop rule is the round count: its steps
    * need not say stop, and `n` ≤ 0 returns `init`.
    */
  def fixed[S](n: Int, init: S)(round: (S, Int) => Round[S, Unit]): S =
    if (n <= 0) init
    else run("fixed", n, init) { (s, i) =>
      val r = round(s, i)
      new Round[S, Unit](r.plan, None,
        (ck, u) => r.next(ck, u).copy(stop = i + 1 == n))
    }._1
}
