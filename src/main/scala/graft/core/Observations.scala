package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, Row}

/** Bounded reads of `Dataset.observe` metrics. `Observation.get` waits
  * without limit for the listener-bus event that completes the
  * observation. Every library read follows the action that materialized
  * the observed plan, so the event is at most the bus's lag away: after
  * [[Bound]] it is not coming, and the read throws instead of hanging.
  */
private[graft] object Observations {
  val Bound: FiniteDuration = 5.minutes

  /** Metric `name` of `obs` — null when its aggregate is null (a sum over
    * no rows). Throws IllegalStateException when `obs` is not complete
    * within `bound`.
    */
  def metric(obs: Observation, name: String,
      bound: FiniteDuration = Bound): Any = {
    val row: Row =
      try Await.result(obs.future, bound)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(s"observed metric '$name' " +
            s"(observation ${obs.name}) not delivered within $bound")
      }
    row.get(row.fieldIndex(name))
  }
}
