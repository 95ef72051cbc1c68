package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; a spec that counts a call's jobs
  * with its own listener waits here until every event posted so far has
  * reached the listeners.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
