package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the benchmark needs exactly one
  * thing from it: to wait until every event posted so far (job, task and
  * streaming-progress events) has reached the listeners, so a call's
  * receipts are complete before they are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
