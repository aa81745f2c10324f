package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * tracer reading its counters sees every job, stage and task that ran
  * before the call. The listener bus is `private[spark]`, hence the
  * package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
