package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a spec
  * counting jobs sees every job submitted before the call. The listener
  * bus is `private[spark]`, hence the package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
