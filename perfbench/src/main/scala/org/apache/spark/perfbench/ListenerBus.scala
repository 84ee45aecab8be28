package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run waits on it so a
  * query's metrics are read only after every event it caused arrived. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
