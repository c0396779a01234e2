package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the driver's `private[spark]` listener bus. */
object ListenerBridge {
  /** Block until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
