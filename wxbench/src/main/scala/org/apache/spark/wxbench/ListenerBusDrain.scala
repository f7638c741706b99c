package org.apache.spark.wxbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
