package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark's traced run reads its listener buffers only after every
  * posted event has been delivered; the bus that knows that is
  * private[spark].
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
