package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose queue-draining call is
  * `private[spark]`: the tracer reads its events only after every event
  * of the pass has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
