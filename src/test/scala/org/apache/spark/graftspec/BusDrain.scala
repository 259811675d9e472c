package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Wait until every posted listener event has been delivered, so a test
  * listener's counters are final (the bus is `private[spark]`). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
