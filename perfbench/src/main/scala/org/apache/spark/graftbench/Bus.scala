package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * every job and task event has reached the recorder before spans close. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
