package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the traced run
  * needs it so that every job, stage and task event has reached the
  * benchmark's listeners before the spans are attributed.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
