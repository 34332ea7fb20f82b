package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus.waitUntilEmpty` is `private[spark]`; the
  * harness needs it so every job, task and streaming-progress event of a
  * pass has been delivered before the pass's figures are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
