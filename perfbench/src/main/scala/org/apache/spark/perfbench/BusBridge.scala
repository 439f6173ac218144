package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` hook the harness needs: waiting until
  * the listener bus has delivered every event posted so far, so that the
  * counters of one operation are complete before the next one starts. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
