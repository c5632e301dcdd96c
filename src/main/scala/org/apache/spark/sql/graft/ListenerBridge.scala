package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the private[spark] listener-bus drain: `graft.Profile`
  * reads task metrics from a SparkListener immediately after an action,
  * and the bus posts events asynchronously — without a drain the profile
  * would race the last stage's completion event (a sleep would be the
  * flaky alternative). Same seam pattern as [[ColumnBridge]].
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
