package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus delivers job, stage and query-execution events
  * asynchronously; draining it after an action attributes every event to
  * that action. `SparkContext.listenerBus` is private[spark], hence this
  * package (the ShuffleBridge pattern). */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
