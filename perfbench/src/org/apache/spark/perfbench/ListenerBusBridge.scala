package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; draining it at an op
  * boundary attributes every job, stage and query-execution event to the op
  * that caused it. `listenerBus` is private[spark], hence this package. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
