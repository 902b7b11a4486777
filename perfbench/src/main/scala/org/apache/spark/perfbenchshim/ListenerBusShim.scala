package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced run drains it
  * before reading the counters its listener collected. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
