package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. A traced step waits
  * for it to drain before it reads the counts its listeners collected.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
