package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the traced run must see all of
  * them before it writes its spans. The bus's drain call is
  * `private[spark]`, hence this shim's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
