package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the trace is attributed
  * only after every event posted so far has reached its listeners.
  * `listenerBus` is `private[spark]`, hence this bridge package. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
