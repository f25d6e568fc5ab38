package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a listener's counts
  * are complete only after every event posted so far has reached it.
  * `listenerBus` is `private[spark]`, hence this bridge package. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
