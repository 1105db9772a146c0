package org.apache.spark

/** The listener bus's drain is private[spark]; the traced run needs it
  * so a request's task metrics are all delivered before they are read. */
object HttpBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
