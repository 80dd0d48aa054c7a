package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait for it
  * to drain before it reads what the listeners recorded. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
