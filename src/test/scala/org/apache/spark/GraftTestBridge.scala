package org.apache.spark

/** Reaches the package-private listener bus, so a spec can wait until
  * every posted event has reached its listeners before it reads them. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
