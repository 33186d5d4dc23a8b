package org.apache.spark

/** Reaches the listener bus, which is package-private, so a traced run can
  * wait until every posted event has reached its listeners before it reads
  * them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
