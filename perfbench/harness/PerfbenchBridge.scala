package org.apache.spark

/** Access to the `private[spark]` listener bus, so a traced run reads
  * its listener records only after every queued event was delivered.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
