package org.apache.spark

/** The listener bus is asynchronous; a spec drains it before it reads
  * its listener's counters, so a job that just finished is counted.
  * `listenerBus` is package-private, hence this one-line bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
