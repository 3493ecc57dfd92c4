package org.apache.spark

/** The listener bus is asynchronous; the benchmark drains it before it
  * reads its listener counters, so a job that just finished is counted.
  * `listenerBus` is package-private, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
