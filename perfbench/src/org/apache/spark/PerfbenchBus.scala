package org.apache.spark

/** The listener bus is delivered asynchronously; the benchmark drains it
  * before reading what its listener saw. `listenerBus` is package-private,
  * hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
