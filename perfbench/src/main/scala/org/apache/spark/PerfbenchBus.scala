package org.apache.spark

/** The listener bus is asynchronous and its drain is package-private; the
  * benchmark waits on it before reading listener totals, so every job and
  * task of a finished call is counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
