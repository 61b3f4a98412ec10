package org.apache.spark

/** The listener bus's drain is `private[spark]`; this shim is the only
  * reason the benchmark declares a file in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
