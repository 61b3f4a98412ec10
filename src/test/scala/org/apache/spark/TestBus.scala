package org.apache.spark

/** The listener bus's drain is `private[spark]`; specs that count jobs call
  * it so that every event posted so far has reached their listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
