package graft

import org.apache.spark.sql.SparkSession

/** One value per live SparkSession, keyed on the session object through a
  * weak reference: identity can't collide the way an identity hash can,
  * and a dead session's value goes with it, unless the value holds its
  * session (see [[SessionMemo]]). `init` builds a value on first use. */
private[graft] final class PerSession[V](init: () => V) {
  private val values = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, V]())

  def apply(spark: SparkSession): V = values.computeIfAbsent(spark, _ => init())
}
