package graft

import org.apache.spark.sql.SparkSession

/** One value per live SparkSession, keyed on the session OBJECT through a
  * weak reference: reference identity can't collide the way an
  * identity-hash string can once the first session is GC'd (a reused hash
  * silently skipped the tuning policy for the same dir), and a dead
  * session's value vanishes with it instead of growing the map unboundedly
  * in a long-lived JVM. `init` builds a session's value on first use; the
  * value must not hold its session, or the weak key never clears. */
private[graft] final class PerSession[V](init: () => V) {
  private val values = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, V]())

  def apply(spark: SparkSession): V = values.computeIfAbsent(spark, _ => init())
}
