package graft.raster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.core.Block

/** Token-keyed frame cache (SURVEY §4): the deterministic Block token plus
  * the request identify a tile frame uniquely, so expensive source reshapes
  * (e.g. `TableRasterSource`'s collect_list shuffle) can be persisted once
  * per session and reused by every query over the same source+request —
  * the Spark-native analogue of the reference's `cached` dask graphs.
  *
  * Entries are of two kinds: a table raster's native frame, and the
  * shuffle gathers of `WarpStage` windows that span native tiles. Map-only
  * windows (a map tile, a point) are narrow plans over the native frame
  * and add no entry.
  *
  * Bounded LRU of 32 frames; evicted entries are unpersisted. Scoped per
  * SparkSession so frames never leak across sessions. The session conf
  * `spark.graft.frameCache=false` disables it: perfbench's traced tiles
  * replay sets it to time a frame build with no cached entry.
  */
object FrameCache {
  private val MaxEntries = 32

  private final case class Key(sessionId: Int, token: String, req: RasterRequest)

  private def safeUnpersist(df: DataFrame): Unit =
    try df.unpersist(false)
    catch { case _: Exception => } // session already stopped

  private val cache =
    new java.util.LinkedHashMap[Key, DataFrame](MaxEntries, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, DataFrame]): Boolean = {
        val evict = size() > MaxEntries
        if (evict) safeUnpersist(e.getValue)
        evict
      }
    }

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.frameCache").forall(_.toBoolean)

  // observability hooks (specs assert containment hits; cheap enough to
  // keep on unconditionally)
  private[graft] val hitCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val missCount = new java.util.concurrent.atomic.AtomicLong

  /** Return the persisted frame for (block, req), building it on miss. */
  def cached(block: Block, req: RasterRequest)(build: => DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    if (!enabled(spark)) build
    else {
      val k = Key(System.identityHashCode(spark), block.token, req)
      cache.synchronized {
        val hit = cache.get(k)
        // never serve a frame bound to a stopped session (identity-hash
        // reuse after GC could otherwise alias a dead session's entry)
        if (hit != null && !hit.sparkSession.sparkContext.isStopped) {
          hitCount.incrementAndGet(); hit
        } else {
          if (hit != null) cache.remove(k)
          missCount.incrementAndGet()
          val df = build.persist(StorageLevel.MEMORY_AND_DISK)
          cache.put(k, df)
          df
        }
      }
    }
  }

  /** Drop and unpersist everything (test hygiene). */
  def clear(): Unit = cache.synchronized {
    val it = cache.values().iterator()
    while (it.hasNext) { safeUnpersist(it.next()); it.remove() }
  }
}
