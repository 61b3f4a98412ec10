package graft.raster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.core.FileSource

/** Token-keyed frame cache (SURVEY §4): the deterministic Block token plus
  * the request identify a tile frame uniquely, so expensive source reshapes
  * (e.g. `TableRasterSource`'s collect_list shuffle) can be persisted once
  * per session and reused by every query over the same source+request —
  * the Spark-native analogue of the reference's `cached` dask graphs.
  *
  * A token names paths, not contents: the cache is a [[graft.SessionMemo]]
  * over the source's `FileSource.paths`, so a frame lives until its files
  * change, and a stale frame is unpersisted before it is rebuilt.
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
  private val frames = new graft.SessionMemo[(String, RasterRequest), DataFrame](32,
    _.persist(StorageLevel.MEMORY_AND_DISK),
    df => try df.unpersist(false) catch { case _: Exception => }) // session stopped

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.frameCache").forall(_.toBoolean)

  // observability hooks (specs assert containment hits; cheap enough to
  // keep on unconditionally)
  private[graft] def hitCount: java.util.concurrent.atomic.AtomicLong = frames.hits
  private[graft] def missCount: java.util.concurrent.atomic.AtomicLong = frames.misses

  /** Return the persisted frame for (block, req), building it on miss. */
  def cached(block: FileSource, req: RasterRequest)(build: => DataFrame)(
      implicit spark: SparkSession): DataFrame =
    if (!enabled(spark)) build
    else frames(spark, (block.token, req), block.paths)(build)
}
