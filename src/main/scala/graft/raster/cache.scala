package graft.raster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, LeafFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel
import graft.core.FileSource

/** Token-keyed frame cache (SURVEY §4): the deterministic Block token plus
  * the request identify a tile frame uniquely, so expensive source reshapes
  * (e.g. `TableRasterSource`'s collect_list shuffle) can be persisted once
  * per session and reused by every query over the same source+request —
  * the Spark-native analogue of the reference's `cached` dask graphs.
  *
  * An entry is a leaf plan: the built frame's rows are one persisted RDD
  * (`MEMORY_AND_DISK`, named after the Block's `graphName`,
  * `<Class>_<token>`, which the frame's `RDDScanExec` carries), and the
  * cached DataFrame is one `LogicalRDD` over it with the frame's output
  * attributes and statistics. So a map tile, a point or a full-grid read
  * analyzes, optimizes and explains a one-node source, not the parquet
  * reshape, the `collect_list` aggregate and the densify join of the
  * build. Spark's `CacheManager` never sees a frame; a lost block is
  * recomputed from the RDD's lineage (a `localCheckpoint` would truncate
  * it and fail the frame until the memo dropped it).
  *
  * Measured against the persisted build plan it replaces, on perfbench's
  * `tiles` workload (4-core host, `local[4]`, sf0.1 events raster): 10
  * interleaved pairs, `ops_per_s` median 11.9 → 14.7 (10/10 pairs),
  * `cpu_ms_per_op` 101 → 82 ms; one traced pair, single-client p50
  * 101 → 54 ms and `collect` 65 → 31 ms per tile. That is the cache's
  * verdict: it stays, as leaf plans.
  *
  * A token names paths, not contents: the cache is a [[graft.SessionMemo]]
  * over the source's `FileSource.paths`, so a frame lives until its files
  * change, and a stale frame's RDD is unpersisted before it is rebuilt.
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
  private val frames =
    new graft.SessionMemo[(String, RasterRequest), (RDD[InternalRow], DataFrame)](32,
      release = { case (rows, _) =>
        try rows.unpersist(blocking = false) catch { case _: Exception => } }) // session stopped

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.frameCache").forall(_.toBoolean)

  // observability hooks (specs assert containment hits; cheap enough to
  // keep on unconditionally)
  private[graft] def hitCount: java.util.concurrent.atomic.AtomicLong = frames.hits
  private[graft] def missCount: java.util.concurrent.atomic.AtomicLong = frames.misses

  /** Return the cached leaf frame for (block, req), building it on miss. */
  def cached(block: FileSource, req: RasterRequest)(build: => DataFrame)(
      implicit spark: SparkSession): DataFrame =
    if (!enabled(spark)) build
    else frames(spark, (block.token, req), block.paths)(leaf(block.graphName, build))._2

  /** `frame`'s rows as one persisted RDD named `name`, and the one-node
    * plan over it. */
  private def leaf(name: String, frame: DataFrame): (RDD[InternalRow], DataFrame) = {
    val rows = frame.queryExecution.toRdd.map(_.copy())
      .setName(name).persist(StorageLevel.MEMORY_AND_DISK)
    (rows, LeafFrames.over(rows, frame))
  }
}
