package graft

import java.util.concurrent.{CompletableFuture, CompletionException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The one memo of results derived from files (`Tables.read`'s schemas,
  * `FrameCache`'s frames, `QueryLib`'s grids and pair frames). The rule:
  * an entry holds the [[SessionMemo.stamp]] of its files and lives until
  * they change; every lookup stamps them again. A path that cannot be
  * stamped (a glob, a missing file) is never memoized.
  *
  * `retain` makes a built value the memoized one (a checkpoint); `release`
  * runs on a dropped one (an unpersist), stale or pushed out of the
  * session's LRU of `maxEntries`. A stale entry is released, and every
  * plan Spark caches over its paths refreshed (`refreshByPath`, other
  * sessions' too), BEFORE the rebuild: Spark's `CacheManager` would match
  * the new read to an old persisted plan over the path, whose file index
  * compares only root paths. The engine's own memoized frames are not in
  * that cache (`FrameCache` holds leaf plans over persisted RDDs).
  *
  * Per session ([[PerSession]]); a DataFrame value keeps its session
  * reachable until dropped. Threads missing one key build it once, the
  * others wait for its value or exception; no build holds a lock. */
private[graft] final class SessionMemo[K, V](maxEntries: Int,
    retain: V => V = (v: V) => v, release: V => Unit = (_: V) => ()) {
  private final class Entry(val stamp: Seq[(String, Long, Long)],
      val value: CompletableFuture[V] = new CompletableFuture[V])

  private val lrus = new PerSession(() =>
    new java.util.LinkedHashMap[K, Entry](16, 0.75f, true))

  val hits, misses = new java.util.concurrent.atomic.AtomicLong

  def apply(spark: SparkSession, key: K, paths: Seq[String])(build: => V): V =
    SessionMemo.stamp(spark.sparkContext.hadoopConfiguration, paths) match {
      case None => misses.incrementAndGet(); build
      case Some(stamp) =>
        val lru = lrus(spark)
        val mine = new Entry(stamp)
        val (found, stale, eldest) = lru.synchronized {
          val old = Option(lru.get(key))
          if (old.exists(_.stamp == stamp)) (old.get, None, None)
          else {
            lru.put(key, mine)
            (mine, old, if (lru.size <= maxEntries) None
              else Some(lru.remove(lru.keySet.iterator.next())))
          }
        }
        (stale ++ eldest).foreach(_.value.thenAccept(release(_)))
        if (stale.nonEmpty) paths.foreach(spark.catalog.refreshByPath)
        if (found eq mine) {
          misses.incrementAndGet()
          try mine.value.complete(retain(build))
          catch { case t: Throwable =>
            lru.synchronized(lru.remove(key, mine))
            mine.value.completeExceptionally(t)
          }
        } else hits.incrementAndGet()
        try found.value.join()
        catch { case e: CompletionException => throw e.getCause }
    }

  def size(spark: SparkSession): Int = { val m = lrus(spark); m.synchronized(m.size) }
}

private[graft] object SessionMemo {
  /** Each path's (path, length, mtime), a directory's as the sorted
    * listing of its data files (without the `_x` and `.x` names Spark's
    * file index skips); None when a path cannot be stamped. */
  def stamp(conf: Configuration, paths: Seq[String]): Option[Seq[(String, Long, Long)]] =
    try Some(paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      def files(s: FileStatus): Seq[FileStatus] =
        if (!s.isDirectory) Seq(s)
        else fs.listStatus(s.getPath).toSeq.filterNot { c =>
          val n = c.getPath.getName
          (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
        }.flatMap(files)
      files(fs.getFileStatus(p))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
    })
    catch { case _: java.io.IOException | _: IllegalArgumentException => None }
}
