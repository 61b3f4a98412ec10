package graft

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.contract.Lane

/** The lane runner `Bench`, `Verify` and `tools.Prof` share: one lane
  * selection, one timed action, one per-lane heap peak and one untimed
  * warmup. */
object Lanes {
  /** The lanes a driver runs, in registry order: those in the
    * comma-separated `names` when given, else those whose name the regex
    * `filter` finds, else all. A name that is not a lane, or a selection
    * with no lane, fails naming the input. */
  def select(names: Option[String] = None, filter: Option[String] = None)
      : Seq[Lane] = {
    val lanes = names match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"not a lane: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.lanes.filter(l => want(l.name))
      case None =>
        val re = filter.map(_.r)
        SparkEntry.lanes.filter(l => re.forall(_.findFirstIn(l.name).isDefined))
    }
    require(lanes.nonEmpty, s"no lane selected by ${names.orElse(filter).getOrElse("")}")
    lanes
  }

  /** Runs lane `name` to completion. A `noop` write computes every column
    * of the result, as `Verify`'s parquet write does; `.count()` would let
    * Catalyst prune ScalaUDFs and whole joins on 30 of the 179 lanes. */
  def run(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  /** Times `reps` executions of `body` in seconds. The FIRST throw ends
    * the lane and comes back as an error marker (class + truncated,
    * JSON-safe message), so a failure's fast path never reads as a
    * timing; the reps completed before it are still returned. */
  def time(reps: Int)(body: => Unit): (Seq[Double], Option[String]) = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    var err: Option[String] = None
    var i = 0
    while (i < reps && err.isEmpty) {
      val t0 = System.nanoTime()
      try { body; ts += (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        err = Some(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(120)
            .replaceAll("[\"\\\\\n\r]", " "))
      }
      i += 1
    }
    (ts.toSeq, err)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  /** `body`'s result and the heap high-water mark in MB while it ran: the
    * pool peaks are reset first, so each lane gets its own peak. */
  def withHeapPeak[T](body: => T): (T, Long) = {
    heapPools.foreach(_.resetPeakUsage())
    val r = body
    (r, heapPools.map(_.getPeakUsage.getUsed).sum >> 20)
  }

  /** Untimed warmup: JIT/codegen priming plus the shared source-frame
    * cache (the TableRasterSource reshape is paid once per session and
    * reused by every raster lane). Big grids raise the raster-limit guard
    * the way a user with executor headroom would; up to sf0.1 the raise
    * is a no-op. A failure propagates: lanes after a failed warmup would
    * run against a cold cache. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    SparkEntry.entry(spark, sfDir).count()
    val g = QueryLib.eventsGrid(spark, sfDir)
    raster.RequestGuards.rasterLimitPixels = math.max(
      raster.RequestGuards.rasterLimitPixels, 2L * g.w * g.h)
    QueryLib.eventsRaster(sfDir, g).frame(QueryLib.fullReq(g))(spark).count()
  }
}
