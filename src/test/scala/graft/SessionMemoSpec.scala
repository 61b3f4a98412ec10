package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import graft.raster._

/** The memo's validity rule: an entry lives until its files change. The
  * rewrites set an explicit mtime, so no case depends on the clock's
  * granularity. */
class SessionMemoSpec extends SparkSpec {
  private val Hour = 3600000L
  private val T0 = 1600000000000L

  /** `df` as one parquet file at `dst`, last modified at `mtime`. */
  private def parquetFile(df: DataFrame, dst: Path, mtime: Long): Unit = {
    val out = Files.createTempDirectory("memo_part").resolve("t").toString
    df.coalesce(1).write.parquet(out)
    val files = Files.list(Paths.get(out))
    val part = try files.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get() finally files.close()
    Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
  }

  test("a rewritten table raster is read with its new values in the same session") {
    import spark.implicits._
    // two native tiles across: 256 + 44 columns
    val (w, h, frames) = (300, 4, 2)
    val rows = for (y <- 0 until h; x <- 0 until w; t <- 0 until frames)
      yield ((y.toLong * w + x) * frames + t, t * 100000.0 + y * 1000.0 + x + 1)
    val file = Files.createTempDirectory("memo_tbl").resolve("events.parquet")
    parquetFile(rows.toDF("event_id", "value"), file, T0)
    val table = TableRasterSource(file.toString, "event_id", "value", frames, w, h,
      "false", 0L, Hour)
    def req(b: Bbox, rw: Int, rh: Int) = RasterRequest(b, "EPSG:28992", rw, rh,
      Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(Hour)))
    val reqs = Seq(
      "native frame" -> req(Bbox(0, 0, w, h), w, h),
      "map-only window" -> req(Bbox(260, 0, 300, 4), 40, 4),
      "gather window" -> req(Bbox(250, 1, 262, 3), 12, 2))
    val before = reqs.map { case (_, r) => table.getData(r).get }
    val m0 = FrameCache.missCount.get()
    def cells(r: RasterResult) = r.values.toSeq.map(_.toSeq)
    assert(reqs.map { case (_, r) => cells(table.getData(r).get) } == before.map(cells))
    assert(FrameCache.missCount.get() == m0, "the unchanged table was rebuilt")

    parquetFile(rows.map { case (id, v) => (id, v * 2) }.toDF("event_id", "value"),
      file, T0 + 60000)
    for (((what, r), b) <- reqs.zip(before)) {
      val a = table.getData(r).get
      for (t <- b.values.indices) {
        assert(b.values(t).forall(v => v > 0 && v != b.noDataValue), what)
        assert(a.values(t).toSeq == b.values(t).map(_ * 2).toSeq, s"$what, frame $t")
      }
    }
  }

  test("a rewrite drops the old frame's RDD from the persistent RDDs") {
    import spark.implicits._
    val (w, h) = (10, 6)
    val rows = (0 until w * h).map(i => (i.toLong, i + 1.0))
    val file = Files.createTempDirectory("memo_rdd").resolve("events.parquet")
    parquetFile(rows.toDF("event_id", "value"), file, T0)
    val table = TableRasterSource(file.toString, "event_id", "value", 1, w, h)
    val native = RasterRequest(Bbox(0, 0, w, h), "EPSG:28992", w, h,
      Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(0)))
    def frameRdds = spark.sparkContext.getPersistentRDDs
      .collect { case (id, r) if r.name == table.graphName => id }.toSet
    val before = table.getData(native).get.values.head
    val old = frameRdds
    assert(old.size == 1)
    parquetFile(rows.map { case (id, v) => (id, v * 2) }.toDF("event_id", "value"),
      file, T0 + 60000)
    assert(table.getData(native).get.values.head.toSeq == before.map(_ * 2).toSeq)
    val now = frameRdds
    assert(now.size == 1 && (now & old).isEmpty, s"$old then $now")
  }

  test("eventsGrid picks up a rewritten events row count") {
    val dir = Files.createTempDirectory("memo_grid")
    def events(n: Long) = spark.range(n).selectExpr("id AS event_id", "id * 0.5 AS value")
    parquetFile(events(1000), dir.resolve("events.parquet"), T0)
    assert(QueryLib.eventsGrid(spark, dir.toString).n == 1000)
    parquetFile(events(100), dir.resolve("events.parquet"), T0 + 60000)
    assert(QueryLib.eventsGrid(spark, dir.toString).n == 100)
  }

  test("an entry is released when its file changes or the LRU drops it") {
    val file = Files.createTempFile("memo_key", ".txt")
    Files.setLastModifiedTime(file, FileTime.fromMillis(T0))
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val memo = new SessionMemo[String, Int](2, release = v => released.add(v))
    val paths = Seq(file.toString)
    assert(memo(spark, "k", paths)(1) == 1)
    assert(memo(spark, "k", paths)(2) == 1)
    Files.setLastModifiedTime(file, FileTime.fromMillis(T0 + 60000))
    assert(memo(spark, "k", paths)(3) == 3)
    assert(released.toArray.toSeq == Seq(1))
    memo(spark, "a", paths)(4)
    memo(spark, "b", paths)(5)
    assert(memo.size(spark) == 2 && released.toArray.toSeq == Seq(1, 3))
    // a path that cannot be stamped is never memoized
    val builds = new AtomicInteger
    val missing = Seq(s"$file.missing")
    memo(spark, "m", missing)(builds.incrementAndGet())
    memo(spark, "m", missing)(builds.incrementAndGet())
    assert(builds.get == 2 && memo.size(spark) == 2)
  }

  test("threads missing one key build it once, and the build blocks no other key") {
    val paths = Seq(Files.createTempFile("memo_key", ".txt").toString)
    val memo = new SessionMemo[String, Int](4)
    val (started, finish) = (new CountDownLatch(1), new CountDownLatch(1))
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(() => memo(spark, "a", paths) {
        builds.incrementAndGet(); started.countDown(); finish.await(); 1
      })
      started.await()
      val second = pool.submit(() => memo(spark, "a", paths) { builds.incrementAndGet(); 2 })
      val deadline = System.nanoTime() + 10000000000L
      while (memo.hits.get == 0 && System.nanoTime() < deadline) Thread.sleep(1)
      assert(memo.hits.get == 1 && !second.isDone, "the second lookup did not wait")
      // served while "a" is still building
      assert(memo(spark, "b", paths)(3) == 3)
      finish.countDown()
      assert(first.get == 1 && second.get == 1 && builds.get == 1)
    } finally pool.shutdown()
  }
}
