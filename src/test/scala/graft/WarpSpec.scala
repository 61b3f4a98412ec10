package graft

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.SparkSession
import graft.raster._

/** Cross-CRS and off-grid requests against the distributed table source:
  * the shared WarpStage must reproduce the `MemorySource` NN warp kernel
  * (reference raster/sources.py:119-145 warps any source). */
class WarpSpec extends SparkSpec {

  private val (gw, gh, frames) = (10, 6, 2)
  private val T0 = 0L
  private val Hour = 3600000L

  // deterministic content, nodata at one cell per frame
  private def value(t: Int, y: Int, x: Int): Double = t * 100000.0 + y * 1000.0 + x

  /** A `w`×`h` table raster with cell (2, 3) nodata in every frame, and the
    * `MemorySource` golden of the same grid, that cell masked. */
  private final class Fixture(val table: TableRasterSource, val golden: MemorySource)

  private def fixture(w: Int, h: Int): Fixture = {
    val dir = Files.createTempDirectory("graft_warp_tbl").toString
    import spark.implicits._
    val rows = for (y <- 0 until h; x <- 0 until w; t <- 0 until frames) yield {
      val id = (y.toLong * w + x) * frames + t
      (id, value(t, y, x), if (x == 3 && y == 2) "error" else "ok")
    }
    rows.toDF("event_id", "value", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val table = TableRasterSource(s"$dir/events.parquet", "event_id", "value",
      frames, w, h, "event_type = 'error'", T0, Hour)
    val masked = (0 until frames).map { t =>
      val a = Array.tabulate(w * h)(i => value(t, i / w, i % w))
      a(2 * w + 3) = -1.0
      a
    }
    val golden = MemorySource(
      data = masked, gridW = w, gridH = h, noDataIn = -1.0,
      projection = "EPSG:28992", pixelSize = 1.0,
      originX = 0.0, originY = h.toDouble,
      timeFirstMs = T0, frameDeltaMs = Some(Hour), dtypeName = "float64")
    new Fixture(table, golden)
  }

  private lazy val small = fixture(gw, gh)
  private lazy val table = small.table
  // two native tiles across: 256 + 44 columns
  private lazy val wide = fixture(300, 4)

  private def compare(req: RasterRequest, f: Fixture = small)(
      implicit spark: SparkSession): Unit = {
    val got = f.table.getData(req).get
    val want = f.golden.getData(req).get
    assert(got.times == want.times)
    got.values.zip(want.values).zipWithIndex.foreach { case ((g, w), t) =>
      val gn = g.map(v => if (v == got.noDataValue) Double.NaN else v)
      val wn = w.map(v => if (v == want.noDataValue) Double.NaN else v)
      assert(gn.zip(wn).forall { case (a, b) =>
        (a.isNaN && b.isNaN) || a == b
      }, s"frame $t: ${gn.toSeq} vs ${wn.toSeq}")
    }
  }

  test("native identity request still takes the direct path") {
    compare(RasterRequest(Bbox(0, 0, gw, gh), "EPSG:28992", gw, gh,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour))))
  }

  test("same-CRS upsample routes through the warp stage") {
    // 2x upsample of the (2,1)-(7,4) window: 10x6 output at 0.5 cells
    compare(RasterRequest(Bbox(2, 1, 7, 4), "EPSG:28992", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour))))
  }

  test("same-CRS off-grid window routes through the warp stage") {
    compare(RasterRequest(Bbox(0.5, 0.25, 8.5, 4.25), "EPSG:28992", 8, 4,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour))))
  }

  test("requests extending beyond the source extent densify with nodata") {
    // window partly off-grid on every side: outside cells are nodata, the
    // tile count still matches the frame contract
    val req = RasterRequest(Bbox(-3.5, -2.5, gw + 3.5, gh + 2.5), "EPSG:28992",
      2 * (gw + 7), 2 * (gh + 5),
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
    // entirely off-extent: all-nodata frames, not an empty result
    val off = RasterRequest(Bbox(-30, -30, -20, -20), "EPSG:28992", 10, 10,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0)))
    val res = table.getData(off).get
    assert(res.values.forall(_.forall(_ == table.noDataValue)))
  }

  test("EPSG:3857 request over a table raster matches the MemorySource warp") {
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:3857", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:3857", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:3857", 20, 12,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("EPSG:4326 request over a table raster matches the MemorySource warp") {
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:4326", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:4326", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:4326", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("UTM (EPSG:32631) request over a table raster matches the MemorySource warp") {
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:32631", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:32631", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:32631", 20, 12,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("southern-hemisphere UTM (EPSG:32731) request matches the MemorySource warp") {
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:32731", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:32731", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:32731", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("Lambert-93 (EPSG:2154) request matches the MemorySource warp") {
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:2154", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:2154", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:2154", 20, 12,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("British National Grid (EPSG:27700) request matches the MemorySource warp") {
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:27700", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:27700", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:27700", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("polar stereographic (EPSG:3413) request matches the MemorySource warp") {
    // the source raster sits in the Netherlands — inside 3413's northern
    // hemisphere domain (the Antarctic 3031 cannot express it)
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:3413", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:3413", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:3413", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("Albers (EPSG:5070) request matches the MemorySource warp") {
    // 5070 is defined for CONUS but the cone extends over Europe; the
    // transform chain is exercised regardless of the designed-for extent
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:5070", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:5070", gw, gh)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:5070", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    compare(req)
  }

  test("overlapping warped time sub-ranges reuse one cached gather") {
    implicit val spark: SparkSession = coldSession()
    // a window across the two native tiles of the wide grid → the gather;
    // two single-frame requests over the SAME spatial window must share
    // one full-period gather (window containment in time): the second is a
    // pure cache hit, no new gather
    val base = RasterRequest(Bbox(250, 1, 262, 3), "EPSG:28992", 12, 2,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0)))
    compare(base, wide)
    val (h0, m0) = (FrameCache.hitCount.get(), FrameCache.missCount.get())
    compare(base.copy(start = Some(Instant.ofEpochMilli(T0 + Hour)),
      stop = Some(Instant.ofEpochMilli(T0 + Hour))), wide)
    assert(FrameCache.missCount.get() == m0, "second sub-range rebuilt the warp gather")
    assert(FrameCache.hitCount.get() > h0)
    // native-path sub-ranges share the same containment behavior
    val nat = RasterRequest(Bbox(0, 0, gw, gh), "EPSG:28992", gw, gh,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0)))
    compare(nat)
    val m1 = FrameCache.missCount.get()
    compare(nat.copy(start = Some(Instant.ofEpochMilli(T0 + Hour)),
      stop = Some(Instant.ofEpochMilli(T0 + Hour))))
    assert(FrameCache.missCount.get() == m1, "second native sub-range rebuilt the reshape")
  }

  /** A new session of the shared context: its FrameCache is empty. */
  private def coldSession(): SparkSession = TestSpark.spark.newSession()

  /** `b` over `req`, the FrameCache misses the request added, the Spark
    * jobs it started and the shuffle bytes they wrote. */
  private def served(b: RasterBlock, req: RasterRequest)(
      implicit spark: SparkSession): (RasterResult, Long, Int, Long) = {
    val m0 = FrameCache.missCount.get()
    val (res, jobs, shuffle) = sparkWork(b.getData(req).get)
    (res, FrameCache.missCount.get() - m0, jobs, shuffle)
  }

  /** Each frame of `got` equals the `got.width`×`got.height` window of
    * `full` whose top-left pixel is (row0, col0), nodata off the grid. */
  private def assertCrop(got: RasterResult, full: RasterResult, row0: Int, col0: Int): Unit = {
    assert(got.times == full.times)
    def norm(v: Double, nd: Double) = if (v == nd) Double.NaN else v
    for (t <- full.times.indices; i <- 0 until got.height; j <- 0 until got.width) {
      val (r, c) = (row0 + i, col0 + j)
      val want =
        if (r < 0 || r >= full.height || c < 0 || c >= full.width) Double.NaN
        else norm(full.values(t)(r * full.width + c), full.noDataValue)
      val v = norm(got.values(t)(i * got.width + j), got.noDataValue)
      assert(v.equals(want), s"frame $t pixel ($i, $j): $v vs $want")
    }
  }

  private def req(b: Bbox, w: Int, h: Int) = RasterRequest(b, "EPSG:28992", w, h,
    Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))

  test("a window inside one native tile is one narrow job over the cached native frame") {
    implicit val spark: SparkSession = coldSession()
    val (full, mFull, _, _) = served(table, req(Bbox(0, 0, gw, gh), gw, gh))
    assert(mFull == 1, "the native frame is one entry")
    // a window hanging off the top-right grid corner: nodata outside
    val h0 = FrameCache.hitCount.get()
    val (off, mOff, jOff, sOff) = served(table, req(Bbox(7, 3, 13, 9), 6, 6))
    assert(mOff == 0, "a map-only window gets no cache entry")
    assert(FrameCache.hitCount.get() > h0, "the native frame must be a hit")
    assert(jOff == 1 && sOff == 0, s"$jOff jobs, $sOff shuffle bytes")
    assertCrop(off, full, gh - 9, 7)
    // a point on the corner of four cells takes the cell below-right of it
    // (floor of its native pixel coordinates, as MemorySource)
    val (pt, mPt, jPt, sPt) = served(table, req(Bbox(4, 2, 4, 2), 1, 1))
    assert(mPt == 0 && jPt == 1 && sPt == 0, s"$mPt misses, $jPt jobs, $sPt shuffle bytes")
    assertCrop(pt, full, gh - 2, 4)
    // a HillShade window at the bottom-left grid corner: its halo hangs
    // off the grid, as that of the full-grid render does; the expanded
    // request fits one tile, so the stencil adds no exchange either
    val shade = HillShade(table)
    val (shadeFull, _, _, _) = served(shade, req(Bbox(0, 0, gw, gh), gw, gh))
    val (corner, mCorner, jCorner, sCorner) = served(shade, req(Bbox(0, 0, 4, 3), 4, 3))
    assert(mCorner == 0 && jCorner == 1 && sCorner == 0,
      s"$mCorner misses, $jCorner jobs, $sCorner shuffle bytes")
    assertCrop(corner, shadeFull, gh - 3, 0)
  }

  test("a window across native tiles takes the cached gather and matches MemorySource") {
    implicit val spark: SparkSession = coldSession()
    val (_, mNat, _, _) = served(wide.table, req(Bbox(0, 0, 300, 4), 300, 4))
    assert(mNat == 1, "the native frame is one entry")
    // straddles x = 256: its one output tile samples both native tiles
    val across = req(Bbox(250, 1, 262, 3), 12, 2)
    val (_, mAcross, _, sAcross) = served(wide.table, across)
    assert(mAcross == 1, "the gather is one entry")
    assert(sAcross > 0, "the gather shuffles")
    compare(across, wide)
    // inside the 44-column second native tile: map-only again
    val right = req(Bbox(260, 0, 300, 4), 40, 4)
    val (_, mRight, jRight, sRight) = served(wide.table, right)
    assert(mRight == 0 && jRight == 1 && sRight == 0,
      s"$mRight misses, $jRight jobs, $sRight shuffle bytes")
    compare(right, wide)
    // the single-tile stencil over the gathered window is a crop of the
    // full-grid render, whose expanded request takes the halo exchange
    val shade = HillShade(wide.table)
    val (shadeFull, _, _, _) = served(shade, req(Bbox(0, 0, 300, 4), 300, 4))
    val (shadeAcross, _, _, _) = served(shade, across)
    assertCrop(shadeAcross, shadeFull, 1, 250)
  }

  test("a map tile plans against one leaf: the cached native frame's named RDD") {
    import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    implicit val spark: SparkSession = coldSession()
    served(table, req(Bbox(0, 0, gw, gh), gw, gh))
    val tile = req(Bbox(7, 3, 13, 9), 6, 6)
    val df = table.frame(tile)
    val analyzed = df.queryExecution.analyzed
    assert(analyzed.collectLeaves().map(_.getClass) == Seq(classOf[LogicalRDD]), analyzed)
    assert(analyzed.collect {
      case r: LogicalRelation => r; case r: InMemoryRelation => r }.isEmpty, analyzed)
    df.collect()
    val executed = df.queryExecution.executedPlan
    assert(executed.collect {
      case p: AdaptiveSparkPlanExec => p; case p: InMemoryTableScanExec => p }.isEmpty, executed)
    assert(executed.collectLeaves().collect { case s: RDDScanExec => s.rdd.name } ==
      Seq(table.graphName), executed)
    val (_, misses, jobs, shuffle) = served(table, tile)
    assert(misses == 0 && jobs == 1 && shuffle == 0,
      s"$misses misses, $jobs jobs, $shuffle shuffle bytes")
    // a native frame, a gather and map-only tiles: none of them is a plan
    // in Spark's cache
    served(wide.table, req(Bbox(0, 0, 300, 4), 300, 4))
    served(wide.table, req(Bbox(250, 1, 262, 3), 12, 2))
    served(wide.table, req(Bbox(260, 0, 300, 4), 40, 4))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a frame whose RDD was unpersisted behind the memo's back recomputes " +
      "from its lineage") {
    implicit val spark: SparkSession = coldSession()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val full = req(Bbox(0, 0, gw, gh), gw, gh)
    compare(full)
    val mine = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values
    assert(mine.map(_.name).toSeq == Seq(table.graphName))
    mine.foreach(_.unpersist(blocking = true))
    val m0 = FrameCache.missCount.get()
    compare(req(Bbox(7, 3, 13, 9), 6, 6))
    compare(full)
    assert(FrameCache.missCount.get() == m0, "the memo still holds the frame")
  }
}
