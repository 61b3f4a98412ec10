package graft

import java.nio.file.Files
import java.time.Instant
import graft.raster._

/** Cross-CRS and off-grid requests against the distributed table source:
  * the shared WarpStage must reproduce the `MemorySource` NN warp kernel
  * (reference raster/sources.py:119-145 warps any source). */
class WarpSpec extends SparkSpec {

  private val (gw, gh, frames) = (10, 6, 2)
  private val T0 = 0L
  private val Hour = 3600000L

  // deterministic content, nodata at one cell per frame
  private def value(t: Int, y: Int, x: Int): Double = t * 100.0 + y * 10.0 + x

  private lazy val tableDir: String = {
    val dir = Files.createTempDirectory("graft_warp_tbl").toString
    import spark.implicits._
    val rows = for (y <- 0 until gh; x <- 0 until gw; t <- 0 until frames) yield {
      val id = (y.toLong * gw + x) * frames + t
      (id, value(t, y, x), if (x == 3 && y == 2) "error" else "ok")
    }
    rows.toDF("event_id", "value", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    s"$dir/events.parquet"
  }

  private lazy val table = TableRasterSource(tableDir, "event_id", "value",
    frames, gw, gh, "event_type = 'error'", T0, Hour)

  private lazy val memory = MemorySource(
    data = (0 until frames).map(t =>
      Array.tabulate(gw * gh)(i => value(t, i / gw, i % gw))),
    gridW = gw, gridH = gh,
    noDataIn = value(0, 2, 3), // not used: mask via data below
    projection = "EPSG:28992", pixelSize = 1.0,
    originX = 0.0, originY = gh.toDouble,
    timeFirstMs = T0, frameDeltaMs = Some(Hour), dtypeName = "float64")

  // MemorySource golden with the same nodata cell masked per frame
  private lazy val golden = {
    val masked = (0 until frames).map { t =>
      val a = Array.tabulate(gw * gh)(i => value(t, i / gw, i % gw))
      a(2 * gw + 3) = -1.0
      a
    }
    memory.copy(data = masked, noDataIn = -1.0)
  }

  private def compare(req: RasterRequest): Unit = {
    val got = table.getData(req).get
    val want = golden.getData(req).get
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
    FrameCache.clear()
    // off-grid window → warp path; two single-frame requests over the SAME
    // spatial window must share one full-period warp build (window
    // containment in time): the second is a pure cache hit, no new gather
    val base = RasterRequest(Bbox(2, 1, 7, 4), "EPSG:28992", 10, 6,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0)))
    compare(base)
    val (h0, m0) = (FrameCache.hitCount.get(), FrameCache.missCount.get())
    compare(base.copy(start = Some(Instant.ofEpochMilli(T0 + Hour)),
      stop = Some(Instant.ofEpochMilli(T0 + Hour))))
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

  /** `b` over `req`, and the FrameCache misses the request added. */
  private def served(b: RasterBlock, req: RasterRequest): (RasterResult, Long) = {
    val m0 = FrameCache.missCount.get()
    val res = b.getData(req).get
    (res, FrameCache.missCount.get() - m0)
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

  test("a new window gathers from the cached native frame: one miss, a crop of the grid") {
    FrameCache.clear()
    def req(b: Bbox, w: Int, h: Int) = RasterRequest(b, "EPSG:28992", w, h,
      Some(Instant.ofEpochMilli(T0)), Some(Instant.ofEpochMilli(T0 + Hour)))
    val (full, mFull) = served(table, req(Bbox(0, 0, gw, gh), gw, gh))
    assert(mFull == 1, "the native frame is one entry")
    // a window hanging off the top-right grid corner: nodata outside
    val h0 = FrameCache.hitCount.get()
    val (off, mOff) = served(table, req(Bbox(7, 3, 13, 9), 6, 6))
    assert(mOff == 1, "only the window itself may miss")
    assert(FrameCache.hitCount.get() > h0, "the native frame must be a hit")
    assertCrop(off, full, gh - 9, 7)
    // a point on the corner of four cells takes the cell below-right of it
    // (floor of its native pixel coordinates, as MemorySource)
    val (pt, mPt) = served(table, req(Bbox(4, 2, 4, 2), 1, 1))
    assert(mPt == 1)
    assertCrop(pt, full, gh - 2, 4)
    // a HillShade window at the bottom-left grid corner: its halo hangs
    // off the grid, as that of the full-grid render does
    val shade = HillShade(table)
    val (shadeFull, _) = served(shade, req(Bbox(0, 0, gw, gh), gw, gh))
    val (corner, mCorner) = served(shade, req(Bbox(0, 0, 4, 3), 4, 3))
    assert(mCorner == 1)
    assertCrop(corner, shadeFull, gh - 3, 0)
  }
}
