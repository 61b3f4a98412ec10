package graft

import java.time.Instant
import graft.raster._
import graft.geometry._
import RasterFixtures._

/** The reference's request-size guards (config.py:4-12), enforced at the
  * driver-side materialization APIs (the distributed plans are unguarded by
  * design — Spark spills natively). */
class GuardSpec extends SparkSpec {

  test("raster getData refuses requests beyond the pixel/timestep limits") {
    val prevPx = RequestGuards.rasterLimitPixels
    val prevTs = RequestGuards.rasterLimitTimesteps
    try {
      RequestGuards.rasterLimitPixels = 10
      val big = valsRequest.copy(width = 4, height = 6) // 24 px > 10
      intercept[IllegalArgumentException](source.getData(big))
      RequestGuards.rasterLimitPixels = prevPx
      RequestGuards.rasterLimitTimesteps = 2
      intercept[IllegalArgumentException](source.getData(valsRequest)) // 3 frames
    } finally {
      RequestGuards.rasterLimitPixels = prevPx
      RequestGuards.rasterLimitTimesteps = prevTs
    }
    assert(source.getData(valsRequest).isDefined) // restored limits pass
  }

  test("geometry getFeatures enforces the global limit; request limit truncates") {
    val feats = TableGeometrySource("/root/testdata/sf0.001/customer.parquet",
      "c_custkey", Seq("c_acctbal"))
    val prev = RequestGuards.geometryLimit
    try {
      RequestGuards.geometryLimit = 5
      val e = intercept[RuntimeException](feats.getFeatures(GeometryRequest()))
      assert(e.getMessage.contains("maximum of 5"))
      // an explicit request limit bypasses the global guard (sources.py:148-151)
      assert(feats.getFeatures(GeometryRequest(limit = Some(3))).size == 3)
    } finally RequestGuards.geometryLimit = prev
  }

  test("a single-file sink tile past the geometry limit raises before writing") {
    val pts = SeqGeometrySource((1 to 8).map(i =>
      (i.toLong, s"POINT ($i 0)", i.toDouble, s"p$i")))
    val dir = java.nio.file.Files.createTempDirectory("guard_tile").toString
    val prev = RequestGuards.geometryLimit
    try {
      RequestGuards.geometryLimit = 5
      val e = intercept[IllegalArgumentException](
        GeometryFileSink(pts, dir, "fgb").write(GeometryRequest()))
      assert(e.getMessage.contains("maximum of 5"))
      assert(new java.io.File(dir).listFiles.isEmpty) // no tile file
      // an explicit request limit bounds the tile instead of the guard
      val out = GeometryFileSink(pts, dir, "fgb").write(GeometryRequest(limit = Some(3)))
      assert(GeometryFileSource(out).frame(GeometryRequest()).count() == 3)
    } finally RequestGuards.geometryLimit = prev
  }
}
