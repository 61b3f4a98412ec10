package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.raster._

/** The >4 GiB BigTIFF write→read property. Isolated in its own suite (and,
  * via build.sbt testGrouping, its own forked JVM): each side of the
  * round-trip allocates one 4.3 GB pixel array, and running that inside the
  * shared Spark test JVM stalls the session's RPC heartbeats under GC
  * pressure. The two arrays are live one at a time (about 4.4 GB peak heap),
  * so the test passes at -Xmx4600m. Pure codec work — no SparkSession
  * involved. */
class BigTiffSoakSpec extends AnyFunSuite {

  /** Writes the side² sentinel raster to `p` as a sparse tiled GeoTIFF.
    * The write-side array lives in this frame only, so it is unreachable
    * once this returns and the reader can allocate its own. Nulling a var
    * in the caller does not do that: for a named-argument call such as the
    * `GeoTiff.write` below, scalac first stores each argument in a hidden
    * local, and that copy keeps the array alive to the end of the frame. */
  private def writeSentinelRaster(p: String, side: Int): Unit = {
    val npx = side * side
    val vals = new Array[Double](npx)
    java.util.Arrays.fill(vals, -1.0)
    // sentinel pixels in scattered tiles, including the very last tile
    // (so its > 4 GiB offset is really written and read back)
    var i = 0
    while (i < npx) { vals(i) = (i % 99991).toDouble; i += 10000019 }
    vals(npx - 1) = 424242.0
    GeoTiff.write(p, vals, side, side, Bbox(0, 0, side, side), 28992, -1.0,
      tileSize = 256, sparse = true)
  }

  test("a >4 GiB raster auto-upgrades to BigTIFF and reads back (sparse tiles)") {
    // 23296^2 float64 = 4.34e9 bytes of dense layout: past the classic
    // 4-byte offset ceiling, so the writer must pick version 43 unforced.
    // Most tiles are all-nodata and written sparse (offset-0 marker +
    // filesystem holes), so the file's APPARENT length exceeds 4 GiB while
    // the real tiles — including ones whose byte positions sit past the
    // 4 GiB line — seek-write in seconds. The reader seeks per tile; no
    // whole-file materialization anywhere.
    val prevGuard = RequestGuards.rasterLimitPixels
    RequestGuards.rasterLimitPixels = 600L * 1000 * 1000
    val dir = Files.createTempDirectory("graft_big4g").toString
    val p = s"$dir/big.tif"
    try {
      val side = 91 * 256 // 23296
      val npx = side * side
      writeSentinelRaster(p, side)
      val fileLen = new java.io.File(p).length()
      assert(fileLen > (1L << 32), s"file is $fileLen bytes, not >4GiB")
      val head = {
        val raf = new java.io.RandomAccessFile(p, "r")
        try { val b = new Array[Byte](4); raf.readFully(b); b } finally raf.close()
      }
      assert(head(2) == 43, "auto-upgrade to BigTIFF did not trigger")
      val t = GeoTiff.read(p)
      assert(t.w == side && t.h == side && t.noData == -1.0)
      var bad = 0L; var set = 0L
      var k = 0
      while (k < npx - 1) {
        val expect = if (k % 10000019 == 0) (k % 99991).toDouble else -1.0
        if (t.values(k) != expect) bad += 1
        if (t.values(k) != -1.0) set += 1
        k += 1
      }
      assert(bad == 0, s"$bad mismatching pixels")
      assert(set > 0, "sentinel pixels missing")
      assert(t.values(npx - 1) == 424242.0, "last tile (past 4 GiB) lost")
    } finally {
      RequestGuards.rasterLimitPixels = prevGuard
      new java.io.File(p).delete()
      new java.io.File(dir).delete()
    }
  }
}
