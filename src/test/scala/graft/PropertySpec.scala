package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster._

/** Exhaustive property tests for dtype promotion and nodata algebra (the
  * SURVEY §5 plan's extension beyond the reference's example-based tests —
  * 11 dtypes make the full cross product cheaper than sampling). */
class PropertySpec extends AnyFunSuite {

  private val ds = DType.all

  test("promotion is commutative and idempotent") {
    // NB deliberately NOT associativity: numpy's promote_types itself is
    // non-associative (e.g. (uint16∘int8)∘float32 = float64 but
    // uint16∘(int8∘float32) = float32) and we reproduce that
    for (a <- ds; b <- ds) assert(DType.promote(a, b) == DType.promote(b, a))
    for (a <- ds) assert(DType.promote(a, a) == a)
    assert(DType.promote(DType.promote(DType.U2, DType.I1), DType.F4) == DType.F8)
    assert(DType.promote(DType.U2, DType.promote(DType.I1, DType.F4)) == DType.F4)
  }

  test("promotion result can represent both operand ranges") {
    for (a <- ds; b <- ds) {
      val r = DType.promote(a, b)
      for (d <- Seq(a, b) if d.kind != 'b') {
        if (d.isFloat) assert(r.isFloat && r.size >= d.size, s"$a+$b=$r vs $d")
        else if (r.isInt) {
          val fits = if (d.kind == r.kind) r.size >= d.size else r.size > d.size
          assert(fits, s"$a + $b = $r cannot hold $d")
        }
      }
    }
  }

  test("inverseTileRange equals the brute-force containment filter on random zoom maps") {
    // deterministic pseudo-random sweep over request/coarse geometries —
    // the shapes the Smooth zoom upsample actually builds
    val rnd = new scala.util.Random(20260812L)
    val TILE = TileLayout.TILE
    for (_ <- 0 until 200) {
      val w = 1 + rnd.nextInt(3000)
      val cw = 0.25 + rnd.nextDouble() * 4
      val bx1 = (rnd.nextDouble() - 0.5) * 1000
      val growth = rnd.nextDouble() * w * cw // grown bbox: same px count
      val gx1 = bx1 - growth
      val ccw = (w * cw + 2 * growth) / w
      def f(ox: Int): Int =
        math.min(w - 1, math.max(0, math.floor((bx1 + (ox + 0.5) * cw - gx1) / ccw).toInt))
      val n = TileLayout.tilesX(w)
      val ranges = Smooth.inverseTileRange(n, w, TILE, f)
      // total pairs linear in the tile count (coarse cells >= output cells)
      val pairs = ranges.map { case (lo, hi) => math.max(0, hi - lo + 1) }.sum
      assert(pairs <= 4 * n, s"w=$w cw=$cw growth=$growth: $pairs pairs for $n tiles")
      // exact agreement with the containment filter for EVERY coarse tile
      for (ct <- 0 until n) {
        val cx0 = ct * TILE; val ctw = math.min(TILE, w - cx0)
        val want = (0 until n).filter { ot =>
          val otw = math.min(TILE, w - ot * TILE)
          f(ot * TILE + otw - 1) >= cx0 && f(ot * TILE) < cx0 + ctw
        }
        val (lo, hi) = ranges(ct)
        assert(want == (lo to hi), s"w=$w ct=$ct: $want vs [$lo,$hi]")
      }
    }
  }

  test("nodata sentinel is the dtype max") {
    for (d <- ds if d != DType.Bool) {
      assert(d.noDataValue > 0)
      if (d.isInt)
        assert(d.noDataValue ==
          math.pow(2, d.size * 8 - (if (d.kind == 'i') 1 else 0)) - 1)
    }
  }

  test("statistic result dtypes follow the reference table") {
    for (d <- ds) {
      assert(DType.statResult(d, "min") == d)
      assert(DType.statResult(d, "max") == d)
      assert(DType.statResult(d, "count") == DType.I4)
      assert(DType.statResult(d, "mean").isFloat)
      val s = DType.statResult(d, "sum")
      // sum widens to ≥int32/float32; uint64 promotes with int32 to float64
      // (numpy result_type semantics, reference utils.py:831-840)
      if (d == DType.U8) assert(s == DType.F8)
      else if (d.isInt) assert(s.isInt && s.size >= 4)
      if (d.isFloat) assert(s.isFloat && s.size >= 4)
    }
  }

  test("operator overloading builds the expected DAG") {
    val s = RasterFixtures.source
    assert((s + 1) == Add(s, 1))
    assert((s * 2 - 1) == Subtract(Multiply(s, 2), 1))
    assert((s > 3) == Greater(s, 3))
    assert(((s > 3) & (s < 5)) == And(Greater(s, 3), Less(s, 5)))
    assert((!(s > 3)) == Invert(Greater(s, 3)))
  }

  test("request guards raise on oversized requests") {
    val req = RasterRequest(Bbox(0, 0, 1, 1), "EPSG:28992", 5000, 5000)
    intercept[IllegalArgumentException] {
      RequestGuards.checkRaster(req, 1)
    }
    intercept[IllegalArgumentException] {
      RequestGuards.collectGeometries(TestSpark.spark.range(20000).toDF())
    }
    RequestGuards.checkRaster(RasterRequest(Bbox(0, 0, 1, 1), "EPSG:28992", 256, 256), 3)
  }
}
