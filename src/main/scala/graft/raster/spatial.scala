package graft.raster

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Focal (stencil) raster blocks, after `dask_geomodeling/raster/spatial.py`.
  *
  * The reference grows each request by a margin and crops it after the
  * kernel (expand_request_pixels/meters, spatial.py:27-108). In the tiled
  * Spark engine this becomes a *halo exchange*: the child is evaluated on
  * the expanded grid, every expanded tile is shipped to each output tile
  * whose padded patch overlaps it (≤9 targets for margins ≤ tile size), and
  * a per-tile Scala kernel runs on the assembled patch — one shuffle keyed
  * by output tile, no driver involvement. When the expanded request fits
  * one tile (a map tile plus its margin), that tile holds the whole patch
  * of the one output tile: the same patch assembly and kernel map it
  * through with no exchange, as the reference grows, filters and crops in
  * one process.
  */
trait SpatialStencil extends BaseSingleRaster {

  /** Request-expansion margin in pixels (mx, my): how far beyond the
    * request window real source data is fetched (the reference's
    * expand_request_pixels amount). */
  protected def marginPx(req: RasterRequest): (Int, Int)

  /** Patch halo in pixels (hx, hy) ≥ marginPx: how far each output tile's
    * patch reaches into neighbouring tiles. Defaults to the margin; a
    * kernel whose support exceeds the margin (Smooth's Gaussian radius
    * int(4σ+0.5) > round(size/cell)) must override it so interior tile
    * seams see real neighbour data out to the full kernel radius — beyond
    * the expanded grid the patch stays nodata→fill, preserving the
    * reference's constant-padding behaviour at the request edge. */
  protected def haloPx(req: RasterRequest): (Int, Int) = marginPx(req)

  /** Kernel over the padded patch ((ow+2hx) × (oh+2hy), row-major);
    * returns the cropped ow×oh output window. */
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double]

  protected final def crop(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int)
      : Array[Double] = {
    val pw = ow + 2 * mx
    val out = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      System.arraycopy(patch, (y + my) * pw + mx, out, y * ow, ow)
      y += 1
    }
    out
  }

  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val (mx, my) = marginPx(req)
    // halo clamped to [margin, TILE]: a kernel radius beyond one tile
    // degrades to the margin-limited reach (exactly the pre-halo
    // behaviour) instead of rejecting a request the margin guard accepts
    val (hx0, hy0) = haloPx(req)
    val hx = math.min(math.max(hx0, mx), TileLayout.TILE)
    val hy = math.min(math.max(hy0, my), TileLayout.TILE)
    // point / degenerate requests are not expandable: pass through
    if ((mx == 0 && my == 0) || req.bbox.isPoint) return store.frame(req)
    require(mx <= TileLayout.TILE && my <= TileLayout.TILE,
      s"stencil margin ($mx, $my) exceeds the tile size")
    val ereq = RasterRequest(
      Bbox(req.bbox.x1 - mx * req.cellW, req.bbox.y1 - my * req.cellH,
        req.bbox.x2 + mx * req.cellW, req.bbox.y2 + my * req.cellH),
      req.projection, req.width + 2 * mx, req.height + 2 * my, req.start, req.stop)

    import spark.implicits._
    val TILE = TileLayout.TILE
    val (ow, oh) = (req.width, req.height)
    val (ew, eh) = (ereq.width, ereq.height)
    val nd = store.noDataValue
    val nOtx = TileLayout.tilesX(ow)
    val nOty = TileLayout.tilesY(oh)
    val self = this
    val r = req

    // output tile (oty, otx) of frame t from the expanded tiles (sty, stx,
    // values) its padded patch overlaps; patch (0,0) sits at expanded pixel
    // (otx*TILE + mx - hx, oty*TILE + my - hy), nodata off the expanded grid
    def outTile(t: Long, oty: Int, otx: Int,
        tiles: Iterator[(Int, Int, Array[Double])]): TileRow = {
      val otw = math.min(TILE, ow - otx * TILE)
      val oth = math.min(TILE, oh - oty * TILE)
      val pw = otw + 2 * hx; val ph = oth + 2 * hy
      val patch = Array.fill(pw * ph)(nd)
      val px0 = otx * TILE + mx - hx; val py0 = oty * TILE + my - hy
      tiles.foreach { case (sty, stx, vals) =>
        val ex0 = stx * TILE; val ey0 = sty * TILE
        val etw = math.min(TILE, ew - ex0); val eth = math.min(TILE, eh - ey0)
        val x0 = math.max(ex0, px0); val x1 = math.min(ex0 + etw, px0 + pw)
        val y0 = math.max(ey0, py0); val y1 = math.min(ey0 + eth, py0 + ph)
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            patch((y - py0) * pw + (x - px0)) = vals((y - ey0) * etw + (x - ex0))
            x += 1
          }
          y += 1
        }
      }
      TileRow(t, oty, otx, self.kernel(patch, otw, oth, hx, hy, nd, r))
    }

    val expanded = store.frame(ereq).as[TileRow]
    // the expanded request fits one tile: that tile holds the whole patch
    // of the one output tile, so each frame maps through with no exchange
    if (ew <= TILE && eh <= TILE)
      return expanded.map(row => outTile(row.t, 0, 0, Iterator((row.ty, row.tx, row.values))))
        .toDF("t", "ty", "tx", "values")

    // expanded tile (sty, stx) → all output tiles whose padded patch
    // [otx*TILE + mx - hx, otx*TILE + mx + otw + hx) × [...] overlaps it
    // (expanded-grid coordinates; patch pixel 0 = output pixel -hx)
    val pairs = expanded.flatMap { row =>
      val ex0 = row.tx * TILE; val ey0 = row.ty * TILE
      val etw = math.min(TILE, ew - ex0); val eth = math.min(TILE, eh - ey0)
      for {
        oty <- math.max(0, (ey0 - my - hy) / TILE - 1) to
          math.min(nOty - 1, (ey0 + eth - 1 + hy - my) / TILE + 1)
        otx <- math.max(0, (ex0 - mx - hx) / TILE - 1) to
          math.min(nOtx - 1, (ex0 + etw - 1 + hx - mx) / TILE + 1)
        otw = math.min(TILE, ow - otx * TILE)
        oth = math.min(TILE, oh - oty * TILE)
        if otx * TILE + mx - hx < ex0 + etw &&
          otx * TILE + mx + otw + hx > ex0 &&
          oty * TILE + my - hy < ey0 + eth &&
          oty * TILE + my + oth + hy > ey0
      } yield (row.t, oty, otx, row.ty, row.tx, row.values)
    }
    pairs
      .groupByKey { case (t, oty, otx, _, _, _) => (t, oty, otx) }
      .mapGroups { (key: (Long, Int, Int), it: Iterator[(Long, Int, Int, Int, Int, Array[Double])]) =>
        val (t, oty, otx) = key
        outTile(t, oty, otx, it.map { case (_, _, _, sty, stx, vals) => (sty, stx, vals) })
      }
      .toDF("t", "ty", "tx", "values")
  }
}

/** Binary dilation (3×3 incl. diagonals) of cells whose value is in
  * `values`, applied in list order (spatial.py:111-155). */
case class Dilate(store: RasterBlock, values: Seq[Double]) extends SpatialStencil {
  protected def marginPx(req: RasterRequest): (Int, Int) = (1, 1)
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx; val ph = oh + 2 * my
    val dilated = patch.clone()
    values.foreach { value =>
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          if (patch(y * pw + x) == value) {
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val nx = x + dx; val ny = y + dy
                if (nx >= 0 && nx < pw && ny >= 0 && ny < ph)
                  dilated(ny * pw + nx) = value
                dx += 1
              }
              dy += 1
            }
          }
          x += 1
        }
        y += 1
      }
    }
    crop(dilated, ow, oh, mx, my)
  }
}

/** Max filter with a circular footprint of odd diameter `size`
  * (spatial.py:158-213; footprint utils.py:536-547). */
case class MovingMax(store: RasterBlock, sizeRaw: Int) extends SpatialStencil {
  val size: Int = 2 * Math.round((sizeRaw - 1) / 2.0).toInt + 1
  require(size >= 3, "The size should be odd and larger than 1")
  private val radius = size / 2
  /** circle offsets: (x² + y²) < (size/2)² */
  private val offsets: Array[(Int, Int)] = {
    val r2 = (size / 2.0) * (size / 2.0)
    (for { dy <- -radius to radius; dx <- -radius to radius
           if dx * dx + dy * dy < r2 } yield (dx, dy)).toArray
  }
  protected def marginPx(req: RasterRequest): (Int, Int) = (radius, radius)
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx
    val out = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val cx = x + mx; val cy = y + my
        var best = Double.NegativeInfinity
        offsets.foreach { case (dx, dy) =>
          val v = patch((cy + dy) * pw + (cx + dx))
          if (v != nd && v > best) best = v
        }
        out(y * ow + x) =
          if (best == Double.NegativeInfinity) nd else best
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Gaussian blur with sigma = size/3 (size in projection meters); nodata is
  * replaced by `fill` before filtering (spatial.py:216-307).
  *
  * Reproduces the reference's cost-based mode switch (spatial.py:256-267):
  * margins ≤ MARGIN_THRESHOLD px run the exact separable kernel through the
  * tile-halo machinery; larger margins switch to "zoom" mode — the child is
  * evaluated over the grown bbox at the *request's* pixel count (coarser
  * cells), smoothed with the rescaled sigma, and nearest-upsampled back to
  * the request grid (the affine order-0 step). Zoom mode is also what keeps
  * huge smoothing radii within the tile-size halo bound.
  */
case class Smooth(store: RasterBlock, size: Double, fill: Double = 0) extends SpatialStencil {
  val MarginThreshold = 6

  protected def marginPx(req: RasterRequest): (Int, Int) = {
    val mx = math.round(size / req.cellW).toInt
    val my = math.round(size / req.cellH).toInt
    (math.max(mx, 1), math.max(my, 1))
  }

  /** The Gaussian support radius [[Smooth.gaussRadius]] exceeds the
    * request margin round(3σ) — the patch halo must cover the full radius
    * or interior tile seams would leak `fill` into the outermost taps. The
    * request expansion itself stays at the reference's margin. */
  override protected def haloPx(req: RasterRequest): (Int, Int) = {
    val (mx, my) = marginPx(req)
    (math.max(mx, Smooth.gaussRadius((size / req.cellW) / 3.0)),
      math.max(my, Smooth.gaussRadius((size / req.cellH) / 3.0)))
  }

  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val (mx, my) = marginPx(req)
    if ((mx <= MarginThreshold && my <= MarginThreshold) || req.bbox.isPoint)
      return super.frame(req)
    // ---- zoom mode: coarse evaluation + nearest upsample ----
    val g = req.bbox.buffer(size) // grown in meters on all sides
    val creq = RasterRequest(g, req.projection, req.width, req.height,
      req.start, req.stop)
    // sigma in coarse pixels — margins shrink with the coarser cells
    val coarseFrame = zoomKernelFrame(creq)
    // upsample: each output pixel takes the coarse pixel containing its
    // world center (affine order-0)
    import spark.implicits._
    val TILE = TileLayout.TILE
    val (w, h) = (req.width, req.height)
    val nd = noDataValue
    val nOtx = TileLayout.tilesX(w)
    val nOty = TileLayout.tilesY(h)
    val (bx1, by2, cw, ch) = (req.bbox.x1, req.bbox.y2, req.cellW, req.cellH)
    val (gx1, gy2) = (g.x1, g.y2)
    val (ccw, cch) = (creq.cellW, creq.cellH)
    // world x of output px ox → coarse px: floor((bx1 + (ox+.5)cw - gx1)/ccw)
    def coarseX(ox: Int): Int =
      math.min(w - 1, math.max(0, math.floor((bx1 + (ox + 0.5) * cw - gx1) / ccw).toInt))
    def coarseY(oy: Int): Int =
      math.min(h - 1, math.max(0, math.floor((gy2 - (by2 - (oy + 0.5) * ch)) / cch).toInt))
    // Invert the (monotone) output→coarse pixel maps once per frame: for
    // each coarse tile index, the contiguous output-tile range it feeds.
    // Enumeration is O(outputTiles) total — each output tile reads a bounded
    // coarse span (coarse cells are never finer than output cells), so the
    // per-coarse-tile ranges sum to ≤ ~4× the tile count, not
    // O(coarseTiles × outputTiles) as a full double loop would be.
    val xRange = Smooth.inverseTileRange(nOtx, w, TILE, coarseX)
    val yRange = Smooth.inverseTileRange(nOty, h, TILE, coarseY)
    val pairs = coarseFrame.as[TileRow].flatMap { row =>
      val (otxLo, otxHi) = xRange(row.tx)
      val (otyLo, otyHi) = yRange(row.ty)
      for {
        oty <- otyLo to otyHi
        otx <- otxLo to otxHi
      } yield (row.t, oty, otx, row.ty, row.tx, row.values)
    }
    pairs.groupByKey { case (t, oty, otx, _, _, _) => (t, oty, otx) }
      .mapGroups { (key: (Long, Int, Int),
          it: Iterator[(Long, Int, Int, Int, Int, Array[Double])]) =>
        val (t, oty, otx) = key
        val otw = math.min(TILE, w - otx * TILE)
        val oth = math.min(TILE, h - oty * TILE)
        val chunks = it.map { case (_, _, _, sty, stx, vals) =>
          (sty.toLong << 32 | stx.toLong, vals)
        }.toMap
        val out = Array.fill(otw * oth)(nd)
        var i = 0
        while (i < oth) {
          val cy = coarseY(oty * TILE + i)
          var j = 0
          while (j < otw) {
            val cx = coarseX(otx * TILE + j)
            val sty = cy / TILE; val stx = cx / TILE
            chunks.get(sty.toLong << 32 | stx.toLong).foreach { vals =>
              val ctw = math.min(TILE, w - stx * TILE)
              out(i * otw + j) = vals((cy - sty * TILE) * ctw + (cx - stx * TILE))
            }
            j += 1
          }
          i += 1
        }
        TileRow(t, oty, otx, out)
      }
      .toDF("t", "ty", "tx", "values")
  }

  /** The exact stencil path on an (already coarse) request — margins are
    * recomputed against the coarse cell size. */
  private def zoomKernelFrame(req: RasterRequest)(implicit spark: SparkSession): DataFrame =
    super.frame(req)
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx; val ph = oh + 2 * my
    val work = new Array[Double](pw * ph)
    var i = 0
    while (i < work.length) {
      work(i) = if (patch(i) == nd) fill else patch(i); i += 1
    }
    // separable gaussian, scipy-compatible: radius = int(4σ + 0.5),
    // mode=constant cval=fill
    def gauss1d(sigma: Double): Array[Double] = {
      val radius = Smooth.gaussRadius(sigma)
      val k = Array.tabulate(2 * radius + 1) { j =>
        val x = j - radius
        math.exp(-0.5 * x * x / (sigma * sigma))
      }
      val s = k.sum
      k.map(_ / s)
    }
    def convolveH(src: Array[Double], k: Array[Double]): Array[Double] = {
      val r = k.length / 2
      val dst = new Array[Double](pw * ph)
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          var acc = 0.0
          var j = -r
          while (j <= r) {
            val xx = x + j
            acc += k(j + r) * (if (xx < 0 || xx >= pw) fill else src(y * pw + xx))
            j += 1
          }
          dst(y * pw + x) = acc
          x += 1
        }
        y += 1
      }
      dst
    }
    def convolveV(src: Array[Double], k: Array[Double]): Array[Double] = {
      val r = k.length / 2
      val dst = new Array[Double](pw * ph)
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          var acc = 0.0
          var j = -r
          while (j <= r) {
            val yy = y + j
            acc += k(j + r) * (if (yy < 0 || yy >= ph) fill else src(yy * pw + x))
            j += 1
          }
          dst(y * pw + x) = acc
          x += 1
        }
        y += 1
      }
      dst
    }
    val sx = (size / req.cellW) / 3.0
    val sy = (size / req.cellH) / 3.0
    val blurred = convolveV(convolveH(work, gauss1d(sx)), gauss1d(sy))
    crop(blurred, ow, oh, mx, my)
  }
}

object Smooth {
  /** scipy-compatible Gaussian support radius (truncate = 4.0). The halo
    * and the kernel MUST share this — a halo below the radius re-opens the
    * interior-seam fill leak the r3 seam spec guards against. */
  private[raster] def gaussRadius(sigma: Double): Int = (4.0 * sigma + 0.5).toInt

  /** For a monotone output-pixel → coarse-pixel map `f` (values clamped to
    * [0, extent)), the contiguous output-tile index range each coarse tile
    * feeds. `ranges(ct) = (otLo, otHi)` with an empty range (`lo > hi`) for
    * coarse tiles no output tile reads. Runs in O(n + total pairs); total
    * pair count is O(n) because each output tile's coarse span is contiguous
    * and coarse cells are at least as large as output cells. */
  private[graft] def inverseTileRange(n: Int, extent: Int, tile: Int,
      f: Int => Int): Array[(Int, Int)] = {
    val otMin = Array.fill(n)(Int.MaxValue)
    val otMax = Array.fill(n)(Int.MinValue)
    var ot = 0
    while (ot < n) {
      val px0 = ot * tile
      val pxN = math.min(extent, px0 + tile) - 1
      var ct = f(px0) / tile
      val ctHi = f(pxN) / tile
      while (ct <= ctHi) {
        if (ot < otMin(ct)) otMin(ct) = ot
        if (ot > otMax(ct)) otMax(ct) = ot
        ct += 1
      }
      ot += 1
    }
    Array.tabulate(n)(ct => (otMin(ct), otMax(ct)))
  }
}

/** GDAL-style hillshade (port of the gdaldem kernel the reference adapted,
  * spatial.py:310-438): 3×3 gradients, light from altitude/azimuth, uint8
  * output with the 256 'impossible' sentinel. */
case class HillShade(store: RasterBlock, altitude: Double = 45,
    azimuth: Double = 315, fill: Double = 0) extends SpatialStencil {
  override def dtype: DType = DType.U1
  override def noDataValue: Double = 256 // deliberately outside uint8
  protected def marginPx(req: RasterRequest): (Int, Int) = (1, 1)
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx
    val xres = req.bbox.width / req.width
    val yres = req.bbox.height / req.height
    val alt = math.toRadians(altitude)
    val az = math.toRadians(azimuth)
    val zsf = 1.0 / 8
    val a = patch.map(v => if (v == nd) fill else v)
    val out = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val cx = x + mx; val cy = y + my
        def p(dx: Int, dy: Int): Double = a((cy + dy) * pw + (cx + dx))
        val gy = (p(-1, -1) + 2 * p(0, -1) + p(1, -1)
          - p(-1, 1) - 2 * p(0, 1) - p(1, 1)) / yres
        val gx = (p(-1, -1) + 2 * p(-1, 0) + p(-1, 1)
          - p(1, -1) - 2 * p(1, 0) - p(1, 1)) / xres
        val xxyy = gx * gx + gy * gy
        val aspect = math.atan2(gy, gx)
        val cang = (math.sin(alt) - math.cos(alt) * zsf * math.sqrt(xxyy) *
          math.sin(aspect - az)) / math.sqrt(1 + zsf * zsf * xxyy)
        out(y * ow + x) = if (cang <= 0) 0.0 else (255 * cang).toInt.toDouble
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Slope steepness in DECI-DEGREES (gdaldem-family terrain derivative,
  * Horn 1981 eight-neighbour gradient — the same Sobel sums as
  * [[HillShade]]): v = floor(10·degrees(atan(√((gx/8dx)² + (gy/8dy)²)))
  * + 0.5). The deci-degree integerization is deliberate: clean angles
  * (0°, 45°, 90°) land mid-interval after the +0.5, so a 1-ulp
  * transcendental difference between engines can never flip the
  * reported value — the same robustness trick as HillShade's 0-255
  * quantization. Nodata cells read as `fill` (HillShade's contract). */
case class Slope(store: RasterBlock, zFactor: Double = 1.0,
    fill: Double = 0) extends SpatialStencil {
  override def dtype: DType = DType.F8
  protected def marginPx(req: RasterRequest): (Int, Int) = (1, 1)
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx
    val xres = req.bbox.width / req.width
    val yres = req.bbox.height / req.height
    val a = patch.map(v => if (v == nd) fill else v)
    val out = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val cx = x + mx; val cy = y + my
        def p(dx: Int, dy: Int): Double = a((cy + dy) * pw + (cx + dx))
        val gy = (p(-1, -1) + 2 * p(0, -1) + p(1, -1)
          - p(-1, 1) - 2 * p(0, 1) - p(1, 1)) / (8 * yres)
        val gx = (p(-1, -1) + 2 * p(-1, 0) + p(-1, 1)
          - p(1, -1) - 2 * p(1, 0) - p(1, 1)) / (8 * xres)
        val deg = math.toDegrees(math.atan(
          zFactor * math.sqrt(gx * gx + gy * gy)))
        out(y * ow + x) = math.floor(10 * deg + 0.5)
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Downslope direction in deci-degrees, math convention
  * (atan2(gy, gx) mapped to [0, 360)); cells with gradient magnitude
  * below `flatEps` report -1 (flat) — aspect is discontinuous at zero
  * gradient, so an exact-zero test would let 1-ulp summation noise pick
  * an arbitrary angle. Same deci-degree +0.5 integerization as
  * [[Slope]]. */
case class Aspect(store: RasterBlock, flatEps: Double = 1e-6,
    fill: Double = 0) extends SpatialStencil {
  override def dtype: DType = DType.F8
  protected def marginPx(req: RasterRequest): (Int, Int) = (1, 1)
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx
    val xres = req.bbox.width / req.width
    val yres = req.bbox.height / req.height
    val a = patch.map(v => if (v == nd) fill else v)
    val out = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val cx = x + mx; val cy = y + my
        def p(dx: Int, dy: Int): Double = a((cy + dy) * pw + (cx + dx))
        val gy = (p(-1, -1) + 2 * p(0, -1) + p(1, -1)
          - p(-1, 1) - 2 * p(0, 1) - p(1, 1)) / (8 * yres)
        val gx = (p(-1, -1) + 2 * p(-1, 0) + p(-1, 1)
          - p(1, -1) - 2 * p(1, 0) - p(1, 1)) / (8 * xres)
        out(y * ow + x) =
          if (math.abs(gx) < flatEps && math.abs(gy) < flatEps) -1.0
          else {
            var deg = math.toDegrees(math.atan2(gy, gx))
            if (deg < 0) deg += 360.0
            math.floor(10 * deg + 0.5)
          }
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Shared 3×3 neighbourhood walk for the window-statistic terrain
  * derivatives (gdaldem's roughness/TPI/TRI family): nodata reads as
  * `fill` (the [[HillShade]] contract), out-of-extent margin likewise. */
sealed abstract class WindowStat(fill: Double) extends SpatialStencil {
  override def dtype: DType = DType.F8
  protected def marginPx(req: RasterRequest): (Int, Int) = (1, 1)
  /** (center, 8 neighbours in row-major order) → output value. */
  protected def stat(center: Double, nb: Array[Double]): Double
  protected def kernel(patch: Array[Double], ow: Int, oh: Int, mx: Int, my: Int,
      nd: Double, req: RasterRequest): Array[Double] = {
    val pw = ow + 2 * mx
    val a = patch.map(v => if (v == nd) fill else v)
    val out = new Array[Double](ow * oh)
    val nb = new Array[Double](8)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val cx = x + mx; val cy = y + my
        var i = 0
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            if (dx != 0 || dy != 0) {
              nb(i) = a((cy + dy) * pw + (cx + dx)); i += 1
            }
            dx += 1
          }
          dy += 1
        }
        out(y * ow + x) = stat(a(cy * pw + cx), nb)
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Roughness: max − min of the 3×3 window (gdaldem roughness). Pure
  * max/min arithmetic — order-independent, so the value is bit-exact on
  * any engine with no quantization needed. */
case class Roughness(store: RasterBlock, fill: Double = 0)
    extends WindowStat(fill) {
  protected def stat(c: Double, nb: Array[Double]): Double = {
    var mx = c; var mn = c; var i = 0
    while (i < 8) {
      if (nb(i) > mx) mx = nb(i)
      if (nb(i) < mn) mn = nb(i)
      i += 1
    }
    mx - mn
  }
}

/** Micro-unit input quantization shared by [[Tpi]]/[[Tri]]: each cell
  * value becomes the INTEGER floor(v·10⁶ + 0.5) BEFORE any sum, so the
  * window statistic is order-independent integer arithmetic — two
  * engines summing the 8 neighbours in different orders agree
  * bit-for-bit. (Deci-quantizing the OUTPUT is not enough here: real
  * data with few decimals lands the statistic exactly on quantization
  * boundaries, where a 1-ulp summation difference flips the value —
  * 22/10000 cells did at sf0.01.) */
private object MicroQ {
  def apply(v: Double): Double = math.floor(v * 1000000.0 + 0.5)
}

/** Topographic Position Index in micro-value·8 units:
  * v = 8·q(center) − Σ q(neighbour) with q the micro-unit quantizer
  * (divide by 8·10⁶ for the classic center-minus-mean TPI). Exact
  * integer arithmetic end to end. */
case class Tpi(store: RasterBlock, fill: Double = 0)
    extends WindowStat(fill) {
  protected def stat(c: Double, nb: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 8) { s += MicroQ(nb(i)); i += 1 }
    8 * MicroQ(c) - s
  }
}

/** Terrain Ruggedness Index in micro-value·8 units:
  * v = Σ |q(center) − q(neighbour)| (Riley et al. 1999 window, the
  * gdaldem TRI default is this sum's mean — divide by 8·10⁶). Exact
  * integer arithmetic end to end. */
case class Tri(store: RasterBlock, fill: Double = 0)
    extends WindowStat(fill) {
  protected def stat(c: Double, nb: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val qc = MicroQ(c)
    while (i < 8) { s += math.abs(qc - MicroQ(nb(i))); i += 1 }
    s
  }
}

/** Stamp the source at N anchor→coordinate placements; overlaps merged by
  * `statistic` (spatial.py:441-731). Reproduces the reference's cost-based
  * physical-mode switch (:578-601): when reading the full source extent at
  * the request resolution costs no more pixels than the request itself,
  * "warp" mode evaluates it once as a distributed tile frame and
  * broadcast-gathers it per output tile (the WarpStage pattern — no pixels
  * on the driver), stamping all coordinates in one kernel pass; otherwise
  * "group" mode issues one shifted sub-request per coordinate and merges
  * cellwise. Group mode keeps every sub-request parallel; warp mode caps
  * the plan at one child evaluation regardless of coordinate count. */
case class Place(store: RasterBlock, placeProjection: String,
    anchor: (Double, Double), coordinates: Seq[(Double, Double)],
    statistic: String = "last", modeHint: Option[String] = None)
    extends BaseSingleRaster {
  Statistics.validate(statistic)
  require(coordinates.nonEmpty, "Place needs at least one coordinate")
  require(modeHint.forall(Set("warp", "group")),
    "modeHint must be 'warp' or 'group'")
  override def extent: Option[Bbox] = store.extent.map { e =>
    coordinates.map { case (cx, cy) =>
      Bbox(e.x1 - anchor._1 + cx, e.y1 - anchor._2 + cy,
        e.x2 - anchor._1 + cx, e.y2 - anchor._2 + cy)
    }.reduce(_ union _)
  }

  /** Scala-side merge of the values a cell collects across placements,
    * mirroring reduce_rasters semantics (skip nodata; empty → 0 for
    * sum/count, nodata otherwise; exact linear percentiles). */
  private def mergeValues(vals: Array[Double], nd: Double): Double = {
    val data = vals.filter(_ != nd)
    if (data.isEmpty)
      return if (statistic == "sum" || statistic == "count") 0.0 else nd
    statistic match {
      case "first" => data.head
      case "last" => data.last
      case "count" => data.length.toDouble
      case "sum" => data.sum
      case "product" => data.product
      case "min" => data.min
      case "max" => data.max
      case "mean" => data.sum / data.length
      case "var" =>
        val m = data.sum / data.length
        data.map(x => (x - m) * (x - m)).sum / data.length
      case "std" =>
        val m = data.sum / data.length
        math.sqrt(data.map(x => (x - m) * (x - m)).sum / data.length)
      case "argmin" => vals.indexOf(data.min).toDouble
      case "argmax" => vals.indexOf(data.max).toDouble
      case s =>
        val q = if (s == "median") 50.0 else s.drop(1).toDouble
        val sorted = data.sorted
        val idx = (sorted.length - 1) * q / 100.0
        val lo = idx.toInt
        val frac = idx - lo
        sorted(lo) + (sorted(math.min(lo + 1, sorted.length - 1)) - sorted(lo)) * frac
    }
  }

  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val nd = store.noDataValue
    // cost switch: full source extent at request resolution vs N
    // sub-requests; `modeHint` overrides it (a physical-strategy hint in
    // the join-hint spirit — both modes compute identical results, which
    // the r34 self-check oracle asserts)
    val warpChoice = for {
      e <- store.extent
      if modeHint.forall(_ == "warp")
      if !req.bbox.isPoint
      fullW = math.ceil(e.width / req.cellW).toLong
      fullH = math.ceil(e.height / req.cellH).toLong
      // even a forced warp stays bounded: the full-extent read must fit
      // the request pixel budget (hint) or the global raster limit, and
      // the dimensions must be sane Ints
      if fullW > 0 && fullH > 0 && fullW <= Int.MaxValue && fullH <= Int.MaxValue
      if (if (modeHint.contains("warp"))
            fullW * fullH <= RequestGuards.rasterLimitPixels
          else fullW * fullH <= req.width.toLong * req.height)
    } yield (e, fullW.toInt, fullH.toInt)
    warpChoice match {
      case Some((e, fw, fh)) => return warpFrame(req, e, fw, fh, nd)
      case None =>
    }
    val parts = coordinates.zipWithIndex.map { case ((cx, cy), i) =>
      val dx = anchor._1 - cx; val dy = anchor._2 - cy
      val sreq = req.copy(bbox = Bbox(req.bbox.x1 + dx, req.bbox.y1 + dy,
        req.bbox.x2 + dx, req.bbox.y2 + dy))
      store.frame(sreq).select(col("t"), col("ty"), col("tx"),
        lit(i).as("si"), col("values"))
    }
    val stat = statistic
    val grouped = parts.reduce(_ unionByName _)
      .groupBy(col("t"), col("ty"), col("tx"))
      .agg(transform(sort_array(collect_list(struct(col("si"), col("values")))),
        s => s.getField("values")).as("stack"))
    val reduced = Statistics.stackKernel(stat, nd)(col("stack"))
    grouped.select(col("t"), col("ty"), col("tx"), reduced.as("values"))
  }

  /** Warp mode: the full-extent read is evaluated ONCE as a distributed
    * tile frame and broadcast-gathered per output tile (the WarpStage
    * pattern) — no pixel data ever lands on the driver. Each output tile
    * joins only the source tiles its shifted placements actually sample,
    * so the gather stays bounded by placements × tile overlap, and all
    * coordinates are stamped in a single per-tile kernel pass. */
  private def warpFrame(req: RasterRequest, e: Bbox, fw: Int, fh: Int, nd: Double)
      (implicit spark: SparkSession): DataFrame = {
    // snap the full-extent grid to the request cell size
    val sreq = RasterRequest(
      Bbox(e.x1, e.y2 - fh * req.cellH, e.x1 + fw * req.cellW, e.y2),
      req.projection, fw, fh, req.start, req.stop)
    val times = store.timesIn(req.start, req.stop)
    if (times.isEmpty) return TemporalFrames.emptyFrame
    val src = store.frame(sreq)
    val tile = TileLayout.TILE
    val (cw, ch) = (req.cellW, req.cellH)
    val coords = coordinates.toArray
    val (ax, ay) = anchor
    val (sx1, sy2) = (sreq.bbox.x1, sreq.bbox.y2)
    // output tile → the source tiles its pixel centers sample under any
    // placement shift, built AS A SPARK JOB: an output-tile frame crossed
    // with a coordinates frame, the same extreme-pixel-center arithmetic
    // as the stamping kernel expressed column-wise (identical operation
    // order, so the floored indices are bit-identical), then the clamped
    // tile-index ranges exploded and deduped. Tile COUNTS only — neither
    // the mapping rows nor the pixel data ever loop on the driver, so
    // millions of placements × a large output grid stay distributed.
    val nOty = TileLayout.tilesY(req.height); val nOtx = TileLayout.tilesX(req.width)
    val nSty = TileLayout.tilesY(fh); val nStx = TileLayout.tilesX(fw)
    import spark.implicits._
    val tilesDf = spark.range(nOty.toLong * nOtx).select(
      (col("id") / nOtx).cast("int").as("oty"),
      (col("id") % nOtx).cast("int").as("otx"))
    val coordsBase = coords.toSeq.toDF("cx", "cy")
    val coordsDf = if (coords.length > 10000)
      coordsBase.repartition(spark.sparkContext.defaultParallelism)
    else coordsBase
    // extreme pixel centers of the tile (shift is linear, so the extremes
    // bound every pixel); int sub-expressions first, exactly as
    // cellCenterX/Y compute them
    val twC = least(lit(tile), lit(req.width) - col("otx") * tile)
    val thC = least(lit(tile), lit(req.height) - col("oty") * tile)
    val wxLo = lit(req.bbox.x1) + (col("otx") * tile + lit(0.5)) * lit(cw)
    val wxHi = lit(req.bbox.x1) + (col("otx") * tile + twC - 1 + lit(0.5)) * lit(cw)
    val wyHi = lit(req.bbox.y2) - (col("oty") * tile + lit(0.5)) * lit(ch)
    val wyLo = lit(req.bbox.y2) - (col("oty") * tile + thC - 1 + lit(0.5)) * lit(ch)
    val mapDf = broadcast(coordsDf.crossJoin(tilesDf)
      .select(col("oty"), col("otx"),
        floor((wxLo + ax - col("cx") - sx1) / cw).as("pjLo"),
        floor((wxHi + ax - col("cx") - sx1) / cw).as("pjHi"),
        floor((lit(sy2) - (wyHi + ay - col("cy"))) / ch).as("piLo"),
        floor((lit(sy2) - (wyLo + ay - col("cy"))) / ch).as("piHi"))
      .select(col("oty"), col("otx"),
        greatest(lit(0L), floor(col("piLo") / tile.toDouble)).as("i0"),
        least(lit((nSty - 1).toLong), floor(col("piHi") / tile.toDouble)).as("i1"),
        greatest(lit(0L), floor(col("pjLo") / tile.toDouble)).as("j0"),
        least(lit((nStx - 1).toLong), floor(col("pjHi") / tile.toDouble)).as("j1"))
      .filter(col("i0") <= col("i1") && col("j0") <= col("j1"))
      .select(col("oty"), col("otx"),
        explode(sequence(col("i0"), col("i1"))).as("tyL"), col("j0"), col("j1"))
      .select(col("oty"), col("otx"), col("tyL").cast("int").as("ty"),
        explode(sequence(col("j0"), col("j1"))).as("txL"))
      .select(col("oty"), col("otx"), col("ty"), col("txL").cast("int").as("tx"))
      .distinct())
    val r = req
    val self = this
    val kernel = udf { (oty: Int, otx: Int, tiles: Seq[Row]) =>
      val byTile = tiles.map(e => (e.getInt(0), e.getInt(1)) -> e.getSeq[Double](2)).toMap
      val tw = TileLayout.tileW(r.width, otx)
      val th = TileLayout.tileH(r.height, oty)
      val out = new Array[Double](tw * th)
      val buf = new Array[Double](coords.length)
      var i = 0
      while (i < th) {
        val wy = r.cellCenterY(oty * tile + i)
        var j = 0
        while (j < tw) {
          val wx = r.cellCenterX(otx * tile + j)
          var c = 0
          while (c < coords.length) {
            // output point shifted back into source space
            val sxw = wx + ax - coords(c)._1
            val syw = wy + ay - coords(c)._2
            val px = math.floor((sxw - sx1) / cw).toInt
            val py = math.floor((sy2 - syw) / ch).toInt
            buf(c) =
              if (px < 0 || px >= fw || py < 0 || py >= fh) nd
              else {
                val stw = TileLayout.tileW(fw, px / tile)
                byTile.get((py / tile, px / tile)) match {
                  case Some(vals) => vals((py % tile) * stw + (px % tile))
                  case None       => nd
                }
              }
            c += 1
          }
          out(i * tw + j) = self.mergeValues(buf, nd)
          j += 1
        }
        i += 1
      }
      out
    }
    val gathered = src.join(mapDf, Seq("ty", "tx"))
      .groupBy(col("t"), col("oty"), col("otx"))
      .agg(collect_list(struct(col("ty"), col("tx"), col("values"))).as("tiles"))
      .select(col("t"), col("oty").as("ty"), col("otx").as("tx"),
        kernel(col("oty"), col("otx"), col("tiles")).as("values"))
    // densify: output tiles no placement reaches still appear, filled with
    // the statistic's empty value (0 for sum/count, nodata otherwise —
    // exactly what the kernel computes for an all-nodata sample buffer)
    val emptyVal = mergeValues(Array.fill(coords.length)(nd), nd)
    TileLayout.densify(gathered, r.width, r.height, times.map(_.toEpochMilli), emptyVal)
  }
}
