package graft.raster

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared nearest-neighbour warp/resample stage, the distributed analogue of
  * the reference's generic source warp (raster/sources.py:119-145): a store
  * that holds its native grid as a tile frame also serves requests in a
  * different CRS, at a different resolution, over a sub-window, a haloed
  * window hanging off the grid, or a single point.
  *
  * Plan shape (no driver materialization of pixel data):
  *  1. a driver-computed (output tile → needed native tiles) relation is
  *     broadcast-joined against the store's full native tile frame — the
  *     same bounded gather as the stencil halo exchange, so each native
  *     tile is copied at most O(overlapping output tiles) times and the
  *     native frame is never rebuilt per request;
  *  2. a per-output-tile kernel maps each output pixel center through the
  *     exact projection transform and samples the gathered native tiles
  *     (GDAL NN warp semantics; exact per-pixel transform instead of GDAL's
  *     0.125 px approximator, like `MemorySource`).
  */
object WarpStage {

  /** Warp `req` against `native`, the tile frame of a store whose native
    * grid is `gridW`×`gridH` unit cells anchored at (0, 0) in `storeProj`
    * (pixel row 0 at world y `gridH`). `timesMs` are the frame instants the
    * request covers (plan metadata). */
  def frame(req: RasterRequest, storeProj: String, gridW: Int, gridH: Int,
      noData: Double, timesMs: Seq[Long], native: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    // 1. output tile → needed native tiles (driver-side, tile counts only)
    val tile = TileLayout.TILE
    val (srcProj, dstProj) = (storeProj, req.projection)
    val outPairs = for {
      oty <- 0 until TileLayout.tilesY(req.height)
      otx <- 0 until TileLayout.tilesX(req.width)
    } yield (oty, otx)
    val mapping = outPairs.flatMap { case (oty, otx) =>
      val tw = TileLayout.tileW(req.width, otx)
      val th = TileLayout.tileH(req.height, oty)
      // tile pixel-center footprint in dst CRS → src CRS envelope
      val xs = Seq(req.cellCenterX(otx * tile), req.cellCenterX(otx * tile + tw - 1))
      val ys = Seq(req.cellCenterY(oty * tile), req.cellCenterY(oty * tile + th - 1))
      val pts = for {
        x <- xs :+ (xs.head + xs.last) / 2
        y <- ys :+ (ys.head + ys.last) / 2
      } yield Proj.transform(dstProj, srcProj, x, y)
      val ex0 = pts.map(_._1).min - 1; val ex1 = pts.map(_._1).max + 1
      val ey0 = pts.map(_._2).min - 1; val ey1 = pts.map(_._2).max + 1
      // native tiles overlapping the envelope; an envelope off the grid
      // maps to none, and its output tile densifies to nodata below
      def tileOf(px: Double) = Math.floorDiv(math.floor(px).toInt, tile)
      val pj0 = math.max(0, tileOf(ex0))
      val pj1 = math.min(TileLayout.tilesX(gridW) - 1, tileOf(ex1))
      val pi0 = math.max(0, tileOf(gridH - ey1))
      val pi1 = math.min(TileLayout.tilesY(gridH) - 1, tileOf(gridH - ey0))
      for (sty <- pi0 to pi1; stx <- pj0 to pj1)
        yield (oty, otx, sty, stx)
    }
    import spark.implicits._
    val mapDf = broadcast(mapping.toDF("oty", "otx", "ty", "tx"))

    // 2. gather + per-tile NN sample kernel
    val r = req
    val nd = noData
    val kernel = udf { (oty: Int, otx: Int, t: Long, tiles: Seq[Row]) =>
      val byTile = tiles.map(e => (e.getInt(0), e.getInt(1)) -> e.getSeq[Double](2)).toMap
      val tw = TileLayout.tileW(r.width, otx)
      val th = TileLayout.tileH(r.height, oty)
      val out = new Array[Double](tw * th)
      var i = 0
      while (i < th) {
        val cyReq = r.cellCenterY(oty * tile + i)
        var j = 0
        while (j < tw) {
          val cxReq = r.cellCenterX(otx * tile + j)
          val (cx, cy) =
            if (srcProj == dstProj) (cxReq, cyReq)
            else Proj.transform(dstProj, srcProj, cxReq, cyReq)
          // beyond-domain transforms yield NaN; NaN.toInt is 0 and would
          // alias to the grid corner instead of reading as outside
          val v =
            if (java.lang.Double.isNaN(cx) || java.lang.Double.isNaN(cy)) nd
            else {
              // native pixel coordinates (row 0 at world top)
              val pj = math.floor(cx).toInt
              val pi = math.floor(gridH - cy).toInt
              if (pi < 0 || pi >= gridH || pj < 0 || pj >= gridW) nd
              else {
                val stw = TileLayout.tileW(gridW, pj / tile)
                byTile.get((pi / tile, pj / tile)) match {
                  case Some(vals) => vals((pi % tile) * stw + (pj % tile))
                  case None       => nd
                }
              }
            }
          out(i * tw + j) = v
          j += 1
        }
        i += 1
      }
      out
    }
    val gathered = native.join(mapDf, Seq("ty", "tx"))
      .groupBy(col("t"), col("oty"), col("otx"))
      .agg(collect_list(struct(col("ty"), col("tx"), col("values"))).as("tiles"))
      .select(col("t"), col("oty").as("ty"), col("otx").as("tx"),
        kernel(col("oty"), col("otx"), col("t"), col("tiles")).as("values"))
    // densify: output tiles whose source footprint fell outside the
    // native grid produced no mapping rows — they must still appear as
    // nodata tiles (the frame() contract is times × numTiles rows). When
    // every output tile maps to a native tile, the gather already has them
    // all (the native frame holds every frame of every tile).
    if (mapping.map(m => (m._1, m._2)).distinct.size == outPairs.size) return gathered
    val nOtx = TileLayout.tilesX(req.width)
    val nOTiles = TileLayout.numTiles(req.width, req.height)
    val ts = timesMs.toIndexedSeq
    val allTiles = spark.range(ts.length.toLong * nOTiles).mapPartitions { it =>
      it.map { i =>
        val t = ts((i / nOTiles).toInt)
        val ti = (i % nOTiles).toInt
        (t, ti / nOtx, ti % nOtx)
      }
    }.toDF("t", "ty", "tx")
    allTiles.join(gathered, Seq("t", "ty", "tx"), "left")
      .select(col("t"), col("ty"), col("tx"),
        coalesce(col("values"), {
          val tw = least(lit(TileLayout.TILE), lit(req.width) - col("tx") * TileLayout.TILE)
          val th = least(lit(TileLayout.TILE), lit(req.height) - col("ty") * TileLayout.TILE)
          array_repeat(lit(nd), (tw * th).cast("int"))
        }).as("values"))
  }
}
