package graft.raster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared nearest-neighbour warp/resample stage, the distributed analogue of
  * the reference's generic source warp (raster/sources.py:119-145): a store
  * that holds its native grid as a tile frame also serves requests in a
  * different CRS, at a different resolution, over a sub-window, a haloed
  * window hanging off the grid, or a single point.
  *
  * A [[WarpStage.Plan]] maps each output tile to the native tiles its pixel
  * centers can fall in (driver-side, tile counts only). Each output pixel
  * center is mapped through the exact projection transform and takes the
  * native pixel containing it (GDAL NN warp semantics; exact per-pixel
  * transform instead of GDAL's 0.125 px approximator, like `MemorySource`).
  * One sampling function, [[WarpStage.Plan.sample]], serves both plan
  * shapes (no driver materialization of pixel data in either):
  *  - '''map-only''' ([[WarpStage.Plan.mapOnly]]): every output tile samples
  *    exactly one native tile — any window inside one native tile, such as
  *    a map tile or a point. The needed native tiles are filtered out of the
  *    native frame, the kernel runs once per native row and the output
  *    tiles it feeds are exploded from it: a narrow plan, no shuffle;
  *  - '''gather''': any other window. The (output tile → native tiles)
  *    relation is broadcast-joined against the native frame and grouped per
  *    output tile, so each native tile is copied once per output tile that
  *    needs it; output tiles that sample no native tile densify to nodata.
  */
object WarpStage {

  /** The warp of `req` against a store whose native grid is `gridW`×`gridH`
    * unit cells anchored at (0, 0) in `storeProj` (pixel row 0 at world y
    * `gridH`); `mapping` holds (oty, otx, ty, tx): output tile (oty, otx)
    * may sample native tile (ty, tx). */
  final case class Plan(req: RasterRequest, storeProj: String, gridW: Int, gridH: Int,
      mapping: IndexedSeq[(Int, Int, Int, Int)]) {

    private def nOut = TileLayout.numTiles(req.width, req.height)

    /** Every output tile samples at least one native tile. */
    val covers: Boolean = mapping.map(m => (m._1, m._2)).distinct.size == nOut

    /** Every output tile samples exactly one native tile. */
    val mapOnly: Boolean = covers && mapping.size == nOut

    /** NN samples of output tile (oty, otx): `tileAt(ty, tx)` is the values
      * of native tile (ty, tx), or null when it is not at hand, which reads
      * as nodata `nd` like a pixel off the grid. */
    def sample(oty: Int, otx: Int, nd: Double,
        tileAt: (Int, Int) => Array[Double]): Array[Double] = {
      val tile = TileLayout.TILE
      val (srcProj, dstProj) = (storeProj, req.projection)
      val tw = TileLayout.tileW(req.width, otx)
      val th = TileLayout.tileH(req.height, oty)
      val out = new Array[Double](tw * th)
      var i = 0
      while (i < th) {
        val cyReq = req.cellCenterY(oty * tile + i)
        var j = 0
        while (j < tw) {
          val cxReq = req.cellCenterX(otx * tile + j)
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
                val vals = tileAt(pi / tile, pj / tile)
                if (vals == null) nd
                else vals((pi % tile) * TileLayout.tileW(gridW, pj / tile) + (pj % tile))
              }
            }
          out(i * tw + j) = v
          j += 1
        }
        i += 1
      }
      out
    }
  }

  /** The plan of `req` over a `gridW`×`gridH` native grid in `storeProj`. */
  def plan(req: RasterRequest, storeProj: String, gridW: Int, gridH: Int): Plan = {
    val tile = TileLayout.TILE
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
      } yield Proj.transform(req.projection, storeProj, x, y)
      val ex0 = pts.map(_._1).min - 1; val ex1 = pts.map(_._1).max + 1
      val ey0 = pts.map(_._2).min - 1; val ey1 = pts.map(_._2).max + 1
      // native tiles overlapping the envelope; an envelope off the grid
      // maps to none
      def tileOf(px: Double) = Math.floorDiv(math.floor(px).toInt, tile)
      val pj0 = math.max(0, tileOf(ex0))
      val pj1 = math.min(TileLayout.tilesX(gridW) - 1, tileOf(ex1))
      val pi0 = math.max(0, tileOf(gridH - ey1))
      val pi1 = math.min(TileLayout.tilesY(gridH) - 1, tileOf(gridH - ey0))
      for (sty <- pi0 to pi1; stx <- pj0 to pj1)
        yield (oty, otx, sty, stx)
    }
    Plan(req, storeProj, gridW, gridH, mapping)
  }

  /** `p` over `native`, the store's tile frame. A map-only plan samples
    * the frames `native` holds; a gather yields every frame of `timesMs`
    * (output tiles that sample no native tile densify to nodata over
    * them), so `native` must hold all of them. */
  def frame(p: Plan, noData: Double, timesMs: Seq[Long], native: DataFrame)(
      implicit spark: SparkSession): DataFrame =
    if (p.mapOnly) mapOnly(p, noData, native) else gather(p, noData, timesMs, native)

  private def mapOnly(p: Plan, nd: Double, native: DataFrame): DataFrame = {
    val feeds: Map[(Int, Int), Seq[(Int, Int)]] =
      p.mapping.groupBy(m => (m._3, m._4)).map { case (k, ms) => k -> ms.map(m => (m._1, m._2)) }
    val keys = feeds.keys.map { case (ty, tx) => (ty.toLong << 32) | tx }.toSeq
    val kernel = udf { (t: Long, ty: Int, tx: Int, values: Array[Double]) =>
      feeds((ty, tx)).map { case (oty, otx) =>
        TileRow(t, oty, otx,
          p.sample(oty, otx, nd, (sty, stx) => if (sty == ty && stx == tx) values else null))
      }
    }
    native.filter(((col("ty").cast("long") * (1L << 32)) + col("tx")).isin(keys: _*))
      .select(explode(kernel(col("t"), col("ty"), col("tx"), col("values"))).as("o"))
      .select(col("o.t"), col("o.ty"), col("o.tx"), col("o.values"))
  }

  private def gather(p: Plan, nd: Double, timesMs: Seq[Long], native: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mapDf = broadcast(p.mapping.toDF("oty", "otx", "ty", "tx"))
    val kernel = udf { (oty: Int, otx: Int, tiles: Seq[TileRow]) =>
      val byTile = tiles.map(e => (e.ty, e.tx) -> e.values).toMap
      p.sample(oty, otx, nd, (ty, tx) => byTile.getOrElse((ty, tx), null))
    }
    val gathered = native.join(mapDf, Seq("ty", "tx"))
      .groupBy(col("t"), col("oty"), col("otx"))
      .agg(collect_list(struct(col("t"), col("ty"), col("tx"), col("values"))).as("tiles"))
      .select(col("t"), col("oty").as("ty"), col("otx").as("tx"),
        kernel(col("oty"), col("otx"), col("tiles")).as("values"))
    // densify: output tiles whose source footprint fell outside the
    // native grid produced no mapping rows — they must still appear as
    // nodata tiles (the frame() contract is times × numTiles rows). When
    // every output tile maps to a native tile, the gather already has them
    // all (the native frame holds every frame of every tile).
    if (p.covers) gathered
    else TileLayout.densify(gathered, p.req.width, p.req.height, timesMs, nd)
  }
}
