package graft.raster

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cell dtypes mirroring the numpy dtypes of the reference data model
  * (SURVEY §1.5). Values are physically computed/stored as Double in the
  * tile DataFrames; `DType` is plan metadata driving the nodata sentinel
  * (dtype max by convention, reference utils.py:67-76) and promotion rules.
  */
sealed abstract class DType(
    val name: String,
    val size: Int,           // bytes
    val kind: Char           // 'b' bool, 'u' unsigned, 'i' signed, 'f' float
) extends Serializable {
  def isFloat: Boolean = kind == 'f'
  def isInt: Boolean = kind == 'i' || kind == 'u'

  /** The 'no data' sentinel: dtype max (utils.py:67-76). Bool has none
    * (raster/base.py:41-42); we use NaN-free 255-style sentinel only for
    * non-bool. */
  def noDataValue: Double = this match {
    case DType.Bool => 0.0 // bool rasters carry no nodata; placeholder
    case DType.F4   => Float.MaxValue.toDouble
    case DType.F8   => Double.MaxValue
    case _ if kind == 'u' => math.pow(2, size * 8) - 1
    case _          => math.pow(2, size * 8 - 1) - 1
  }
}

object DType {
  case object Bool extends DType("bool", 1, 'b')
  case object U1 extends DType("uint8", 1, 'u')
  case object U2 extends DType("uint16", 2, 'u')
  case object U4 extends DType("uint32", 4, 'u')
  case object U8 extends DType("uint64", 8, 'u')
  case object I1 extends DType("int8", 1, 'i')
  case object I2 extends DType("int16", 2, 'i')
  case object I4 extends DType("int32", 4, 'i')
  case object I8 extends DType("int64", 8, 'i')
  case object F4 extends DType("float32", 4, 'f')
  case object F8 extends DType("float64", 8, 'f')

  val all: Seq[DType] = Seq(Bool, U1, U2, U4, U8, I1, I2, I4, I8, F4, F8)
  def byName(n: String): DType =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"dtype $n"))

  private def signed(size: Int): DType = size match {
    case 1 => I1; case 2 => I2; case 4 => I4; case _ => I8
  }
  private def float(size: Int): DType = if (size <= 4) F4 else F8

  /** numpy `promote_types` for the dtypes in the model (SURVEY §1.5).
    * Notable cases reproduced: uintN+intN → int(2N); uint64+int64 → float64;
    * float32 holds ints ≤ 16 bit, float64 holds ints ≤ 32 bit. */
  def promote(a: DType, b: DType): DType = {
    if (a == b) a
    else if (a == Bool) b
    else if (b == Bool) a
    else if (a.isFloat && b.isFloat) float(math.max(a.size, b.size))
    else if (a.isFloat || b.isFloat) {
      val (f, i) = if (a.isFloat) (a, b) else (b, a)
      val needed = if (i.size <= 2) 4 else 8 // float32 mantissa=24b, float64=53b
      float(math.max(f.size, needed))
    } else if (a.kind == b.kind) {
      if (a.size >= b.size) a else b
    } else { // mixed signed/unsigned
      val (u, s) = if (a.kind == 'u') (a, b) else (b, a)
      if (s.size > u.size) s
      else if (u.size >= 8) F8 // uint64 + signed → float64 (numpy)
      else signed(u.size * 2)
    }
  }

  /** Result dtype of a reduction statistic (reference utils.py:826-845):
    * min/max/first/last keep dtype; sum widens to ≥int32/float32; count →
    * int32; everything else (mean/std/var/median/percentile/...) ≥ float32. */
  def statResult(dtype: DType, statistic: String): DType = {
    val base = statistic.split(" ")(0)
    base match {
      case "min" | "max" | "first" | "last" => dtype
      case "count"                          => I4
      case "sum" =>
        if (dtype.isFloat) promote(dtype, F4) else promote(dtype, I4)
      case _ => promote(dtype, F4)
    }
  }
}

/** A bounding box `(x1, y1, x2, y2)` in some projection; x1<=x2, y1<=y2. */
case class Bbox(x1: Double, y1: Double, x2: Double, y2: Double) {
  def width: Double = x2 - x1
  def height: Double = y2 - y1
  def isPoint: Boolean = x1 == x2 && y1 == y2
  def intersect(o: Bbox): Option[Bbox] = {
    val r = Bbox(math.max(x1, o.x1), math.max(y1, o.y1),
                 math.min(x2, o.x2), math.min(y2, o.y2))
    if (r.x1 > r.x2 || r.y1 > r.y2) None else Some(r)
  }
  def union(o: Bbox): Bbox =
    Bbox(math.min(x1, o.x1), math.min(y1, o.y1),
         math.max(x2, o.x2), math.max(y2, o.y2))
  def buffer(d: Double): Bbox = Bbox(x1 - d, y1 - d, x2 + d, y2 + d)
}

/** A `mode="vals"` raster request (reference raster/base.py:27-35): the
  * output grid is `width` × `height` pixels over `bbox` in `projection`;
  * sources resample on the fly to this grid. A degenerate bbox is a 1×1
  * point request (raster/sources.py:95-117). `start`/`stop` follow
  * `snap_start_stop` (utils.py:848-915): both None → latest frame; only
  * start → nearest frame; both → closed interval.
  */
case class RasterRequest(
    bbox: Bbox,
    projection: String,
    width: Int,
    height: Int,
    start: Option[Instant] = None,
    stop: Option[Instant] = None
) {
  require(width > 0 && height > 0, "request size must be positive")
  /** Cell size of the requested grid (point request → degenerate). */
  def cellW: Double = if (bbox.isPoint) 0.0 else bbox.width / width
  def cellH: Double = if (bbox.isPoint) 0.0 else bbox.height / height
  /** World coordinate of the center of request pixel (col j, row i);
    * row 0 is the TOP row (y decreasing), matching GDAL orientation. */
  def cellCenterX(j: Int): Double = if (bbox.isPoint) bbox.x1 else bbox.x1 + (j + 0.5) * cellW
  def cellCenterY(i: Int): Double = if (bbox.isPoint) bbox.y1 else bbox.y2 - (i + 0.5) * cellH
}

/** Fixed tile layout over a request grid: tiles of TILE×TILE pixels,
  * row-major `values` per tile, edge tiles truncated (never padded) so that
  * any two frames for the same request have identical tile shapes and
  * `zip_with` stays aligned. This is the engine's native physical format —
  * the reference's `RasterTiler` (raster/parallelize.py:13-125) becomes
  * plain DataFrame partitioning.
  */
object TileLayout {
  val TILE = 256
  def tilesX(width: Int): Int = (width + TILE - 1) / TILE
  def tilesY(height: Int): Int = (height + TILE - 1) / TILE
  def numTiles(w: Int, h: Int): Int = tilesX(w) * tilesY(h)
  def tileW(width: Int, tx: Int): Int = math.min(TILE, width - tx * TILE)
  def tileH(height: Int, ty: Int): Int = math.min(TILE, height - ty * TILE)

  /** `frame` densified to every tile of a `width`×`height` grid at every
    * time in `timesMs`: a (t, ty, tx) shell of times × tiles rows
    * left-joins the frame, and a tile the frame lacks gets `fill` in each
    * of its cells, so downstream `zip_with` alignment holds. */
  def densify(frame: DataFrame, width: Int, height: Int, timesMs: Seq[Long],
      fill: Double)(implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val nTiles = numTiles(width, height)
    val nTx = tilesX(width)
    val ts = timesMs.toIndexedSeq
    val shell = spark.range(ts.length.toLong * nTiles).mapPartitions { it =>
      it.map { i =>
        val t = ts((i / nTiles).toInt)
        val ti = (i % nTiles).toInt
        (t, ti / nTx, ti % nTx)
      }
    }.toDF("t", "ty", "tx")
    shell.join(frame, Seq("t", "ty", "tx"), "left")
      .select(col("t"), col("ty"), col("tx"),
        coalesce(col("values"), {
          val tw = least(lit(TILE), lit(width) - col("tx") * TILE)
          val th = least(lit(TILE), lit(height) - col("ty") * TILE)
          array_repeat(lit(fill), (tw * th).cast("int"))
        }).as("values"))
  }
}

/** Collected raster response for tests / the single-request API:
  * frame-major arrays on the request grid plus the nodata sentinel
  * (reference raster/base.py:37-46). */
case class RasterResult(
    times: Seq[Instant],
    width: Int,
    height: Int,
    values: Array[Array[Double]], // one row-major array per frame
    noDataValue: Double
)
