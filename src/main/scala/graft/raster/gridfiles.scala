package graft.raster

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Json

/** Single-file raster exchange formats beyond GeoTIFF: ESRI ASCII Grid
  * (GDAL's AAIGrid driver), XYZ point-grid text (GDAL's XYZ driver), and
  * PNG with a world file (GDAL's PNG driver + .pgw/.wld sidecar). The
  * reference reads all of these through GDAL's format autodetection in
  * `RasterFileSource` (dask_geomodeling/raster/sources.py:396-564); here
  * each gets a small from-scratch codec.
  *
  * Scale note: these are bounded driver-side exchange formats — a whole
  * file is one frame and must be parsed to be read at all (text formats
  * have no tile index). The cluster-scale ingestion paths remain
  * TableRasterSource / RasterParquetSource / COG GeoTIFF; these codecs
  * exist so a user can hand the engine the same sidecar files GDAL
  * accepts.
  */
object GridFiles {

  /** One decoded single-band grid: row-major values, top row first,
    * `originX`/`originY` = world coordinate of the top-left corner of
    * pixel (0,0) (GDAL orientation), square pixels. */
  case class GridData(values: Array[Double], w: Int, h: Int,
      cellSize: Double, originX: Double, originY: Double,
      noData: Double, projection: String, dtypeName: String)

  /** Sort names with digit runs compared numerically: the sinks name
    * frames `frame_<epochMs>`, and plain lexicographic order would put
    * frame_10800000 before frame_3600000, silently permuting the time
    * axis of a read-back export. */
  private[raster] def numericSort(names: Seq[String]): Seq[String] =
    names.sortBy(n => "\\d+".r.replaceAllIn(n, m => f"${BigInt(m.matched)}%020d"))

  private[raster] def stemOf(path: String): String = {
    val dot = path.lastIndexOf('.')
    if (dot > path.lastIndexOf('/')) path.substring(0, dot) else path
  }

  /** Sidecar `.prj` beats the argument (GDAL precedence); no georeference
    * source at all fails loudly. */
  private[raster] def resolveProjection(path: String, arg: String): String = {
    val prj = stemOf(path) + ".prj"
    if (graft.io.FileIO.exists(prj))
      Proj.normalize(graft.io.FileIO.readString(prj).trim)
    else if (arg.nonEmpty) arg
    else throw new IllegalArgumentException(
      s"$path: no .prj sidecar and no projection argument")
  }

  /** Emit an OGC WKT-1 `.prj` next to `path` when the projection has a WKT
    * form (EPSG hub codes and PARAM self-contained codes both do). */
  private[raster] def writePrj(path: String, projection: String): Unit =
    WktSrs.toWkt(projection).foreach { wkt =>
      Files.writeString(Paths.get(stemOf(path) + ".prj"), wkt)
    }

  /** Exact-round-trip decimal formatting: integral dtypes print as longs,
    * floats via Double.toString (shortest digits that parse back to the
    * same IEEE value — GDAL's CPLAtof accepts the 'E' exponent form). */
  private[raster] def fmt(v: Double, intKind: Boolean): String =
    if (intKind) math.rint(v).toLong.toString else v.toString

  private[raster] def looksIntegral(tokens: Iterator[String]): Boolean =
    tokens.forall(t => t.nonEmpty &&
      t.forall(c => (c >= '0' && c <= '9') || c == '-' || c == '+'))
}

/** ESRI ASCII Grid codec (GDAL AAIGrid): a text header
  * (`ncols/nrows/xllcorner|xllcenter/yllcorner|yllcenter/cellsize|dx,dy/
  * NODATA_value`) followed by `nrows` north-to-south rows of values.
  * Non-square `dx`/`dy` grids fail loudly (the engine's warp kernel is
  * square-pixel). CRS rides in a `.prj` sidecar, resolved through the WKT
  * hub — a state-plane or custom-parallels `.prj` works here exactly like
  * it does for shapefiles. */
object AsciiGrid {
  import GridFiles._

  def read(path: String, projectionArg: String = ""): GridData = {
    val text = graft.io.FileIO.readString(path)
    val lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
    val header = scala.collection.mutable.Map.empty[String, Double]
    val data = scala.collection.mutable.ArrayBuffer.empty[String]
    var inHeader = true
    lines.foreach { line =>
      val isKv = inHeader && line.head.isLetter
      if (isKv) {
        val parts = line.split("\\s+")
        require(parts.length == 2, s"$path: malformed header line '$line'")
        header(parts(0).toLowerCase) = parts(1).toDouble
      } else {
        inHeader = false
        data ++= line.split("\\s+")
      }
    }
    def need(k: String): Double = header.getOrElse(k,
      throw new IllegalArgumentException(s"$path: missing header '$k'"))
    val w = need("ncols").toInt
    val h = need("nrows").toInt
    require(w > 0 && h > 0, s"$path: non-positive grid size")
    val cell = header.get("cellsize").getOrElse {
      val dx = need("dx"); val dy = need("dy")
      require(math.abs(dx - dy) <= 1e-9 * math.max(dx.abs, dy.abs),
        s"$path: non-square dx=$dx dy=$dy not supported")
      dx
    }
    require(cell > 0, s"$path: non-positive cellsize")
    // llcenter is the CENTER of the lower-left pixel; llcorner its corner
    val xll = header.get("xllcorner")
      .orElse(header.get("xllcenter").map(_ - cell / 2)).getOrElse(
        throw new IllegalArgumentException(s"$path: missing xllcorner/xllcenter"))
    val yll = header.get("yllcorner")
      .orElse(header.get("yllcenter").map(_ - cell / 2)).getOrElse(
        throw new IllegalArgumentException(s"$path: missing yllcorner/yllcenter"))
    require(data.length == w * h,
      s"$path: expected ${w.toLong * h} values, found ${data.length}")
    val noData = header.getOrElse("nodata_value", -9999.0)
    val intKind = looksIntegral(data.iterator) &&
      header.get("nodata_value").forall(nd => nd == math.rint(nd) &&
        math.abs(nd) <= Int.MaxValue.toDouble)
    val values = new Array[Double](w * h)
    var i = 0
    while (i < values.length) { values(i) = data(i).toDouble; i += 1 }
    GridData(values, w, h, cell, xll, yll + h * cell, noData,
      resolveProjection(path, projectionArg),
      if (intKind) "int32" else "float64")
  }

  def write(path: String, values: Array[Double], w: Int, h: Int, bbox: Bbox,
      noData: Double, projection: String, dtypeName: String = "float64"): Unit = {
    require(values.length == w * h, "value count must equal w*h")
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"ASCII grid requires square pixels (got $cx × $cy)")
    val intKind = DType.byName(dtypeName).isInt
    val sb = new java.lang.StringBuilder
    sb.append("ncols ").append(w).append('\n')
    sb.append("nrows ").append(h).append('\n')
    sb.append("xllcorner ").append(bbox.x1.toString).append('\n')
    sb.append("yllcorner ").append(bbox.y1.toString).append('\n')
    sb.append("cellsize ").append(cx.toString).append('\n')
    sb.append("NODATA_value ").append(fmt(noData, intKind)).append('\n')
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(fmt(values(i * w + j), intKind))
        j += 1
      }
      sb.append('\n')
      i += 1
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), sb.toString)
    writePrj(path, projection)
  }
}

/** XYZ text codec (GDAL XYZ driver): one `x y z` line per cell, x/y at
  * CELL CENTERS on a uniform square grid; separators may be spaces, tabs,
  * commas or semicolons, with an optional non-numeric header line. The
  * reader accepts rows in any order (a superset of GDAL's sorted-scan
  * requirement) but requires the complete grid — a missing or duplicate
  * cell fails loudly rather than guessing. */
object Xyz {
  import GridFiles._

  def read(path: String, projectionArg: String = "",
      noDataArg: Double = Double.NaN): GridData = {
    val sep = "[,;\\s]+"
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, String)]
    val in = graft.io.FileIO.openStream(path)
    val it = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8")).lines()
    try it.forEach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        val t = line.split(sep)
        if (t.length >= 3 && t(0).nonEmpty) {
          val x = try Some(t(0).toDouble) catch { case _: NumberFormatException => None }
          x match {
            case Some(xv) => rows += ((xv, t(1).toDouble, t(2)))
            case None if rows.isEmpty => () // header line (column names)
            case None => throw new IllegalArgumentException(
              s"$path: non-numeric data line '$line'")
          }
        } else throw new IllegalArgumentException(
          s"$path: expected 'x y z' triples, got '$line'")
      }
    } finally it.close()
    require(rows.nonEmpty, s"$path: no data lines")
    val xs = rows.map(_._1).distinct.sorted
    val ys = rows.map(_._2).distinct.sorted
    val w = xs.length; val h = ys.length
    require(rows.length == w.toLong * h,
      s"$path: ${rows.length} points do not fill the $w×$h grid")
    def spacing(axis: scala.collection.IndexedSeq[Double], name: String): Double =
      if (axis.length < 2) 0.0
      else {
        val diffs = axis.sliding(2).map(p => p(1) - p(0)).toSeq
        val d = diffs.min
        require(diffs.forall(x => math.abs(x - d) <= 1e-6 * d),
          s"$path: non-uniform $name spacing")
        d
      }
    val dx = spacing(xs, "x"); val dy = spacing(ys, "y")
    val cell =
      if (dx > 0 && dy > 0) {
        require(math.abs(dx - dy) <= 1e-9 * math.max(dx, dy),
          s"$path: non-square spacing dx=$dx dy=$dy not supported")
        dx
      } else if (dx > 0) dx else if (dy > 0) dy
      else throw new IllegalArgumentException(
        s"$path: single-cell grid has no inferable cell size")
    val x0 = xs.head; val yMax = ys.last
    val values = new Array[Double](w * h)
    java.util.Arrays.fill(values, Double.NaN)
    val intKind = looksIntegral(rows.iterator.map(_._3))
    rows.foreach { case (x, y, z) =>
      val j = math.round((x - x0) / cell).toInt
      val i = math.round((yMax - y) / cell).toInt
      require(j >= 0 && j < w && i >= 0 && i < h &&
        math.abs(x0 + j * cell - x) <= 1e-6 * cell &&
        math.abs(yMax - i * cell - y) <= 1e-6 * cell,
        s"$path: point ($x, $y) off the uniform grid")
      require(values(i * w + j).isNaN, s"$path: duplicate cell at ($x, $y)")
      values(i * w + j) = z.toDouble
    }
    GridData(values, w, h, cell, x0 - cell / 2, yMax + cell / 2,
      noDataArg, resolveProjection(path, projectionArg),
      if (intKind) "int32" else "float64")
  }

  def write(path: String, values: Array[Double], w: Int, h: Int, bbox: Bbox,
      projection: String, dtypeName: String = "float64"): Unit = {
    require(values.length == w * h, "value count must equal w*h")
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"XYZ requires square pixels (got $cx × $cy)")
    val intKind = DType.byName(dtypeName).isInt
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < h) {
      val cyW = (bbox.y2 - (i + 0.5) * cx).toString
      var j = 0
      while (j < w) {
        sb.append((bbox.x1 + (j + 0.5) * cx).toString).append(' ')
          .append(cyW).append(' ')
          .append(GridFiles.fmt(values(i * w + j), intKind)).append('\n')
        j += 1
      }
      i += 1
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), sb.toString)
    writePrj(path, projection)
  }
}

/** PNG + world file codec (GDAL PNG driver semantics for grayscale): the
  * JDK's ImageIO provides the PNG bitstream; georeferencing comes from a
  * `.pgw`/`.wld` sidecar (6-line affine: A D B E C F with C/F at the
  * CENTER of the top-left pixel) and CRS from `.prj`. Only single-band
  * gray 8/16-bit is a raster in this model — palette/RGB files fail
  * loudly instead of silently taking one channel. Rotated world files
  * (B/D ≠ 0) are rejected; the warp kernel is axis-aligned. */
object PngWorld {
  // in-memory ImageIO cache (no temp file per encode/decode)
  javax.imageio.ImageIO.setUseCache(false)
  import GridFiles._

  def read(path: String, projectionArg: String = "",
      noDataArg: Double = Double.NaN): GridData = {
    val img = javax.imageio.ImageIO.read(new java.io.File(path))
    require(img != null, s"$path: not a decodable image")
    val raster = img.getRaster
    require(raster.getNumBands == 1 &&
      !(img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]),
      s"$path: only single-band grayscale PNG is a raster " +
        s"(got ${raster.getNumBands} band(s)" +
        (if (img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel])
           ", palette" else "") + ")")
    val bits = img.getColorModel.getPixelSize
    require(bits == 8 || bits == 16, s"$path: unsupported bit depth $bits")
    val w = img.getWidth; val h = img.getHeight
    val wf = Seq(".pgw", ".wld").map(e => stemOf(path) + e)
      .find(graft.io.FileIO.exists).getOrElse(
        throw new IllegalArgumentException(
          s"$path: no world file (.pgw/.wld) sidecar"))
    val nums = graft.io.FileIO.readString(wf).trim.split("\\s+")
      .map(_.toDouble)
    require(nums.length >= 6, s"$wf: world file needs 6 lines")
    val Array(a, d, b, e, c, f) = nums.take(6)
    require(b == 0 && d == 0, s"$wf: rotated world files not supported")
    require(a > 0 && e < 0, s"$wf: expected north-up grid (A>0, E<0)")
    require(math.abs(a + e) <= 1e-9 * a, s"$wf: non-square pixels $a × ${-e}")
    val values = new Array[Double](w * h)
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) { values(i * w + j) = raster.getSample(j, i, 0).toDouble; j += 1 }
      i += 1
    }
    GridData(values, w, h, a, c - a / 2, f - e / 2, noDataArg,
      resolveProjection(path, projectionArg),
      if (bits == 8) "uint8" else "uint16")
  }

  def write(path: String, values: Array[Double], w: Int, h: Int, bbox: Bbox,
      projection: String, bits: Int = 8): Unit = {
    require(values.length == w * h, "value count must equal w*h")
    require(bits == 8 || bits == 16, s"unsupported bit depth $bits")
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"PNG world file written here requires square pixels (got $cx × $cy)")
    val maxV = (1 << bits) - 1
    val img = new java.awt.image.BufferedImage(w, h,
      if (bits == 8) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) {
        val v = math.rint(values(i * w + j))
        require(v >= 0 && v <= maxV,
          s"value $v outside the $bits-bit range 0..$maxV at ($j, $i)")
        raster.setSample(j, i, 0, v.toInt)
        j += 1
      }
      i += 1
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    javax.imageio.ImageIO.write(img, "png", new java.io.File(path))
    Files.writeString(Paths.get(stemOf(path) + ".pgw"),
      Seq(cx, 0.0, 0.0, -cx, bbox.x1 + cx / 2, bbox.y2 - cx / 2)
        .map(_.toString).mkString("", "\n", "\n"))
    writePrj(path, projection)
  }
}

/** Shared source shape over the single-file grid codecs: a single file is
  * one frame; a directory of same-extension files is a frame per file in
  * name order (the sinks' own export layout). Text formats have no header
  * section, so metadata requires the (bounded) decode — memoized once. */
sealed trait GridFileRasterSource extends RasterBlock with graft.core.FileSource {
  def url: String
  def timeFirstMs: Long
  def timeDeltaMsArg: Long
  protected def extensions: Seq[String]
  protected def decode(path: String): GridFiles.GridData

  @transient private lazy val files: Seq[String] = {
    if (graft.io.FileIO.isDirectory(url)) {
      val fs = GridFiles.numericSort(graft.io.FileIO.list(url)
        .filter(f => extensions.exists(f.toLowerCase.endsWith(_))))
      require(fs.nonEmpty, s"$url: no ${extensions.mkString("/")} files")
      fs
    } else Seq(url)
  }

  @transient private lazy val memory: MemorySource = {
    val grids = files.map(decode)
    val g0 = grids.head
    require(grids.forall(g => g.w == g0.w && g.h == g0.h &&
      g.cellSize == g0.cellSize && g.originX == g0.originX &&
      g.originY == g0.originY && g.projection == g0.projection),
      s"$url: frames must share one grid and projection")
    MemorySource(grids.map(_.values), g0.w, g0.h, g0.noData, g0.projection,
      g0.cellSize, g0.originX, g0.originY, timeFirstMs,
      if (grids.size > 1) Some(timeDeltaMsArg) else None, g0.dtypeName)
  }

  override def dtype: DType = memory.dtype
  override def projection: String = memory.projection
  override def temporal: Boolean = memory.temporal
  override def timeDeltaMs: Option[Long] = memory.timeDeltaMs
  override def period: Option[(Instant, Instant)] = memory.period
  override def extent: Option[Bbox] = memory.extent
  override def cellSize: Option[Double] = memory.cellSize
  override def allTimes: Seq[Instant] = memory.allTimes
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame =
    memory.frame(req)
}

/** ESRI ASCII Grid source (`.asc` + optional `.prj`). */
case class AsciiGridSource(url: String, timeFirstMs: Long = 0L,
    timeDeltaMsArg: Long = 300000L, projectionArg: String = "")
    extends GridFileRasterSource {
  protected def extensions: Seq[String] = Seq(".asc")
  protected def decode(path: String): GridFiles.GridData =
    AsciiGrid.read(path, projectionArg)
}

/** XYZ text source (`.xyz` + optional `.prj`). `noDataArg` declares which
  * written value is the sentinel (the format itself has no nodata). */
case class XyzSource(url: String, timeFirstMs: Long = 0L,
    timeDeltaMsArg: Long = 300000L, projectionArg: String = "",
    noDataArg: Double = Double.NaN) extends GridFileRasterSource {
  protected def extensions: Seq[String] = Seq(".xyz")
  protected def decode(path: String): GridFiles.GridData =
    Xyz.read(path, projectionArg, noDataArg)
}

/** Grayscale PNG + world-file source (`.png` + `.pgw`/`.wld` + optional
  * `.prj`). */
case class PngSource(url: String, timeFirstMs: Long = 0L,
    timeDeltaMsArg: Long = 300000L, projectionArg: String = "",
    noDataArg: Double = Double.NaN) extends GridFileRasterSource {
  protected def extensions: Seq[String] = Seq(".png")
  protected def decode(path: String): GridFiles.GridData =
    PngWorld.read(path, projectionArg, noDataArg)
}

/** The one raster format probe: which codec reads a path. A Zarr store
  * (a directory holding a store marker, or any `.zarr` name) is `zarr`;
  * any other directory has no kind of its own. A file is known by its
  * extension, except that NetCDF-4 files ARE HDF5 containers behind the
  * same extensions, so `.nc`/`.nc4`/`.h5`/`.hdf5` route on the magic
  * bytes (`h5` or `nc`). [[RasterFileSource]], the `graft-raster`
  * connector and [[Zarr.readMeta]] all decide here. */
object RasterFormat {
  private val byExtension: Seq[(String, String)] = Seq(
    ".tif" -> "tif", ".tiff" -> "tif", ".asc" -> "asc", ".xyz" -> "xyz",
    ".png" -> "png", ".hdr" -> "envi", ".dat" -> "envi", ".img" -> "envi",
    ".nc" -> "nc", ".nc4" -> "nc", ".h5" -> "nc", ".hdf5" -> "nc",
    ".gpkg" -> "gpkg", ".grib" -> "grib", ".grib2" -> "grib",
    ".grb" -> "grib", ".grb2" -> "grib", ".vrt" -> "vrt")

  val extensions: Seq[String] = byExtension.map(_._1)

  /** The kind of a file, by extension (NetCDF/HDF5 by magic). */
  def fileKind(path: String): Option[String] = {
    val n = graft.io.FileIO.name(path).toLowerCase
    byExtension.collectFirst { case (e, k) if n.endsWith(e) => k }
      .map(k => if (k == "nc" && Hdf5.isHdf5(path)) "h5" else k)
  }

  /** The kind of a path: `zarr` for a store, none for any other
    * directory, else [[fileKind]]. */
  def kindOf(path: String): Option[String] =
    if (graft.io.FileIO.name(path).toLowerCase.endsWith(".zarr")) Some("zarr")
    else if (!graft.io.FileIO.isDirectory(path)) fileKind(path)
    else Some("zarr").filter(_ => Zarr.isStore(path))
}

/** Extension-dispatching factory matching the reference's GDAL-backed
  * `RasterFileSource(url, time_first, time_delta)` surface
  * (raster/sources.py:396-564): one constructor, format chosen by
  * [[RasterFormat]]. Directories dispatch on their first matching file. */
object RasterFileSource {
  def apply(url: String, timeFirstMs: Long = 0L,
      timeDeltaMs: Long = 300000L): RasterBlock = {
    def formats = RasterFormat.extensions.mkString(", ")
    val (probe, kind) = RasterFormat.kindOf(url).map(url -> _).getOrElse {
      require(graft.io.FileIO.isDirectory(url),
        s"$url: unsupported raster format ($formats)")
      graft.io.FileIO.list(url).iterator
        .flatMap(f => RasterFormat.fileKind(f).map(f -> _)).nextOption()
        .getOrElse(throw new IllegalArgumentException(
          s"$url: no raster files ($formats)"))
    }
    kind match {
      case "zarr" => ZarrSource(url)
      case "tif" => GeoTiffSource(url, timeFirstMs, timeDeltaMs)
      case "asc" => AsciiGridSource(url, timeFirstMs, timeDeltaMs)
      case "xyz" => XyzSource(url, timeFirstMs, timeDeltaMs)
      case "png" => PngSource(url, timeFirstMs, timeDeltaMs)
      case "envi" => EnviSource(probe, timeFirstMs, timeDeltaMs)
      case "nc" => NetCdfSource(probe)
      case "h5" => Hdf5Source(probe)
      // tile pyramid (a vector gpkg is a GeometryFileSource)
      case "gpkg" => GpkgRasterSource(probe)
      case "grib" => GribSource(probe)
      case "vrt" => VrtSource(probe, timeFirstMs, timeDeltaMs)
    }
  }
}

/** Per-frame file sinks mirroring GeoTiffSink's layout: one
  * `frame_<epochMs>.<ext>` per frame plus a `manifest.json`. */
sealed trait GridFileSink {
  def source: RasterBlock
  def url: String
  protected def ext: String
  protected def writeOne(path: String, values: Array[Double],
      req: RasterRequest, noData: Double): Unit

  def write(req: RasterRequest)(implicit spark: SparkSession): Seq[String] = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val paths = res.times.zipWithIndex.map { case (t, i) =>
      val p = s"$url/frame_${t.toEpochMilli}.$ext"
      writeOne(p, res.values(i), req, res.noDataValue)
      p
    }
    val manifest = Map("type" -> s"graft-$ext-v1",
      "frames" -> res.times.map(_.toEpochMilli), "files" -> paths)
    Files.createDirectories(Paths.get(url))
    Files.writeString(Paths.get(url, "manifest.json"), Json.render(manifest))
    paths
  }
}

case class AsciiGridSink(source: RasterBlock, url: String) extends GridFileSink {
  protected def ext: String = "asc"
  protected def writeOne(path: String, values: Array[Double],
      req: RasterRequest, noData: Double): Unit =
    AsciiGrid.write(path, values, req.width, req.height, req.bbox, noData,
      req.projection, source.dtype.name)
}

case class XyzSink(source: RasterBlock, url: String) extends GridFileSink {
  protected def ext: String = "xyz"
  protected def writeOne(path: String, values: Array[Double],
      req: RasterRequest, noData: Double): Unit =
    Xyz.write(path, values, req.width, req.height, req.bbox,
      req.projection, source.dtype.name)
}

case class PngSink(source: RasterBlock, url: String, bits: Int = 8)
    extends GridFileSink {
  protected def ext: String = "png"
  protected def writeOne(path: String, values: Array[Double],
      req: RasterRequest, noData: Double): Unit =
    PngWorld.write(path, values, req.width, req.height, req.bbox,
      req.projection, bits)
}
