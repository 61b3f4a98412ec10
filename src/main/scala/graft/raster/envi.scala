package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths, Path}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ENVI raw-binary raster codec (GDAL's ENVI driver): a flat binary data
  * file plus a text `.hdr` sidecar describing dimensions, data type,
  * interleave (bsq/bil/bip), byte order and georeferencing (`map info`,
  * optional `coordinate system string`). The reference reads this through
  * GDAL's format autodetection in `RasterFileSource`
  * (dask_geomodeling/raster/sources.py:396-564).
  *
  * Bands map onto the synthetic time axis — one band per frame — exactly
  * like the multiband GeoTIFF path, so a whole time stack round-trips
  * through ONE `.dat`/`.hdr` pair. Reads accept all three interleaves and
  * both byte orders; writes emit band-sequential little-endian, the
  * layout every other tool defaults to.
  *
  * Scale note: like the other sidecar exchange formats this is a bounded
  * driver-side codec — the cluster-scale paths remain parquet/COG. Header
  * parsing is metadata-only (no pixel bytes), so constructing a source
  * over a 100 GB stack costs one small text read until pixels are asked
  * for.
  */
object Envi {

  /** ENVI `data type` codes (public ENVI header spec). */
  private val dtypeByCode: Map[Int, DType] = Map(
    1 -> DType.U1, 2 -> DType.I2, 3 -> DType.I4, 4 -> DType.F4,
    5 -> DType.F8, 12 -> DType.U2, 13 -> DType.U4, 14 -> DType.I8,
    15 -> DType.U8)
  private val codeByDtype: Map[DType, Int] = dtypeByCode.map(_.swap)

  case class Header(
      samples: Int, lines: Int, bands: Int, dtype: DType,
      interleave: String, byteOrder: Int, headerOffset: Long,
      cellSize: Double, originX: Double, originY: Double,
      noData: Double, projection: String)

  /** `(headerPath, dataPath)` from a url naming either file. */
  def resolvePaths(url: String): (String, String) = {
    def firstExisting(cands: Seq[String], what: String): String =
      cands.find(graft.io.FileIO.exists).getOrElse(
        throw new IllegalArgumentException(
          s"$url: no $what found (tried ${cands.mkString(", ")})"))
    if (url.toLowerCase.endsWith(".hdr")) {
      val stem = GridFiles.stemOf(url)
      val data = firstExisting(
        Seq(stem, stem + ".dat", stem + ".img", stem + ".bsq", stem + ".raw")
          .filterNot(_ == url), "ENVI data file")
      (url, data)
    } else {
      val hdr = firstExisting(
        Seq(GridFiles.stemOf(url) + ".hdr", url + ".hdr"),
        "ENVI .hdr sidecar")
      (hdr, url)
    }
  }

  /** Parse the `.hdr` text: `key = value` lines where a value may be a
    * brace-enclosed, comma-separated (possibly multi-line) list. */
  def readHeader(url: String, projectionArg: String = ""): Header = {
    val (hdrPath, dataPath) = resolvePaths(url)
    val text = graft.io.FileIO.readString(hdrPath)
    require(text.linesIterator.hasNext &&
      text.linesIterator.next().trim.equalsIgnoreCase("ENVI"),
      s"$hdrPath: not an ENVI header (missing ENVI magic line)")
    val kv = scala.collection.mutable.Map.empty[String, String]
    val it = text.linesIterator.drop(1)
    while (it.hasNext) {
      val line = it.next()
      val eq = line.indexOf('=')
      if (eq > 0) {
        val key = line.substring(0, eq).trim.toLowerCase
        var value = line.substring(eq + 1).trim
        if (value.startsWith("{")) {
          val sb = new StringBuilder(value)
          while (!sb.toString.contains("}") && it.hasNext)
            sb.append('\n').append(it.next())
          value = sb.toString
          val close = value.indexOf('}')
          require(close >= 0, s"$hdrPath: unterminated { in '$key'")
          value = value.substring(1, close).trim
        }
        kv(key) = value
      }
    }
    def need(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"$hdrPath: missing '$k'"))
    val samples = need("samples").trim.toInt
    val lines = need("lines").trim.toInt
    val bands = kv.getOrElse("bands", "1").trim.toInt
    require(samples > 0 && lines > 0 && bands > 0,
      s"$hdrPath: non-positive dimensions $samples×$lines×$bands")
    val code = need("data type").trim.toInt
    val dt = dtypeByCode.getOrElse(code, throw new IllegalArgumentException(
      s"$hdrPath: unsupported ENVI data type $code"))
    val interleave = kv.getOrElse("interleave", "bsq").trim.toLowerCase
    require(Seq("bsq", "bil", "bip").contains(interleave),
      s"$hdrPath: unknown interleave '$interleave'")
    val byteOrder = kv.getOrElse("byte order", "0").trim.toInt
    require(byteOrder == 0 || byteOrder == 1,
      s"$hdrPath: byte order must be 0 or 1")
    val offset = kv.getOrElse("header offset", "0").trim.toLong
    require(offset >= 0, s"$hdrPath: negative header offset")

    // map info = {name, refX, refY, tieE, tieN, xSize, ySize, ...}
    // tie easting/northing is the UPPER-LEFT corner of pixel (refX, refY),
    // 1-based (the GDAL-written convention: refX = refY = 1).
    val mi = need("map info").split(",").map(_.trim)
    require(mi.length >= 7, s"$hdrPath: map info needs 7+ fields")
    val refX = mi(1).toDouble; val refY = mi(2).toDouble
    val tieE = mi(3).toDouble; val tieN = mi(4).toDouble
    val xs = mi(5).toDouble; val ys = mi(6).toDouble
    require(xs > 0 && ys > 0, s"$hdrPath: non-positive pixel size")
    require(math.abs(xs - ys) <= 1e-9 * math.max(xs, ys),
      s"$hdrPath: non-square pixels $xs × $ys not supported")
    val originX = tieE - (refX - 1) * xs
    val originY = tieN + (refY - 1) * ys
    val noData = kv.get("data ignore value").map(_.trim.toDouble)
      .getOrElse(dt.noDataValue)
    val projection = kv.get("coordinate system string")
      .map(ws => Proj.normalize(ws.trim))
      .getOrElse(GridFiles.resolveProjection(dataPath.toString, projectionArg))
    Header(samples, lines, bands, dt, interleave, byteOrder, offset,
      xs, originX, originY, noData, projection)
  }

  /** Decode every band (top row first, row-major doubles). */
  def readBands(url: String, projectionArg: String = ""): (Header, Seq[Array[Double]]) = {
    val h = readHeader(url, projectionArg)
    val (_, dataPath) = resolvePaths(url)
    val n = h.samples.toLong * h.lines * h.bands
    val needBytes = h.headerOffset + n * h.dtype.size
    val fileLen = graft.io.FileIO.size(dataPath)
    require(fileLen >= needBytes,
      s"$dataPath: ${fileLen} bytes < $needBytes required by the header")
    require(n <= Int.MaxValue / 8, s"$dataPath: stack too large for one read")
    val raw = graft.io.FileIO.readAllBytes(dataPath)
    val buf = ByteBuffer.wrap(raw, h.headerOffset.toInt, (n * h.dtype.size).toInt)
      .order(if (h.byteOrder == 0) ByteOrder.LITTLE_ENDIAN
             else ByteOrder.BIG_ENDIAN)
    def next(): Double = h.dtype match {
      case DType.U1 => (buf.get() & 0xFF).toDouble
      case DType.I2 => buf.getShort().toDouble
      case DType.U2 => (buf.getShort() & 0xFFFF).toDouble
      case DType.I4 => buf.getInt().toDouble
      case DType.U4 => (buf.getInt() & 0xFFFFFFFFL).toDouble
      case DType.I8 => buf.getLong().toDouble
      case DType.U8 =>
        val l = buf.getLong()
        if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552e19
      case DType.F4 => buf.getFloat().toDouble
      case _        => buf.getDouble()
    }
    val px = h.samples * h.lines
    val bandArr = Array.fill(h.bands)(new Array[Double](px))
    h.interleave match {
      case "bsq" =>
        var b = 0
        while (b < h.bands) {
          val arr = bandArr(b); var i = 0
          while (i < px) { arr(i) = next(); i += 1 }
          b += 1
        }
      case "bil" =>
        var row = 0
        while (row < h.lines) {
          var b = 0
          while (b < h.bands) {
            val arr = bandArr(b); var j = 0
            while (j < h.samples) { arr(row * h.samples + j) = next(); j += 1 }
            b += 1
          }
          row += 1
        }
      case _ => // bip
        var i = 0
        while (i < px) {
          var b = 0
          while (b < h.bands) { bandArr(b)(i) = next(); b += 1 }
          i += 1
        }
    }
    (h, bandArr.toSeq)
  }

  /** Write a band stack as band-sequential little-endian + `.hdr`
    * (+ `.prj` sidecar when the projection has a WKT form). */
  def write(dataPath: String, bands: Seq[Array[Double]], w: Int, h: Int,
      bbox: Bbox, noData: Double, projection: String,
      dtypeName: String = "float64"): Unit = {
    require(bands.nonEmpty && bands.forall(_.length == w * h),
      "band size must equal w*h")
    val dt = DType.byName(dtypeName)
    val code = codeByDtype.getOrElse(dt, throw new IllegalArgumentException(
      s"dtype $dtypeName has no ENVI data type code"))
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"ENVI written here requires square pixels (got $cx × $cy)")
    val buf = ByteBuffer.allocate(bands.size * w * h * dt.size)
      .order(ByteOrder.LITTLE_ENDIAN)
    bands.foreach { arr =>
      var i = 0
      while (i < arr.length) {
        val v = arr(i)
        dt match {
          case DType.U1 | DType.I1 => buf.put(math.rint(v).toInt.toByte)
          case DType.I2 | DType.U2 => buf.putShort(math.rint(v).toInt.toShort)
          case DType.I4 | DType.U4 => buf.putInt(math.rint(v).toLong.toInt)
          case DType.I8 | DType.U8 => buf.putLong(math.rint(v).toLong)
          case DType.F4            => buf.putFloat(v.toFloat)
          case _                   => buf.putDouble(v)
        }
        i += 1
      }
    }
    val p = Paths.get(dataPath)
    Option(p.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.write(p, buf.array())
    val sb = new StringBuilder("ENVI\n")
    sb.append("description = {graft ENVI export}\n")
    sb.append("samples = ").append(w).append('\n')
    sb.append("lines = ").append(h).append('\n')
    sb.append("bands = ").append(bands.size).append('\n')
    sb.append("header offset = 0\n")
    sb.append("file type = ENVI Standard\n")
    sb.append("data type = ").append(code).append('\n')
    sb.append("interleave = bsq\n")
    sb.append("byte order = 0\n")
    sb.append("map info = {Arbitrary, 1, 1, ").append(bbox.x1)
      .append(", ").append(bbox.y2).append(", ").append(cx)
      .append(", ").append(cx).append(", units=Meters}\n")
    WktSrs.toWkt(projection).foreach(wkt =>
      sb.append("coordinate system string = {").append(wkt).append("}\n"))
    sb.append("data ignore value = ")
      .append(GridFiles.fmt(noData, dt.isInt)).append('\n')
    Files.writeString(Paths.get(GridFiles.stemOf(dataPath) + ".hdr"),
      sb.toString)
    GridFiles.writePrj(dataPath, projection)
  }
}

/** ENVI raw-binary source: bands → time frames (`timeFirstMs` +
  * `timeDeltaMsArg` spacing). Metadata comes from the `.hdr` alone — no
  * pixel bytes are touched until a frame is requested. */
case class EnviSource(url: String, timeFirstMs: Long = 0L,
    timeDeltaMsArg: Long = 300000L, projectionArg: String = "")
    extends RasterBlock with graft.core.FileSource {

  @transient private lazy val header: Envi.Header =
    Envi.readHeader(url, projectionArg)

  @transient private lazy val memory: MemorySource = {
    val (h, bands) = Envi.readBands(url, projectionArg)
    MemorySource(bands, h.samples, h.lines, h.noData, h.projection,
      h.cellSize, h.originX, h.originY, timeFirstMs,
      if (h.bands > 1) Some(timeDeltaMsArg) else None, h.dtype.name)
  }

  override def dtype: DType = header.dtype
  override def projection: String = header.projection
  override def temporal: Boolean = header.bands > 1
  override def timeDeltaMs: Option[Long] =
    if (header.bands > 1) Some(timeDeltaMsArg) else None
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(timeFirstMs), Instant.ofEpochMilli(
      timeFirstMs + timeDeltaMs.getOrElse(0L) * (header.bands - 1))))
  override def extent: Option[Bbox] = Some(Bbox(
    header.originX, header.originY - header.lines * header.cellSize,
    header.originX + header.samples * header.cellSize, header.originY))
  override def cellSize: Option[Double] = Some(header.cellSize)
  override def allTimes: Seq[Instant] = (0 until header.bands).map(i =>
    Instant.ofEpochMilli(timeFirstMs + timeDeltaMs.getOrElse(0L) * i))
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame =
    memory.frame(req)
}

/** ENVI sink: the WHOLE requested time stack goes into one
  * `.dat`/`.hdr` pair (bands = frames), unlike the per-frame text sinks. */
case class EnviSink(source: RasterBlock, url: String) {
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val dataPath =
      if (url.toLowerCase.endsWith(".dat") || url.toLowerCase.endsWith(".img"))
        url
      else s"$url/stack.dat"
    Envi.write(dataPath, res.values, req.width, req.height, req.bbox,
      res.noDataValue, req.projection, source.dtype.name)
    dataPath
  }
}
