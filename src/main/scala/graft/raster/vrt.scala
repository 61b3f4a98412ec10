package graft.raster

import java.io.StringReader
import java.nio.file.{Files, Paths}
import java.time.Instant
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** GDAL `.vrt` XML mosaic reader — the foreign-interop counterpart of
  * the JSON manifest GeoTiffSink writes (the reference both writes and
  * re-reads GDAL VRTs around its tiler, dask_geomodeling/raster/
  * sinks.py:123-141).
  *
  * Subset (anything else fails LOUDLY): `<VRTDataset>` with
  * `<GeoTransform>` (north-up, no rotation/shear), `<SRS>` as WKT or an
  * `EPSG:n` code, one or more `<VRTRasterBand>` (bands map onto the
  * synthetic time axis exactly like a multiband GeoTIFF), each holding
  * `<NoDataValue>` and `<SimpleSource>` entries — `SourceFilename`
  * (`relativeToVRT` honored), `SourceBand`, pixel-aligned `SrcRect` /
  * `DstRect` of EQUAL size (no implicit resampling), GeoTIFF sources.
  * `ComplexSource`, `subClass` bands (warped/derived VRTs), and kernel
  * filters are out of scope and rejected by name.
  */
object Vrt {

  case class Src(file: String, band: Int, srcX: Int, srcY: Int,
      srcW: Int, srcH: Int, dstX: Int, dstY: Int)

  case class Meta(w: Int, h: Int, projection: String, originX: Double,
      originY: Double, cellW: Double, cellH: Double, noData: Double,
      bands: Seq[Seq[Src]])

  private val inputFactory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.FALSE)
      // XXE hardening: a mosaic descriptor never needs external entities
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
        java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f
    }
  }

  private case class RectAttrs(x: Int, y: Int, w: Int, h: Int)

  /** A `<SimpleSource>` as written: absent rects not yet resolved. */
  private case class Pending(file: String, band: Int,
      src: Option[RectAttrs], dst: Option[RectAttrs])

  /** Every `SourceFilename` of the descriptor at `path`, `relativeToVRT`
    * resolved, without opening any of them. */
  def sourceFiles(path: String): Seq[String] =
    parse(path)._2.flatten.map(_.file).distinct

  def readMeta(path: String): Meta = {
    val (m, pending) = parse(path)
    m.copy(bands = pending.map(_.map { p =>
      // absent rects default to the whole source / same-size dst at
      // origin — resolve via a header-only tile read
      val (sr, dr) = (p.src, p.dst) match {
        case (Some(a), Some(b)) => (a, b)
        case _ =>
          val t = GeoTiff.readMeta(p.file)
          val full = RectAttrs(0, 0, t.w, t.h)
          (p.src.getOrElse(full), p.dst.getOrElse(full))
      }
      require(sr.w == dr.w && sr.h == dr.h,
        s"$path: SrcRect ${sr.w}x${sr.h} != DstRect ${dr.w}x${dr.h}" +
          " (resampling sources not supported)")
      Src(p.file, p.band, sr.x, sr.y, sr.w, sr.h, dr.x, dr.y)
    }))
  }

  /** The descriptor's header (no bands) and its sources as written. */
  private def parse(path: String): (Meta, Seq[Seq[Pending]]) = {
    val dir = Paths.get(path).toAbsolutePath.getParent
    val text = Files.readString(Paths.get(path))
    val r = inputFactory.get().createXMLStreamReader(new StringReader(text))
    var w = -1; var h = -1
    var srs = ""
    var gt: Array[Double] = null
    var noData = Double.NaN
    val bands = Seq.newBuilder[Seq[Pending]]
    var curBand: scala.collection.mutable.ArrayBuffer[Pending] = null
    // current SimpleSource state
    var inSource = false
    var sFile = ""; var sBand = 1
    var sSrc: Option[RectAttrs] = None
    var sDst: Option[RectAttrs] = None
    var textBuf: StringBuilder = null

    def rect(rd: XMLStreamReader): RectAttrs = {
      def a(n: String): Int = {
        val v = rd.getAttributeValue(null, n)
        require(v != null, s"$path: <${rd.getLocalName}> missing $n")
        val d = v.trim.toDouble
        // GDAL allows fractional (sub-pixel resampling) rects; this
        // codec's whole-pixel subset must reject them loudly rather
        // than silently snap by up to half a pixel
        require(d == math.rint(d),
          s"$path: <${rd.getLocalName}> $n=$v is fractional — " +
            "sub-pixel SrcRect/DstRect windows are not supported")
        d.toInt
      }
      RectAttrs(a("xOff"), a("yOff"), a("xSize"), a("ySize"))
    }

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val name = r.getLocalName
            name match {
              case "VRTDataset" =>
                w = Option(r.getAttributeValue(null, "rasterXSize"))
                  .map(_.trim.toInt).getOrElse(
                    throw new IllegalArgumentException(
                      s"$path: VRTDataset missing rasterXSize"))
                h = Option(r.getAttributeValue(null, "rasterYSize"))
                  .map(_.trim.toInt).getOrElse(
                    throw new IllegalArgumentException(
                      s"$path: VRTDataset missing rasterYSize"))
              case "SRS" | "GeoTransform" | "NoDataValue" | "SourceFilename" |
                "SourceBand" =>
                textBuf = new StringBuilder()
                if (name == "SourceFilename") {
                  val rel = r.getAttributeValue(null, "relativeToVRT")
                  sFile = if (rel != null && rel.trim == "1") "REL:" else "ABS:"
                }
              case "VRTRasterBand" =>
                val sub = r.getAttributeValue(null, "subClass")
                require(sub == null,
                  s"$path: VRTRasterBand subClass='$sub' not supported " +
                    "(only plain mosaic bands)")
                curBand = scala.collection.mutable.ArrayBuffer.empty[Pending]
              case "SimpleSource" =>
                inSource = true; sFile = ""; sBand = 1; sSrc = None; sDst = None
              case "ComplexSource" | "KernelFilteredSource" |
                "AveragedSource" | "NoDataFromMaskSource" =>
                throw new IllegalArgumentException(
                  s"$path: <$name> not supported (only SimpleSource)")
              case "SrcRect" if inSource => sSrc = Some(rect(r))
              case "DstRect" if inSource => sDst = Some(rect(r))
              case _ => // OverviewList, Metadata, ColorInterp, ... : ignore
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (textBuf != null) textBuf.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            val name = r.getLocalName
            name match {
              case "SRS" => srs = textBuf.toString.trim; textBuf = null
              case "GeoTransform" =>
                gt = textBuf.toString.split(",").map(_.trim.toDouble)
                require(gt.length == 6, s"$path: GeoTransform needs 6 values")
                textBuf = null
              case "NoDataValue" =>
                noData = textBuf.toString.trim.toDouble; textBuf = null
              case "SourceFilename" =>
                val prefix = sFile
                val body = textBuf.toString.trim
                sFile =
                  if (prefix == "REL:") dir.resolve(body).toString else body
                textBuf = null
              case "SourceBand" =>
                sBand = textBuf.toString.trim.toInt; textBuf = null
              case "SimpleSource" =>
                require(curBand != null,
                  s"$path: SimpleSource outside VRTRasterBand")
                require(sFile.nonEmpty, s"$path: SimpleSource without file")
                curBand += Pending(sFile, sBand, sSrc, sDst)
                inSource = false
              case "VRTRasterBand" =>
                bands += curBand.toSeq; curBand = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    require(w > 0 && h > 0, s"$path: no <VRTDataset> element")
    require(gt != null, s"$path: missing <GeoTransform>")
    require(gt(2) == 0.0 && gt(4) == 0.0,
      s"$path: rotated/sheared GeoTransform not supported")
    require(gt(1) > 0 && gt(5) < 0,
      s"$path: GeoTransform must be north-up (pixel ${gt(1)} x ${gt(5)})")
    val allBands = bands.result()
    require(allBands.nonEmpty, s"$path: no <VRTRasterBand>")
    val projection =
      if (srs.isEmpty) "" else Proj.normalize(srs)
    (Meta(w, h, projection, gt(0), gt(3), gt(1), -gt(5), noData, Nil),
      allBands)
  }

  /** Materialize one band: nodata-filled canvas + rect copies from each
    * source tile. `window` restricts the decode to sources intersecting
    * the given dst-pixel range (the mosaic-prune path). */
  def readBand(m: Meta, band: Int,
      window: Option[(Int, Int, Int, Int)] = None): Array[Double] = {
    val (wx0, wy0, wx1, wy1) = window.getOrElse((0, 0, m.w, m.h))
    val ww = wx1 - wx0; val wh = wy1 - wy0
    val nd = if (m.noData.isNaN) Double.MaxValue else m.noData
    val out = Array.fill(ww * wh)(nd)
    m.bands(band).foreach { s =>
      if (s.dstX < wx1 && s.dstX + s.srcW > wx0 &&
        s.dstY < wy1 && s.dstY + s.srcH > wy0) {
        val t = GeoTiff.read(s.file)
        require(s.band >= 1 && s.band <= t.bandCount,
          s"${s.file}: SourceBand ${s.band} of ${t.bandCount}")
        require(s.srcX >= 0 && s.srcY >= 0 && s.srcX + s.srcW <= t.w &&
          s.srcY + s.srcH <= t.h,
          s"${s.file}: SrcRect exceeds the ${t.w}x${t.h} tile")
        val vals = t.bands(s.band - 1)
        var dy = math.max(0, wy0 - s.dstY)
        val dyEnd = math.min(s.srcH, wy1 - s.dstY)
        while (dy < dyEnd) {
          var dx = math.max(0, wx0 - s.dstX)
          val dxEnd = math.min(s.srcW, wx1 - s.dstX)
          val srcRow = (s.srcY + dy) * t.w
          val dstRow = (s.dstY + dy - wy0) * ww
          while (dx < dxEnd) {
            val v = vals(srcRow + s.srcX + dx)
            out(dstRow + s.dstX + dx - wx0) =
              if (v == t.noData || (v.isNaN && t.noData.isNaN)) nd else v
            dx += 1
          }
          dy += 1
        }
      }
    }
    out
  }
}

/** VRT mosaic raster source. Bands map onto the synthetic time axis
  * (one frame per band — the multiband GeoTIFF convention). Single-band
  * same-CRS requests decode ONLY the source tiles whose DstRect
  * intersects the request window: at scale a mosaic of thousands of
  * tiles serves a city-sized request by touching a handful of files. */
case class VrtSource(url: String, timeFirstMs: Long = 0L,
    timeDeltaMsArg: Long = 300000L) extends RasterBlock with graft.core.FileSource {

  @transient private lazy val meta: Vrt.Meta = Vrt.readMeta(url)

  /** The descriptor, then the GeoTIFFs it names. */
  override def paths: Seq[String] =
    LazyList(url).lazyAppendedAll(Vrt.sourceFiles(url))

  private def nd: Double =
    if (meta.noData.isNaN) Double.MaxValue else meta.noData

  @transient private lazy val memory: MemorySource = {
    val frames = meta.bands.indices.map(b => Vrt.readBand(meta, b))
    MemorySource(frames, meta.w, meta.h, nd, meta.projection, meta.cellW,
      meta.originX, meta.originY, timeFirstMs,
      if (meta.bands.length > 1) Some(timeDeltaMsArg) else None, "float64")
  }

  override def dtype: DType = DType.F8
  override def projection: String = meta.projection
  override def temporal: Boolean = meta.bands.length > 1
  override def timeDeltaMs: Option[Long] =
    if (temporal) Some(timeDeltaMsArg) else None
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(timeFirstMs), Instant.ofEpochMilli(
      timeFirstMs + timeDeltaMs.getOrElse(0L) * (meta.bands.length - 1))))
  override def extent: Option[Bbox] = Some(Bbox(
    meta.originX, meta.originY - meta.h * meta.cellH,
    meta.originX + meta.w * meta.cellW, meta.originY))
  override def cellSize: Option[Double] =
    if (meta.cellW == meta.cellH) Some(meta.cellW) else None
  override def allTimes: Seq[Instant] =
    meta.bands.indices.map(i => Instant.ofEpochMilli(
      timeFirstMs + timeDeltaMs.getOrElse(0L) * i))

  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val sameCrs = meta.bands.length == 1 &&
      (try Proj.normalize(req.projection) == Proj.normalize(projection)
       catch { case _: IllegalArgumentException => false })
    if (!sameCrs) memory.frame(req)
    else {
      // mosaic prune: clamp the request (padded 1 cell — nearest-
      // neighbor never reaches past the adjacent cell) to dst pixel
      // space and decode only touched tiles
      val px0 = math.max(0,
        math.floor((req.bbox.x1 - meta.originX) / meta.cellW).toInt - 1)
      val px1 = math.min(meta.w,
        math.ceil((req.bbox.x2 - meta.originX) / meta.cellW).toInt + 1)
      val py0 = math.max(0,
        math.floor((meta.originY - req.bbox.y2) / meta.cellH).toInt - 1)
      val py1 = math.min(meta.h,
        math.ceil((meta.originY - req.bbox.y1) / meta.cellH).toInt + 1)
      if (px0 >= px1 || py0 >= py1) memory.frame(req)
      else {
        val vals = Vrt.readBand(meta, 0, Some((px0, py0, px1, py1)))
        MemorySource(Seq(vals), px1 - px0, py1 - py0, nd, meta.projection,
          meta.cellW, meta.originX + px0 * meta.cellW,
          meta.originY - py0 * meta.cellH, timeFirstMs, None, "float64")
          .frame(req)
      }
    }
  }
}
