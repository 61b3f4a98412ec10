package graft.geometry

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LineString, MultiLineString, MultiPoint, Point}

/** GPX 1.1 codec (the public Topografix schema, the format every GPS
  * device and fitness service exchanges) — the `.gpx` branch of the
  * reference's OGR-backed `GeometryFileSource`/`to_file`
  * (geometry/sources.py:18-159; OGR exposes GPX as waypoints/tracks
  * layers).
  *
  * GPX is WGS84 lat/lon BY SPECIFICATION (`lat`/`lon` attributes, schema
  * 1.1): the sink reprojects on write and the source always reports
  * EPSG:4326 — the same contract as the KML codec. Two layers exist:
  * `waypoints` (`<wpt>` → Point) and `tracks` (`<trk>` → LineString, one
  * `<trkseg>`; MultiLineString over several). Standard GPX children
  * (`ele`, `time`, `name`, `cmt`, `desc`, `src`, `sym`, `type`) map to
  * columns; any other column rides in `<extensions>` under a `graft:`
  * prefix, where the fid also persists (GPX itself has no feature id).
  *
  * The reader splits the document on `</wpt>`/`</trk>` via the text
  * source's `lineSep`, so element parsing is a narrow executor-side map
  * over the distributed text scan — the same scale shape as the GML and
  * KML readers. Polygons have no GPX representation and fail loudly
  * (OGR's driver drops them silently; loud beats silent).
  */
object Gpx {

  /** Standard GPX wpt/trk children in XSD sequence order; ele/time first
    * (wpt), the descriptive block after. `ele` is the one double. */
  val StdFields: Seq[(String, String)] = Seq(
    "ele" -> "double", "time" -> "string", "name" -> "string",
    "cmt" -> "string", "desc" -> "string", "src" -> "string",
    "sym" -> "string", "type" -> "string")
  private val stdOrder = StdFields.map(_._1)
  private val stdSet = stdOrder.toSet

  private val inputFactory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f
    }
  }

  private def localName(r: XMLStreamReader): String = {
    val n = r.getLocalName
    val i = n.indexOf(':')
    if (i >= 0) n.substring(i + 1) else n
  }

  private val gf = new GeometryFactory()

  // ---------------------------------------------------------------- read

  /** Standard children legal DIRECTLY under `<trk>` per the GPX 1.1 XSD
    * (trkType: name, cmt, desc, src, link, number, type, extensions,
    * trkseg). ele/time/sym are wpt-only; the sink routes them through
    * `<extensions>` on tracks and the reader types them back. */
  val TrkLegal: Set[String] = Set("name", "cmt", "desc", "src", "type")

  /** Top-level child element local-names of an element body; nested
    * subtrees (the Garmin/Strava extension norm) count only their root. */
  private def topLevelNames(body: String): Seq[String] = {
    val tag = """<(/?)(?:\w+:)?([\w.-]+)((?:"[^"]*"|'[^']*'|[^>"'])*)>""".r
    var depth = 0
    val out = scala.collection.mutable.ArrayBuffer[String]()
    tag.findAllMatchIn(body).foreach { m =>
      val closing = m.group(1) == "/"
      val selfClosed = m.group(3).trim.endsWith("/")
      if (closing) depth = math.max(0, depth - 1)
      else {
        if (depth == 0) out += m.group(2)
        if (!selfClosed) depth += 1
      }
    }
    out.toSeq.distinct
  }

  /** Head sample → (name, spark type): standard children actually present
    * plus `graft:`-style extension fields (strings), standard order first.
    * The sample is SCOPED to this layer's sections (waypoint children must
    * not leak into the tracks schema and vice versa); track sections drop
    * their `<trkseg>` runs first (per-point elements live there, not at
    * track level), and standard names found under `<extensions>` (how the
    * sink carries e.g. `ele` on tracks, where it is not XSD-legal) keep
    * their standard type. */
  def headFields(head: String, layer: String): Seq[(String, String)] = {
    val tag = if (layer == "tracks") "trk" else "wpt"
    val sections = s"""(?s)<$tag(?:\\s[^>]*)?(?<!/)>.*?</$tag>""".r
      .findAllIn(head).mkString("\n")
    val scope =
      if (layer == "tracks")
        """(?s)<trkseg(?:\s[^>]*)?>.*?</trkseg>""".r.replaceAllIn(sections, "")
      else sections
    val extBody = """(?s)<extensions>(.*?)</extensions>""".r
      .findAllMatchIn(scope).map(_.group(1)).mkString("\n")
    val extNames = topLevelNames(extBody).filterNot(_ == "fid")
    val scopeNoExt =
      """(?s)<extensions>.*?</extensions>""".r.replaceAllIn(scope, "")
    val present = stdOrder.filter(n =>
      scopeNoExt.contains(s"<$n>") || extNames.contains(n))
    val ext = extNames.filterNot(stdSet.contains).distinct
    present.map(n => n -> StdFields.toMap.apply(n)) ++
      ext.sorted.map(n => n -> "string")
  }

  /** Fragments of a chunk, one per `<tag>` start element. Chunks normally
    * hold exactly one element (the text scan splits on the end tag), but a
    * legal self-closing element (`<wpt lat=".." lon=".."/>` — wpt needs
    * only attributes) carries no terminator, so a chunk may hold several;
    * each start tag yields its own well-formed fragment. */
  private[geometry] def splitElems(chunk: String, tag: String): Seq[String] = {
    val starts = s"<$tag(?=[\\s/>])".r.findAllMatchIn(chunk).map(_.start).toArray
    starts.indices.map { i =>
      val s = starts(i)
      val e = if (i + 1 < starts.length) starts(i + 1) else chunk.length
      val frag = chunk.substring(s, e)
      val tagEnd = frag.indexOf('>')
      val endTag = s"</$tag>"
      if (tagEnd > 0 && frag.substring(0, tagEnd).trim.endsWith("/"))
        frag.substring(0, tagEnd + 1) // self-closed: drop trailing bytes
      else frag.indexOf(endTag) match {
        case -1 => frag.trim + endTag // separator consumed the terminator
        case k  => frag.substring(0, k + endTag.length)
      }
    }
  }

  /** Text of the current element with nested children flattened into their
    * concatenated character data (`getElementText` throws on the first
    * nested element — nested `<extensions>` trees are the Garmin/Strava
    * norm). Consumes through the matching end element. */
  private def flatText(r: XMLStreamReader): String = {
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT   => depth -= 1
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(r.getText)
        case _ => ()
      }
    }
    sb.toString.trim
  }

  /** Every `<wpt>` element in a chunk → Point features (a chunk may hold
    * several when self-closing waypoints lack the `</wpt>` separator). */
  def parseWpts(chunk: String): Seq[Gml.Feature] = {
    val frags = splitElems(chunk, "wpt")
    if (frags.isEmpty)
      throw new IllegalArgumentException("chunk without a wpt")
    frags.map(parseWpt)
  }

  /** One well-formed `<wpt>` fragment → Point feature. */
  def parseWpt(chunk: String): Gml.Feature = {
    val start = "<wpt[\\s/>]".r.findFirstMatchIn(chunk).map(_.start).getOrElse(
      throw new IllegalArgumentException("chunk without a wpt"))
    val body = chunk.substring(start).trim
    val xml =
      if (body.endsWith("</wpt>") || body.endsWith("/>")) body
      else body + "</wpt>"
    val r = inputFactory.get.createXMLStreamReader(new StringReader(xml))
    try {
      var fid = -1L
      var geom: Geometry = null
      val attrs = Map.newBuilder[String, String]
      var inExt = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            localName(r) match {
              case "wpt" =>
                val lat = r.getAttributeValue(null, "lat").toDouble
                val lon = r.getAttributeValue(null, "lon").toDouble
                geom = gf.createPoint(new Coordinate(lon, lat))
              case "extensions" => inExt = true
              case n if inExt =>
                val v = flatText(r) // consumes the subtree, nested or flat
                if (n == "fid") v.toLongOption.foreach(fid = _)
                else attrs += n -> v
              case n if stdSet.contains(n) => attrs += n -> r.getElementText
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT if localName(r) == "extensions" =>
            inExt = false
          case _ => ()
        }
      }
      Gml.Feature(fid,
        if (geom == null) null else GeomFunctions.writeWkb(geom), attrs.result())
    } finally r.close()
  }

  /** Every `<trk>` element in a chunk → track features. */
  def parseTrks(chunk: String): Seq[Gml.Feature] = {
    val frags = splitElems(chunk, "trk")
    if (frags.isEmpty)
      throw new IllegalArgumentException("chunk without a trk")
    frags.map(parseTrk)
  }

  /** One well-formed `<trk>` fragment → LineString (single `<trkseg>`) or
    * MultiLineString feature; track-level standard children + extensions as
    * attrs. */
  def parseTrk(chunk: String): Gml.Feature = {
    val start = "<trk[\\s/>]".r.findFirstMatchIn(chunk).map(_.start).getOrElse(
      throw new IllegalArgumentException("chunk without a trk"))
    val body = chunk.substring(start).trim
    val xml =
      if (body.endsWith("</trk>") || body.endsWith("/>")) body
      else body + "</trk>"
    val r = inputFactory.get.createXMLStreamReader(new StringReader(xml))
    try {
      var fid = -1L
      val attrs = Map.newBuilder[String, String]
      var inExt = false
      var inSeg = false
      val segs = scala.collection.mutable.ArrayBuffer[Array[Coordinate]]()
      val cur = scala.collection.mutable.ArrayBuffer[Coordinate]()
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            localName(r) match {
              case "trkseg" => inSeg = true; cur.clear()
              case "trkpt" if inSeg =>
                cur += new Coordinate(
                  r.getAttributeValue(null, "lon").toDouble,
                  r.getAttributeValue(null, "lat").toDouble)
              case "extensions" if !inSeg => inExt = true
              case n if inExt =>
                val v = flatText(r) // consumes the subtree, nested or flat
                if (n == "fid") v.toLongOption.foreach(fid = _)
                else attrs += n -> v
              case n if !inSeg && stdSet.contains(n) =>
                attrs += n -> r.getElementText
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            localName(r) match {
              case "trkseg" => inSeg = false; segs += cur.toArray
              case "extensions" => inExt = false
              case _ => ()
            }
          case _ => ()
        }
      }
      val geom: Geometry =
        if (segs.isEmpty) null
        else if (segs.size == 1) gf.createLineString(segs.head)
        else gf.createMultiLineString(segs.map(gf.createLineString).toArray)
      Gml.Feature(fid,
        if (geom == null) null else GeomFunctions.writeWkb(geom), attrs.result())
    } finally r.close()
  }
}

/** Streaming single-file GPX export: reprojects to EPSG:4326, writes
  * Points as `<wpt>` and Line geometries as `<trk>` via a fid-ordered
  * `toLocalIterator`. GPX's schema sequence demands all waypoints before
  * all tracks, so track elements spool to a temp file during the single
  * pass and append at the end — driver memory stays bounded by one Spark
  * partition regardless of the point/line mix. */
object GpxSink {

  def writeStream(df0: DataFrame, proj: String, gpxPath: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"), "GPX export needs a geometry column")
    val attrCols = df0.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val fidIdx = df0.columns.indexOf("fid")
    val geomIdx = df0.columns.indexOf("geometry")
    val from = graft.raster.Proj.normalize(proj)
    val (stdCols, extCols) =
      attrCols.partition(c => Gpx.StdFields.exists(_._1 == c))
    val stdOrdered = Gpx.StdFields.map(_._1).filter(stdCols.contains)
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df0, col("fid")) else df0

    def valueOf(r: org.apache.spark.sql.Row, c: String): Option[String] = {
      val i = df0.columns.indexOf(c)
      if (i < 0 || r.isNullAt(i)) None
      else Some(r.get(i) match {
        case ts: java.sql.Timestamp => ts.toInstant.toString
        case other => other.toString
      })
    }
    /** Children for one element; `legal` is the std-child subset the XSD
      * allows directly under this element kind (all eight for `<wpt>`,
      * `Gpx.TrkLegal` for `<trk>` — ele/time/sym are not trk children and
      * ride in `<extensions>` there, where the reader types them back). */
    def childrenXml(r: org.apache.spark.sql.Row, fid: Long,
        legal: Set[String]): String = {
      val sb = new StringBuilder
      stdOrdered.filter(legal.contains).foreach(c => valueOf(r, c).foreach(v =>
        sb.append(s"<$c>${Gml.escape(v)}</$c>")))
      sb.append(s"<extensions><graft:fid>$fid</graft:fid>")
      stdOrdered.filterNot(legal.contains).foreach(c => valueOf(r, c).foreach(v =>
        sb.append(s"<graft:$c>${Gml.escape(v)}</graft:$c>")))
      extCols.foreach(c => valueOf(r, c).foreach(v =>
        sb.append(s"<graft:$c>${Gml.escape(v)}</graft:$c>")))
      sb.append("</extensions>")
      sb.toString
    }
    val wptChildren = (r: org.apache.spark.sql.Row, fid: Long) =>
      childrenXml(r, fid, Gpx.StdFields.map(_._1).toSet)
    val trkChildren = (r: org.apache.spark.sql.Row, fid: Long) =>
      childrenXml(r, fid, Gpx.TrkLegal)
    def tf(c: Coordinate): (Double, Double) =
      if (from == "EPSG:4326") (c.x, c.y)
      else graft.raster.Proj.transform(from, "EPSG:4326", c.x, c.y)

    val trkSpool = java.nio.file.Files.createTempFile("graft_gpx_trk", ".xml")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(gpxPath), "UTF-8"))
    val tw = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(trkSpool.toFile), "UTF-8"))
    try {
      w.write("<?xml version=\"1.0\" encoding=\"utf-8\" ?>\n")
      w.write("<gpx version=\"1.1\" creator=\"graft\" " +
        "xmlns=\"http://www.topografix.com/GPX/1/1\" " +
        "xmlns:graft=\"urn:graft:gpx:extensions\">\n")
      val it = ordered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx))
          Gml.fidValue(r.get(fidIdx)) else -1L
        val wkb = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          r.get(geomIdx).asInstanceOf[Array[Byte]] else null
        val g = if (wkb == null) null else GeomFunctions.readWkb(wkb)
        g match {
          case null => ()
          case p: Point =>
            val (lon, lat) = tf(p.getCoordinate)
            w.write(s"""<wpt lat="${Gml.fmt(lat)}" lon="${Gml.fmt(lon)}">""" +
              wptChildren(r, fid) + "</wpt>\n")
          case mp: MultiPoint =>
            // GPX has no multipoint: one wpt per part, shared attrs/fid
            (0 until mp.getNumGeometries).foreach { i =>
              val (lon, lat) = tf(mp.getGeometryN(i).asInstanceOf[Point].getCoordinate)
              w.write(s"""<wpt lat="${Gml.fmt(lat)}" lon="${Gml.fmt(lon)}">""" +
                wptChildren(r, fid) + "</wpt>\n")
            }
          case l: LineString => writeTrk(tw, Seq(l), r, fid, trkChildren, tf)
          case ml: MultiLineString =>
            writeTrk(tw, (0 until ml.getNumGeometries)
              .map(ml.getGeometryN(_).asInstanceOf[LineString]), r, fid,
              trkChildren, tf)
          case other => throw new IllegalArgumentException(
            s"GPX cannot represent ${other.getGeometryType} (fid $fid)")
        }
      }
      tw.flush(); tw.close()
      // stream-copy the spool: driver memory stays O(buffer), not O(bytes)
      val rd = java.nio.file.Files.newBufferedReader(
        trkSpool, java.nio.charset.StandardCharsets.UTF_8)
      try {
        val buf = new Array[Char](64 << 10)
        var n = rd.read(buf)
        while (n >= 0) { if (n > 0) w.write(buf, 0, n); n = rd.read(buf) }
      } finally rd.close()
      w.write("</gpx>\n")
    } finally {
      w.close()
      try tw.close() catch { case _: Throwable => () }
      java.nio.file.Files.deleteIfExists(trkSpool)
    }
    gpxPath
  }

  private def writeTrk(tw: java.io.Writer, segs: Seq[LineString],
      r: org.apache.spark.sql.Row, fid: Long,
      children: (org.apache.spark.sql.Row, Long) => String,
      tf: Coordinate => (Double, Double)): Unit = {
    tw.write("<trk>" + children(r, fid))
    segs.foreach { seg =>
      tw.write("<trkseg>")
      seg.getCoordinates.foreach { c =>
        val (lon, lat) = tf(c)
        tw.write(s"""<trkpt lat="${Gml.fmt(lat)}" lon="${Gml.fmt(lon)}"></trkpt>""")
      }
      tw.write("</trkseg>")
    }
    tw.write("</trk>\n")
  }
}

/** Distributed GPX reader: always EPSG:4326 (the GPX datum); `layer`
  * selects `waypoints` (default) or `tracks`; schema from a head sample;
  * element parsing a narrow map over a `</wpt>`/`</trk>`-split text scan. */
case class GpxSource(url: String, layer: String = "waypoints")
    extends GeometryBlock with graft.core.FileSource {
  require(layer == "waypoints" || layer == "tracks",
    s"GPX layer must be waypoints or tracks, got '$layer'")

  @transient private lazy val fields: Seq[(String, String)] = {
    if (!graft.io.FileIO.exists(url) || graft.io.FileIO.isDirectory(url)) Seq.empty
    else {
      val in = graft.io.FileIO.openStream(url)
      val head = try new String(in.readNBytes(256 << 10), "UTF-8") finally in.close()
      Gpx.headFields(head, layer)
    }
  }

  override lazy val columns: Set[String] =
    fields.map(_._1).toSet + "geometry" + "fid"

  override def projection: String = "EPSG:4326"

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val isTracks = layer == "tracks"
    // one chunk may hold several elements (self-closing wpt/trk have no
    // end-tag separator) → parse returns all of them and the plan explodes
    val parse = udf { (chunk: String) =>
      val fs = if (isTracks) Gpx.parseTrks(chunk) else Gpx.parseWpts(chunk)
      fs.map(f => (f.fid, f.wkb, f.attrs))
    }
    val (sep, marker) =
      if (isTracks) ("</trk>", "<trk[\\s/>]") else ("</wpt>", "<wpt[\\s/>]")
    var df = spark.read.option("lineSep", sep).text(url)
      .filter(regexp_like(col("value"), lit(marker)))
      .select(explode(parse(col("value"))).as("f"))
      .select((Seq(col("f._1").as("fid"), col("f._2").as("geometry")) ++
        fields.map { case (n, t) => col("f._3")(n).cast(t).as(n) }): _*)
    req.geometryWkt.foreach { wkt =>
      df = df.filter(GeomFunctions.stFilter(col("geometry"), lit(wkt),
        lit(if (req.mode == "centroid") "centroid" else "intersects")))
    }
    req.filters.foreach { case (k, v) => df = df.filter(col(k) === lit(v)) }
    req.minSize.foreach(ms =>
      df = df.filter(GeomFunctions.stSizeAtLeast(col("geometry"), lit(ms))))
    req.limit.foreach(n => df = df.limit(n))
    df
  }
}
