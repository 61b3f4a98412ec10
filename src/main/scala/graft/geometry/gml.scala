package graft.geometry

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom._

/** Pure-JVM GML 2.1.2 feature codec.
  *
  * The reference's GeometryFileSink lists "gml" among its writable formats
  * and delegates to the OGR GML driver (geometry/sinks.py:66-80,
  * tests/test_geometry_sinks.py); its GeometryFileSource reads the same
  * files back via pyogrio. Here both directions are implemented directly:
  * the writer emits an OGR-style `<ogr:FeatureCollection>` document (GML 2
  * geometry encoding: `gml:coordinates` as "x,y x,y", polygons with
  * `outerBoundaryIs`/`innerBoundaryIs`) plus the `.xsd` sidecar OGR writes
  * for field types, and the reader splits the document on
  * `</gml:featureMember>` boundaries with Spark's text `lineSep` so each
  * feature parses on an executor — XML is not a splittable format in
  * general, but the member delimiter makes this one distributable.
  */
object Gml {

  /** Fast-path doubles: integral values print without the trailing ".0" so
    * coordinates round-trip compactly; everything else uses
    * Double.toString (shortest repr that round-trips). */
  def fmt(v: Double): String =
    if (v == Math.rint(v) && Math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def coords(cs: Array[Coordinate]): String =
    cs.map(c => s"${fmt(c.x)},${fmt(c.y)}").mkString(" ")

  /** JTS geometry → GML 2 fragment (no namespace declarations — the
    * document root declares `gml:`). */
  def toGml(g: Geometry): String = g match {
    case p: Point =>
      s"<gml:Point><gml:coordinates>${coords(p.getCoordinates)}</gml:coordinates></gml:Point>"
    case l: LineString =>
      s"<gml:LineString><gml:coordinates>${coords(l.getCoordinates)}</gml:coordinates></gml:LineString>"
    case p: Polygon =>
      val outer = "<gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>" +
        coords(p.getExteriorRing.getCoordinates) +
        "</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>"
      val inner = (0 until p.getNumInteriorRing).map { i =>
        "<gml:innerBoundaryIs><gml:LinearRing><gml:coordinates>" +
          coords(p.getInteriorRingN(i).getCoordinates) +
          "</gml:coordinates></gml:LinearRing></gml:innerBoundaryIs>"
      }.mkString
      s"<gml:Polygon>$outer$inner</gml:Polygon>"
    case m: MultiPoint =>
      val members = (0 until m.getNumGeometries)
        .map(i => s"<gml:pointMember>${toGml(m.getGeometryN(i))}</gml:pointMember>").mkString
      s"<gml:MultiPoint>$members</gml:MultiPoint>"
    case m: MultiLineString =>
      val members = (0 until m.getNumGeometries)
        .map(i => s"<gml:lineStringMember>${toGml(m.getGeometryN(i))}</gml:lineStringMember>").mkString
      s"<gml:MultiLineString>$members</gml:MultiLineString>"
    case m: MultiPolygon =>
      val members = (0 until m.getNumGeometries)
        .map(i => s"<gml:polygonMember>${toGml(m.getGeometryN(i))}</gml:polygonMember>").mkString
      s"<gml:MultiPolygon>$members</gml:MultiPolygon>"
    case m: GeometryCollection =>
      val members = (0 until m.getNumGeometries)
        .map(i => s"<gml:geometryMember>${toGml(m.getGeometryN(i))}</gml:geometryMember>").mkString
      s"<gml:MultiGeometry>$members</gml:MultiGeometry>"
    case other =>
      throw new IllegalArgumentException(s"cannot encode ${other.getGeometryType} as GML")
  }

  // ----------------------------------------------------------------- parse

  private val inputFactory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      // fragments carry undeclared ogr:/gml: prefixes; match on raw names
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.FALSE)
      // XXE hardening: the member fragments never need external entities
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

  private val geomFactory = new GeometryFactory()

  private def parseCoordinates(text: String): Array[Coordinate] =
    text.trim.split("\\s+").filter(_.nonEmpty).map { pair =>
      val comma = pair.indexOf(',')
      require(comma > 0, s"malformed gml:coordinates tuple '$pair'")
      new Coordinate(pair.substring(0, comma).toDouble, pair.substring(comma + 1).toDouble)
    }

  /** GML 3 coordinate text: whitespace-separated "x y x y …". */
  private def parsePosList(text: String): Array[Coordinate] = {
    val nums = text.trim.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
    require(nums.length % 2 == 0, "odd number of ordinates in gml:posList")
    Array.tabulate(nums.length / 2)(i => new Coordinate(nums(2 * i), nums(2 * i + 1)))
  }

  /** Read the coordinate content of the geometry element the reader is
    * positioned on (Point/LineString/LinearRing): GML 2 `gml:coordinates`
    * ("x,y x,y") or GML 3 `gml:posList`/`gml:pos` ("x y …", `pos` possibly
    * repeated). Leaves the reader on that element's end tag. */
  private def readCoordinatesChild(r: XMLStreamReader): Array[Coordinate] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          localName(r) match {
            case "coordinates" =>
              acc ++= parseCoordinates(r.getElementText) // consumes the end tag
              depth -= 1
            case "posList" | "pos" =>
              acc ++= parsePosList(r.getElementText)
              depth -= 1
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
    require(acc.nonEmpty, "geometry element without coordinates/posList")
    acc.toArray
  }

  /** Parse the GML geometry element the reader is positioned on. Leaves the
    * reader on the geometry's end tag. */
  private def parseGeometryElement(r: XMLStreamReader): Geometry = localName(r) match {
    case "Point" =>
      val cs = readCoordinatesChild(r)
      geomFactory.createPoint(cs(0))
    case "LineString" =>
      geomFactory.createLineString(readCoordinatesChild(r))
    case "Polygon" =>
      var outer: LinearRing = null
      val inner = scala.collection.mutable.ArrayBuffer.empty[LinearRing]
      var depth = 1
      while (depth > 0) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            localName(r) match {
              case "outerBoundaryIs" | "exterior" =>
                outer = geomFactory.createLinearRing(readRingCoords(r))
              case "innerBoundaryIs" | "interior" =>
                inner += geomFactory.createLinearRing(readRingCoords(r))
              case _ => depth += 1
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
      }
      geomFactory.createPolygon(outer, inner.toArray)
    case "MultiPoint" | "MultiLineString" | "MultiPolygon" | "MultiGeometry" |
         "MultiSurface" | "MultiCurve" =>
      // GML 3 aliases: MultiSurface ≡ MultiPolygon, MultiCurve ≡
      // MultiLineString (their *Member wrappers fall through generically)
      val kind = localName(r) match {
        case "MultiSurface" => "MultiPolygon"
        case "MultiCurve"   => "MultiLineString"
        case k              => k
      }
      val parts = scala.collection.mutable.ArrayBuffer.empty[Geometry]
      var depth = 1
      while (depth > 0) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            localName(r) match {
              case "Point" | "LineString" | "Polygon" |
                   "MultiPoint" | "MultiLineString" | "MultiPolygon" | "MultiGeometry" =>
                parts += parseGeometryElement(r)
              case _ => depth += 1 // a *Member wrapper
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
      }
      kind match {
        case "MultiPoint" =>
          geomFactory.createMultiPoint(parts.map(_.asInstanceOf[Point]).toArray)
        case "MultiLineString" =>
          geomFactory.createMultiLineString(parts.map(_.asInstanceOf[LineString]).toArray)
        case "MultiPolygon" =>
          geomFactory.createMultiPolygon(parts.map(_.asInstanceOf[Polygon]).toArray)
        case _ => geomFactory.createGeometryCollection(parts.toArray)
      }
    case other => throw new IllegalArgumentException(s"unsupported GML geometry <$other>")
  }

  /** Reader on outerBoundaryIs/innerBoundaryIs (or exterior/interior):
    * descend to the LinearRing's coordinates. Leaves reader on the boundary
    * element's end tag. */
  private def readRingCoords(r: XMLStreamReader): Array[Coordinate] = {
    var cs: Array[Coordinate] = null
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          if (localName(r) == "LinearRing") { cs = readCoordinatesChild(r) }
          else depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
    require(cs != null, "boundary without a LinearRing")
    cs
  }

  /** One parsed feature: fid, WKB geometry (nullable), raw string attrs. */
  final case class Feature(fid: Long, wkb: Array[Byte], attrs: Map[String, String])

  /** Parse one `<gml:featureMember>…</gml:featureMember>` fragment. The
    * input may carry leading document preamble (the first lineSep record
    * does) — parsing starts at the first featureMember tag. */
  def parseFeatureMember(chunk: String): Feature = {
    val start = chunk.indexOf("<gml:featureMember")
    require(start >= 0, "chunk without a featureMember")
    // lineSep-split records lost their trailing close tag; whole fragments
    // (or the final record of a document) may still carry it
    val body = chunk.substring(start).trim
    val xml =
      if (body.endsWith("</gml:featureMember>")) body
      else body + "</gml:featureMember>"
    val r = inputFactory.get.createXMLStreamReader(new StringReader(xml))
    try {
      var fid = -1L
      var wkb: Array[Byte] = null
      val attrs = Map.newBuilder[String, String]
      var featureDepth = -1 // element nesting relative to the feature element
      var depth = 0
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1
            val name = localName(r)
            if (depth == 2 && featureDepth < 0) {
              // the feature element itself: <ogr:layer fid="layer.123">
              featureDepth = depth
              val fidAttr = Option(r.getAttributeValue(null, "fid"))
              fid = fidAttr.map { v =>
                val dot = v.lastIndexOf('.')
                (if (dot >= 0) v.substring(dot + 1) else v).toLong
              }.getOrElse(-1L)
            } else if (featureDepth > 0 && depth == featureDepth + 1) {
              if (name == "geometryProperty") {
                // descend to the geometry element; parseGeometryElement
                // leaves the reader on the geometry's end tag, so the next
                // END_ELEMENT is </geometryProperty>
                var g: Geometry = null
                var done = false
                while (!done) {
                  r.next() match {
                    case XMLStreamConstants.START_ELEMENT =>
                      g = parseGeometryElement(r)
                    case XMLStreamConstants.END_ELEMENT => done = true
                    case _ =>
                  }
                }
                depth -= 1 // geometryProperty end consumed
                if (g != null) wkb = GeomFunctions.writeWkb(g)
              } else {
                attrs += name -> r.getElementText // consumes the end tag
                depth -= 1
              }
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ =>
        }
      }
      Feature(fid, wkb, attrs.result())
    } finally r.close()
  }

  // ------------------------------------------------------------------ xsd

  /** Spark type → xsd type name, mirroring what OGR's GML driver records. */
  def xsdType(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType      => "xs:long"
    case org.apache.spark.sql.types.IntegerType   => "xs:integer"
    case org.apache.spark.sql.types.ShortType     => "xs:integer"
    case org.apache.spark.sql.types.DoubleType    => "xs:decimal"
    case org.apache.spark.sql.types.FloatType     => "xs:decimal"
    case org.apache.spark.sql.types.BooleanType   => "xs:boolean"
    case org.apache.spark.sql.types.TimestampType => "xs:dateTime"
    case _                                        => "xs:string"
  }

  /** Integral xsd types all widen to long, matching the shapefile (DBF)
    * and GeoPackage (SQLite) codecs — every integer attribute round-trips
    * as a 64-bit column regardless of source width. */
  def xsdToSpark(t: String): String = t match {
    case "xs:long"                   => "long"
    case "xs:int" | "xs:integer"     => "long"
    case "xs:decimal" | "xs:double"  => "double"
    case "xs:boolean"                => "boolean"
    case "xs:dateTime"               => "timestamp"
    case _                           => "string"
  }

  /** The sidecar schema document (fields in declaration order). */
  def xsdFor(layer: String, fields: Seq[(String, String)]): String = {
    val elems = fields.map { case (n, t) =>
      s"""        <xs:element name="${escape(n)}" type="$t" minOccurs="0" nillable="true"/>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<xs:schema targetNamespace="http://ogr.maptools.org/" xmlns:ogr="http://ogr.maptools.org/" xmlns:xs="http://www.w3.org/2001/XMLSchema" xmlns:gml="http://www.opengis.net/gml" elementFormDefault="qualified" version="1.0">
       |  <xs:element name="FeatureCollection" type="ogr:FeatureCollectionType" substitutionGroup="gml:_FeatureCollection"/>
       |  <xs:complexType name="FeatureCollectionType">
       |    <xs:complexContent>
       |      <xs:extension base="gml:AbstractFeatureCollectionType"/>
       |    </xs:complexContent>
       |  </xs:complexType>
       |  <xs:element name="${escape(layer)}" type="ogr:${escape(layer)}_Type" substitutionGroup="gml:_Feature"/>
       |  <xs:complexType name="${escape(layer)}_Type">
       |    <xs:complexContent>
       |      <xs:extension base="gml:AbstractFeatureType">
       |        <xs:sequence>
       |        <xs:element name="geometryProperty" type="gml:GeometryPropertyType" nillable="true" minOccurs="0" maxOccurs="1"/>
       |$elems
       |        </xs:sequence>
       |      </xs:extension>
       |    </xs:complexContent>
       |  </xs:complexType>
       |</xs:schema>
       |""".stripMargin
  }

  /** Extract (name, xsd type) pairs, in order, skipping geometryProperty. */
  def parseXsdFields(text: String): Seq[(String, String)] = {
    val elem = """<xs:element\s+name="([^"]+)"\s+type="([^"]+)"""".r
    elem.findAllMatchIn(text).map(m => (m.group(1), m.group(2))).filter { case (n, t) =>
      n != "FeatureCollection" && !t.startsWith("ogr:") && !t.startsWith("gml:")
    }.toSeq
  }

  def xsdPathFor(gmlPath: String): String =
    gmlPath.replaceAll("(?i)\\.gml$", "") + ".xsd"

  /** fid columns arrive boxed as Long or Integer depending on the source
    * schema (parquet int32 vs int64); accept both like the gpkg sink. */
  def fidValue(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
    case other => throw new IllegalArgumentException(
      s"fid must be integral, got ${other.getClass.getName}")
  }

  def layerNameFor(gmlPath: String): String = {
    val base = new java.io.File(gmlPath).getName.replaceAll("(?i)\\.gml$", "")
    val clean = base.replaceAll("[^A-Za-z0-9_]", "_")
    if (clean.isEmpty || !Character.isLetter(clean.charAt(0))) "layer_" + clean else clean
  }

  /** Attribute element names must be XML names: a column called "my col" or
    * `a"b` written raw as `<ogr:my col>` yields a document (and xsd) that is
    * only discovered to be malformed when the reader throws. Same
    * sanitization as [[layerNameFor]]. */
  def fieldNameFor(name: String): String = {
    val clean = name.replaceAll("[^A-Za-z0-9_]", "_")
    if (clean.isEmpty || !Character.isLetter(clean.charAt(0))) "field_" + clean else clean
  }

  /** Sanitized, collision-free element names for a column list (two columns
    * may sanitize to the same name; suffix the later one). */
  def fieldNamesFor(cols: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    cols.map { c =>
      val base = fieldNameFor(c)
      var n = base; var i = 2
      while (!seen.add(n)) { n = base + "_" + i; i += 1 }
      n
    }
  }
}

/** Single-file GML writer. Like [[ShapefileSink]], a GML document is a
  * single sequential XML stream, so the frame funnels through the driver
  * under the global geometry-limit guard (raises, never silently truncates
  * — the reference funnels gml through one OGR dataset handle the same
  * way, geometry/sinks.py:128-154). Unbounded exports belong in
  * geoparquet. */
object GmlSink {

  private def docHead(gmlPath: String,
      bbox: Option[(Double, Double, Double, Double)]): String = {
    val sb = new StringBuilder(512)
    sb.append("<?xml version=\"1.0\" encoding=\"utf-8\" ?>\n")
    sb.append("<ogr:FeatureCollection\n")
    sb.append(s"""     xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"\n""")
    sb.append(s"""     xsi:schemaLocation="http://ogr.maptools.org/ ${Gml.escape(new java.io.File(Gml.xsdPathFor(gmlPath)).getName)}"\n""")
    sb.append("     xmlns:ogr=\"http://ogr.maptools.org/\"\n")
    sb.append("     xmlns:gml=\"http://www.opengis.net/gml\">\n")
    bbox.foreach { case (minX, minY, maxX, maxY) =>
      sb.append("  <gml:boundedBy><gml:Box>")
      sb.append(s"<gml:coord><gml:X>${Gml.fmt(minX)}</gml:X><gml:Y>${Gml.fmt(minY)}</gml:Y></gml:coord>")
      sb.append(s"<gml:coord><gml:X>${Gml.fmt(maxX)}</gml:X><gml:Y>${Gml.fmt(maxY)}</gml:Y></gml:coord>")
      sb.append("</gml:Box></gml:boundedBy>\n")
    }
    sb.toString
  }

  /** One `<gml:featureMember>` block; `values` aligned with `names`,
    * nulls omitted. */
  private def memberXml(layer: String, fid: Long,
      g: org.locationtech.jts.geom.Geometry, srs: String,
      names: Seq[String], values: Seq[Any]): String = {
    val sb = new StringBuilder(512)
    sb.append(s"""  <gml:featureMember>\n    <ogr:$layer fid="$layer.$fid">\n""")
    if (g != null) {
      // srsName rides on the outermost geometry tag, like OGR writes it
      val gml = Gml.toGml(g).replaceFirst(">",
        java.util.regex.Matcher.quoteReplacement(s""" srsName="${Gml.escape(srs)}">"""))
      sb.append(s"      <ogr:geometryProperty>$gml</ogr:geometryProperty>\n")
    }
    names.zip(values).foreach { case (name, v0) =>
      if (v0 != null) {
        val v = v0 match {
          case d: java.sql.Timestamp => d.toInstant.toString
          case other                 => other.toString
        }
        sb.append(s"      <ogr:$name>${Gml.escape(v)}</ogr:$name>\n")
      }
    }
    sb.append(s"    </ogr:$layer>\n  </gml:featureMember>\n")
    sb.toString
  }

  /** Unbounded streaming export, no geometry-limit guard: a distributed
    * envelope pass fills `gml:boundedBy` up front, then a fid-sorted
    * `toLocalIterator` appends one member at a time — driver memory is
    * bounded by one Spark partition. The engine analogue of the reference's
    * tiled to_file + merge_files (sinks.py:224-284, :116-169). */
  def writeStream(df: DataFrame, proj: String, gmlPath: String)
      (implicit spark: SparkSession): String = {
    require(df.columns.contains("geometry"), "GML export needs a geometry column")
    val attrCols = df.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val outNames = Gml.fieldNamesFor(attrCols)
    val layer = Gml.layerNameFor(gmlPath)
    val ext = df.agg(
      min(GeomFunctions.stEnvMinX(col("geometry"))), min(GeomFunctions.stEnvMinY(col("geometry"))),
      max(GeomFunctions.stEnvMaxX(col("geometry"))), max(GeomFunctions.stEnvMaxY(col("geometry")))
    ).head()
    val bbox = if (ext.isNullAt(0)) None
      else Some((ext.getDouble(0), ext.getDouble(1), ext.getDouble(2), ext.getDouble(3)))
    val fidIdx = df.columns.indexOf("fid")
    val geomIdx = df.columns.indexOf("geometry")
    val attrIdx = attrCols.map(df.columns.indexOf(_))
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df, col("fid")) else df
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(gmlPath), "UTF-8"))
    try {
      w.write(docHead(gmlPath, bbox))
      val it = ordered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx)) Gml.fidValue(r.get(fidIdx)) else -1L
        val wkb = if (geomIdx >= 0) r.get(geomIdx).asInstanceOf[Array[Byte]] else null
        val g = if (wkb == null) null else GeomFunctions.readWkb(wkb)
        w.write(memberXml(layer, fid, g, proj, outNames, attrIdx.map(i => r.get(i))))
      }
      w.write("</ogr:FeatureCollection>\n")
    } finally w.close()
    val fields = attrCols.zip(outNames).map { case (c, n) =>
      (n, Gml.xsdType(df.schema(c).dataType))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(Gml.xsdPathFor(gmlPath)),
      Gml.xsdFor(layer, fields).getBytes("UTF-8"))
    gmlPath
  }

  def write(source: GeometryBlock, gmlPath: String, req: GeometryRequest)
      (implicit spark: SparkSession): String = {
    val df = source.frame(req)
    require(df.columns.contains("geometry"), "GML export needs a geometry column")
    val attrCols = df.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    // element names sanitized in lockstep for the document AND the xsd
    val outNames = Gml.fieldNamesFor(attrCols)
    val rows = {
      val cap = graft.raster.RequestGuards.geometryLimit
      val limited = req.limit.isDefined
      val collected = (if (limited) df else df.limit(cap + 1)).collect()
      if (!limited && collected.length > cap) throw new RuntimeException(
        s"The amount of returned geometries exceeded the maximum of $cap geometries.")
      collected
    }
    val layer = Gml.layerNameFor(gmlPath)
    val fidIdx = df.columns.indexOf("fid")
    val geomIdx = df.columns.indexOf("geometry")
    val attrIdx = attrCols.map(df.columns.indexOf(_))
    val srs = source.projection

    // document bbox for gml:boundedBy
    var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
    var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
    val geoms = rows.map { r =>
      val wkb = if (geomIdx >= 0) r.get(geomIdx).asInstanceOf[Array[Byte]] else null
      if (wkb == null) null else {
        val g = GeomFunctions.readWkb(wkb)
        val e = g.getEnvelopeInternal
        if (e.getMinX < minX) minX = e.getMinX
        if (e.getMinY < minY) minY = e.getMinY
        if (e.getMaxX > maxX) maxX = e.getMaxX
        if (e.getMaxY > maxY) maxY = e.getMaxY
        g
      }
    }

    val sb = new StringBuilder(1 << 20)
    sb.append(docHead(gmlPath,
      if (minX.isFinite) Some((minX, minY, maxX, maxY)) else None))
    rows.zip(geoms).foreach { case (r, g) =>
      val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx)) Gml.fidValue(r.get(fidIdx)) else -1L
      sb.append(memberXml(layer, fid, g, srs, outNames, attrIdx.map(i => r.get(i))))
    }
    sb.append("</ogr:FeatureCollection>\n")

    val fields = attrCols.zip(outNames).map { case (c, n) =>
      (n, Gml.xsdType(df.schema(c).dataType))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(gmlPath),
      sb.toString.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(Gml.xsdPathFor(gmlPath)),
      Gml.xsdFor(layer, fields).getBytes("UTF-8"))
    gmlPath
  }
}

/** Distributed GML reader: the document splits on `</gml:featureMember>`
  * via the text source's `lineSep`, so member parsing is a narrow map over
  * executor partitions; column names and types come from the `.xsd` sidecar
  * (falling back to string attrs sampled from the head of the document when
  * the sidecar is missing). */
case class GmlSource(url: String, proj: String = "EPSG:28992")
    extends GeometryBlock with graft.core.FileSource {

  // fail fast on the caller's fallback CRS (the document's own srsName is
  // validated separately and ignored when unsupported)
  require(graft.raster.Proj.supported(proj),
    s"GML source $url: unsupported fallback SRS '$proj'")

  /** The CRS the document itself declares — the `srsName` the sink rides on
    * the first geometry tag. Declared CRS wins over the caller's `proj`
    * fallback (like a shapefile's .prj); without it, a merge of tiles
    * written from a non-default-CRS source would silently relabel the data
    * EPSG:28992. Bounded head read. */
  @transient private lazy val declaredSrs: Option[String] = {
    if (!graft.io.FileIO.exists(url) || graft.io.FileIO.isDirectory(url)) None
    else {
      val in = graft.io.FileIO.openStream(url)
      val head = try new String(in.readNBytes(256 << 10), "UTF-8") finally in.close()
      // normalize never throws (unknown codes pass through unchanged), so
      // gate on supported(): a garbage srsName must not override `proj`
      """srsName="([^"]+)"""".r.findFirstMatchIn(head).map(_.group(1))
        .filter(graft.raster.Proj.supported)
        .map(graft.raster.Proj.normalize)
    }
  }

  /** (name, spark type) in declaration order. */
  @transient private lazy val fields: Seq[(String, String)] = {
    val xsd = Gml.xsdPathFor(url)
    if (graft.io.FileIO.exists(xsd) && !graft.io.FileIO.isDirectory(xsd)) {
      Gml.parseXsdFields(graft.io.FileIO.readString(xsd))
        .map { case (n, t) => (n, Gml.xsdToSpark(t)) }
    } else {
      // sample the first member for attribute names (all strings) from a
      // bounded head read — never the whole document on the driver
      val HeadBytes = 4 << 20
      val in = graft.io.FileIO.openStream(url)
      val text = try new String(in.readNBytes(HeadBytes), "UTF-8") finally in.close()
      val start = text.indexOf("<gml:featureMember")
      val end = text.indexOf("</gml:featureMember>")
      if (start < 0 || end < 0) Seq.empty
      else Gml.parseFeatureMember(text.substring(start, end))
        .attrs.keys.toSeq.sorted.map(n => (n, "string"))
    }
  }

  override lazy val columns: Set[String] = fields.map(_._1).toSet + "geometry"
  override def projection: String = declaredSrs.getOrElse(proj)

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val parse = udf { (chunk: String) =>
      val f = Gml.parseFeatureMember(chunk)
      (f.fid, f.wkb, f.attrs)
    }
    var df = spark.read.option("lineSep", "</gml:featureMember>").text(url)
      .filter(col("value").contains("<gml:featureMember"))
      .select(parse(col("value")).as("f"))
      .select(col("f._1").as("fid"), col("f._2").as("geometry"),
        col("f._3").as("attrs"))
    df = df.select((Seq(col("fid"), col("geometry")) ++ fields.map { case (n, t) =>
      col("attrs")(n).cast(t).as(n)
    }): _*)
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
