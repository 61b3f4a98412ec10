package graft.geometry

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing, LineString, Point, Polygon}

/** KML 2.2 codec (OGC 07-147r2) — the `.kml` branch of the reference's
  * OGR-backed `GeometryFileSource`/`to_file` (geometry/sources.py:18-159).
  *
  * KML is WGS84 lon/lat BY SPECIFICATION (§6.2): the sink reprojects
  * geometries into EPSG:4326 on write (per-vertex, like OGR's KML driver)
  * and the source always reports EPSG:4326. Attributes ride in
  * `ExtendedData/SchemaData/SimpleData` with a `Schema` declaration for
  * types — the layout OGR writes and reads.
  *
  * The reader splits the document on `</Placemark>` via the text source's
  * `lineSep`, so placemark parsing is a narrow map over executor
  * partitions (same scale shape as the GML reader).
  */
object Kml {

  private val inputFactory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.FALSE)
      // XXE hardening: placemark fragments never need external entities
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

  // ---------------------------------------------------------------- write

  /** `lon,lat` tuples, space-separated (KML §16.9 coordinates). */
  private def coords(cs: Array[Coordinate]): String =
    cs.map(c => s"${Gml.fmt(c.x)},${Gml.fmt(c.y)}").mkString(" ")

  def toKml(g: Geometry): String = g match {
    case p: Point =>
      s"<Point><coordinates>${coords(p.getCoordinates)}</coordinates></Point>"
    case l: LineString =>
      s"<LineString><coordinates>${coords(l.getCoordinates)}</coordinates></LineString>"
    case p: Polygon =>
      val outer = s"<outerBoundaryIs><LinearRing><coordinates>" +
        coords(p.getExteriorRing.getCoordinates) +
        "</coordinates></LinearRing></outerBoundaryIs>"
      val inner = (0 until p.getNumInteriorRing).map { i =>
        "<innerBoundaryIs><LinearRing><coordinates>" +
          coords(p.getInteriorRingN(i).getCoordinates) +
          "</coordinates></LinearRing></innerBoundaryIs>"
      }.mkString
      s"<Polygon>$outer$inner</Polygon>"
    case m =>
      val parts = (0 until m.getNumGeometries).map(i => toKml(m.getGeometryN(i)))
      s"<MultiGeometry>${parts.mkString}</MultiGeometry>"
  }

  /** KML SimpleField type for a Spark type (KML §9.3: string, int, uint,
    * short, ushort, float, double, bool). */
  def fieldType(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => "int"
    case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => "double"
    case org.apache.spark.sql.types.BooleanType => "bool"
    case _ => "string"
  }

  def sparkType(t: String): String = t match {
    case "int" | "uint" | "short" | "ushort" => "long"
    case "float" | "double" => "double"
    case "bool" => "boolean"
    case _ => "string"
  }

  // ---------------------------------------------------------------- read

  /** Head sample: (name, kml field type) from the `Schema` declaration,
    * or string-typed `SimpleData`/`Data` names when no schema exists. */
  def parseSchema(head: String): Seq[(String, String)] = {
    val fromSchema = """<SimpleField[^>]*\btype="([^"]+)"[^>]*\bname="([^"]+)"""".r
      .findAllMatchIn(head).map(m => (m.group(2), m.group(1))).toSeq ++
      """<SimpleField[^>]*\bname="([^"]+)"[^>]*\btype="([^"]+)"""".r
        .findAllMatchIn(head).map(m => (m.group(1), m.group(2))).toSeq
    if (fromSchema.nonEmpty) fromSchema.distinctBy(_._1)
    else ("""<SimpleData\s+name="([^"]+)"""".r.findAllMatchIn(head).map(_.group(1)) ++
      """<Data\s+name="([^"]+)"""".r.findAllMatchIn(head).map(_.group(1)))
      .toSeq.distinct.map(n => (n, "string"))
  }

  /** One `<Placemark>` chunk → (fid, wkb, attrs). fid comes from the
    * element id (`<Placemark id="layer.7">`) or a `fid` data field. */
  def parsePlacemark(chunk: String): Gml.Feature = {
    val start = chunk.indexOf("<Placemark")
    require(start >= 0, "chunk without a Placemark")
    val body = chunk.substring(start).trim
    val xml = if (body.endsWith("</Placemark>")) body else body + "</Placemark>"
    val r = inputFactory.get.createXMLStreamReader(new StringReader(xml))
    try {
      var fid = -1L
      var geom: Geometry = null
      val attrs = Map.newBuilder[String, String]
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            localName(r) match {
              case "Placemark" =>
                Option(r.getAttributeValue(null, "id")).foreach { v =>
                  val dot = v.lastIndexOf('.')
                  val tail = if (dot >= 0) v.substring(dot + 1) else v
                  tail.toLongOption.foreach(fid = _)
                }
              case "SimpleData" =>
                val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
                val v = r.getElementText
                if (name == "fid" && fid == -1L) v.toLongOption.foreach(fid = _)
                if (name.nonEmpty) attrs += name -> v
              case "Data" =>
                val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
                // <Data name=..><value>v</value></Data>
                var v: String = null
                var done = false
                while (!done && r.hasNext) {
                  r.next() match {
                    case XMLStreamConstants.START_ELEMENT if localName(r) == "value" =>
                      v = r.getElementText
                    case XMLStreamConstants.END_ELEMENT if localName(r) == "Data" =>
                      done = true
                    case _ =>
                  }
                }
                if (name == "fid" && fid == -1L && v != null) v.toLongOption.foreach(fid = _)
                if (name.nonEmpty && v != null) attrs += name -> v
              case "Point" | "LineString" | "Polygon" | "MultiGeometry" =>
                geom = parseGeometryElement(r)
              case _ => ()
            }
          case _ => ()
        }
      }
      Gml.Feature(fid,
        if (geom == null) null else GeomFunctions.writeWkb(geom), attrs.result())
    } finally r.close()
  }

  /** Reader positioned ON the geometry start element; returns with the
    * matching end element consumed. */
  private def parseGeometryElement(r: XMLStreamReader): Geometry = {
    val kind = localName(r)
    kind match {
      case "Point" =>
        val cs = readCoordinates(r, kind)
        if (cs.isEmpty) gf.createPoint() else gf.createPoint(cs.head)
      case "LineString" =>
        gf.createLineString(readCoordinates(r, kind).toArray)
      case "Polygon" =>
        var shell: LinearRing = null
        val holes = scala.collection.mutable.ArrayBuffer[LinearRing]()
        var done = false
        var inOuter = false
        while (!done && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT => localName(r) match {
              case "outerBoundaryIs" => inOuter = true
              case "innerBoundaryIs" => inOuter = false
              case "LinearRing" =>
                val ring = gf.createLinearRing(readCoordinates(r, "LinearRing").toArray)
                if (inOuter || shell == null) shell = ring else holes += ring
              case _ => ()
            }
            case XMLStreamConstants.END_ELEMENT if localName(r) == "Polygon" =>
              done = true
            case _ => ()
          }
        }
        gf.createPolygon(shell, holes.toArray)
      case "MultiGeometry" =>
        val parts = scala.collection.mutable.ArrayBuffer[Geometry]()
        var done = false
        while (!done && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT
              if Set("Point", "LineString", "Polygon", "MultiGeometry")
                .contains(localName(r)) =>
              parts += parseGeometryElement(r)
            case XMLStreamConstants.END_ELEMENT if localName(r) == "MultiGeometry" =>
              done = true
            case _ => ()
          }
        }
        val ps = parts.toArray
        if (ps.nonEmpty && ps.forall(_.isInstanceOf[Point]))
          gf.createMultiPoint(ps.map(_.asInstanceOf[Point]))
        else if (ps.nonEmpty && ps.forall(_.isInstanceOf[LineString]))
          gf.createMultiLineString(ps.map(_.asInstanceOf[LineString]))
        else if (ps.nonEmpty && ps.forall(_.isInstanceOf[Polygon]))
          gf.createMultiPolygon(ps.map(_.asInstanceOf[Polygon]))
        else gf.createGeometryCollection(ps)
    }
  }

  /** Consume up to and including the enclosing `endTag`, returning the
    * coordinates found inside. */
  private def readCoordinates(r: XMLStreamReader, endTag: String): Seq[Coordinate] = {
    var out = Seq.empty[Coordinate]
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if localName(r) == "coordinates" =>
          out = parseCoordText(r.getElementText)
        case XMLStreamConstants.END_ELEMENT if localName(r) == endTag =>
          done = true
        case _ => ()
      }
    }
    out
  }

  /** "lon,lat[,alt]" tuples separated by whitespace (KML §16.9). */
  def parseCoordText(s: String): Seq[Coordinate] =
    s.trim.split("\\s+").toSeq.filter(_.nonEmpty).map { tok =>
      val parts = tok.split(",")
      new Coordinate(parts(0).toDouble, parts(1).toDouble)
    }
}

/** Streaming single-file KML export: reprojects to EPSG:4326 (the KML
  * datum), writes a `Schema` declaration + one `Placemark` per feature
  * via a fid-ordered `toLocalIterator` — driver memory bounded by one
  * Spark partition, like the sibling single-file sinks. */
object KmlSink {

  def writeStream(df0: DataFrame, proj: String, kmlPath: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"), "KML export needs a geometry column")
    val attrCols = df0.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val outNames = attrCols // KML names are free-form text; no sanitizing needed
    val fidIdx = df0.columns.indexOf("fid")
    val geomIdx = df0.columns.indexOf("geometry")
    val attrIdx = attrCols.map(df0.columns.indexOf(_))
    val types = attrCols.map(c => Kml.fieldType(df0.schema(c).dataType))
    val from = graft.raster.Proj.normalize(proj)
    val layer = new java.io.File(kmlPath).getName.replaceAll("(?i)\\.kml$", "")
      .replaceAll("[^A-Za-z0-9_]", "_")
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df0, col("fid")) else df0
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(kmlPath), "UTF-8"))
    try {
      w.write("<?xml version=\"1.0\" encoding=\"utf-8\" ?>\n")
      w.write("<kml xmlns=\"http://www.opengis.net/kml/2.2\">\n")
      w.write(s"""<Document id="root_doc">\n<Schema name="$layer" id="$layer">\n""")
      outNames.zip(types).foreach { case (n, t) =>
        w.write(s"""  <SimpleField name="${Gml.escape(n)}" type="$t"></SimpleField>\n""")
      }
      w.write("</Schema>\n<Folder><name>" + Gml.escape(layer) + "</name>\n")
      val it = ordered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx)) Gml.fidValue(r.get(fidIdx)) else -1L
        val wkb = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          r.get(geomIdx).asInstanceOf[Array[Byte]] else null
        val g0 = if (wkb == null) null else GeomFunctions.readWkb(wkb)
        val g = if (g0 == null || from == "EPSG:4326") g0 else {
          val c = g0.copy()
          c.apply(new org.locationtech.jts.geom.CoordinateFilter {
            override def filter(cc: org.locationtech.jts.geom.Coordinate): Unit = {
              val (nx, ny) = graft.raster.Proj.transform(from, "EPSG:4326", cc.x, cc.y)
              cc.x = nx; cc.y = ny
            }
          })
          c
        }
        w.write(s"""  <Placemark id="$layer.$fid">\n""")
        if (attrIdx.nonEmpty) {
          w.write(s"""    <ExtendedData><SchemaData schemaUrl="#$layer">\n""")
          attrIdx.zip(outNames).foreach { case (ai, n) =>
            if (!r.isNullAt(ai)) {
              val v = r.get(ai) match {
                case ts: java.sql.Timestamp => ts.toInstant.toString
                case other => other.toString
              }
              w.write(s"""      <SimpleData name="${Gml.escape(n)}">${Gml.escape(v)}</SimpleData>\n""")
            }
          }
          w.write("    </SchemaData></ExtendedData>\n")
        }
        if (g != null) w.write("    " + Kml.toKml(g) + "\n")
        w.write("  </Placemark>\n")
      }
      w.write("</Folder>\n</Document>\n</kml>\n")
    } finally w.close()
    kmlPath
  }
}

/** Distributed KML reader: always EPSG:4326 (the KML datum); schema from
  * the document's `Schema` declaration (head read), placemark parsing a
  * narrow map over a `</Placemark>`-split text scan. */
case class KmlSource(url: String) extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val fields: Seq[(String, String)] = {
    if (!graft.io.FileIO.exists(url) || graft.io.FileIO.isDirectory(url)) Seq.empty
    else {
      val in = graft.io.FileIO.openStream(url)
      val head = try new String(in.readNBytes(256 << 10), "UTF-8") finally in.close()
      Kml.parseSchema(head).map { case (n, t) => (n, Kml.sparkType(t)) }
    }
  }

  override lazy val columns: Set[String] =
    fields.map(_._1).filterNot(_ == "fid").toSet + "geometry" + "fid"

  override def projection: String = "EPSG:4326"

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val parse = udf { (chunk: String) =>
      val f = Kml.parsePlacemark(chunk)
      (f.fid, f.wkb, f.attrs)
    }
    val attrFields = fields.filterNot(_._1 == "fid")
    var df = spark.read.option("lineSep", "</Placemark>").text(url)
      .filter(col("value").contains("<Placemark"))
      .select(parse(col("value")).as("f"))
      .select((Seq(col("f._1").as("fid"), col("f._2").as("geometry")) ++
        attrFields.map { case (n, t) => col("f._3")(n).cast(t).as(n) }): _*)
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
