package graft.geometry

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LineString, LinearRing, MultiLineString, MultiPoint, MultiPolygon, Point, Polygon}

/** MapInfo Interchange Format (MIF/MID) codec — the officially documented
  * MapInfo text exchange format (the binary TAB/MAP quartet is only
  * reverse-engineered; MIF is the spec-public route every MapInfo tool
  * exports). The reference reads it through OGR's MapInfo driver
  * (geometry/sources.py:18-159).
  *
  * A dataset is a `.mif` file (header: Version/Charset/Delimiter/CoordSys/
  * Columns, then `Data` and one graphic object per record) plus a `.mid`
  * sidecar carrying the delimited attribute rows. Supported objects:
  * POINT, MULTIPOINT, LINE, PLINE (incl. MULTIPLE), REGION (holes
  * recovered by containment, the MITAB rule), NONE; PEN/BRUSH/SYMBOL/
  * SMOOTH/CENTER styling clauses are skipped.
  *
  * CoordSys handling: `Earth Projection 1, 104` is WGS84 lon/lat;
  * `Earth Projection 8, 104, ...` (Transverse Mercator over WGS84)
  * resolves through the WKT hub; `NonEarth` and absent clauses fall back
  * to the `.prj` sidecar / projection argument (the sink writes NonEarth +
  * `.prj` for projected CRS so round-trips keep the exact CRS). Any other
  * clause fails loudly quoting itself — never a silently mislabeled CRS.
  *
  * Scale note: MIF objects are multi-line and count-driven with no
  * end-of-object delimiter, so the file cannot be split safely; it parses
  * as a bounded single-file codec on the driver — the same contract as
  * the FeatureCollection GeoJSON document. Cluster-scale layouts remain
  * geoparquet/FlatGeobuf.
  */
object Mif {

  private val gf = new GeometryFactory()

  /** MIF column type → spark type name. */
  def sparkTypeOf(mifType: String): String = {
    val t = mifType.trim.toLowerCase
    if (t.startsWith("char")) "string"
    else if (t.startsWith("decimal") || t == "float") "double"
    else if (t == "integer") "long"
    else if (t == "smallint") "int"
    else if (t == "logical") "boolean"
    else "string" // date/time/unknown ride as text
  }

  /** Spark type → MIF column type (the writer's mapping). */
  def mifTypeOf(sparkType: String): String = sparkType match {
    case "long" | "bigint" | "int" | "integer" | "smallint" | "tinyint" => "Integer"
    case "double" | "float" => "Float"
    case "boolean" => "Logical"
    case _ => "Char(254)"
  }

  case class Dataset(delimiter: Char, coordSys: Option[String],
      columns: Seq[(String, String)], geoms: Seq[Geometry],
      rows: Seq[Seq[String]])

  /** Sidecar `.prj` beats the argument (GDAL precedence); no georeference
    * source at all fails loudly — never a silently guessed CRS. */
  private def resolveViaPrj(path: String, arg: String): String = {
    val prj = Paths.get(sidecar(path, ".prj"))
    if (Files.exists(prj))
      graft.raster.Proj.normalize(Files.readString(prj).trim)
    else if (arg.nonEmpty) arg
    else throw new IllegalArgumentException(
      s"$path: NonEarth/absent CoordSys with no .prj sidecar and no " +
        "projection argument")
  }

  /** CRS of a parsed CoordSys clause (None = clause absent). */
  def crsOf(coordSys: Option[String], dataPath: String,
      projectionArg: String): String = {
    val cs = coordSys.map(_.trim.replaceAll("\\s+", " ")).getOrElse("")
    val earthRe = """(?i)coordsys\s+earth\s+projection\s+(\d+)\s*,\s*(\d+)(.*)""".r
    cs match {
      case "" =>
        resolveViaPrj(dataPath, projectionArg)
      case c if c.toLowerCase.startsWith("coordsys nonearth") =>
        resolveViaPrj(dataPath, projectionArg)
      case earthRe(ptype, datum, rest) =>
        (ptype.toInt, datum.toInt) match {
          case (1, 104) => "EPSG:4326"
          case (8, 104) =>
            // Transverse Mercator over WGS84:
            // "m", lon0, lat0, scale, false_easting, false_northing
            val nums = """-?\d+(?:\.\d+)?""".r.findAllIn(rest).map(_.toDouble).toSeq
            require(nums.length >= 5,
              s"MIF CoordSys TM clause needs 5 parameters: '$cs'")
            val Seq(lon0, lat0, k, fe, fn) = nums.take(5)
            val wkt = "PROJCS[\"MIF Transverse Mercator\"," +
              "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
              "SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
              "PRIMEM[\"Greenwich\",0]," +
              "UNIT[\"degree\",0.0174532925199433]]," +
              "PROJECTION[\"Transverse_Mercator\"]," +
              s"""PARAMETER["latitude_of_origin",$lat0],""" +
              s"""PARAMETER["central_meridian",$lon0],""" +
              s"""PARAMETER["scale_factor",$k],""" +
              s"""PARAMETER["false_easting",$fe],""" +
              s"""PARAMETER["false_northing",$fn],""" +
              "UNIT[\"metre\",1]]"
            graft.raster.Proj.normalize(wkt)
          case (p, d) => throw new IllegalArgumentException(
            s"unsupported MIF CoordSys (projection $p, datum $d): '$cs'")
        }
      case other => throw new IllegalArgumentException(
        s"unparseable MIF CoordSys clause: '$other'")
    }
  }

  private val styleKeywords =
    Set("PEN", "BRUSH", "SYMBOL", "SMOOTH", "CENTER", "FONT")

  /** Parse the `.mif` (+ `.mid`) pair. Bounded single-file codec. */
  def read(mifPath: String): Dataset = {
    val lines = Files.readAllLines(Paths.get(mifPath)).toArray.map(_.toString)
    var i = 0
    var delimiter = '\t' // spec default when no Delimiter clause
    var coordSys: Option[String] = None
    var columns = Seq.empty[(String, String)]
    var dataAt = -1
    while (i < lines.length && dataAt < 0) {
      val t = lines(i).trim
      val up = t.toUpperCase
      if (up.startsWith("DELIMITER")) {
        val q = t.indexOf('"')
        require(q >= 0 && q + 1 < t.length, s"$mifPath: malformed Delimiter")
        delimiter = t.charAt(q + 1)
      } else if (up.startsWith("COORDSYS")) {
        coordSys = Some(t)
      } else if (up.startsWith("COLUMNS")) {
        val n = t.split("\\s+")(1).toInt
        require(n >= 0 && i + n < lines.length, s"$mifPath: bad column count $n")
        columns = (1 to n).map { j =>
          val parts = lines(i + j).trim.split("\\s+", 2)
          require(parts.length == 2, s"$mifPath: malformed column '${lines(i + j)}'")
          (parts(0), parts(1))
        }
        i += n
      } else if (up == "DATA") {
        dataAt = i
      }
      i += 1
    }
    require(dataAt >= 0, s"$mifPath: no DATA section")

    val geoms = scala.collection.mutable.ArrayBuffer[Geometry]()
    i = dataAt + 1
    def nextNonEmpty(): String = {
      while (i < lines.length && lines(i).trim.isEmpty) i += 1
      require(i < lines.length, s"$mifPath: truncated object")
      val l = lines(i).trim; i += 1; l
    }
    def coordsFrom(tokens: Seq[String]): Seq[Coordinate] =
      tokens.grouped(2).map(p => new Coordinate(p(0).toDouble, p(1).toDouble)).toSeq
    def readCoords(n: Int): Array[Coordinate] = {
      require(n >= 0 && n <= 100000000, s"$mifPath: implausible point count $n")
      val out = scala.collection.mutable.ArrayBuffer[Coordinate]()
      while (out.length < n)
        out ++= coordsFrom(nextNonEmpty().split("[\\s,]+").toSeq)
      out.toArray
    }
    while (i < lines.length) {
      val t = lines(i).trim
      if (t.isEmpty) { i += 1 }
      else {
        val tokens = t.split("[\\s,]+").toSeq
        val kw = tokens.head.toUpperCase
        if (styleKeywords.contains(kw)) { i += 1 }
        else {
          i += 1
          kw match {
            case "NONE" => geoms += null
            case "POINT" =>
              val c = if (tokens.length >= 3) coordsFrom(tokens.tail.take(2))
                else coordsFrom(nextNonEmpty().split("[\\s,]+").toSeq)
              geoms += gf.createPoint(c.head)
            case "MULTIPOINT" =>
              val n = if (tokens.length >= 2) tokens(1).toInt
                else nextNonEmpty().toInt
              geoms += gf.createMultiPointFromCoords(readCoords(n))
            case "LINE" =>
              val c = coordsFrom(tokens.tail.take(4))
              geoms += gf.createLineString(c.toArray)
            case "PLINE" =>
              if (tokens.length >= 3 && tokens(1).toUpperCase == "MULTIPLE") {
                val sections = (0 until tokens(2).toInt).map { _ =>
                  gf.createLineString(readCoords(nextNonEmpty().toInt))
                }
                geoms += gf.createMultiLineString(sections.toArray)
              } else {
                val n = if (tokens.length >= 2) tokens(1).toInt
                  else nextNonEmpty().toInt
                geoms += gf.createLineString(readCoords(n))
              }
            case "REGION" =>
              val nRings = if (tokens.length >= 2) tokens(1).toInt
                else nextNonEmpty().toInt
              require(nRings >= 0 && nRings <= 10000000,
                s"$mifPath: implausible ring count $nRings")
              val rings = (0 until nRings).map { _ =>
                var cs = readCoords(nextNonEmpty().toInt)
                if (cs.length >= 3 && !cs.head.equals2D(cs.last))
                  cs = cs :+ new Coordinate(cs.head)
                gf.createLinearRing(cs)
              }
              geoms += assembleRegion(rings)
            case other => throw new IllegalArgumentException(
              s"$mifPath: unsupported MIF object '$other'")
          }
        }
      }
    }

    val midPath = sidecar(mifPath, ".mid")
    val rows: Seq[Seq[String]] =
      if (columns.isEmpty) geoms.indices.map(_ => Seq.empty)
      else {
        require(Files.exists(Paths.get(midPath)), s"$midPath: missing .mid sidecar")
        val midLines = Files.readAllLines(Paths.get(midPath)).toArray
          .map(_.toString).filter(_.nonEmpty)
        midLines.toSeq.map(splitMid(_, delimiter, columns.length))
      }
    require(columns.isEmpty || rows.length == geoms.length,
      s"$mifPath: ${geoms.length} objects but ${rows.length} .mid rows")
    Dataset(delimiter, coordSys, columns, geoms.toSeq, rows)
  }

  /** MITAB region rule: a ring inside an existing shell is that shell's
    * hole; otherwise it starts a new polygon (orientation carries no
    * meaning in MIF). */
  private[geometry] def assembleRegion(rings: Seq[LinearRing]): Geometry = {
    if (rings.isEmpty) return gf.createPolygon()
    val shells = scala.collection.mutable.ArrayBuffer[
      (LinearRing, scala.collection.mutable.ArrayBuffer[LinearRing])]()
    rings.foreach { r =>
      val p = gf.createPoint(r.getCoordinateN(0))
      // inside a shell but not inside one of its holes → this shell's hole;
      // inside a hole (island-in-lake) or outside everything → new shell
      val host = shells.indexWhere { case (s, hs) =>
        gf.createPolygon(s).contains(p) &&
          !hs.exists(h => gf.createPolygon(h).contains(p))
      }
      if (host >= 0) shells(host)._2 += r
      else shells += ((r, scala.collection.mutable.ArrayBuffer.empty))
    }
    val polys = shells.map { case (s, hs) => gf.createPolygon(s, hs.toArray) }
    if (polys.length == 1) polys.head else gf.createMultiPolygon(polys.toArray)
  }

  /** Split one `.mid` line on the delimiter, honoring double-quoted
    * fields with `""` escaping. */
  def splitMid(line: String, delimiter: Char, nCols: Int): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQ = false
    var k = 0
    while (k < line.length) {
      val ch = line.charAt(k)
      if (inQ) {
        if (ch == '"') {
          if (k + 1 < line.length && line.charAt(k + 1) == '"') { sb += '"'; k += 1 }
          else inQ = false
        } else sb += ch
      } else if (ch == '"') inQ = true
      else if (ch == delimiter) { out += sb.toString; sb.clear() }
      else sb += ch
      k += 1
    }
    out += sb.toString
    require(out.length == nCols,
      s"MID row has ${out.length} fields, expected $nCols: '$line'")
    out.toSeq
  }

  def sidecar(mifPath: String, ext: String): String = {
    val stem = mifPath.substring(0, mifPath.length - 4)
    stem + (if (mifPath.endsWith(".MIF")) ext.toUpperCase else ext)
  }
}

/** Streaming single-file MIF/MID export (fid-ordered `toLocalIterator`,
  * same contract as the other single-file sinks). Native-CRS coordinates:
  * EPSG:4326 writes an `Earth Projection 1, 104` CoordSys, anything else
  * writes `NonEarth Units "m"` plus a `.prj` sidecar carrying the exact
  * CRS for round-trips. The fid persists as a leading Integer column. */
object MifSink {

  def writeStream(df0: DataFrame, proj: String, mifPath: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"), "MIF export needs a geometry column")
    val from = graft.raster.Proj.normalize(proj)
    val attrCols = df0.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val fidIdx = df0.columns.indexOf("fid")
    val geomIdx = df0.columns.indexOf("geometry")
    val types = df0.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df0, col("fid")) else df0

    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(mifPath), "UTF-8"))
    val mid = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(Mif.sidecar(mifPath, ".mid")), "UTF-8"))
    try {
      w.write("Version 300\n")
      w.write("Charset \"WindowsLatin1\"\n")
      w.write("Delimiter \",\"\n")
      if (from == "EPSG:4326") w.write("CoordSys Earth Projection 1, 104\n")
      else w.write("CoordSys NonEarth Units \"m\"\n")
      w.write(s"Columns ${attrCols.length + 1}\n")
      w.write("  fid Integer\n")
      attrCols.foreach(c => w.write(s"  $c ${Mif.mifTypeOf(types(c))}\n"))
      w.write("Data\n\n")
      val it = ordered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx))
          Gml.fidValue(r.get(fidIdx)) else -1L
        val g = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          GeomFunctions.readWkb(r.get(geomIdx).asInstanceOf[Array[Byte]]) else null
        w.write(objectText(g))
        val vals = fid.toString +: attrCols.map { c =>
          val idx = df0.columns.indexOf(c)
          if (r.isNullAt(idx)) ""
          else r.get(idx) match {
            case s: String => "\"" + s.replace("\"", "\"\"") + "\""
            case ts: java.sql.Timestamp => "\"" + ts.toInstant.toString + "\""
            case other => other.toString
          }
        }
        mid.write(vals.mkString(","))
        mid.write("\n")
      }
    } finally { w.close(); mid.close() }
    if (from != "EPSG:4326") {
      // foreign tools read .prj as WKT; keep already-WKT input verbatim
      val prjText = graft.raster.WktSrs.toWkt(from).getOrElse(from)
      Files.writeString(Paths.get(Mif.sidecar(mifPath, ".prj")), prjText)
    }
    mifPath
  }

  private def fmt(d: Double): String = Gml.fmt(d)
  private def coordLine(c: Coordinate): String = s"${fmt(c.x)} ${fmt(c.y)}\n"

  private def objectText(g: Geometry): String = g match {
    case null => "NONE\n"
    case p: Point => s"POINT ${fmt(p.getX)} ${fmt(p.getY)}\n"
    case mp: MultiPoint =>
      s"MULTIPOINT ${mp.getNumGeometries}\n" +
        (0 until mp.getNumGeometries).map(k =>
          coordLine(mp.getGeometryN(k).getCoordinate)).mkString
    case l: LineString =>
      s"PLINE ${l.getNumPoints}\n" + l.getCoordinates.map(coordLine).mkString
    case ml: MultiLineString =>
      s"PLINE MULTIPLE ${ml.getNumGeometries}\n" +
        (0 until ml.getNumGeometries).map { k =>
          val l = ml.getGeometryN(k).asInstanceOf[LineString]
          s"${l.getNumPoints}\n" + l.getCoordinates.map(coordLine).mkString
        }.mkString
    case poly: Polygon => regionText(Seq(poly))
    case mp: MultiPolygon =>
      regionText((0 until mp.getNumGeometries)
        .map(mp.getGeometryN(_).asInstanceOf[Polygon]))
    case other => throw new IllegalArgumentException(
      s"MIF cannot represent ${other.getGeometryType}")
  }

  private def regionText(polys: Seq[Polygon]): String = {
    val rings = polys.flatMap { p =>
      p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
    }
    s"REGION ${rings.length}\n" + rings.map { r =>
      s"${r.getNumPoints}\n" + r.getCoordinates.map(coordLine).mkString
    }.mkString
  }
}

/** MIF/MID source: schema from the Columns clause, CRS from CoordSys with
  * `.prj`/argument fallback; a leading integer `fid` column (what the sink
  * writes) becomes the feature id. Bounded single-file codec. */
case class MifSource(url: String, projectionArg: String = "")
    extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val ds: Mif.Dataset = Mif.read(url)

  /** Index of a persisted integer `fid` column (what the sink writes):
    * that column is the feature id, not an attribute. */
  @transient private lazy val fidCol: Option[Int] = {
    val idx = ds.columns.indexWhere { case (n, t) =>
      n.equalsIgnoreCase("fid") && Mif.sparkTypeOf(t) == "long"
    }
    if (idx >= 0) Some(idx) else None
  }

  @transient private lazy val attrCols: Seq[(String, String)] =
    ds.columns.zipWithIndex.collect {
      case ((n, t), j) if !fidCol.contains(j) => (n, Mif.sparkTypeOf(t))
    }

  override lazy val columns: Set[String] =
    attrCols.map(_._1).toSet + "geometry" + "fid"

  override def projection: String =
    Mif.crsOf(ds.coordSys, url, projectionArg)

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tuples = ds.geoms.zipWithIndex.map { case (g, k) =>
      val row = if (ds.rows.isDefinedAt(k)) ds.rows(k) else Seq.empty
      val fid = fidCol.flatMap(j => row.lift(j).flatMap(_.trim.toLongOption))
        .getOrElse(k.toLong)
      val attrs = ds.columns.zipWithIndex.collect {
        case ((n, _), j) if !fidCol.contains(j) && row.lift(j).exists(_.nonEmpty) =>
          n -> row(j)
      }.toMap
      (fid, if (g == null) null else GeomFunctions.writeWkb(g), attrs)
    }
    var df = tuples.toDF("_1", "_2", "_3").select(
      (Seq(col("_1").as("fid"), col("_2").as("geometry")) ++
        attrCols.map { case (n, t) => col("_3")(n).cast(t).as(n) }): _*)
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
