package graft.geometry

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LineString, MultiLineString, MultiPoint, MultiPolygon, Point, Polygon}

/** AutoCAD DXF (ASCII) codec — the public Drawing Interchange File spec
  * (tagged group-code/value pairs). The reference reads DXF through OGR's
  * driver (geometry/sources.py:18-159); this implements the read path for
  * the geometric entity subset OGR exposes plus a minimal writer, so CAD
  * drawings can enter the engine without a conversion hop.
  *
  * Entities read: POINT, LINE, LWPOLYLINE (closed flag honored),
  * POLYLINE/VERTEX/SEQEND, CIRCLE and ARC (tessellated at [[ArcSegments]]
  * segments — CAD curves have no exact vector form in the feature model),
  * with the entity's layer (group 8) as a `layer` column. Non-geometric
  * and unsupported entities (TEXT, INSERT, HATCH, dimensions, ...) are
  * skipped and counted, like OGR. Closed polylines become polygons.
  *
  * Attributes: DXF has no native attribute table; the sink persists `fid`
  * and the property columns as extended entity data (XDATA, group 1001
  * app name "GRAFT", 1000 `key=value` strings — the documented extension
  * mechanism), and the reader restores them. Foreign files without XDATA
  * read with `layer` as the only property and sequential fids.
  *
  * CRS: DXF is CAD — coordinates carry NO georeference. A `.prj` sidecar
  * or the projection argument names the CRS; neither present fails loudly
  * (the sink writes `.prj` whenever the projection has a WKT form).
  *
  * Scale note: bounded single-file driver-side codec, like MIF and the
  * FeatureCollection document — drawings are small; cluster-scale layouts
  * remain geoparquet/FlatGeobuf.
  */
object Dxf {

  val ArcSegments = 64
  private val gf = new GeometryFactory()

  case class Entity(geom: Geometry, layer: String, attrs: Map[String, String])
  case class Drawing(entities: Seq[Entity], skipped: Map[String, Int])

  /** One BLOCK definition: base point + its entity pair-stream span. */
  private case class BlockDef(baseX: Double, baseY: Double,
      start: Int, end: Int)

  /** Parse the tagged pair stream of an ASCII DXF document. BLOCK
    * definitions are collected first so INSERT entities expand into their
    * transformed member geometry (scale about the base point, rotate,
    * translate — entities on layer "0" inherit the insert's layer, the
    * CAD by-block rule). Nested INSERTs expand to depth [[MaxInsertDepth]]
    * then fail loudly (cycle guard). */
  def read(path: String): Drawing = {
    val lines = Files.readAllLines(Paths.get(path)).toArray.map(_.toString)
    require(lines.length >= 2, s"$path: not a DXF (too short)")
    // pair stream: (code, value)
    val pairs = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var i = 0
    while (i + 1 < lines.length) {
      val code = lines(i).trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"$path: group code line ${i + 1} is not an integer: '${lines(i).trim}'"))
      pairs += ((code, lines(i + 1).trim))
      i += 2
    }
    // locate the ENTITIES section
    var k = 0
    var entStart = -1
    while (k < pairs.length - 1 && entStart < 0) {
      if (pairs(k) == ((0, "SECTION")) && pairs(k + 1) == ((2, "ENTITIES")))
        entStart = k + 2
      k += 1
    }
    require(entStart >= 0, s"$path: no ENTITIES section")

    // collect BLOCK definitions (BLOCKS section): name → base + body span
    val blocks = scala.collection.mutable.Map.empty[String, BlockDef]
    k = 0
    var blkStart = -1
    while (k < pairs.length - 1 && blkStart < 0) {
      if (pairs(k) == ((0, "SECTION")) && pairs(k + 1) == ((2, "BLOCKS")))
        blkStart = k + 2
      k += 1
    }
    if (blkStart >= 0) {
      var j = blkStart
      while (j < pairs.length && pairs(j) != ((0, "ENDSEC"))) {
        if (pairs(j) == ((0, "BLOCK"))) {
          var h = j + 1
          while (h < pairs.length && pairs(h)._1 != 0) h += 1
          val head = pairs.slice(j + 1, h)
          val name = head.find(_._1 == 2).map(_._2).getOrElse("")
          val bx = head.find(_._1 == 10).flatMap(_._2.toDoubleOption).getOrElse(0.0)
          val by = head.find(_._1 == 20).flatMap(_._2.toDoubleOption).getOrElse(0.0)
          val bodyStart = h
          while (h < pairs.length && pairs(h) != ((0, "ENDBLK"))) h += 1
          if (name.nonEmpty) blocks(name) = BlockDef(bx, by, bodyStart, h)
          j = h + 1
        } else j += 1
      }
    }

    val skipped = scala.collection.mutable.Map.empty[String, Int]
    // group the pair stream into entities: each starts at a (0, TYPE)
    def entityEnd(from: Int): Int = {
      var j = from + 1
      while (j < pairs.length && pairs(j)._1 != 0) j += 1
      j
    }

    // exponential-nesting guard: 16 levels of many-INSERT blocks could
    // otherwise expand without bound
    var expanded = 0L
    def parseRange(from: Int, until: Int, depth: Int): Seq[Entity] = {
      val out = scala.collection.mutable.ArrayBuffer[Entity]()
      var k = from
      while (k < until && pairs(k) != ((0, "ENDSEC"))) {
        require(pairs(k)._1 == 0, s"$path: malformed entity stream at pair $k")
        val etype = pairs(k)._2.toUpperCase
        val end = entityEnd(k)
        val body = pairs.slice(k + 1, end)
        def d(code: Int): Option[Double] =
          body.find(_._1 == code).flatMap(_._2.toDoubleOption)
        def need(code: Int): Double = d(code).getOrElse(
          throw new IllegalArgumentException(
            s"$path: $etype missing group $code"))
        val layer = body.find(_._1 == 8).map(_._2).getOrElse("0")
        val attrs = xdata(body)

        etype match {
          case "POINT" =>
            out += Entity(gf.createPoint(new Coordinate(need(10), need(20))),
              layer, attrs)
            k = end
          case "LINE" =>
            out += Entity(gf.createLineString(Array(
              new Coordinate(need(10), need(20)),
              new Coordinate(need(11), need(21)))), layer, attrs)
            k = end
          case "LWPOLYLINE" =>
            val xs = body.filter(_._1 == 10).map(_._2.toDouble)
            val ys = body.filter(_._1 == 20).map(_._2.toDouble)
            require(xs.length == ys.length && xs.length >= 2,
              s"$path: LWPOLYLINE with ${xs.length}/${ys.length} vertices")
            val closed = body.find(_._1 == 70)
              .exists(p => (p._2.toDoubleOption.getOrElse(0.0).toInt & 1) == 1)
            out += Entity(polyOrLine(
              xs.zip(ys).map { case (x, y) => new Coordinate(x, y) }, closed),
              layer, attrs)
            k = end
          case "POLYLINE" =>
            val closed = body.find(_._1 == 70)
              .exists(p => (p._2.toDoubleOption.getOrElse(0.0).toInt & 1) == 1)
            val cs = scala.collection.mutable.ArrayBuffer[Coordinate]()
            var j = end
            var done = false
            while (j < pairs.length && !done) {
              pairs(j)._2.toUpperCase match {
                case "VERTEX" =>
                  val vend = entityEnd(j)
                  val vb = pairs.slice(j + 1, vend)
                  def vd(code: Int) = vb.find(_._1 == code).map(_._2.toDouble)
                  for (x <- vd(10); y <- vd(20)) cs += new Coordinate(x, y)
                  j = vend
                case "SEQEND" => done = true; j = entityEnd(j)
                case _ => done = true // malformed: next entity begins
              }
            }
            require(cs.length >= 2, s"$path: POLYLINE with ${cs.length} vertices")
            out += Entity(polyOrLine(cs.toSeq, closed), layer, attrs)
            k = j
          case "CIRCLE" =>
            val (cx, cy, r) = (need(10), need(20), need(40))
            require(r > 0, s"$path: CIRCLE with radius $r")
            val ring = (0 to ArcSegments).map { s =>
              val a = 2 * math.Pi * s / ArcSegments
              new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
            }.toArray
            ring(ring.length - 1) = new Coordinate(ring(0)) // exact closure
            out += Entity(gf.createPolygon(ring), layer, attrs)
            k = end
          case "ARC" =>
            val (cx, cy, r) = (need(10), need(20), need(40))
            require(r > 0, s"$path: ARC with radius $r")
            val a0 = math.toRadians(need(50))
            var a1 = math.toRadians(need(51))
            if (a1 <= a0) a1 += 2 * math.Pi // DXF arcs run counter-clockwise
            val n = math.max(2,
              math.ceil(ArcSegments * (a1 - a0) / (2 * math.Pi)).toInt)
            val cs = (0 to n).map { s =>
              val a = a0 + (a1 - a0) * s / n
              new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
            }.toArray
            out += Entity(gf.createLineString(cs), layer, attrs)
            k = end
          case "INSERT" =>
            val name = body.find(_._1 == 2).map(_._2).getOrElse("")
            blocks.get(name) match {
              case Some(bd) =>
                require(depth < MaxInsertDepth,
                  s"$path: INSERT nesting deeper than $MaxInsertDepth " +
                    s"(block '$name' — reference cycle?)")
                val sx = d(41).getOrElse(1.0)
                val sy = d(42).getOrElse(1.0)
                val rot = math.toRadians(d(50).getOrElse(0.0))
                val at = new org.locationtech.jts.geom.util.AffineTransformation()
                  .translate(-bd.baseX, -bd.baseY)
                  .scale(sx, sy)
                  .rotate(rot)
                  .translate(need(10), need(20))
                val members = parseRange(bd.start, bd.end, depth + 1)
                expanded += members.length
                require(expanded <= 10000000L,
                  s"$path: INSERT expansion exceeds 10M entities")
                members.foreach { e =>
                  // by-block rule: member entities on layer "0" take the
                  // insert's layer; explicit layers stay
                  out += Entity(at.transform(e.geom),
                    if (e.layer == "0") layer else e.layer, e.attrs)
                }
              case None =>
                skipped(s"INSERT($name)") =
                  skipped.getOrElse(s"INSERT($name)", 0) + 1
            }
            k = end
          case other =>
            skipped(other) = skipped.getOrElse(other, 0) + 1
            k = end
        }
      }
      out.toSeq
    }
    Drawing(parseRange(entStart, pairs.length, 0), skipped.toMap)
  }

  /** Maximum INSERT nesting before a loud cycle failure. */
  val MaxInsertDepth = 16

  private def polyOrLine(cs: scala.collection.Seq[Coordinate], closed: Boolean): Geometry =
    if (closed && cs.length >= 3) {
      val ring = if (cs.head.equals2D(cs.last)) cs.toArray
        else (cs :+ new Coordinate(cs.head)).toArray
      gf.createPolygon(ring)
    } else gf.createLineString(cs.toArray)

  /** XDATA `key=value` attributes under the GRAFT app (what the sink
    * writes); foreign XDATA apps are ignored. */
  private def xdata(body: scala.collection.Seq[(Int, String)]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var inGraft = false
    body.foreach {
      case (1001, app) => inGraft = app.equalsIgnoreCase("GRAFT")
      case (1000, kv) if inGraft =>
        val eq = kv.indexOf('=')
        if (eq > 0) out += kv.substring(0, eq) -> kv.substring(eq + 1)
      case _ => ()
    }
    out.result()
  }

  private[geometry] def resolveCrs(path: String, arg: String): String = {
    val stem = path.substring(0, path.lastIndexOf('.'))
    val prj = Paths.get(stem + ".prj")
    if (Files.exists(prj))
      graft.raster.Proj.normalize(Files.readString(prj).trim)
    else if (arg.nonEmpty) arg
    else throw new IllegalArgumentException(
      s"$path: DXF carries no CRS — provide a .prj sidecar or a " +
        "projection argument")
  }
}

/** Streaming single-file DXF export (fid-ordered `toLocalIterator`):
  * minimal R12-compatible ENTITIES document; geometry decomposes into
  * POINT / POLYLINE entities (polygon rings as closed polylines — DXF has
  * no polygon-with-holes), attributes + fid ride as GRAFT XDATA, `.prj`
  * written whenever the projection has a WKT form. */
object DxfSink {

  def writeStream(df0: DataFrame, proj: String, dxfPath: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"), "DXF export needs a geometry column")
    val from = graft.raster.Proj.normalize(proj)
    val attrCols = df0.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val fidIdx = df0.columns.indexOf("fid")
    val geomIdx = df0.columns.indexOf("geometry")
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df0, col("fid")) else df0

    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(dxfPath), "UTF-8"))
    try {
      w.write("0\nSECTION\n2\nENTITIES\n")
      val it = ordered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx))
          Gml.fidValue(r.get(fidIdx)) else -1L
        val g = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          GeomFunctions.readWkb(r.get(geomIdx).asInstanceOf[Array[Byte]]) else null
        if (g != null) {
          val xd = new StringBuilder
          xd.append("1001\nGRAFT\n")
          xd.append(s"1000\nfid=$fid\n")
          attrCols.foreach { c =>
            val idx = df0.columns.indexOf(c)
            if (!r.isNullAt(idx)) {
              val v = r.get(idx) match {
                case ts: java.sql.Timestamp => ts.toInstant.toString
                case other => other.toString
              }
              require(!v.contains("\n"), s"DXF XDATA value with newline: $c")
              xd.append(s"1000\n$c=$v\n")
            }
          }
          writeGeom(w, g, xd.toString)
        }
      }
      w.write("0\nENDSEC\n0\nEOF\n")
    } finally w.close()
    graft.raster.WktSrs.toWkt(from).foreach { wkt =>
      Files.writeString(Paths.get(
        dxfPath.substring(0, dxfPath.lastIndexOf('.')) + ".prj"), wkt)
    }
    dxfPath
  }

  private def fmt(d: Double): String = Gml.fmt(d)

  private def writeGeom(w: java.io.Writer, g: Geometry, xd: String): Unit =
    g match {
      case p: Point =>
        w.write(s"0\nPOINT\n8\n0\n10\n${fmt(p.getX)}\n20\n${fmt(p.getY)}\n$xd")
      case mp: MultiPoint =>
        (0 until mp.getNumGeometries).foreach(i =>
          writeGeom(w, mp.getGeometryN(i), xd))
      case l: LineString => writePolyline(w, l.getCoordinates, closed = false, xd)
      case ml: MultiLineString =>
        (0 until ml.getNumGeometries).foreach(i =>
          writeGeom(w, ml.getGeometryN(i), xd))
      case poly: Polygon =>
        val rings = poly.getExteriorRing +:
          (0 until poly.getNumInteriorRing).map(poly.getInteriorRingN)
        rings.foreach(rg => writePolyline(w, rg.getCoordinates, closed = true, xd))
      case mp: MultiPolygon =>
        (0 until mp.getNumGeometries).foreach(i =>
          writeGeom(w, mp.getGeometryN(i), xd))
      case other => throw new IllegalArgumentException(
        s"DXF cannot represent ${other.getGeometryType}")
    }

  private def writePolyline(w: java.io.Writer, cs: Array[Coordinate],
      closed: Boolean, xd: String): Unit = {
    // classic POLYLINE/VERTEX/SEQEND (R12-readable everywhere); a closed
    // ring drops its duplicate last vertex and sets the closed flag
    val pts = if (closed && cs.length >= 2 && cs.head.equals2D(cs.last))
      cs.dropRight(1) else cs
    w.write(s"0\nPOLYLINE\n8\n0\n66\n1\n70\n${if (closed) 1 else 0}\n$xd")
    pts.foreach(c =>
      w.write(s"0\nVERTEX\n8\n0\n10\n${fmt(c.x)}\n20\n${fmt(c.y)}\n"))
    w.write("0\nSEQEND\n")
  }
}

/** DXF source: geometric entities + `layer` column; GRAFT XDATA restores
  * fid and attribute columns (foreign files read with sequential fids).
  * CRS from `.prj` sidecar or the projection argument. Bounded
  * single-file codec. */
case class DxfSource(url: String, projectionArg: String = "")
    extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val drawing: Dxf.Drawing = Dxf.read(url)

  /** One feature per XDATA fid: the sink decomposes multi-part and ringed
    * geometries into several entities sharing a fid, so CONSECUTIVE
    * entities with one fid regroup (rings by containment — first ring a
    * shell, contained rings holes; parts by homogeneous multi-type).
    * Entities without a persisted fid are one feature each. */
  @transient private lazy val features: Seq[(Long, Geometry, String, Map[String, String])] = {
    val gf = new GeometryFactory()
    def combine(gs: Seq[Geometry]): Geometry =
      if (gs.length == 1) gs.head
      else if (gs.forall(_.isInstanceOf[Point]))
        gf.createMultiPoint(gs.map(_.asInstanceOf[Point]).toArray)
      else if (gs.forall(_.isInstanceOf[LineString]))
        gf.createMultiLineString(gs.map(_.asInstanceOf[LineString]).toArray)
      else if (gs.forall(_.isInstanceOf[Polygon])) {
        val shells = scala.collection.mutable.ArrayBuffer[
          (Polygon, scala.collection.mutable.ArrayBuffer[org.locationtech.jts.geom.LinearRing])]()
        gs.map(_.asInstanceOf[Polygon]).foreach { p =>
          val pt = gf.createPoint(p.getExteriorRing.getCoordinateN(0))
          val host = shells.indexWhere { case (s, hs) =>
            s.contains(pt) && !hs.exists(h => gf.createPolygon(h).contains(pt))
          }
          if (host >= 0)
            shells(host)._2 += p.getExteriorRing.asInstanceOf[org.locationtech.jts.geom.LinearRing]
          else shells += ((p, scala.collection.mutable.ArrayBuffer.empty))
        }
        val polys = shells.map { case (s, hs) => gf.createPolygon(
          s.getExteriorRing.asInstanceOf[org.locationtech.jts.geom.LinearRing],
          hs.toArray) }
        if (polys.length == 1) polys.head
        else gf.createMultiPolygon(polys.toArray)
      } else gf.createGeometryCollection(gs.toArray)

    // entities arrive as an immutable Seq (List): index it once —
    // es(k)/es.length inside the regroup loop were O(n) on the List,
    // turning the whole pass quadratic (the sf1 soak measured 360 s
    // on 200k points; indexed it is linear)
    val es = drawing.entities.toIndexedSeq
    val out = scala.collection.mutable.ArrayBuffer[
      (Long, Geometry, String, Map[String, String])]()
    var k = 0
    while (k < es.length) {
      val e = es(k)
      e.attrs.get("fid").flatMap(_.toLongOption) match {
        case Some(f) =>
          var j = k + 1
          while (j < es.length &&
            es(j).attrs.get("fid").flatMap(_.toLongOption).contains(f)) j += 1
          out += ((f, combine(es.slice(k, j).map(_.geom)), e.layer,
            e.attrs - "fid"))
          k = j
        case None =>
          out += ((out.length.toLong, e.geom, e.layer, e.attrs - "fid"))
          k += 1
      }
    }
    out.toSeq
  }

  @transient private lazy val attrNames: Seq[String] =
    drawing.entities.flatMap(_.attrs.keys).distinct.filterNot(_ == "fid").sorted

  override lazy val columns: Set[String] =
    attrNames.toSet + "geometry" + "fid" + "layer"

  override def projection: String = Dxf.resolveCrs(url, projectionArg)

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tuples = features.map { case (fid, g, layer, attrs) =>
      (fid, GeomFunctions.writeWkb(g), layer, attrs)
    }
    var df = tuples.toDF("_1", "_2", "_3", "_4").select(
      (Seq(col("_1").as("fid"), col("_2").as("geometry"),
        col("_3").as("layer")) ++
        attrNames.map(n => col("_4")(n).as(n))): _*)
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
