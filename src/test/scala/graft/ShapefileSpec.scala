package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Coordinate
import org.locationtech.jts.io.WKTReader
import graft.geometry._

class ShapefileSpec extends SparkSpec {

  private val wkt = new WKTReader()
  private def tmpShp(name: String): String =
    Files.createTempDirectory("shp").resolve(name + ".shp").toString

  /** `rows` as one shapefile set through the streaming writer. */
  private def writeShp(path: String, rows: Seq[(org.locationtech.jts.geom.Geometry, Seq[Any])],
      fields: Seq[Shapefile.DbfField], proj: String): Unit = {
    val w = new Shapefile.StreamWriter(path, fields, proj)
    rows.foreach { case (g, attrs) => w.append(g, attrs) }
    w.close()
  }

  private def roundTrip(wkts: Seq[String]): Seq[String] = {
    val path = tmpShp("rt")
    val geoms = wkts.map(w => if (w == null) null else wkt.read(w))
    val fields = Seq(Shapefile.DbfField("id", 'N', 18, 0))
    writeShp(path, geoms.zipWithIndex.map { case (g, i) =>
      (g, Seq[Any](i.toLong))
    }, fields, "EPSG:28992")
    val h = Shapefile.readDbfHeader(path.stripSuffix(".shp") + ".dbf")
    Shapefile.readRange(path, 0, wkts.length, h).map { case (_, g, _) =>
      if (g == null) null else g.norm().toText
    }.toSeq
  }

  test("points, multipoints, lines round-trip exactly") {
    val in = Seq(
      "POINT (1.5 -2.25)",
      "POINT (135000 456000)")
    assert(roundTrip(in) == in.map(wkt.read(_).norm().toText))

    val lines = Seq(
      "LINESTRING (0 0, 1 1, 2 0)",
      "MULTILINESTRING ((0 0, 1 0), (0 1, 1 1, 2 2))")
    assert(roundTrip(lines) == lines.map(wkt.read(_).norm().toText))

    val mp = Seq("MULTIPOINT ((0 0), (1 2), (3 4))")
    assert(roundTrip(mp) == mp.map(wkt.read(_).norm().toText))
  }

  test("polygons with holes and multipolygons keep ring structure") {
    val in = Seq(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5), (5.5 5.5, 6 5.5, 6 6, 5.5 6, 5.5 5.5)))")
    assert(roundTrip(in) == in.map(wkt.read(_).norm().toText))
  }

  test("null geometries become null shape records and survive") {
    val in = Seq("POINT (1 1)", null, "POINT (2 2)")
    assert(roundTrip(in) == Seq("POINT (1 1)", null, "POINT (2 2)"))
  }

  test("ring orientation on disk follows the spec (shell CW, hole CCW)") {
    val path = tmpShp("orient")
    // WKT with a CCW shell and CW hole — the writer must flip both
    val g = wkt.read(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    writeShp(path, Seq((g, Seq[Any](1L))),
      Seq(Shapefile.DbfField("id", 'N', 18, 0)), "EPSG:28992")
    val raf = new java.io.RandomAccessFile(path, "r")
    val bytes = try {
      val b = new Array[Byte](raf.length().toInt); raf.readFully(b); b
    } finally raf.close()
    val bb = java.nio.ByteBuffer.wrap(bytes, 108, bytes.length - 108)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt == 5) // polygon
    bb.position(bb.position() + 32)
    val nParts = bb.getInt; val nPoints = bb.getInt
    assert(nParts == 2 && nPoints == 10)
    val parts = Array.fill(nParts)(bb.getInt)
    val cs = Array.fill(nPoints)(new Coordinate(bb.getDouble, bb.getDouble))
    val shell = cs.slice(parts(0), parts(1))
    val hole = cs.slice(parts(1), nPoints)
    assert(!org.locationtech.jts.algorithm.Orientation.isCCW(shell))
    assert(org.locationtech.jts.algorithm.Orientation.isCCW(hole))
  }

  test("dbf attribute types round-trip (N, C, L, D, wide doubles)") {
    val path = tmpShp("attrs")
    val fields = Seq(
      Shapefile.DbfField("n", 'N', 18, 0),
      Shapefile.DbfField("x", 'N', 24, 15),
      Shapefile.DbfField("s", 'C', 20, 0),
      Shapefile.DbfField("b", 'L', 1, 0),
      Shapefile.DbfField("d", 'D', 8, 0))
    val rows = Seq(
      Seq[Any](42L, 3.25, "héllo", true, java.sql.Date.valueOf("2021-06-05")),
      Seq[Any](-7L, -0.001, "x", false, null),
      Seq[Any](null, null, null, null, null))
    val geoms = rows.indices.map(i => wkt.read(s"POINT ($i 0)"))
    writeShp(path, geoms.zip(rows).toSeq, fields, "EPSG:28992")

    val h = Shapefile.readDbfHeader(path.stripSuffix(".shp") + ".dbf")
    assert(h.fields == fields)
    val back = Shapefile.readRange(path, 0, 3, h).map(_._3.toSeq).toSeq
    assert(back == rows)
  }

  test("ShapefileSource reads distributed with filters and limit") {
    val path = tmpShp("source")
    val fields = Seq(
      Shapefile.DbfField("fid", 'N', 18, 0),
      Shapefile.DbfField("name", 'C', 8, 0),
      Shapefile.DbfField("value", 'N', 24, 15))
    val rows = (0 until 100).map { i =>
      (wkt.read(GeometryFixtures.square(i, 0, i + 1, 1)),
        Seq[Any](i.toLong, s"f$i", i * 1.5))
    }
    writeShp(path, rows, fields, "EPSG:28992")

    val src = ShapefileSource(path)
    assert(src.columns == Set("fid", "name", "value", "geometry"))
    assert(src.projection == "EPSG:28992")

    val all = src.frame(GeometryRequest()).orderBy("fid").collect()
    assert(all.length == 100)
    assert(all(3).getAs[String]("name") == "f3")
    assert(all(3).getAs[Double]("value") == 4.5)

    val filtered = src.frame(GeometryRequest(filters = Map("name" -> "f7"))).collect()
    assert(filtered.map(_.getAs[Long]("fid")).toSeq == Seq(7L))

    // spatial intersects filter: squares overlapping x in [10.5, 12.5]
    val boxed = src.frame(GeometryRequest(
      geometryWkt = Some(GeometryFixtures.square(10.5, 0.2, 12.5, 0.8))))
      .select("fid").collect().map(_.getLong(0)).sorted
    assert(boxed.toSeq == Seq(10L, 11L, 12L))

    assert(src.frame(GeometryRequest(limit = Some(5))).count() == 5)
  }

  test("ShapefileSink exports a block and ShapefileSource reopens it") {
    val path = tmpShp("sink")
    ShapefileSink.writeStream(GeometryFixtures.features.frame(GeometryRequest()),
      GeometryFixtures.features.projection, path)
    val back = ShapefileSource(path)
    assert(back.columns == Set("fid", "value", "name", "geometry"))
    val df = back.frame(GeometryRequest())
      .select(col("fid"), col("value"), col("name"),
        GeomFunctions.stArea(col("geometry")).as("area"))
      .orderBy("fid").collect()
    // the DBF "fid" column is adopted as the feature id — ids round-trip
    assert(df.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(df.map(_.getDouble(1)).toSeq == Seq(42.0, 7.5, -1.0))
    assert(math.abs(df(0).getDouble(3) - 1.0) < 1e-9)
  }

  /** The feature fixture plus a timestamp attribute. */
  private case class StampedSource() extends GeometryBlock {
    override def columns: Set[String] = GeometryFixtures.features.columns + "at"
    override def frame(req: GeometryRequest)(
        implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
      GeometryFixtures.features.frame(req)
        .withColumn("at", lit("2024-01-01 00:00:00").cast("timestamp"))
  }

  test("a timestamp attribute exports as its string cast and reads back") {
    // the DBF C width is sized from the string cast; the record writer must
    // write that same text (java.sql.Timestamp.toString adds ".0")
    val path = tmpShp("stamp")
    GeometryToFile.toFile(StampedSource(), path)
    val back = GeometryFileSource(path).frame(GeometryRequest()).orderBy("fid")
      .select("fid", "at").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq(1L, 2L, 3L).map(_ -> "2024-01-01 00:00:00"))
  }

  test("a WKT .prj (ArcGIS-authored) resolves to its EPSG code") {
    val path = tmpShp("wktprj")
    val fields = Seq(Shapefile.DbfField("fid", 'N', 18, 0))
    val rows = Seq((wkt.read(GeometryFixtures.square(155000, 463000, 155010, 463010)),
      Seq[Any](1L)))
    // the writer records the proj verbatim; hand it ESRI WKT like ArcGIS does
    val esriRd =
      """PROJCS["RD_New",GEOGCS["GCS_Amersfoort",DATUM["D_Amersfoort",SPHEROID["Bessel_1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Double_Stereographic"],PARAMETER["False_Easting",155000.0],PARAMETER["False_Northing",463000.0],PARAMETER["Central_Meridian",5.38763888888889],PARAMETER["Scale_Factor",0.9999079],PARAMETER["Latitude_Of_Origin",52.1561605555556],UNIT["Meter",1.0]]"""
    writeShp(path, rows, fields, esriRd)
    val src = ShapefileSource(path)
    assert(src.projection == "EPSG:28992")
    assert(src.frame(GeometryRequest()).count() == 1)
  }

  test("an unsupported .prj fails at source construction, naming the file") {
    val path = tmpShp("badprj")
    val fields = Seq(Shapefile.DbfField("fid", 'N', 18, 0))
    val rows = Seq((wkt.read(GeometryFixtures.square(0, 0, 1, 1)), Seq[Any](1L)))
    val krovak =
      """PROJCS["S-JTSK / Krovak East North",GEOGCS["S-JTSK",DATUM["S_JTSK",SPHEROID["Bessel 1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Krovak"],PARAMETER["latitude_of_center",49.5],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]"""
    writeShp(path, rows, fields, krovak)
    val e = intercept[IllegalArgumentException](ShapefileSource(path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("Krovak"))
  }
}
