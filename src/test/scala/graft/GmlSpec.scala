package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geometry._

/** GML 2.1.2 codec: geometry fragment round-trips, the OGR-style document
  * + xsd sidecar writer, and the lineSep-split distributed reader. */
class GmlSpec extends SparkSpec {

  /** `block` exported through the one GML writer. */
  private def export(block: GeometryBlock, out: String): String =
    GmlSink.writeStream(block.frame(GeometryRequest()), block.projection, out)

  private def roundTripGeom(wkt: String): Unit = {
    val g = GeomFunctions.readWkt(wkt)
    val member =
      s"""<gml:featureMember><ogr:t fid="t.1"><ogr:geometryProperty>${Gml.toGml(g)}</ogr:geometryProperty></ogr:t></gml:featureMember>"""
    val f = Gml.parseFeatureMember(member)
    assert(f.fid == 1L)
    assert(GeomFunctions.readWkb(f.wkb).equalsExact(g), wkt)
  }

  test("every geometry type round-trips through its GML fragment") {
    roundTripGeom("POINT (1.5 -2.25)")
    roundTripGeom("LINESTRING (0 0, 1 1, 2 0.5)")
    roundTripGeom(GeometryFixtures.square(0, 0, 4, 4))
    // polygon with a hole
    roundTripGeom("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    roundTripGeom("MULTIPOINT ((1 2), (3 4))")
    roundTripGeom("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))")
    roundTripGeom("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5), (5.5 5.5, 6 5.5, 6 6, 5.5 6, 5.5 5.5)))")
    roundTripGeom("GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))")
  }

  test("coordinates keep full double precision") {
    roundTripGeom("POINT (1.0000000000000002 -9.87654321e-7)")
  }

  test("GML 3 encodings parse: posList, pos, exterior/interior, MultiSurface") {
    // hand-written GML 3 fragment, as produced by modern OGR/GeoServer
    val member =
      """<gml:featureMember><ogr:t fid="t.9"><ogr:geometryProperty>
        |<gml:MultiSurface><gml:surfaceMember>
        |  <gml:Polygon>
        |    <gml:exterior><gml:LinearRing><gml:posList>0 0 10 0 10 10 0 10 0 0</gml:posList></gml:LinearRing></gml:exterior>
        |    <gml:interior><gml:LinearRing><gml:posList>2 2 4 2 4 4 2 4 2 2</gml:posList></gml:LinearRing></gml:interior>
        |  </gml:Polygon>
        |</gml:surfaceMember></gml:MultiSurface>
        |</ogr:geometryProperty></ogr:t></gml:featureMember>""".stripMargin
    val f = Gml.parseFeatureMember(member)
    assert(f.fid == 9L)
    assert(GeomFunctions.readWkb(f.wkb).equalsExact(GeomFunctions.readWkt(
      "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2)))")))

    // a gml:Point with gml:pos and a LineString assembled from repeated pos
    val pt = Gml.parseFeatureMember(
      """<gml:featureMember><ogr:t fid="t.3"><ogr:geometryProperty><gml:Point><gml:pos>1.5 -2.5</gml:pos></gml:Point></ogr:geometryProperty></ogr:t></gml:featureMember>""")
    assert(GeomFunctions.readWkb(pt.wkb).equalsExact(GeomFunctions.readWkt("POINT (1.5 -2.5)")))
    val ls = Gml.parseFeatureMember(
      """<gml:featureMember><ogr:t fid="t.4"><ogr:geometryProperty><gml:LineString><gml:pos>0 0</gml:pos><gml:pos>3 4</gml:pos></gml:LineString></ogr:geometryProperty></ogr:t></gml:featureMember>""")
    assert(GeomFunctions.readWkb(ls.wkb).equalsExact(GeomFunctions.readWkt("LINESTRING (0 0, 3 4)")))
  }

  test("sink writes a document + xsd the source round-trips exactly") {
    val dir = java.nio.file.Files.createTempDirectory("gml_sink")
    val out = dir.resolve("export.gml").toString
    export(GeometryFixtures.features, out)
    assert(new java.io.File(dir.resolve("export.xsd").toString).isFile)

    val src = GmlSource(out)
    assert(src.columns == Set("value", "name", "geometry"))
    val df = src.frame(GeometryRequest()).cache()
    assert(df.count() == 3)
    assert(df.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.schema("name").dataType == org.apache.spark.sql.types.StringType)
    val r2 = df.filter(col("fid") === 2).head()
    assert(r2.getAs[Double]("value") == 7.5)
    assert(r2.getAs[String]("name") == "b")
    assert(GeomFunctions.readWkb(r2.getAs[Array[Byte]]("geometry")).equalsExact(
      GeomFunctions.readWkt(GeometryFixtures.square(135001, 455998, 135003, 456000))))
    df.unpersist()
  }

  /** Mixed attribute types, XML-hostile strings, and null geometry/attrs. */
  private case class MixedSource() extends GeometryBlock {
    override def columns: Set[String] = Set("geometry", "n", "f", "flag", "note")
    override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq(
        (1L, GeometryFixtures.square(0, 0, 2, 2), Some(7L), Some(1.25), Some(true), Some("""a<b>&"c' €""")),
        (2L, null.asInstanceOf[String], Some(-3L), None, Some(false), None),
        (3L, "POINT (5 5)", None, Some(2.5e-3), None, Some("plain"))
      ).toDF("fid", "wkt", "n", "f", "flag", "note")
        .select(col("fid"), GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"),
          col("n"), col("f"), col("flag"), col("note"))
    }
  }

  test("typed attrs, escaping, and nulls survive the round-trip") {
    val out = java.nio.file.Files.createTempDirectory("gml_mixed")
      .resolve("mixed.gml").toString
    export(MixedSource(), out)

    val df = GmlSource(out).frame(GeometryRequest()).cache()
    assert(df.count() == 3)
    assert(df.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("f").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.schema("flag").dataType == org.apache.spark.sql.types.BooleanType)

    val r1 = df.filter(col("fid") === 1).head()
    assert(r1.getAs[Long]("n") == 7L)
    assert(r1.getAs[Boolean]("flag"))
    assert(r1.getAs[String]("note") == """a<b>&"c' €""")

    val r2 = df.filter(col("fid") === 2).head()
    assert(r2.getAs[Array[Byte]]("geometry") == null)
    assert(r2.isNullAt(r2.fieldIndex("f")))
    assert(r2.isNullAt(r2.fieldIndex("note")))

    val r3 = df.filter(col("fid") === 3).head()
    assert(r3.isNullAt(r3.fieldIndex("n")))
    assert(r3.getAs[Double]("f") == 2.5e-3)
    assert(GeomFunctions.readWkb(r3.getAs[Array[Byte]]("geometry")).equalsExact(
      GeomFunctions.readWkt("POINT (5 5)")))
    df.unpersist()
  }

  /** Column names that are not valid XML element names. */
  private case class HostileNamesSource() extends GeometryBlock {
    override def columns: Set[String] = Set("geometry", "my col", "a\"b", "my_col")
    override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq((1L, GeometryFixtures.square(0, 0, 2, 2), 7L, "x", 1.5))
        .toDF("fid", "wkt", "my col", "a\"b", "my_col")
        .select(col("fid"), GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"),
          col("`my col`"), col("`a\"b`"), col("my_col"))
    }
  }

  test("XML-hostile column names are sanitized on write, in document and xsd") {
    val out = java.nio.file.Files.createTempDirectory("gml_names")
      .resolve("names.gml").toString
    export(HostileNamesSource(), out)
    val src = GmlSource(out)
    // "my col" → my_col collides with the real my_col column → suffixed
    assert(src.columns == Set("geometry", "my_col", "a_b", "my_col_2"),
      src.columns.toString)
    val r = src.frame(GeometryRequest()).head()
    assert(r.getAs[Long]("my_col") == 7L)
    assert(r.getAs[String]("a_b") == "x")
    assert(r.getAs[Double]("my_col_2") == 1.5)
  }

  test("GeometryFileSource dispatches .gml; to_file writes it; serde round-trips") {
    val out = java.nio.file.Files.createTempDirectory("gml_tofile")
      .resolve("parts.gml").toString
    GeometryToFile.toFile(GeometryFixtures.features, out)
    val byExt = GeometryFileSource(out)
    assert(byExt.columns == Set("value", "name", "geometry"))
    assert(byExt.frame(GeometryRequest()).count() == 3)

    val back = graft.core.BlockRegistry.fromJson(GmlSource(out).toJson)
    assert(back == GmlSource(out))
  }

  test("spatial/attribute filters and limit apply on read") {
    val out = java.nio.file.Files.createTempDirectory("gml_filters")
      .resolve("filters.gml").toString
    export(GeometryFixtures.features, out)
    val src = GmlSource(out)
    assert(src.frame(GeometryRequest(filters = Map("name" -> "b")))
      .select("fid").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(src.frame(GeometryRequest(limit = Some(2))).count() == 2)
    val boxed = src.frame(GeometryRequest(
      geometryWkt = Some(GeometryFixtures.square(135000.9, 455997, 135004, 456001))))
      .select("fid").collect().map(_.getLong(0)).sorted.toSeq
    assert(boxed == Seq(1L, 2L)) // squares 1-2 touch the box; the sliver does not
  }

  test("a 5k-feature file reads back distributed and complete") {
    val rows = (1 to 5000).map { i =>
      (i.toLong, GeometryFixtures.square(i, 0, i + 1, 1), i * 0.5, "n" + i)
    }
    val out = java.nio.file.Files.createTempDirectory("gml_big")
      .resolve("big.gml").toString
    export(SeqGeometrySource(rows), out)
    val df = GmlSource(out).frame(GeometryRequest())
    assert(df.count() == 5000)
    val sum = df.agg(org.apache.spark.sql.functions.sum("value")).head().getDouble(0)
    assert(sum == (1 to 5000).map(_ * 0.5).sum)
    val r4999 = df.filter(col("fid") === 4999).head()
    assert(GeomFunctions.readWkb(r4999.getAs[Array[Byte]]("geometry")).equalsExact(
      GeomFunctions.readWkt(GeometryFixtures.square(4999, 0, 5000, 1))))
  }

  test("an IntegerType fid column exports without a cast error") {
    val sp = spark
    import sp.implicits._
    // parquet written with int32 fids surfaces Integer boxes, not Long
    val df = Seq((1, "POINT (1 2)"), (2, "POINT (3 4)")).toDF("fid", "wkt")
      .select(col("fid").cast(org.apache.spark.sql.types.IntegerType),
        GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"))
    val out = java.nio.file.Files.createTempDirectory("gml_intfid")
      .resolve("intfid.gml").toString
    GmlSink.writeStream(df, "EPSG:28992", out)(sp)
    val back = GmlSource(out).frame(GeometryRequest())
    assert(back.select("fid").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("a garbage srsName in the head does not override the proj fallback") {
    val dir = java.nio.file.Files.createTempDirectory("gml_badsrs")
    val out = dir.resolve("bad.gml").toString
    export(GeometryFixtures.features, out)
    val doctored = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
      .replaceFirst("srsName=\"[^\"]+\"", "srsName=\"urn:bogus:nothing\"")
    java.nio.file.Files.write(java.nio.file.Paths.get(out), doctored.getBytes("UTF-8"))
    assert(GmlSource(out, proj = "EPSG:4326").projection == "EPSG:4326")
  }
}
