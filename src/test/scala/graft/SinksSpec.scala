package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import graft.raster._
import graft.geometry._
import RasterFixtures._

class SinksSpec extends SparkSpec {

  test("raster sink writes tiles + manifest and reads back identically") {
    val dir = Files.createTempDirectory("graft_raster_sink").toString
    val req = RasterRequest(Bbox(135000, 455995, 135005, 456000), "EPSG:28992",
      10, 10, Some(T0), Some(T0.plusMillis(3 * Hour)))
    RasterParquetSink(source, dir).write(req)
    val back = RasterParquetSource(dir)
    assert(back.dtype == DType.U1 && back.projection == "EPSG:28992")
    assert(back.allTimes == source.allTimes)
    val res = back.getData(req).get
    val orig = source.getData(req).get
    assert(res.values.map(_.toSeq).toSeq == orig.values.map(_.toSeq).toSeq)
    // and it composes: ops over the re-opened store
    assert(Add(back, 1).getData(req).get.values(0).head == 2.0)
  }

  test("RasterToFile derives the request from metadata") {
    val dir = Files.createTempDirectory("graft_tofile").toString
    RasterToFile.toFile(source, dir)
    val back = RasterParquetSource(dir)
    assert(back.extent == source.extent)
  }

  test("geometry sink round-trips through geoparquet with bbox pushdown") {
    val dir = Files.createTempDirectory("graft_geo_sink").toString
    GeometryFileSink(GeometryFixtures.features, dir).write(GeometryFixtures.request)
    val back = GeoParquetSource(dir)
    val df = back.frame(GeometryRequest())
    assert(df.count() == 3)
    assert(df.columns.contains("geometry") && df.columns.contains("bbox_minx"))
    // spatial filter via bbox prefilter + exact predicate
    val filtered = back.frame(GeometryRequest(geometryWkt =
      Some(GeometryFixtures.square(135000.5, 455999.2, 135002, 456000))))
    assert(filtered.count() == 2) // squares 1 and 2 intersect; sliver 3 does not
  }

  test("reopened stores declare real plan-time columns (getSeries works)") {
    val dir = Files.createTempDirectory("graft_geo_schema").toString
    GeometryFileSink(GeometryFixtures.features, dir).write(GeometryFixtures.request)
    val back = GeoParquetSource(dir)
    // footer-derived schema: property columns visible without a scan
    assert(back.columns.contains("value") && back.columns.contains("name") &&
      back.columns.contains("geometry"))
    assert(!back.columns.contains("geometry_wkt") && !back.columns.contains("bbox_minx"))
    // getSeries on a reopened store no longer throws at plan time
    val s = back.getSeries("value")
    val df = back.set("doubled", FieldOps.Multiply(s, 2.0)).frame(GeometryRequest())
    assert(df.select("doubled").collect().map(_.getDouble(0)).sorted.nonEmpty)

    val jdir = Files.createTempDirectory("graft_geojson_schema").toString
    GeometryFileSink(GeometryFixtures.features, jdir, format = "geojson")
      .write(GeometryFixtures.request)
    val jback = GeoJsonSource(jdir)
    assert(jback.columns.contains("value") && jback.columns.contains("geometry"))
  }

  test("geojson sink writes RFC 7946 feature lines in WGS84 and reads back") {
    val dir = Files.createTempDirectory("graft_geojson").toString
    GeometryFileSink(GeometryFixtures.features, dir, format = "geojson")
      .write(GeometryFixtures.request)
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.length == 3)
    // real GeoJSON geometry objects, not WKT carriers
    assert(lines.forall(l => l.contains("\"type\":\"Feature\"") &&
      l.contains("\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[[[")))
    // every parsed line is valid JSON with numeric positions
    lines.foreach { l =>
      val obj = graft.core.Json.parse(l).asInstanceOf[Map[String, Any]]
      assert(obj("properties").isInstanceOf[Map[_, _]])
      assert(obj("geometry").asInstanceOf[Map[String, Any]]("type") == "Polygon")
    }
    val back = GeoJsonSource(dir)
    assert(back.projection == "EPSG:4326") // the sink reprojected on write
    val df = back.frame(GeometryRequest(filters = Map("name" -> "a")))
    assert(df.count() == 1)
    assert(df.columns.toSet.intersect(Set("fid", "geometry", "value", "name")).size == 4)
    // RD New fixture coordinates land in the Netherlands in lon/lat
    val r = back.frame(GeometryRequest()).select(
      GeomFunctions.stCentroidX(col("geometry")), GeomFunctions.stCentroidY(col("geometry"))).head()
    assert(r.getDouble(0) > 4.0 && r.getDouble(0) < 7.0, r.toString) // lon
    assert(r.getDouble(1) > 51.0 && r.getDouble(1) < 54.0, r.toString) // lat
  }

  test("single-file formats write per-request tiles; mergeFiles combines them") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("sink_tiles").toString
    val sink = GeometryFileSink(GeometryFixtures.features, dir, "gpkg")
    // two disjoint tile requests, like the reference's GeometryTiler issues
    val left = sink.write(GeometryRequest(mode = "centroid",
      geometryWkt = Some(GeometryFixtures.square(134999, 455997, 135000.9, 456001))))
    val right = sink.write(GeometryRequest(mode = "centroid",
      geometryWkt = Some(GeometryFixtures.square(135000.9, 455997, 135004, 456001))))
    assert(left != right && left.endsWith(".gpkg") && right.endsWith(".gpkg"))
    assert(GeometryFileSource(left).frame(GeometryRequest()).count() +
      GeometryFileSource(right).frame(GeometryRequest()).count() == 3)

    val merged = GeometryFileSink.mergeFiles(dir,
      Files.createTempDirectory("sink_merge").resolve("all.gpkg").toString)
    val df = GeometryFileSource(merged).frame(GeometryRequest())
    assert(df.count() == 3)
    assert(df.filter(col("name") === "b").count() == 1)

    // fields subset projects attribute columns through single-file formats
    val fdir = Files.createTempDirectory("sink_fields").toString
    val out = GeometryFileSink(GeometryFixtures.features, fdir, "gml",
      fields = Some(Seq("name"))).write(GeometryRequest())
    val cols = GeometryFileSource(out).columns
    assert(cols == Set("name", "geometry"), cols.toString)
  }

  test("every single-file format's tiles write and mergeFiles combines them") {
    import org.apache.spark.sql.functions.col
    // GPX holds no polygons: it tiles the fixture's centroids instead
    val points = SeqGeometrySource(GeometryFixtures.features.rows.map {
      case (fid, wkt, v, name) =>
        (fid, GeomFunctions.readWkt(wkt).getCentroid.toText, v, name)
    })
    // the sink's "geojson" is the partitioned writer, not a tile format
    for (fmt <- VectorFormat.all.map(_.name).filterNot(_ == "geojson")) {
      val dir = Files.createTempDirectory(s"sink_tiles_$fmt").toString
      val src = if (fmt == "gpx") points else GeometryFixtures.features
      val sink = GeometryFileSink(src, dir, fmt)
      sink.write(GeometryRequest(mode = "centroid",
        geometryWkt = Some(GeometryFixtures.square(134999, 455997, 135000.9, 456001))))
      sink.write(GeometryRequest(mode = "centroid",
        geometryWkt = Some(GeometryFixtures.square(135000.9, 455997, 135004, 456001))))
      val merged = GeometryFileSink.mergeFiles(dir,
        Files.createTempDirectory(s"sink_merge_$fmt").resolve(s"all.$fmt").toString)
      val df = GeometryFileSource(merged).frame(GeometryRequest())
      assert(df.count() == 3, fmt)
      assert(df.filter(col("name") === "b").count() == 1, fmt)
    }
  }

  test("mergeFiles refuses an existing target (reference sinks.py:180)") {
    val dir = Files.createTempDirectory("merge_exists").toString
    GeometryFileSink(GeometryFixtures.features, dir, "gpkg")
      .write(GeometryRequest(mode = "centroid"))
    val target = Files.createTempFile("already", ".gpkg")
    intercept[java.io.IOException] {
      GeometryFileSink.mergeFiles(dir, target.toString)
    }
  }

  test("merged gml tiles keep the source CRS via srsName") {
    val src = SeqGeometrySource(Seq(
      (1L, GeometryFixtures.square(500000, 6800000, 500001, 6800001), 1.0, "a"),
      (2L, GeometryFixtures.square(500002, 6800000, 500003, 6800001), 2.0, "b")),
      proj = "EPSG:3857")
    val dir = Files.createTempDirectory("merge_crs").toString
    GeometryFileSink(src, dir, "gml").write(GeometryRequest(mode = "centroid"))
    val target = Files.createTempDirectory("merge_crs_out").resolve("all.gml").toString
    GeometryFileSink.mergeFiles(dir, target)
    // without srsName read-back the merge would relabel the data EPSG:28992
    assert(GeometryFileSource(target).projection == "EPSG:3857")
  }

  test("geojson source honors an explicitly passed proj (legacy native-CRS files)") {
    val dir = Files.createTempDirectory("geojson_proj").resolve("data.geojson")
    Files.createDirectory(dir)
    Files.write(dir.resolve("part-00000"), java.util.Arrays.asList(
      """{"type":"Feature","id":1,"properties":{"v":1},"geometry":{"type":"Point","coordinates":[5.0,52.0]}}"""))
    // RFC 7946 default when no proj is given
    assert(GeometryFileSource(dir.toString).projection == "EPSG:4326")
    // a caller labeling a legacy native-CRS file keeps that CRS
    assert(GeometryFileSource(dir.toString, proj = Some("EPSG:28992"))
      .projection == "EPSG:28992")
  }

  test("standard FeatureCollection documents (OGR/QGIS layout) parse") {
    // pretty-printed, crs member, one feature without an id (→ sequential)
    val f = Files.createTempDirectory("geojson_fc").resolve("doc.geojson")
    Files.writeString(f,
      """{
        |  "type": "FeatureCollection",
        |  "name": "parcels",
        |  "crs": { "type": "name", "properties": {
        |    "name": "urn:ogc:def:crs:OGC:1.3:CRS84" } },
        |  "features": [
        |    { "type": "Feature", "id": 7,
        |      "properties": { "v": 1, "label": "a" },
        |      "geometry": { "type": "Point", "coordinates": [ 5.0, 52.0 ] } },
        |    { "type": "Feature",
        |      "properties": { "v": 2.5, "label": "b" },
        |      "geometry": { "type": "Point", "coordinates": [ 5.1, 52.1 ] } }
        |  ]
        |}
        |""".stripMargin)
    val src = GeometryFileSource(f.toString)
    assert(src.projection == "EPSG:4326")
    val rows = src.frame(GeometryRequest()).orderBy("fid").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("fid") == 1L) // no id → its array position
    assert(rows(1).getAs[Long]("fid") == 7L)
    assert(rows(1).getAs[String]("label") == "a")
    // v widened long+double → double
    assert(rows.map(_.getAs[Double]("v")).toSeq == Seq(2.5, 1.0))
    // an EPSG-coded crs member overrides the WGS84 default
    val g = Files.createTempDirectory("geojson_fc2").resolve("rd.geojson")
    Files.writeString(g, """{"type":"FeatureCollection","crs":{"type":"name",
      |"properties":{"name":"urn:ogc:def:crs:EPSG::28992"}},"features":[
      |{"type":"Feature","id":1,"properties":{},
      |"geometry":{"type":"Point","coordinates":[155000.0,463000.0]}}]}
      |""".stripMargin)
    assert(GeometryFileSource(g.toString).projection == "EPSG:28992")
    // an unknown crs fails loudly instead of mislabeling coordinates
    val b = Files.createTempDirectory("geojson_fc3").resolve("bad.geojson")
    Files.writeString(b, """{"type":"FeatureCollection","crs":{"type":"name",
      |"properties":{"name":"urn:x-proprietary:grid"}},"features":[]}
      |""".stripMargin)
    intercept[IllegalArgumentException] {
      GeometryFileSource(b.toString).projection
    }
  }

  test("to_file .geojson writes a FeatureCollection that OGR-style readers parse") {
    val out = Files.createTempDirectory("geojson_fc_out")
      .resolve("features.geojson").toString
    GeometryToFile.toFile(GeometryFixtures.features, out)
    val doc = graft.core.Json.parse(Files.readString(java.nio.file.Paths.get(out)))
      .asInstanceOf[Map[String, Any]]
    assert(doc("type") == "FeatureCollection" && doc("name") == "features")
    assert(doc("features").asInstanceOf[Seq[_]].size == 3)
    val back = GeometryFileSource(out)
    assert(back.projection == "EPSG:4326") // reprojected on write, per RFC
    val rows = back.frame(GeometryRequest()).orderBy("fid").collect()
    assert(rows.map(_.getAs[Long]("fid")).toSeq == Seq(1L, 2L, 3L))
    // RD fixture coordinates landed in lon/lat range
    val p = GeomFunctions.readWkb(rows(0).getAs[Array[Byte]]("geometry"))
    val c = p.getCoordinate
    assert(c.x > 4 && c.x < 6 && c.y > 51 && c.y < 53)
    // typed properties survive (double stays numeric)
    assert(rows(1).getAs[Double]("value") == 7.5)
  }

  test("a single ndjson FILE (not directory) samples its own properties") {
    val f = Files.createTempDirectory("geojson_one").resolve("one.ndjson")
    Files.write(f, java.util.Arrays.asList(
      """{"type":"Feature","id":3,"properties":{"v":9},"geometry":{"type":"Point","coordinates":[5.0,52.0]}}"""))
    val src = GeoJsonSource(f.toString)
    assert(src.columns.contains("v"))
    assert(src.frame(GeometryRequest()).head.getAs[Long]("v") == 9L)
  }

  test("geojson property types widen (never overwrite) on mixed-type rows") {
    val dir = Files.createTempDirectory("geojson_widen")
    val pt = """{"type":"Point","coordinates":[5.0,52.0]}"""
    Files.write(dir.resolve("part-00000"), java.util.Arrays.asList(
      s"""{"type":"Feature","id":1,"properties":{"p":1,"q":1.5,"r":true},"geometry":$pt}""",
      s"""{"type":"Feature","id":2,"properties":{"p":true,"q":2,"r":"x"},"geometry":$pt}"""))
    val df = GeoJsonSource(dir.toString).frame(GeometryRequest())
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("p") == "string", types.toString) // long then boolean → string
    assert(types("q") == "double", types.toString) // double then long → double
    assert(types("r") == "string", types.toString) // boolean then string → string
    // earlier long values survive as their literal text, not a bogus cast
    assert(df.orderBy("fid").select("p").collect().map(_.getString(0)).toSeq ==
      Seq("1", "true"))
  }

  test("fullSchema geojson inference sees properties past the head sample") {
    val dir = Files.createTempDirectory("geojson_full")
    val pt = """{"type":"Point","coordinates":[5.0,52.0]}"""
    val lines = (1 to 150).map { i =>
      val extra = if (i >= 140) s""","late":$i.5""" else ""
      s"""{"type":"Feature","id":$i,"properties":{"v":$i$extra},"geometry":$pt}"""
    }
    Files.write(dir.resolve("part-00000"), java.util.Arrays.asList(lines: _*))
    // the default head sample (100 lines) cannot see row 140's property
    assert(!GeoJsonSource(dir.toString).columns.contains("late"))
    val full = GeoJsonSource(dir.toString, fullSchema = true)
    assert(full.columns.contains("late"))
    val df = full.frame(GeometryRequest())
    assert(df.schema("late").dataType.simpleString == "double")
    assert(df.filter(col("fid") === 140L).head().getAs[Double]("late") == 140.5)
    assert(df.filter(col("fid") === 1L).head().isNullAt(df.columns.indexOf("late")))
  }

  test("fullSchema on a pretty-printed FeatureCollection document works") {
    // a pretty-printed FC cannot be line-parsed: fullSchema must route
    // through the already-parsed document, not the distributed line scan
    val f = Files.createTempDirectory("geojson_fc_full").resolve("doc.geojson")
    Files.writeString(f,
      """{
        |  "type": "FeatureCollection",
        |  "features": [
        |    { "type": "Feature", "id": 1,
        |      "properties": { "v": 1, "label": "a" },
        |      "geometry": { "type": "Point", "coordinates": [ 5.0, 52.0 ] } },
        |    { "type": "Feature", "id": 2,
        |      "properties": { "v": 2.5, "late": true },
        |      "geometry": { "type": "Point", "coordinates": [ 5.1, 52.1 ] } }
        |  ]
        |}
        |""".stripMargin)
    val full = GeoJsonSource(f.toString, fullSchema = true)
    val df = full.frame(GeometryRequest())
    assert(df.columns.toSet == Set("geometry", "fid", "v", "label", "late"))
    assert(df.schema("v").dataType.simpleString == "double") // long+double widen
    assert(df.orderBy("fid").collect().map(_.getAs[Double]("v")).toSeq ==
      Seq(1.0, 2.5))
  }

  test("streaming export moves 15k features through each single-file format") {
    // 15k > the 10k request guard: only the streaming toLocalIterator path
    // can export this as ONE file (reference: tiled to_file + merge_files)
    val n = 15000
    val src = SeqGeometrySource((1 to n).map { i =>
      (i.toLong, GeometryFixtures.square((i % 100).toDouble, (i / 100).toDouble * 2,
        (i % 100) + 1.0, (i / 100) * 2 + 1.0), i * 1.5, s"name_$i")
    })
    for (ext <- Seq("shp", "gpkg", "gml")) {
      val out = Files.createTempDirectory(s"big_$ext").resolve(s"big.$ext").toString
      GeometryToFile.toFile(src, out)
      val back = GeometryFileSource(out)
      val df = back.frame(GeometryRequest())
      assert(df.count() == n, s"$ext count")
      val r = df.filter(col("fid") === 12345L).head()
      assert(r.getAs[Double]("value") == 12345 * 1.5, s"$ext value")
      assert(r.getAs[String]("name") == "name_12345", s"$ext name")
      val g = GeomFunctions.readWkb(r.getAs[Array[Byte]]("geometry"))
      assert(math.abs(g.getArea - 1.0) < 1e-12, s"$ext geometry")
      assert(back.projection == "EPSG:28992", s"$ext projection")
    }
  }

  test("construct_multiple rebuilds shared endpoints") {
    import graft.core.BlockRegistry
    val shared = Multiply(source, 2)
    val view = Add(shared, 1)
    val both = BlockRegistry.fromJsonMultiple(view.toJson,
      Seq(view.graphName, shared.graphName))
    assert(both.map(_.token) == Seq(view.token, shared.token))
  }

  test("tilers are validated passthroughs") {
    val tiled = RasterTiler(source, 256)
    assert(tiled.getData(valsRequest).get.values(0).toSeq ==
      source.getData(valsRequest).get.values(0).toSeq)
    val gt = GeometryTiler(GeometryFixtures.features, 100.0, "EPSG:28992")
    assert(gt.frame(GeometryRequest()).count() == 3)
  }
}
