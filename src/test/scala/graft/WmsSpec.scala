package graft

import java.net.{HttpURLConnection, URL, URLEncoder}
import graft.service.WmsServer
import graft.raster._
import RasterFixtures._

class WmsSpec extends SparkSpec {

  /** A `frames`-frame table raster of `gw`×`gh` cells in a fresh directory
    * under the JVM temp dir (a default data root); cell value
    * `t * 1000 + y * gw + x`. */
  private def tableRaster(gw: Int, gh: Int, frames: Int, valueExpr: String = "value") = {
    val dir = java.nio.file.Files.createTempDirectory("graft_wms_tbl").toString
    import spark.implicits._
    (for (y <- 0 until gh; x <- 0 until gw; t <- 0 until frames)
      yield ((y.toLong * gw + x) * frames + t, t * 1000.0 + y * gw + x))
      .toDF("event_id", "value").write.parquet(s"$dir/events.parquet")
    TableRasterSource(s"$dir/events.parquet", "event_id", valueExpr, frames, gw, gh)
  }

  private def get(url: String): (Int, Array[Byte]) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status == 200) c.getInputStream else c.getErrorStream
      (status, try in.readAllBytes() finally in.close())
    } finally c.disconnect()
  }

  test("the WMS endpoint renders a serialized view as PNG over HTTP") {
    val server = new WmsServer(spark).start()
    try {
      val view = Multiply(source, 10)
      val layers = URLEncoder.encode(view.toJson, "UTF-8")
      val url = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
        "&bbox=135000,455995,135005,456000&width=10&height=10" +
        "&projection=EPSG:28992&time=2000-01-01T01:00:00Z&vmin=0&vmax=255")
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType == "image/png")
      val bytes = conn.getInputStream.readAllBytes()
      // PNG magic
      assert(bytes.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img.getWidth == 10 && img.getHeight == 10)
      // frame at 01:00 has value 7 → ×10 = 70 → gray 70/255*255 = 70
      assert((img.getRGB(5, 5) & 0xff) == 70)

      // standard WMS clients name the projection crs= (1.3.0) or srs=
      // (1.1.1) — both alias onto projection
      for (p <- Seq("crs", "srs")) {
        val alias = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
          "&bbox=135000,455995,135005,456000&width=10&height=10" +
          s"&$p=EPSG:28992&time=2000-01-01T01:00:00Z&vmin=0&vmax=255")
          .openConnection().asInstanceOf[HttpURLConnection]
        assert(alias.getResponseCode == 200, p)
        val aimg = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(alias.getInputStream.readAllBytes()))
        assert((aimg.getRGB(5, 5) & 0xff) == 70, p)
      }

      // probe: an out-of-period time yields a clean 400, not a hang
      val bad = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
        "&bbox=135000,455995,135005,456000&time=2015-01-01T00:00:00Z")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(bad.getResponseCode == 400)
    } finally server.stop()
  }

  test("GetCapabilities returns the WMS 1.3.0 contract; styles render ramps") {
    val server = new WmsServer(spark).start()
    try {
      val cap = new URL(s"http://127.0.0.1:${server.boundPort}/wms" +
        "?service=WMS&request=GetCapabilities")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(cap.getResponseCode == 200)
      assert(cap.getContentType.startsWith("text/xml"))
      val xml = new String(cap.getInputStream.readAllBytes(), "UTF-8")
      // golden on the load-bearing structure, not byte-for-byte (the
      // OnlineResource embeds the ephemeral port)
      for (frag <- Seq(
        """<WMS_Capabilities version="1.3.0"""",
        "<Name>WMS</Name>", "<GetCapabilities>", "<GetMap>",
        "<Format>image/png</Format>", "<CRS>EPSG:28992</CRS>",
        "gray", "terrain", "viridis"))
        assert(xml.contains(frag), s"capabilities missing: $frag")

      // styled tile: value 70 of [0,255] under viridis ≠ gray, deterministic
      val view = Multiply(source, 10)
      val layers = URLEncoder.encode(view.toJson, "UTF-8")
      def fetch(style: String): Int = {
        val conn = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
          "&bbox=135000,455995,135005,456000&width=10&height=10" +
          "&projection=EPSG:28992&time=2000-01-01T01:00:00Z&vmin=0&vmax=255" +
          s"&styles=$style").openConnection().asInstanceOf[HttpURLConnection]
        assert(conn.getResponseCode == 200)
        val img = javax.imageio.ImageIO.read(conn.getInputStream)
        img.getRGB(5, 5)
      }
      assert(fetch("gray") == 0xff464646) // 70 on all three channels
      assert(fetch("viridis") == WmsServer.rampColor("viridis", 70.0 / 255))
      assert(fetch("viridis") != fetch("gray"))
      // unknown style → clean 400
      val bad = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
        "&bbox=135000,455995,135005,456000&time=2000-01-01T01:00:00Z&styles=nope")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(bad.getResponseCode == 400)
    } finally server.stop()
  }

  test("GetFeatureInfo returns the engine value under a map pixel") {
    val server = new WmsServer(spark).start()
    try {
      val view = Multiply(source, 10)
      val layers = URLEncoder.encode(view.toJson, "UTF-8")
      val base = s"http://127.0.0.1:${server.boundPort}/wms?request=GetFeatureInfo" +
        s"&layers=$layers&bbox=135000,455995,135005,456000&width=10&height=10" +
        "&projection=EPSG:28992&time=2000-01-01T01:00:00Z"

      val conn = new URL(base + "&i=5&j=5").openConnection()
        .asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType == "application/json")
      val json = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      // pixel (5,5) of the 10x10 map over a 5x5-unit bbox → cell center
      // (135002.75, 455997.25); frame value 7 → ×10 = 70
      assert(json.contains("\"value\":70.0"), json)
      assert(json.contains("\"x\":135002.75"), json)
      assert(json.contains("\"y\":455997.25"), json)
      assert(json.contains("\"time\":\"2000-01-01T01:00:00Z\""), json)

      // text/plain format and the WMS 1.1.1 x/y aliases
      val txtConn = new URL(base + "&x=5&y=5&info_format=text/plain")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(txtConn.getResponseCode == 200)
      assert(txtConn.getContentType.startsWith("text/plain"))
      val txt = new String(txtConn.getInputStream.readAllBytes(), "UTF-8")
      assert(txt.contains("value: 70.0"), txt)

      // out-of-period time → empty result reported as null, not an error
      val empty = new URL(base.replace("time=2000-01-01T01:00:00Z",
        "time=2015-01-01T00:00:00Z") + "&i=5&j=5")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(empty.getResponseCode == 200)
      assert(new String(empty.getInputStream.readAllBytes(), "UTF-8")
        .contains("\"value\":null"))

      // pixel outside the map → clean 400
      val bad = new URL(base + "&i=10&j=5").openConnection()
        .asInstanceOf[HttpURLConnection]
      assert(bad.getResponseCode == 400)
    } finally server.stop()
  }

  test("GetLegendGraphic renders the style ramp") {
    val server = new WmsServer(spark).start()
    try {
      val conn = new URL(s"http://127.0.0.1:${server.boundPort}/wms" +
        "?request=GetLegendGraphic&styles=viridis&width=10&height=100")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType == "image/png")
      val img = javax.imageio.ImageIO.read(conn.getInputStream)
      assert(img.getWidth == 10 && img.getHeight == 100)
      // top row = ramp(1.0), bottom row = ramp(0.0), middle in between
      assert(img.getRGB(5, 0) == WmsServer.rampColor("viridis", 1.0))
      assert(img.getRGB(5, 99) == WmsServer.rampColor("viridis", 0.0))
      assert(img.getRGB(5, 0) != img.getRGB(5, 99))
      // unknown style → clean 400
      val bad = new URL(s"http://127.0.0.1:${server.boundPort}/wms" +
        "?request=GetLegendGraphic&styles=nope")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(bad.getResponseCode == 400)
    } finally server.stop()
  }

  /** A reference-dialect view of one `RasterFileSource` over `path`. */
  private def referenceFileView(path: String): String =
    s"""{"version": 2, "name": "src", "graph": {"src": [""" +
      s""""dask_geomodeling.raster.sources.RasterFileSource", """ +
      s""""file://$path", 0, 300000]}}"""

  /** A one-band `.vrt` in `vrtDir` whose one member GeoTIFF, a 4×4 tile
    * over (0, 0, 2, 2) in EPSG:28992, is written to `tifDir`. */
  private def mosaic(vrtDir: String, tifDir: String): String = {
    GeoTiff.write(s"$tifDir/member.tif", Array.tabulate(16)(_.toDouble), 4, 4,
      Bbox(0, 0, 2, 2), 28992, -9999.0, "float64")
    val vrt = s"$vrtDir/mosaic.vrt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(vrt),
      s"""<VRTDataset rasterXSize="4" rasterYSize="4">
         |  <SRS>EPSG:28992</SRS>
         |  <GeoTransform>0, 0.5, 0, 2.0, 0, -0.5</GeoTransform>
         |  <VRTRasterBand dataType="Float64" band="1">
         |    <SimpleSource>
         |      <SourceFilename>$tifDir/member.tif</SourceFilename>
         |    </SimpleSource>
         |  </VRTRasterBand>
         |</VRTDataset>
         |""".stripMargin)
    vrt
  }

  test("a .vrt inside the data roots naming a GeoTIFF outside them is refused") {
    val inside = java.nio.file.Files.createTempDirectory("graft_wms_roots").toString
    val outside = java.nio.file.Files.createTempDirectory("graft_wms_out").toString
    val server = new WmsServer(spark, dataRoots = Seq(inside)).start()
    try {
      def getMap(vrt: String): (Int, String) = {
        val (status, body) = get(s"http://127.0.0.1:${server.boundPort}/wms?" +
          s"layers=${URLEncoder.encode(referenceFileView(vrt), "UTF-8")}" +
          "&bbox=0,0,2,2&width=4&height=4&projection=EPSG:28992" +
          "&time=1970-01-01T00:00:00Z")
        (status, new String(body, "UTF-8"))
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$inside/ok"))
      val (okStatus, okBody) = getMap(mosaic(s"$inside/ok", s"$inside/ok"))
      assert(okStatus == 200, okBody)
      val (status, body) = getMap(mosaic(inside, outside))
      assert(status == 400, body)
      assert(body.contains(s"'$outside/member.tif' outside the configured data roots"),
        body)
    } finally server.stop()
  }

  test("views naming paths outside the data roots are refused") {
    val server = new WmsServer(spark, dataRoots = Seq("/root/testdata")).start()
    try {
      val outside = TableRasterSource("/etc/passwd", "0", "0.0", 1, 4, 4)
      val layers = URLEncoder.encode(outside.toJson, "UTF-8")
      val conn = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
        "&bbox=0,0,4,4&width=4&height=4&projection=EPSG:28992" +
        "&time=1970-01-01T00:00:00Z")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 400)
      val msg = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
      assert(msg.contains("outside the configured data roots"))

      // every file-source family is walked, including the single-file
      // geometry codecs (a .gpkg/.shp/.gml url must not bypass confinement)
      for (bad <- Seq[graft.geometry.GeometryBlock](
        graft.geometry.ShapefileSource("/etc/secrets.shp"),
        graft.geometry.GeoPackageSource("/etc/secrets.gpkg"),
        graft.geometry.GmlSource("/etc/secrets.gml"),
        graft.geometry.GeometryFileSource("/etc/secrets.gpkg"),
        graft.geometry.FlatGeobufSource("/etc/secrets.fgb"),
        graft.geometry.CsvWktSource("/etc/secrets.csv"),
        graft.geometry.KmlSource("/etc/secrets.kml"))) {
        // Rasterize makes the geometry source a child of a raster view, so
        // the path walk must descend into it before any evaluation
        val zl = URLEncoder.encode(graft.raster.Rasterize(bad).toJson, "UTF-8")
        val c = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$zl" +
          "&bbox=0,0,4,4&width=4&height=4&time=1970-01-01T00:00:00Z")
          .openConnection().asInstanceOf[HttpURLConnection]
        assert(c.getResponseCode == 400, bad.getClass.getSimpleName)
        val m = new String(c.getErrorStream.readAllBytes(), "UTF-8")
        assert(m.contains("outside the configured data roots"),
          s"${bad.getClass.getSimpleName}: $m")
      }

      // reference-dialect RasterFileSource views of every format its
      // probe dispatches to, written by the engine's own sinks outside
      // the roots: each is refused before any file is decoded, for a
      // map window and time the files cover
      val out = java.nio.file.Files.createTempDirectory("graft_wms_out").toString
      val req = RasterFixtures.valsRequest
      val oneFrame = req.copy(stop = req.start)
      val written = Seq(
        ZarrSink(source, s"$out/stack.zarr").write(req),
        Hdf5Sink(source, s"$out/stack.h5").write(req),
        Hdf5Sink(source, s"$out/hdf5backed.nc").write(req),
        GribSink(source, s"$out/stack.grib2", degPerCell = 0.05).write(req),
        GpkgRasterSink(source, s"$out/tiles.gpkg").write(oneFrame),
        mosaic(out, out))
      for (path <- written) {
        val (status, body) = get(s"http://127.0.0.1:${server.boundPort}/wms?" +
          s"layers=${URLEncoder.encode(referenceFileView(path), "UTF-8")}" +
          "&bbox=135000,455997,135002,456000&width=4&height=6" +
          "&projection=EPSG:28992&time=2000-01-01T00:00:00Z")
        val m = new String(body, "UTF-8")
        assert(status == 400, s"$path: $m")
        assert(m.contains("outside the configured data roots"), s"$path: $m")
      }

      // an allowed path still renders
      val g = QueryLib.eventsGrid(spark, "/root/testdata/sf0.001")
      val ok = QueryLib.eventsRaster("/root/testdata/sf0.001", g)
      val okLayers = URLEncoder.encode(ok.toJson, "UTF-8")
      val okConn = new URL(s"http://127.0.0.1:${server.boundPort}/wms?layers=$okLayers" +
        s"&bbox=0,0,${g.w},${g.h}&width=${g.w}&height=${g.h}" +
        "&projection=EPSG:28992&time=1970-01-01T00:00:00Z")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(okConn.getResponseCode == 200)
    } finally server.stop()
  }

  test("XYZ tile endpoint renders mercator tiles of a serialized view") {
    val server = new WmsServer(spark).start()
    try {
      val view = Multiply(source, 10)
      val layers = URLEncoder.encode(view.toJson, "UTF-8")
      // the tile containing the fixture raster's center, at a zoom where
      // the 5 m extent spans a couple of pixels
      val (mx, my) = graft.raster.Proj.transform(
        "EPSG:28992", "EPSG:3857", 135002.5, 455997.5)
      val z = 17
      val span = 2 * WmsServer.MercHalf / (1L << z)
      val tx = math.floor((mx + WmsServer.MercHalf) / span).toLong
      val ty = math.floor((WmsServer.MercHalf - my) / span).toLong
      val url = new URL(s"http://127.0.0.1:${server.boundPort}" +
        s"/tiles/$z/$tx/$ty.png?layers=$layers" +
        "&time=2000-01-01T01:00:00Z&vmin=0&vmax=255")
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(conn.getInputStream.readAllBytes()))
      assert(img.getWidth == 256 && img.getHeight == 256)
      // the raster covers a couple of pixels: they must render gray 70
      // (value 7 x 10) on a transparent background
      val hits = for {
        py <- 0 until 256; px <- 0 until 256
        rgb = img.getRGB(px, py) if (rgb >>> 24) != 0
      } yield rgb & 0xff
      assert(hits.nonEmpty && hits.forall(_ == 70), s"hits=${hits.take(5)}")
      // out-of-range tile index → clean 400
      val bad = new URL(s"http://127.0.0.1:${server.boundPort}" +
        s"/tiles/3/9/0.png?layers=$layers")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(bad.getResponseCode == 400)
      // TileJSON descriptor wires the layer for web clients
      val tj = new URL(s"http://127.0.0.1:${server.boundPort}" +
        s"/tiles?layers=$layers")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(tj.getResponseCode == 200)
      val tjDoc = new String(tj.getInputStream.readAllBytes(), "UTF-8")
      assert(tjDoc.contains("\"tilejson\"") &&
        tjDoc.contains("/tiles/{z}/{x}/{y}.png?layers="))
    } finally server.stop()
  }

  test("vector-tile endpoint returns a 4326 FeatureCollection for a tile") {
    val server = new WmsServer(spark).start()
    try {
      val view = graft.geometry.GeometryWKTSource(
        "POLYGON ((135000 455995, 135005 455995, 135005 456000, " +
          "135000 456000, 135000 455995))", "EPSG:28992")
      val layers = URLEncoder.encode(view.toJson, "UTF-8")
      val (mx, my) = graft.raster.Proj.transform(
        "EPSG:28992", "EPSG:3857", 135002.5, 455997.5)
      val z = 15
      val span = 2 * WmsServer.MercHalf / (1L << z)
      val tx = math.floor((mx + WmsServer.MercHalf) / span).toLong
      val ty = math.floor((WmsServer.MercHalf - my) / span).toLong
      val conn = new URL(s"http://127.0.0.1:${server.boundPort}" +
        s"/features/$z/$tx/$ty.json?layers=$layers")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("application/geo+json"))
      val doc = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(doc.contains("\"FeatureCollection\""))
      // reprojected to 4326: Amersfoort-ish lon/lat appear in the coords
      assert(doc.contains("\"type\": \"Feature\"") && doc.contains("5.09"))
    } finally server.stop()
  }

  test("concurrent GetMaps on the request pool match the same requests served alone") {
    val view = tableRaster(40, 30, 2)
    val layers = URLEncoder.encode(view.toJson, "UTF-8")
    val server = new WmsServer(spark).start()
    val prefix = s"graft-wms-${server.boundPort}-"
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith(prefix))
    // 8 distinct 8x8 windows, frame 1 of 2
    val urls = for (k <- 0 until 8) yield {
      val (x, y) = (4 * k, (3 * k) % 22)
      s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
        s"&bbox=$x,$y,${x + 8},${y + 8}&width=8&height=8&projection=EPSG:28992" +
        "&time=1970-01-01T01:00:00Z&vmin=0&vmax=2200&styles=viridis"
    }
    val threads = try {
      FrameCache.clear()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(urls.size)
      val together = try urls.map(u => pool.submit(() => get(u))).map(_.get())
        finally pool.shutdown()
      val threads = poolThreads
      assert(threads.nonEmpty, "requests ran off the server's pool")
      FrameCache.clear()
      val alone = urls.map(get)
      for (((s1, b1), (s2, b2)) <- together.zip(alone)) {
        assert(s1 == 200 && s2 == 200, new String(b1, "UTF-8"))
        assert(b1.sameElements(b2), "a concurrent tile differs from the same tile alone")
      }
      // the tiles differ from one another: each saw its own window
      assert(alone.map(_._2.toSeq).distinct.size == urls.size)
      threads
    } finally server.stop()
    threads.foreach(_.join(10000))
    assert(threads.forall(!_.isAlive) && poolThreads.isEmpty, "pool threads outlive stop()")
  }

  test("an oversized GetMap answers 400 before any Spark job starts") {
    val view = tableRaster(4, 4, 1)
    val layers = URLEncoder.encode(view.toJson, "UTF-8")
    val side = math.sqrt(RequestGuards.rasterLimitPixels.toDouble).toInt + 1
    val server = new WmsServer(spark).start()
    try {
      val ((status, body), jobs, _) = sparkWork(get(
        s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
          s"&bbox=0,0,4,4&width=$side&height=$side&projection=EPSG:28992" +
          "&time=1970-01-01T00:00:00Z"))
      assert(status == 400, new String(body, "UTF-8"))
      assert(new String(body, "UTF-8").contains("in-memory limit"))
      assert(jobs == 0, s"the refused request started $jobs jobs")
    } finally server.stop()
  }

  test("an engine fault answers 500, not a client 400") {
    val view = tableRaster(4, 4, 1, "raise_error('boom')")
    val layers = URLEncoder.encode(view.toJson, "UTF-8")
    val server = new WmsServer(spark).start()
    try {
      val (status, body) = get(s"http://127.0.0.1:${server.boundPort}/wms?layers=$layers" +
        "&bbox=0,0,4,4&width=4&height=4&projection=EPSG:28992&time=1970-01-01T00:00:00Z")
      assert(status == 500, new String(body, "UTF-8"))
      assert(new String(body, "UTF-8").contains("boom"))
    } finally server.stop()
  }
}
