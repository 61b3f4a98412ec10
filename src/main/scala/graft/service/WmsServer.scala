package graft.service

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.time.Instant
import java.time.format.DateTimeParseException
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.core.BlockRegistry
import graft.raster.{Bbox, Proj, RasterBlock, RasterRequest}

/** WMS-style rendering endpoint over serialized views — the reference's
  * service entry point (its WMS handler takes `layers=<json>` query params,
  * ipyleaflet_plugin.py:26-45; SURVEY §3.2). A GET like
  *
  *   /wms?layers=<url-encoded view JSON>&bbox=x1,y1,x2,y2&width=256
  *        &height=256&projection=EPSG:28992[&time=<ISO instant>]
  *
  * deserializes the JSON v2 view, evaluates the request through the engine
  * and renders the first frame as a PNG (nodata → transparent). Styling is
  * linear min/max normalization unless `vmin`/`vmax` are given; `styles=`
  * selects the color ramp (`gray` default, `viridis`, `terrain`).
  * `request=GetCapabilities` returns a WMS 1.3.0 capabilities document
  * describing the dynamic-view contract.
  *
  * Requests run on a fixed pool of `defaultParallelism` threads, so as
  * many map windows evaluate at once as the session has cores; `stop()`
  * shuts the pool down. A client fault (a bad or missing parameter, an
  * unparsable time, a request guard) answers 400, any other failure 500.
  */
object WmsMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8765)
    val spark = graft.Sessions.local()
    val server = new WmsServer(spark, port).start()
    println(s"graft WMS listening on http://127.0.0.1:${server.boundPort}/wms")
    Thread.currentThread().join()
  }
}

object WmsServer {
  /** Directories whose files deserialized views may read, from
    * `SPARK_GRAFT_DATA_ROOTS` (colon-separated) plus the JVM temp dir
    * (sink round-trips). */
  def defaultDataRoots: Seq[String] =
    sys.env.get("SPARK_GRAFT_DATA_ROOTS").map(_.split(':').toSeq)
      .getOrElse(Seq("/root/testdata")) :+
      System.getProperty("java.io.tmpdir")

  /** Color ramps as RGB anchor stops, linearly interpolated over the
    * normalized [0, 1] value. `gray` keeps the original single-band look;
    * `viridis` anchors follow matplotlib's published endpoints/midpoints. */
  private val Ramps: Map[String, Array[Int]] = Map(
    "gray" -> Array(0x000000, 0xffffff),
    "viridis" -> Array(0x440154, 0x3b528b, 0x21918c, 0x5ec962, 0xfde725),
    "terrain" -> Array(0x333399, 0x0d7fe5, 0x00be90, 0xfcf356, 0x996645, 0xffffff))

  def rampNames: Seq[String] = Ramps.keys.toSeq.sorted

  /** Half the web-mercator world span (meters at the equator). */
  val MercHalf = 20037508.342789244

  /** `/tiles/{z}/{x}/{y}.png` → the GetMap params of that tile: the
    * standard XYZ scheme (origin top-left, y growing south). */
  private[service] def tileParams(path: String,
      prefix: String = "tiles"): Map[String, String] = {
    val parts = path.split("/").filter(_.nonEmpty)
    require(parts.length == 4 && parts(0) == prefix,
      s"tile path must be /$prefix/{z}/{x}/{y}.<ext>, got $path")
    val z = parts(1).toInt
    val x = parts(2).toInt
    val y = parts(3).replaceAll("\\.[A-Za-z0-9]+$", "").toInt
    require(z >= 0 && z <= 30, s"zoom $z out of range")
    val n = 1L << z
    require(x >= 0 && x < n && y >= 0 && y < n,
      s"tile ($x, $y) outside zoom $z")
    val span = 2 * MercHalf / n
    val x1 = -MercHalf + x * span
    val y2 = MercHalf - y * span
    Map("bbox" -> s"$x1,${y2 - span},${x1 + span},$y2",
      "width" -> "256", "height" -> "256", "projection" -> "EPSG:3857")
  }

  /** HTTP status of a failed request: 400 for a client fault (`require`
    * and `RequestGuards` raise `IllegalArgumentException`, a missing
    * parameter `NoSuchElementException`), 500 for an engine fault. */
  private[service] def statusOf(e: Exception): Int = e match {
    case _: IllegalArgumentException | _: NoSuchElementException |
        _: DateTimeParseException => 400
    case _ => 500
  }

  /** ARGB for normalized value `t` in [0, 1] under the named ramp. */
  def rampColor(name: String, t: Double): Int = {
    val stops = Ramps.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown style '$name' (${rampNames.mkString(", ")})"))
    val x = math.max(0.0, math.min(1.0, t)) * (stops.length - 1)
    val i = math.min(stops.length - 2, x.toInt)
    val f = x - i
    def ch(c: Int, shift: Int): Int = (c >> shift) & 0xff
    def mix(shift: Int): Int =
      math.round(ch(stops(i), shift) * (1 - f) + ch(stops(i + 1), shift) * f).toInt
    0xff000000 | (mix(16) << 16) | (mix(8) << 8) | mix(0)
  }
}

class WmsServer(spark: SparkSession, port: Int = 0,
    dataRoots: Seq[String] = WmsServer.defaultDataRoots) {

  private implicit val s: SparkSession = spark
  // loopback bind is deliberately non-configurable: the endpoint evaluates
  // client-supplied view JSON, so it must never listen on external interfaces
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  def boundPort: Int = server.getAddress.getPort

  private val threads = new AtomicInteger
  private val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
    (r: Runnable) => {
      val t = new Thread(r, s"graft-wms-$boundPort-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)

  /** A handler answering `body`'s (content type, bytes) with 200, or the
    * failure's message with [[WmsServer.statusOf]]. */
  private def handler(body: HttpExchange => (String, Array[Byte])): HttpHandler = ex =>
    try {
      val (status, ctype, bytes) =
        try { val (c, b) = body(ex); (200, c, b) }
        catch { case e: Exception =>
          (WmsServer.statusOf(e), "text/plain; charset=UTF-8",
            s"error: ${e.getMessage}".getBytes("UTF-8"))
        }
      ex.getResponseHeaders.set("Content-Type", ctype)
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally ex.close()

  private def query(ex: HttpExchange): Map[String, String] =
    parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))

  def start(): WmsServer = {
    server.createContext("/wms", handler { ex =>
      val params = query(ex)
      params.get("request").map(_.toLowerCase(java.util.Locale.ROOT)) match {
        case Some("getcapabilities") =>
          ("text/xml; charset=UTF-8", capabilitiesXml.getBytes("UTF-8"))
        case Some("getfeatureinfo") => featureInfo(params)
        case Some("getlegendgraphic") => ("image/png", legendGraphic(params))
        case _ => ("image/png", render(params))
      }
    })
    // XYZ/slippy-map tile endpoint (the de-facto WMTS of web maps, the
    // scheme ipyleaflet/leaflet consume): /tiles/{z}/{x}/{y}.png in
    // EPSG:3857, query params (layers=<view json>, styles, vmin/vmax,
    // time) as in GetMap. Same render path — a tile IS a GetMap with the
    // tile's mercator bbox, so caching/clients compose freely.
    server.createContext("/tiles", handler { ex =>
      if (ex.getRequestURI.getPath.stripSuffix("/") == "/tiles") {
        // TileJSON 2.2 descriptor (the public spec web clients use to
        // wire an XYZ layer): echoes the tile URL template with the
        // caller's query string
        val qs = Option(ex.getRequestURI.getRawQuery)
          .filter(_.nonEmpty).map("?" + _).getOrElse("")
        ("application/json", graft.core.Json.render(
          scala.collection.immutable.ListMap(
            "tilejson" -> "2.2.0",
            "tiles" -> Seq(s"http://127.0.0.1:$boundPort" +
              s"/tiles/{z}/{x}/{y}.png$qs"),
            "minzoom" -> 0L, "maxzoom" -> 30L)).getBytes("UTF-8"))
      } else ("image/png", render(query(ex) ++ WmsServer.tileParams(ex.getRequestURI.getPath)))
    })
    // vector tiles: /features/{z}/{x}/{y}.json returns the features of a
    // serialized GEOMETRY view intersecting the tile, as an RFC 7946
    // FeatureCollection in EPSG:4326 — the layer a leaflet L.geoJSON
    // client consumes directly
    server.createContext("/features", handler { ex =>
      ("application/geo+json; charset=UTF-8", featureTile(query(ex) ++
        WmsServer.tileParams(ex.getRequestURI.getPath, "features")))
    })
    server.start()
    this
  }

  private[service] def featureTile(params: Map[String, String]): Array[Byte] = {
    val view = BlockRegistry.fromJson(params("layers"))
      .asInstanceOf[graft.geometry.GeometryBlock]
    validateSourcePaths(view)
    val Array(x1, y1, x2, y2) = bboxParam(params)
    val vp = view.projection
    // corner-transform the mercator tile into the view's CRS (axis-aligned
    // envelope of the corners — the standard tile-request approximation)
    val cs = Seq((x1, y1), (x1, y2), (x2, y1), (x2, y2))
      .map { case (x, y) => Proj.transform("EPSG:3857", vp, x, y) }
    val wkt = s"POLYGON ((${cs.map(_._1).min} ${cs.map(_._2).min}, " +
      s"${cs.map(_._1).max} ${cs.map(_._2).min}, " +
      s"${cs.map(_._1).max} ${cs.map(_._2).max}, " +
      s"${cs.map(_._1).min} ${cs.map(_._2).max}, " +
      s"${cs.map(_._1).min} ${cs.map(_._2).min}))"
    val df = view.frame(graft.geometry.GeometryRequest(
      mode = "intersects", geometryWkt = Some(wkt), projection = vp))
    val tmp = java.nio.file.Files.createTempFile("vtile", ".json")
    try {
      graft.geometry.GeoJsonSink.writeStream(df, vp, tmp.toString)
      java.nio.file.Files.readAllBytes(tmp)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Stops listening, lets in-flight requests finish and ends the pool. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(30, TimeUnit.SECONDS)) pool.shutdownNow()
  }

  private def bboxParam(params: Map[String, String]): Array[Double] = {
    val b = params("bbox").split(",").map(_.toDouble)
    require(b.length == 4, s"bbox needs 4 numbers, got ${b.length}")
    b
  }

  private def parseQuery(q: String): Map[String, String] =
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** Deserialized views name arbitrary filesystem paths in their source
    * blocks; refuse any `FileSource` path outside the configured data
    * roots so an HTTP client cannot read and render arbitrary
    * process-readable files. */
  private def validateSourcePaths(view: graft.core.Block): Unit = {
    val roots = dataRoots.map(r =>
      java.nio.file.Paths.get(r).toAbsolutePath.normalize)
    def check(p: String): Unit = {
      val abs = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      require(roots.exists(abs.startsWith),
        s"source path '$p' outside the configured data roots")
    }
    def walk(b: graft.core.Block): Unit = {
      b match {
        case f: graft.core.FileSource => f.paths.foreach(check)
        case _ =>
      }
      b.children.foreach(walk)
    }
    walk(view)
  }

  /** WMS 1.3.0 capabilities. Layers here are dynamic (client-supplied view
    * JSON), so the document advertises the endpoint contract and the one
    * wildcard layer, mirroring the reference's ipyleaflet plugin surface
    * (ipyleaflet_plugin.py:26-45). */
  private[service] def capabilitiesXml: String = {
    val host = s"http://127.0.0.1:$boundPort/wms"
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<WMS_Capabilities version="1.3.0" xmlns="http://www.opengis.net/wms">
       |  <Service>
       |    <Name>WMS</Name>
       |    <Title>graft dynamic view renderer</Title>
       |    <Abstract>Renders serialized graft raster views. Pass the view as
       |      the url-encoded 'layers' query parameter (JSON v2 graph).</Abstract>
       |    <OnlineResource xmlns:xlink="http://www.w3.org/1999/xlink" xlink:href="$host"/>
       |  </Service>
       |  <Capability>
       |    <Request>
       |      <GetCapabilities>
       |        <Format>text/xml</Format>
       |      </GetCapabilities>
       |      <GetMap>
       |        <Format>image/png</Format>
       |      </GetMap>
       |      <GetFeatureInfo>
       |        <Format>application/json</Format>
       |        <Format>text/plain</Format>
       |      </GetFeatureInfo>
       |      <GetLegendGraphic>
       |        <Format>image/png</Format>
       |      </GetLegendGraphic>
       |    </Request>
       |    <Layer>
       |      <Title>dynamic</Title>
       |      <Abstract>Any serialized graft view; styles: ${WmsServer.rampNames.mkString(", ")}</Abstract>
       |      <CRS>EPSG:28992</CRS>
       |      <CRS>EPSG:3857</CRS>
       |      <CRS>EPSG:4326</CRS>
       |      <CRS>EPSG:27700</CRS>
       |      <CRS>EPSG:2154</CRS>
       |      <CRS>EPSG:5070</CRS>
       |      <CRS>EPSG:3031</CRS>
       |      <CRS>EPSG:3413</CRS>
       |      <CRS>EPSG:25832</CRS>
       |      <CRS>EPSG:32631</CRS>
       |    </Layer>
       |  </Capability>
       |</WMS_Capabilities>
       |""".stripMargin
  }

  /** WMS 1.3.0 GetFeatureInfo: the engine value under GetMap pixel (i, j)
    * of the given view/bbox/size. The lookup is a point request (degenerate
    * bbox at the pixel center, 1×1 grid) — the engine's native point path,
    * so only that cell's frame evaluates, not the whole map tile. Accepts
    * the 1.1.1 `x`/`y` aliases; `info_format=application/json` (default) or
    * `text/plain`. */
  private[service] def featureInfo(params: Map[String, String]): (String, Array[Byte]) = {
    val viewJson = params.getOrElse("query_layers", params("layers"))
    val view = BlockRegistry.fromJson(viewJson).asInstanceOf[RasterBlock]
    validateSourcePaths(view)
    val Array(x1, y1, x2, y2) = bboxParam(params)
    val w = params.getOrElse("width", "256").toInt
    val h = params.getOrElse("height", "256").toInt
    val i = params.get("i").orElse(params.get("x")).map(_.toInt)
      .getOrElse(throw new IllegalArgumentException("missing pixel column i"))
    val j = params.get("j").orElse(params.get("y")).map(_.toInt)
      .getOrElse(throw new IllegalArgumentException("missing pixel row j"))
    require(i >= 0 && i < w && j >= 0 && j < h,
      s"pixel ($i, $j) outside the ${w}x$h map")
    val px = x1 + (i + 0.5) * (x2 - x1) / w
    val py = y2 - (j + 0.5) * (y2 - y1) / h // row 0 is the top row
    val proj = params.get("projection").orElse(params.get("crs"))
      .orElse(params.get("srs")).getOrElse(view.projection)
    val time = params.get("time").map(Instant.parse)
    val res = view.getData(RasterRequest(Bbox(px, py, px, py), proj, 1, 1, time, time))
    val value: Option[Double] = res.flatMap { r =>
      val v = r.values.head.head
      if (v == r.noDataValue || v.isNaN) None else Some(v)
    }
    val at = res.flatMap(_.times.headOption)
    params.getOrElse("info_format", "application/json") match {
      case "text/plain" =>
        val lines = Seq(
          s"x: ${px}", s"y: ${py}",
          s"value: ${value.map(_.toString).getOrElse("nodata")}") ++
          at.map(t => s"time: $t")
        ("text/plain; charset=UTF-8", (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      case _ =>
        val json = "{\"x\":" + px + ",\"y\":" + py +
          ",\"value\":" + value.map(_.toString).getOrElse("null") +
          at.map(t => ",\"time\":\"" + t + "\"").getOrElse("") + "}"
        ("application/json", json.getBytes("UTF-8"))
    }
  }

  /** WMS GetLegendGraphic: a vertical color-ramp bar for the requested
    * style (top = max). Pure ramp evaluation — no view needed. */
  private[service] def legendGraphic(params: Map[String, String]): Array[Byte] = {
    val style = params.getOrElse("styles", params.getOrElse("style", "gray")) match {
      case "" => "gray"
      case s  => s
    }
    val w = params.getOrElse("width", "20").toInt
    val h = params.getOrElse("height", "200").toInt
    require(w > 0 && h > 0 && w <= 2048 && h <= 2048, s"legend size ${w}x$h out of range")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    var y = 0
    while (y < h) {
      val t = if (h == 1) 1.0 else 1.0 - y.toDouble / (h - 1) // row 0 = max
      val argb = WmsServer.rampColor(style, t)
      var x = 0
      while (x < w) { img.setRGB(x, y, argb); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private[service] def render(params: Map[String, String]): Array[Byte] = {
    val view = BlockRegistry.fromJson(params("layers")).asInstanceOf[RasterBlock]
    validateSourcePaths(view)
    val Array(x1, y1, x2, y2) = bboxParam(params)
    val w = params.getOrElse("width", "256").toInt
    val h = params.getOrElse("height", "256").toInt
    val proj = params.get("projection").orElse(params.get("crs"))
      .orElse(params.get("srs")).getOrElse(view.projection)
    val time = params.get("time").map(Instant.parse)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), proj, w, h,
      time, time)
    val res = view.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result for requested range"))
    val vals = res.values.head
    val nd = res.noDataValue
    val data = vals.filter(_ != nd)
    val vmin = params.get("vmin").map(_.toDouble)
      .getOrElse(if (data.isEmpty) 0.0 else data.min)
    val vmax = params.get("vmax").map(_.toDouble)
      .getOrElse(if (data.isEmpty) 1.0 else data.max)
    val span = math.max(vmax - vmin, 1e-12)
    val style = params.getOrElse("styles", "gray") match {
      case "" => "gray" // WMS clients send styles= for the default style
      case s  => s
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    var i = 0
    while (i < vals.length) {
      val v = vals(i)
      val argb =
        if (v == nd) 0 // transparent
        else WmsServer.rampColor(style, (v - vmin) / span)
      img.setRGB(i % w, i / w, argb)
      i += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
}
