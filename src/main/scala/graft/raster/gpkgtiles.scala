package graft.raster

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.geometry.{Sqlite, SqliteWrite, GeoPackage}

/** GeoPackage raster TILE pyramids (OGC GeoPackage spec §2.2, public):
  * PNG tiles in a SQLite table addressed by (zoom_level, tile_column,
  * tile_row), described by `gpkg_contents` (data_type = 'tiles'),
  * `gpkg_tile_matrix_set` (the tile-grid bbox) and `gpkg_tile_matrix`
  * (per-zoom matrix dims / tile size / pixel size). The reference reads
  * these through GDAL's GPKG raster driver (raster/sources.py:396-564).
  *
  * Storage convention here: single-band 16-bit grayscale PNG tiles with
  * 65535 reserved as nodata (GeoPackage defines no tile nodata; 65535 is
  * uint16's dtype-max sentinel, the engine's own convention). Tiles
  * covering no data are NOT written — the sparse-store contract mirrors
  * Zarr's (a missing tile reads as nodata). tile_row 0 is the TOP row
  * (spec §2.2.8.1.1).
  *
  * Scale note: like the other sidecar exchange formats, a bounded
  * driver-side codec — metadata is three tiny table scans; each tile
  * decodes independently, and a read touches only the requested zoom.
  */
object GpkgTiles {
  // in-memory ImageIO cache (a temp file per tile decode otherwise)
  javax.imageio.ImageIO.setUseCache(false)

  case class Meta(table: String, zoom: Int, matrixW: Int, matrixH: Int,
      tileW: Int, tileH: Int, pixel: Double, minX: Double, maxY: Double,
      projection: String, tileRoot: Int) {
    def w: Int = matrixW * tileW
    def h: Int = matrixH * tileH
  }

  val NoData = 65535.0

  private def findTable(path: String, name: String): Sqlite.MasterRow =
    Sqlite.master(path).find(r => r.kind == "table" && r.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no table '$name' (not a GeoPackage tile store?)"))

  private def colIdx(sql: String, cols: String*): Seq[Int] = {
    val (names, _) = Sqlite.tableColumns(sql)
    cols.map { c =>
      val i = names.indexOf(c)
      require(i >= 0, s"column '$c' missing from $sql")
      i
    }
  }

  private def num(v: Any): Double = v match {
    case l: java.lang.Long   => l.toDouble
    case d: java.lang.Double => d
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  def readMeta(path: String, zoomArg: Int = -1): Meta = {
    val contents = findTable(path, "gpkg_contents")
    val ci = colIdx(contents.sql, "table_name", "data_type", "srs_id")
    val tiles = Sqlite.scanTable(path, contents.rootPage)
      .find(r => r._2(ci(1)).toString == "tiles").getOrElse(
        throw new IllegalArgumentException(
          s"$path: no data_type='tiles' entry in gpkg_contents"))
    val table = tiles._2(ci(0)).toString
    val srsId = num(tiles._2(ci(2))).toInt
    val projection = Proj.normalize(GeoPackage.srsString(path, srsId))

    val tms = findTable(path, "gpkg_tile_matrix_set")
    val si = colIdx(tms.sql, "table_name", "min_x", "min_y", "max_x", "max_y")
    val set = Sqlite.scanTable(path, tms.rootPage)
      .find(_._2(si(0)).toString == table).getOrElse(
        throw new IllegalArgumentException(
          s"$path: no gpkg_tile_matrix_set row for '$table'"))
    val minX = num(set._2(si(1))); val maxY = num(set._2(si(4)))

    val tm = findTable(path, "gpkg_tile_matrix")
    val mi = colIdx(tm.sql, "table_name", "zoom_level", "matrix_width",
      "matrix_height", "tile_width", "tile_height", "pixel_x_size",
      "pixel_y_size")
    val zooms = Sqlite.scanTable(path, tm.rootPage)
      .filter(_._2(mi(0)).toString == table)
    require(zooms.nonEmpty, s"$path: no gpkg_tile_matrix rows for '$table'")
    val row = (if (zoomArg >= 0) zooms.find(r => num(r._2(mi(1))).toInt == zoomArg)
      else Some(zooms.maxBy(r => num(r._2(mi(1))).toInt))).getOrElse(
      throw new IllegalArgumentException(s"$path: no zoom level $zoomArg"))
    val px = num(row._2(mi(6))); val py = num(row._2(mi(7)))
    require(math.abs(px - py) <= 1e-9 * math.max(px, py),
      s"$path: non-square pixels $px × $py not supported")
    Meta(table, num(row._2(mi(1))).toInt, num(row._2(mi(2))).toInt,
      num(row._2(mi(3))).toInt, num(row._2(mi(4))).toInt,
      num(row._2(mi(5))).toInt, px, minX, maxY, projection,
      findTable(path, table).rootPage)
  }

  private def decodePng(bytes: Array[Byte], tw: Int, th: Int): Array[Double] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "tile is not a decodable image")
    require(img.getWidth == tw && img.getHeight == th,
      s"tile is ${img.getWidth}×${img.getHeight}, matrix says $tw×$th")
    val raster = img.getRaster
    require(raster.getNumBands == 1, "only single-band grayscale tiles")
    val out = new Array[Double](tw * th)
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) { out(y * tw + x) = raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    out
  }

  private def encodePng(vals: Array[Double], tw: Int, th: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(tw, th,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) {
        val v = math.rint(vals(y * tw + x)).toInt
        require(v >= 0 && v <= 65535, s"tile value $v outside uint16")
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Whole selected zoom level as one top-row-first band; missing tiles
    * read as nodata (sparse contract). */
  def readBand(path: String, m: Meta): Array[Double] = {
    require(m.w.toLong * m.h <= (1L << 27), s"$path: tile grid too large")
    val t = findTable(path, m.table)
    val ti = colIdx(t.sql, "zoom_level", "tile_column", "tile_row", "tile_data")
    val out = Array.fill(m.w * m.h)(NoData)
    Sqlite.scanTable(path, m.tileRoot).foreach { case (_, vals) =>
      if (num(vals(ti(0))).toInt == m.zoom) {
        val tc = num(vals(ti(1))).toInt; val tr = num(vals(ti(2))).toInt
        require(tc >= 0 && tc < m.matrixW && tr >= 0 && tr < m.matrixH,
          s"$path: tile ($tc, $tr) outside the $m")
        val px = decodePng(vals(ti(3)).asInstanceOf[Array[Byte]], m.tileW, m.tileH)
        var y = 0
        while (y < m.tileH) {
          System.arraycopy(px, y * m.tileW, out,
            (tr * m.tileH + y) * m.w + tc * m.tileW, m.tileW)
          y += 1
        }
      }
    }
    out
  }

  /** Write one band as a single-zoom GeoPackage tile pyramid. */
  def write(path: String, values: Array[Double], w: Int, h: Int, bbox: Bbox,
      noData: Double, projection: String, tableName: String = "tiles",
      tileSize: Int = 256): Unit = {
    require(values.length == w * h, "band size must equal w*h")
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"gpkg tiles require square pixels (got $cx × $cy)")
    val ts = math.min(tileSize, math.max(w, h))
    val mw = (w + ts - 1) / ts; val mh = (h + ts - 1) / ts
    val tileRows = Seq.newBuilder[(Long, Seq[Any])]
    var rid = 1L
    for (tr <- 0 until mh; tc <- 0 until mw) {
      val vals = Array.fill(ts * ts)(NoData)
      var any = false
      var y = 0
      while (y < ts) {
        val sy = tr * ts + y
        var x = 0
        while (x < ts) {
          val sx = tc * ts + x
          if (sy < h && sx < w) {
            val v = values(sy * w + sx)
            if (v == noData || (v.isNaN && noData.isNaN)) ()
            else { vals(y * ts + x) = v; any = true }
          }
          x += 1
        }
        y += 1
      }
      if (any) { // sparse: all-nodata tiles are not stored
        tileRows += ((rid, Seq[Any](null, java.lang.Long.valueOf(0L),
          java.lang.Long.valueOf(tc.toLong), java.lang.Long.valueOf(tr.toLong),
          encodePng(vals, ts, ts))))
        rid += 1
      }
    }
    val srsId = projection.split(":") match {
      case Array(_, code) if code.forall(_.isDigit) => code.toInt
      case _ => 0
    }
    val org = projection.split(":").headOption.getOrElse("NONE").toUpperCase
    // tile-matrix-set bbox covers the FULL tile grid (spec §2.2.6.1.1);
    // the contents bbox stays the data extent
    val setMaxX = bbox.x1 + mw.toLong * ts * cx
    val setMinY = bbox.y2 - mh.toLong * ts * cx
    val tables = Seq(
      SqliteWrite.Table("gpkg_spatial_ref_sys",
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, " +
          "srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, " +
          "organization_coordsys_id INTEGER NOT NULL, " +
          "definition TEXT NOT NULL, description TEXT)",
        Seq((srsId.toLong, Seq[Any](projection, null, org,
          java.lang.Long.valueOf(srsId.toLong),
          WktSrs.toWkt(projection).getOrElse("undefined"), null)))),
      SqliteWrite.Table("gpkg_contents",
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, " +
          "data_type TEXT NOT NULL, identifier TEXT, " +
          "description TEXT DEFAULT '', last_change DATETIME NOT NULL, " +
          "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, " +
          "srs_id INTEGER)",
        Seq((1L, Seq[Any](tableName, "tiles", tableName, "",
          "2026-01-01T00:00:00.000Z",
          java.lang.Double.valueOf(bbox.x1), java.lang.Double.valueOf(bbox.y1),
          java.lang.Double.valueOf(bbox.x2), java.lang.Double.valueOf(bbox.y2),
          java.lang.Long.valueOf(srsId.toLong))))),
      SqliteWrite.Table("gpkg_tile_matrix_set",
        "CREATE TABLE gpkg_tile_matrix_set (table_name TEXT NOT NULL, " +
          "srs_id INTEGER NOT NULL, min_x DOUBLE NOT NULL, " +
          "min_y DOUBLE NOT NULL, max_x DOUBLE NOT NULL, max_y DOUBLE NOT NULL)",
        Seq((1L, Seq[Any](tableName, java.lang.Long.valueOf(srsId.toLong),
          java.lang.Double.valueOf(bbox.x1), java.lang.Double.valueOf(setMinY),
          java.lang.Double.valueOf(setMaxX), java.lang.Double.valueOf(bbox.y2))))),
      SqliteWrite.Table("gpkg_tile_matrix",
        "CREATE TABLE gpkg_tile_matrix (table_name TEXT NOT NULL, " +
          "zoom_level INTEGER NOT NULL, matrix_width INTEGER NOT NULL, " +
          "matrix_height INTEGER NOT NULL, tile_width INTEGER NOT NULL, " +
          "tile_height INTEGER NOT NULL, pixel_x_size DOUBLE NOT NULL, " +
          "pixel_y_size DOUBLE NOT NULL)",
        Seq((1L, Seq[Any](tableName, java.lang.Long.valueOf(0L),
          java.lang.Long.valueOf(mw.toLong), java.lang.Long.valueOf(mh.toLong),
          java.lang.Long.valueOf(ts.toLong), java.lang.Long.valueOf(ts.toLong),
          java.lang.Double.valueOf(cx), java.lang.Double.valueOf(cx))))),
      SqliteWrite.Table(tableName,
        s"""CREATE TABLE "$tableName" (id INTEGER PRIMARY KEY, """ +
          "zoom_level INTEGER NOT NULL, tile_column INTEGER NOT NULL, " +
          "tile_row INTEGER NOT NULL, tile_data BLOB NOT NULL)",
        tileRows.result()))
    val p = java.nio.file.Paths.get(path)
    Option(p.toAbsolutePath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    SqliteWrite.writeDb(path, tables)
  }
}

/** GeoPackage tile-pyramid source: one (non-temporal) frame per store,
  * 16-bit grayscale with 65535 = nodata; `zoomArg` picks a level
  * (default: the deepest). */
case class GpkgRasterSource(url: String, zoomArg: Int = -1)
    extends RasterBlock with graft.core.FileSource {

  @transient private lazy val meta: GpkgTiles.Meta =
    GpkgTiles.readMeta(url, zoomArg)

  @transient private lazy val memory: MemorySource = {
    val band = GpkgTiles.readBand(url, meta)
    MemorySource(Seq(band), meta.w, meta.h, GpkgTiles.NoData,
      meta.projection, meta.pixel, meta.minX, meta.maxY, 0L, None, "uint16")
  }

  override def dtype: DType = DType.U2
  override def projection: String = meta.projection
  override def temporal: Boolean = false
  override def timeDeltaMs: Option[Long] = None
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(0L), Instant.ofEpochMilli(0L)))
  override def extent: Option[Bbox] = Some(Bbox(
    meta.minX, meta.maxY - meta.h * meta.pixel,
    meta.minX + meta.w * meta.pixel, meta.maxY))
  override def cellSize: Option[Double] = Some(meta.pixel)
  override def allTimes: Seq[Instant] = Seq(Instant.ofEpochMilli(0L))
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame =
    memory.frame(req)
}

/** Sink: ONE frame into a single-zoom GeoPackage tile pyramid (values
  * must round to 0..65534; the source's nodata maps to 65535). */
case class GpkgRasterSink(source: RasterBlock, url: String,
    tableName: String = "tiles", tileSize: Int = 256) {
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    require(res.values.length == 1,
      s"gpkg tiles are non-temporal: got ${res.values.length} frames " +
        "(slice the request to one)")
    val path = if (url.toLowerCase.endsWith(".gpkg")) url
               else s"$url/tiles.gpkg"
    GpkgTiles.write(path, res.values.head, req.width, req.height, req.bbox,
      res.noDataValue, req.projection, tableName, tileSize)
    path
  }
}
