package graft.geometry

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory,
  LineString, LinearRing, MultiPolygon, Point, Polygon}

/** MapInfo TAB binary quartet (`.tab` + `.map` + `.dat` + `.id`) — the
  * native format real MapInfo exports actually ship (MIF/MID is the
  * text interchange, `mif.scala`; the reference reads both through
  * OGR's MapInfo driver, dask_geomodeling/geometry/sources.py:18-159).
  *
  * The TAB family was never published by its vendor; everything public
  * descends from the MITAB project's reverse-engineered description.
  * This codec implements a DOCUMENTED PROFILE of that description and
  * fails loudly on anything outside it:
  *
  *  - `.tab` (ASCII, fully public): `Definition Table`, `File "x.dat"`,
  *    `Fields n` with the user-facing types — AUTHORITATIVE for the
  *    schema — and the optional `CoordSys` clause resolved by the same
  *    hub the MIF codec uses (absent/NonEarth → `.prj` sidecar /
  *    argument, never a silent guess).
  *  - `.dat` (dBASE III structure per MITAB): the standard DBF header,
  *    32-byte field descriptors, records led by a deletion flag;
  *    numerics ride as right-justified ASCII (`N`), text as padded
  *    `C`, logicals as `L`.
  *  - `.id`: one little-endian int32 per feature — the ABSOLUTE byte
  *    offset of its object record in `.map`, 0 = no geometry. (This is
  *    also how MITAB reads sequentially, which is what makes the
  *    spatial-index and garbage blocks skippable on read.)
  *  - `.map`: 512-byte-block file; block 0 opens with a 256-byte
  *    object-size table, then the header at 0x100: magic 42424242,
  *    version, block size, the coordinate transform (x/y scale +
  *    displacement doubles; ground = internal/scale + displacement,
  *    internal int32 = floor((ground − displacement)·scale + 0.5)) and
  *    the object count. Object records use the MITAB type codes —
  *    0x02 SYMBOL (point), 0x08 PLINE, 0x0E REGION — in UNCOMPRESSED
  *    form; PLINE/REGION vertices live in coordinate runs referenced
  *    by absolute offset; REGION holes are recovered by containment
  *    (the MITAB rule shared with the MIF reader). Compressed (`_C`)
  *    variants, ARC/TEXT/RECT objects, and other type codes fail
  *    loudly by code.
  */
object Tab {

  private val gf = new GeometryFactory()

  val Magic = 42424242
  val BlockSize = 512
  // MITAB TAB_GEOM codes (uncompressed variants)
  val GeomSymbol = 0x02
  val GeomPline = 0x08
  val GeomRegion = 0x0E

  // ------------------------------------------------------------- .tab

  case class TabDef(datFile: String, fields: Seq[(String, String)],
      coordSys: Option[String])

  /** Spark type of a .tab field type (same mapping as MIF columns). */
  def sparkTypeOf(t: String): String = Mif.sparkTypeOf(t)

  def readTabDef(path: String): TabDef = {
    val lines = graft.io.FileIO.readString(path).split("\r?\n")
    require(lines.exists(_.trim.equalsIgnoreCase("!table")),
      s"$path: not a MapInfo .tab (missing !table)")
    var datFile = ""
    var coordSys: Option[String] = None
    val fields = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      val lower = t.toLowerCase
      if (lower.startsWith("file ")) {
        val m = "\"([^\"]+)\"".r.findFirstMatchIn(t)
        require(m.isDefined, s"$path: unquoted File clause '$t'")
        // sibling resolution must respect a scheme-qualified .tab URL
        // (Paths.get would glue the URL onto the working directory)
        datFile =
          if (graft.io.FileIO.hasScheme(path))
            path.substring(0, path.lastIndexOf('/') + 1) + m.get.group(1)
          else Paths.get(path).toAbsolutePath.getParent
            .resolve(m.get.group(1)).toString
      } else if (lower.startsWith("coordsys")) {
        coordSys = Some(t)
      } else if (lower.startsWith("fields ")) {
        val n = t.split("\\s+")(1).toInt
        (1 to n).foreach { k =>
          require(i + k < lines.length, s"$path: Fields $n truncated")
          val f = lines(i + k).trim.stripSuffix(";").trim
          val sp = f.split("\\s+", 2)
          require(sp.length == 2, s"$path: malformed field line '$f'")
          fields += ((sp(0), sp(1).trim))
        }
        i += n
      }
      i += 1
    }
    require(fields.result().nonEmpty, s"$path: no Fields block")
    if (datFile.isEmpty)
      datFile = path.replaceAll("(?i)\\.tab$", ".dat")
    TabDef(datFile, fields.result(), coordSys)
  }

  // ------------------------------------------------------------- .map

  case class MapHeader(version: Int, xScale: Double, yScale: Double,
      xDispl: Double, yDispl: Double, nObjects: Int)

  def readMapHeader(raf: graft.io.PositionedCursor, path: String): MapHeader = {
    require(raf.length() >= BlockSize,
      s"$path: .map shorter than one $BlockSize-byte block")
    val b = new Array[Byte](BlockSize)
    raf.seek(0); raf.readFully(b)
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    bb.position(0x100)
    val magic = bb.getInt
    require(magic == Magic, s"$path: bad .map magic $magic (want $Magic)")
    val version = bb.getInt
    val blockSize = bb.getShort & 0xFFFF
    require(blockSize == BlockSize,
      s"$path: block size $blockSize (only $BlockSize)")
    bb.getShort // pad
    val xScale = bb.getDouble; val yScale = bb.getDouble
    val xDispl = bb.getDouble; val yDispl = bb.getDouble
    val n = bb.getInt
    require(xScale > 0 && yScale > 0, s"$path: non-positive coordinate scale")
    require(n >= 0, s"$path: negative object count")
    MapHeader(version, xScale, yScale, xDispl, yDispl, n)
  }

  private def ground(h: MapHeader, x: Int, y: Int): Coordinate =
    new Coordinate(x / h.xScale + h.xDispl, y / h.yScale + h.yDispl)

  private def readCoords(raf: graft.io.PositionedCursor, at: Long, n: Int,
      h: MapHeader, path: String): Array[Coordinate] = {
    require(n >= 0 && n <= 10000000, s"$path: coordinate run of $n points")
    require(at >= 0 && at + 8L * n <= raf.length(),
      s"$path: coordinate run at $at overruns the file")
    val raw = new Array[Byte](8 * n)
    raf.seek(at); raf.readFully(raw)
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(n)(ground(h, bb.getInt, bb.getInt))
  }

  /** Decode the object record at `off` (an `.id` entry). */
  def readObject(raf: graft.io.PositionedCursor, off: Long, h: MapHeader,
      path: String): Geometry = {
    require(off >= 0 && off + 5 <= raf.length(),
      s"$path: object offset $off outside the .map")
    raf.seek(off)
    val head = new Array[Byte](25)
    val got = math.min(head.length.toLong, raf.length() - off).toInt
    raf.readFully(head, 0, got)
    val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val typ = bb.get() & 0xFF
    bb.getInt // object id (the .id order is authoritative)
    typ match {
      case GeomSymbol =>
        require(got >= 13, s"$path: truncated SYMBOL at $off")
        gf.createPoint(ground(h, bb.getInt, bb.getInt))
      case GeomPline =>
        require(got >= 13, s"$path: truncated PLINE at $off")
        val coordOff = bb.getInt.toLong & 0xFFFFFFFFL
        val nPts = bb.getInt
        require(nPts >= 2, s"$path: PLINE with $nPts points at $off")
        gf.createLineString(readCoords(raf, coordOff, nPts, h, path))
      case GeomRegion =>
        require(got >= 13, s"$path: truncated REGION at $off")
        val coordOff = bb.getInt.toLong & 0xFFFFFFFFL
        val nRings = bb.getInt
        require(nRings >= 1 && nRings <= 1000000,
          s"$path: REGION with $nRings rings at $off")
        var at = coordOff
        val rings = (0 until nRings).map { _ =>
          require(at + 4 <= raf.length(), s"$path: ring header past EOF")
          raf.seek(at)
          val cnt = {
            val r4 = new Array[Byte](4)
            raf.readFully(r4)
            ByteBuffer.wrap(r4).order(ByteOrder.LITTLE_ENDIAN).getInt
          }
          require(cnt >= 4, s"$path: REGION ring of $cnt points")
          val cs = readCoords(raf, at + 4, cnt, h, path)
          require(cs.head.equals2D(cs.last), s"$path: unclosed REGION ring")
          at += 4 + 8L * cnt
          gf.createLinearRing(cs)
        }
        Mif.assembleRegion(rings)
      case other => throw new IllegalArgumentException(
        f"$path%s: object type 0x$other%02X at $off%d not supported " +
          "(0x02 SYMBOL / 0x08 PLINE / 0x0E REGION, uncompressed)")
    }
  }

  // ------------------------------------------------------- .id / .dat

  def readIdOffsets(path: String): Array[Long] = {
    val bytes = graft.io.FileIO.readAllBytes(path)
    require(bytes.length % 4 == 0, s"$path: .id length not 4-aligned")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / 4)(bb.getInt.toLong & 0xFFFFFFFFL)
  }

  private def parseDat(path: String): (Shapefile.DbfHeader, Seq[Seq[String]]) = {
    val h = Shapefile.readDbfHeader(path)
    val raf = graft.io.PositionedCursor.open(path)
    try {
      val sumLen = h.fields.map(_.length).sum
      // MapInfo .dat files follow the dBASE record shape; tolerate both
      // with-deletion-flag (dBASE proper) and flagless layouts by what
      // the declared record size actually holds
      val lead = h.recordSize - sumLen
      require(lead == 0 || lead == 1,
        s"$path: record size ${h.recordSize} vs field bytes $sumLen")
      val rows = (0 until h.numRecords).map { i =>
        val rec = new Array[Byte](h.recordSize)
        raf.seek(h.headerSize.toLong + h.recordSize.toLong * i)
        raf.readFully(rec)
        var off = lead
        h.fields.map { f =>
          val s = new String(rec, off, f.length, StandardCharsets.UTF_8)
          off += f.length
          s.trim
        }
      }
      (h, rows)
    } finally raf.close()
  }

  // ------------------------------------------------------------- read

  case class Dataset(tabDef: TabDef, geoms: Seq[Geometry],
      rows: Seq[Seq[String]])

  def read(url: String): Dataset = {
    val tabDef = readTabDef(url)
    val base = url.replaceAll("(?i)\\.tab$", "")
    val (datHeader, rows) = parseDat(tabDef.datFile)
    require(datHeader.fields.length == tabDef.fields.length,
      s"$url: .tab declares ${tabDef.fields.length} fields, .dat holds " +
        s"${datHeader.fields.length}")
    val ids = readIdOffsets(s"$base.id")
    require(ids.length == datHeader.numRecords,
      s"$url: ${ids.length} .id entries vs ${datHeader.numRecords} records")
    val raf = graft.io.PositionedCursor.open(s"$base.map")
    val geoms = try {
      val h = readMapHeader(raf, s"$base.map")
      ids.map(off => if (off == 0L) null else readObject(raf, off, h, url))
    } finally raf.close()
    Dataset(tabDef, geoms.toSeq, rows)
  }

  // ------------------------------------------------------------- write

  /** Write the quartet in this codec's documented profile. `rows` are
    * (geometry-or-null, attribute strings) aligned with `fields`
    * ((name, tabType) — Integer/Float/Char(n)/Logical). EPSG:4326 gets
    * the public `CoordSys Earth Projection 1, 104` clause; any other
    * CRS rides in a `.prj` sidecar exactly like the MIF sink. */
  def write(url: String, fields: Seq[(String, String)],
      rows: Seq[(Geometry, Seq[String])], projection: String): Unit = {
    val env = new org.locationtech.jts.geom.Envelope()
    rows.foreach { case (g, _) => if (g != null)
      env.expandToInclude(g.getEnvelopeInternal) }
    writeStreaming(url, fields, rows.iterator, rows.length, env, projection)
  }

  /** Byte-counting buffered file stream: the .map record offsets ARE
    * the running byte count, so nothing needs buffering in memory (a
    * 20M-feature export overflowed the old whole-file array buffer at
    * the JVM's 2 GB array ceiling — caught by the sf100 soak). */
  private final class CountingOut(path: java.nio.file.Path) {
    private val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(path), 1 << 16)
    var size: Long = 0L
    def write(b: Array[Byte]): Unit = { out.write(b); size += b.length }
    def write(b: Int): Unit = { out.write(b); size += 1 }
    def close(): Unit = out.close()
  }

  /** Single-pass STREAMING quartet write: `env`/`n` arrive precomputed
    * (the sink derives them distributed), `rows` is consumed once, and
    * .map/.id/.dat stream to disk concurrently — driver memory is O(1)
    * in the feature count. */
  def writeStreaming(url: String, fields: Seq[(String, String)],
      rows: Iterator[(Geometry, Seq[String])], n: Int,
      env: org.locationtech.jts.geom.Envelope, projection: String): Unit = {
    val base = url.replaceAll("(?i)\\.tab$", "")
    val name = Paths.get(base).getFileName.toString

    // ---- .map
    val mapBuf = new CountingOut(Paths.get(s"$base.map"))
    def pad(to: Int): Unit =
      while (mapBuf.size % to != 0) mapBuf.write(0)
    // header transform sized from the data envelope (what the real
    // format's scale/displacement pair is for): displacement = the
    // INTEGRAL floor of the envelope minimum (integral so micro-grid
    // coordinates stay exact), scale = 1e6 (micro-units) unless the
    // span would overflow the int32 grid, then the largest power of
    // ten that fits
    val (xDispl, yDispl) =
      if (env.isNull) (0.0, 0.0)
      else (math.floor(env.getMinX), math.floor(env.getMinY))
    val span = if (env.isNull) 1.0
      else math.max(1.0, math.max(env.getMaxX - xDispl, env.getMaxY - yDispl))
    var scale = 1e6
    while (span * scale > Int.MaxValue.toDouble - 16 && scale > 1e-9)
      scale /= 10
    require(scale >= 1e-9, s"coordinate span $span cannot fit the int32 grid")
    val head = ByteBuffer.allocate(BlockSize).order(ByteOrder.LITTLE_ENDIAN)
    head.position(0x100)
    head.putInt(Magic); head.putInt(300); head.putShort(BlockSize.toShort)
    head.putShort(0)
    head.putDouble(scale); head.putDouble(scale)
    head.putDouble(xDispl); head.putDouble(yDispl)
    head.putInt(n)
    mapBuf.write(head.array())
    def enc(v: Double, displ: Double): Int = {
      val f = math.floor((v - displ) * scale + 0.5)
      require(math.abs(f) <= Int.MaxValue.toDouble,
        s"coordinate $v overflows the int32 grid at scale $scale")
      f.toInt
    }
    def le(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      f(b); b.array()
    }
    // ---- .id and .dat stream ALONGSIDE .map: one pass over `rows`
    val idOut = new CountingOut(Paths.get(s"$base.id"))
    def widthOf(t: String): (Char, Int, Int) = {
      val lower = t.trim.toLowerCase
      if (lower.startsWith("char")) {
        val cn = "\\d+".r.findFirstIn(lower).map(_.toInt).getOrElse(254)
        ('C', cn, 0)
      } else if (lower == "integer") ('N', 18, 0)
      else if (lower == "smallint") ('N', 6, 0)
      else if (lower == "float" || lower.startsWith("decimal")) ('N', 24, 6)
      else if (lower == "logical") ('L', 1, 0)
      else ('C', 64, 0)
    }
    val widths = fields.map(f => widthOf(f._2))
    val recSize = 1 + widths.map(_._2).sum
    val headerSize = 32 + 32 * fields.length + 1
    val dat = new CountingOut(Paths.get(s"$base.dat"))
    dat.write(le(32) { b =>
      b.put(0x03.toByte); b.put(126.toByte); b.put(1.toByte); b.put(1.toByte)
      b.putInt(n)
      b.putShort(headerSize.toShort); b.putShort(recSize.toShort)
    })
    fields.zip(widths).foreach { case ((nm, _), (c, w, d)) =>
      dat.write(le(32) { b =>
        val nb = nm.getBytes(StandardCharsets.US_ASCII).take(10)
        b.put(nb); b.position(11)
        b.put(c.toByte)
        b.position(16); b.put(w.toByte); b.put(d.toByte)
      })
    }
    dat.write(0x0D)
    var oid = -1
    rows.foreach { case (g, vals) =>
      oid += 1
      val off: Long = g match {
        case null => 0L
        case p: Point =>
          val at = mapBuf.size.toLong
          mapBuf.write(le(13) { b =>
            b.put(GeomSymbol.toByte); b.putInt(oid)
            b.putInt(enc(p.getX, xDispl)); b.putInt(enc(p.getY, yDispl))
          })
          at
        case l: LineString =>
          val cs = l.getCoordinates
          val coordAt = mapBuf.size.toLong
          cs.foreach(c => mapBuf.write(le(8) { b =>
            b.putInt(enc(c.x, xDispl)); b.putInt(enc(c.y, yDispl))
          }))
          val at = mapBuf.size.toLong
          mapBuf.write(le(29) { b =>
            b.put(GeomPline.toByte); b.putInt(oid)
            b.putInt(coordAt.toInt); b.putInt(cs.length)
            val e = l.getEnvelopeInternal
            b.putInt(enc(e.getMinX, xDispl)); b.putInt(enc(e.getMinY, yDispl))
            b.putInt(enc(e.getMaxX, xDispl)); b.putInt(enc(e.getMaxY, yDispl))
          })
          at
        case poly @ (_: Polygon | _: MultiPolygon) =>
          val rings = scala.collection.mutable.ArrayBuffer[LineString]()
          (0 until poly.getNumGeometries).foreach { k =>
            val p = poly.getGeometryN(k).asInstanceOf[Polygon]
            rings += p.getExteriorRing
            (0 until p.getNumInteriorRing).foreach(j =>
              rings += p.getInteriorRingN(j))
          }
          val coordAt = mapBuf.size.toLong
          rings.foreach { r =>
            val cs = r.getCoordinates
            mapBuf.write(le(4)(_.putInt(cs.length)))
            cs.foreach(c => mapBuf.write(le(8) { b =>
              b.putInt(enc(c.x, xDispl)); b.putInt(enc(c.y, yDispl))
            }))
          }
          val at = mapBuf.size.toLong
          mapBuf.write(le(29) { b =>
            b.put(GeomRegion.toByte); b.putInt(oid)
            b.putInt(coordAt.toInt); b.putInt(rings.length)
            val e = poly.getEnvelopeInternal
            b.putInt(enc(e.getMinX, xDispl)); b.putInt(enc(e.getMinY, yDispl))
            b.putInt(enc(e.getMaxX, xDispl)); b.putInt(enc(e.getMaxY, yDispl))
          })
          at
        case other => throw new IllegalArgumentException(
          s"cannot write ${other.getGeometryType} to TAB " +
            "(Point/LineString/Polygon/MultiPolygon)")
      }
      idOut.write(le(4)(_.putInt(off.toInt)))
      // .dat record (dBASE III shape, deletion flag ' ')
      dat.write(' ')
      vals.zip(widths).foreach { case (v, (c, w, d)) =>
        val s0 = if (v == null) "" else if (c == 'N' && d > 0 && v.nonEmpty) {
          // dBASE N fields are fixed-point plain decimal: Double.toString
          // scientific notation (1.0E-4) is unparseable to standard
          // readers and would not match the declared (width, decimals)
          // descriptor. HALF_UP at d decimals is the format's precision
          // contract; values needing more integer digits than the width
          // allows hit the loud width require below.
          // construct from the ORIGINAL string, not the parsed double:
          // BigDecimal-of-double double-rounds HALF_UP ties ("0.145" at
          // 2 decimals is binary 0.14499... and would write 0.14, not
          // the 0.15 the caller's decimal means)
          new java.math.BigDecimal(v)
            .setScale(d, java.math.RoundingMode.HALF_UP).toPlainString
        } else v
        require(s0.getBytes(StandardCharsets.UTF_8).length <= w,
          s"value '$s0' exceeds field width $w")
        val b = s0.getBytes(StandardCharsets.UTF_8)
        if (c == 'N') { // right-justified
          dat.write(Array.fill[Byte](w - b.length)(' ')); dat.write(b)
        } else {        // left-justified
          dat.write(b); dat.write(Array.fill[Byte](w - b.length)(' '))
        }
      }
    }
    pad(BlockSize)
    mapBuf.close(); idOut.close(); dat.close()
    Files.write(Paths.get(tabPathOf(url)), tabText(name, fields, projection)
      .getBytes(StandardCharsets.UTF_8))
    if (projection != "EPSG:4326")
      Files.writeString(Paths.get(s"$base.prj"),
        graft.raster.WktSrs.toWkt(projection).getOrElse(projection))
  }

  private def tabPathOf(url: String): String =
    if (url.toLowerCase.endsWith(".tab")) url else s"$url.tab"

  private def tabText(name: String, fields: Seq[(String, String)],
      projection: String): String = {
    val sb = new StringBuilder
    sb.append("!table\n!version 300\n!charset WindowsLatin1\n\n")
    sb.append("Definition Table\n")
    sb.append(s"""  File "$name.dat"\n""")
    sb.append("  Type NATIVE Charset \"WindowsLatin1\"\n")
    sb.append(s"  Fields ${fields.length}\n")
    fields.foreach { case (n, t) => sb.append(s"    $n $t ;\n") }
    if (projection == "EPSG:4326")
      sb.append("  CoordSys Earth Projection 1, 104\n")
    sb.toString
  }
}

/** TAB quartet source — same surface as [[MifSource]]: `fid` column
  * recognized when persisted, attribute types from the `.tab` Fields
  * block, CRS from the CoordSys clause / `.prj` sidecar / argument. */
case class TabSource(url: String, projectionArg: String = "")
    extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val ds: Tab.Dataset = Tab.read(url)

  @transient private lazy val fidCol: Option[Int] = {
    val idx = ds.tabDef.fields.indexWhere { case (n, t) =>
      n.equalsIgnoreCase("fid") && Tab.sparkTypeOf(t) == "long"
    }
    if (idx >= 0) Some(idx) else None
  }

  @transient private lazy val attrCols: Seq[(String, String)] =
    ds.tabDef.fields.zipWithIndex.collect {
      case ((n, t), j) if !fidCol.contains(j) => (n, Tab.sparkTypeOf(t))
    }

  override lazy val columns: Set[String] =
    attrCols.map(_._1).toSet + "geometry" + "fid"

  override def projection: String =
    Mif.crsOf(ds.tabDef.coordSys, url, projectionArg)

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // rows is an immutable Seq (List): positional lookup per feature
    // was O(k) each -> quadratic over the dataset; index it once
    val rowsIdx = ds.rows.toIndexedSeq
    val tuples = ds.geoms.zipWithIndex.map { case (g, k) =>
      val row = if (rowsIdx.isDefinedAt(k)) rowsIdx(k) else Seq.empty
      val fid = fidCol.flatMap(j => row.lift(j).flatMap(_.trim.toLongOption))
        .getOrElse(k.toLong)
      val attrs = ds.tabDef.fields.zipWithIndex.collect {
        case ((n, _), j) if !fidCol.contains(j) && row.lift(j).exists(_.nonEmpty) =>
          n -> row(j)
      }.toMap
      (fid, if (g == null) null else GeomFunctions.writeWkb(g), attrs)
    }
    var df = tuples.toDF("_1", "_2", "_3").select(
      (Seq(col("_1").as("fid"), col("_2").as("geometry")) ++
        attrCols.map { case (n, t) =>
          val c = col("_3")(n)
          (if (t == "boolean")
            (c === "T" || c === "t" || c === "true").as(n)
          else c.cast(t).as(n))
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

/** TAB sink: bounded single-quartet export (the same driver-side
  * contract as the MIF/DXF writers — ordered `toLocalIterator`, one
  * file set). `fid` rides as a leading Integer column. */
object TabSink {

  def writeStream(df0: DataFrame, proj: String, tabPath: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"), "TAB export needs a geometry column")
    val from = graft.raster.Proj.normalize(proj)
    val attrCols = df0.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val fidIdx = df0.columns.indexOf("fid")
    val geomIdx = df0.columns.indexOf("geometry")
    val types = df0.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df0, col("fid")) else df0

    val fields = ("fid" -> "Integer") +:
      attrCols.map(c => c -> Mif.mifTypeOf(types(c)))
    // distributed envelope + count pass (the .map header transform needs
    // them BEFORE the first record), then ONE streamed driver pass —
    // never a driver-side row buffer (20M features overflowed the old
    // ArrayBuffer + whole-file byte buffer at the 2 GB array ceiling)
    val ext = df0.agg(
      org.apache.spark.sql.functions.min(GeomFunctions.stEnvMinX(col("geometry"))),
      org.apache.spark.sql.functions.min(GeomFunctions.stEnvMinY(col("geometry"))),
      org.apache.spark.sql.functions.max(GeomFunctions.stEnvMaxX(col("geometry"))),
      org.apache.spark.sql.functions.max(GeomFunctions.stEnvMaxY(col("geometry"))),
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))
    ).head()
    val env = new org.locationtech.jts.geom.Envelope()
    if (!ext.isNullAt(0))
      env.expandToInclude(new org.locationtech.jts.geom.Envelope(
        ext.getDouble(0), ext.getDouble(2), ext.getDouble(1), ext.getDouble(3)))
    val n = ext.getLong(4)
    require(n <= Int.MaxValue, s"TAB caps at ${Int.MaxValue} features (got $n)")
    var k = -1L
    val it = new Iterator[(Geometry, Seq[String])] {
      private val rows = ordered.toLocalIterator()
      override def hasNext: Boolean = rows.hasNext
      override def next(): (Geometry, Seq[String]) = {
        val r = rows.next()
        k += 1
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx))
          Gml.fidValue(r.get(fidIdx)) else k
        val g = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          GeomFunctions.readWkb(r.get(geomIdx).asInstanceOf[Array[Byte]]) else null
        val vals = fid.toString +: attrCols.map { c =>
          val idx = df0.columns.indexOf(c)
          if (r.isNullAt(idx)) ""
          else r.get(idx) match {
            case b: Boolean => if (b) "T" else "F"
            case ts: java.sql.Timestamp => ts.toInstant.toString
            case other => other.toString
          }
        }
        (g, vals)
      }
    }
    Tab.writeStreaming(tabPath, fields, it, n.toInt, env, from)
    tabPath
  }
}
