package graft.geometry

import java.io.{DataOutputStream, FileOutputStream, BufferedOutputStream, RandomAccessFile}
import graft.io.PositionedCursor
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DataType,
  DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType}
import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom._

/** Pure-JVM ESRI Shapefile codec (.shp + .shx + .dbf + .prj).
  *
  * The reference reads shapefiles through OGR (geometry/sources.py:18-159)
  * and writes them per request-tile through fiona (geometry/sinks.py:46-216).
  * There is no OGR on the JVM, but the formats themselves are public and
  * simple: the ESRI Shapefile Technical Description (July 1998 whitepaper)
  * for .shp/.shx and the dBase III/IV spec for .dbf. This codec implements
  * both directly:
  *
  *   - shape types 0 (null), 1/11/21 (point), 3/13/23 (polyline),
  *     5/15/25 (polygon), 8/18/28 (multipoint); Z/M coordinates are parsed
  *     past but dropped (the engine's geometry model is 2-D, like the
  *     reference's shapely pipeline).
  *   - polygon ring semantics per the spec: clockwise = outer ring,
  *     counter-clockwise = hole; holes are assigned to the shell that
  *     contains them.
  *   - .dbf field types C (string), N/F (numeric), L (logical), D (date).
  *
  * Scale design: the .shx index is a fixed-stride offset table, so a read
  * splits into record ranges without any driver-side offset materialization —
  * each Spark task seeks its own .shx slice, then reads one contiguous .shp
  * byte span and one contiguous .dbf span. A 10 GB shapefile fans out over
  * the cluster like a parquet scan (minus column pruning, which the format
  * cannot offer).
  */
object Shapefile {

  case class DbfField(name: String, ftype: Char, length: Int, decimals: Int)
  case class DbfHeader(numRecords: Int, headerSize: Int, recordSize: Int,
      fields: Seq[DbfField])

  // ------------------------------------------------------------------ .dbf

  def readDbfHeader(path: String): DbfHeader = {
    val raf = PositionedCursor.open(path)
    try {
      val head = new Array[Byte](32)
      raf.readFully(head)
      val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
      val numRecords = bb.getInt(4)
      val headerSize = bb.getShort(8) & 0xffff
      val recordSize = bb.getShort(10) & 0xffff
      // structural bound: the declared record region must fit the file, so
      // a corrupt count can never size readRange's allocations
      require(numRecords >= 0 && headerSize >= 32 &&
        headerSize.toLong + numRecords.toLong * recordSize <= raf.length(),
        s"corrupt DBF header: $numRecords records of $recordSize bytes " +
          s"do not fit ${raf.length()} file bytes")
      val nFields = (headerSize - 33) / 32
      val fdBytes = new Array[Byte](32 * nFields)
      raf.readFully(fdBytes)
      val fields = (0 until nFields).map { i =>
        val off = i * 32
        val nameEnd = {
          var j = 0; while (j < 11 && fdBytes(off + j) != 0) j += 1; j
        }
        DbfField(
          new String(fdBytes, off, nameEnd, StandardCharsets.US_ASCII),
          (fdBytes(off + 11) & 0xff).toChar,
          fdBytes(off + 16) & 0xff,
          fdBytes(off + 17) & 0xff)
      }
      DbfHeader(numRecords, headerSize, recordSize, fields)
    } finally raf.close()
  }

  /** Spark type for a DBF field. N with no decimals fits a long only while
    * its width does (an 18-digit count is the i64 ceiling). */
  def sparkType(f: DbfField): DataType = f.ftype match {
    case 'N' if f.decimals == 0 && f.length <= 18 => LongType
    case 'N' | 'F' => DoubleType
    case 'L' => BooleanType
    case 'D' => DateType
    case _ => StringType
  }

  /** Parse one fixed-width DBF field value. DBF has no NULL; all-blank
    * numerics/logicals/dates read back as null, strings are right-trimmed. */
  private def parseField(rec: Array[Byte], off: Int, f: DbfField): Any = {
    val s = new String(rec, off, f.length, StandardCharsets.ISO_8859_1)
    val t = s.trim
    f.ftype match {
      case 'N' if f.decimals == 0 && f.length <= 18 =>
        if (t.isEmpty) null else java.lang.Long.valueOf(t.toLong)
      case 'N' | 'F' =>
        if (t.isEmpty) null else java.lang.Double.valueOf(t.toDouble)
      case 'L' =>
        t.headOption match {
          case Some(c) if "YyTt".indexOf(c.toInt) >= 0 => java.lang.Boolean.TRUE
          case Some(c) if "NnFf".indexOf(c.toInt) >= 0 => java.lang.Boolean.FALSE
          case _ => null
        }
      case 'D' =>
        if (t.length != 8) null
        else java.sql.Date.valueOf(
          s"${t.substring(0, 4)}-${t.substring(4, 6)}-${t.substring(6, 8)}")
      case _ =>
        // rtrim only: leading spaces are data, trailing spaces are padding
        val e = s.replaceAll("\\s+$", "")
        if (e.isEmpty) null else e
    }
  }

  // ------------------------------------------------------------------ .shp

  private val factory = new GeometryFactory()

  /** Decode one .shp record content block (after the 8-byte record header)
    * into a JTS geometry; null for shape type 0. */
  def decodeShape(buf: ByteBuffer): Geometry = {
    buf.order(ByteOrder.LITTLE_ENDIAN)
    val shapeType = buf.getInt
    shapeType match {
      case 0 => null
      case 1 | 11 | 21 =>
        factory.createPoint(new Coordinate(buf.getDouble, buf.getDouble))
      case 8 | 18 | 28 =>
        buf.position(buf.position() + 32) // bbox
        val n = buf.getInt
        // counts must fit the record's remaining bytes BEFORE allocating
        require(n >= 0 && n.toLong * 16 <= buf.remaining(),
          s"corrupt shape record: $n points in ${buf.remaining()} bytes")
        val pts = Array.fill(n)(new Coordinate(buf.getDouble, buf.getDouble))
        factory.createMultiPointFromCoords(pts)
      case 3 | 13 | 23 | 5 | 15 | 25 =>
        buf.position(buf.position() + 32) // bbox
        val nParts = buf.getInt
        val nPoints = buf.getInt
        require(nParts >= 0 && nPoints >= 0 &&
          4L * nParts + 16L * nPoints <= buf.remaining(),
          s"corrupt shape record: $nParts parts/$nPoints points in ${buf.remaining()} bytes")
        val parts = Array.fill(nParts)(buf.getInt)
        val xs = new Array[Double](nPoints)
        val ys = new Array[Double](nPoints)
        var i = 0
        while (i < nPoints) { xs(i) = buf.getDouble; ys(i) = buf.getDouble; i += 1 }
        val slices = (0 until nParts).map { p =>
          val lo = parts(p)
          val hi = if (p == nParts - 1) nPoints else parts(p + 1)
          (lo until hi).map(j => new Coordinate(xs(j), ys(j))).toArray
        }
        if (shapeType % 10 == 3) { // polyline
          val lines = slices.filter(_.length >= 2).map(factory.createLineString)
          if (lines.length == 1) lines.head
          else factory.createMultiLineString(lines.toArray)
        } else { // polygon: CW = shell, CCW = hole (spec p.8)
          assemblePolygons(slices)
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported shape type $other")
    }
  }

  private def closeRing(cs: Array[Coordinate]): Array[Coordinate] =
    if (cs.length >= 3 && cs.head.equals2D(cs.last)) cs
    else cs :+ new Coordinate(cs.head)

  private def assemblePolygons(slices: Seq[Array[Coordinate]]): Geometry = {
    val rings = slices.filter(_.length >= 3).map(closeRing)
    val (shellCs, holeCs) = rings.partition(r => !Orientation.isCCW(r))
    // a lenient fallback for writers that ignore orientation: no CW ring at
    // all means every ring is its own shell
    val shells0 = if (shellCs.isEmpty) rings else shellCs
    val holes0 = if (shellCs.isEmpty) Seq.empty else holeCs
    val shells = shells0.map(cs => factory.createPolygon(factory.createLinearRing(cs)))
    val grouped = holes0.groupBy { h =>
      val p = factory.createPoint(h.head)
      shells.indexWhere(s => s.contains(p) || s.getBoundary.distance(p) == 0.0) match {
        case -1 => 0
        case i => i
      }
    }
    val polys = shells.zipWithIndex.map { case (s, i) =>
      val hs = grouped.getOrElse(i, Seq.empty)
        .map(cs => factory.createLinearRing(cs)).toArray
      factory.createPolygon(s.getExteriorRing.asInstanceOf[LinearRing], hs)
    }
    if (polys.length == 1) polys.head else factory.createMultiPolygon(polys.toArray)
  }

  /** Encode a JTS geometry as .shp record content (shape type + payload). */
  def encodeShape(g: Geometry): Array[Byte] = {
    def bb(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    g match {
      case null => bb(4).putInt(0).array()
      case p: Point =>
        bb(20).putInt(1).putDouble(p.getX).putDouble(p.getY).array()
      case mp: MultiPoint =>
        val cs = mp.getCoordinates
        val b = bb(40 + 16 * cs.length).putInt(8)
        putBbox(b, mp)
        b.putInt(cs.length)
        cs.foreach(c => b.putDouble(c.x).putDouble(c.y))
        b.array()
      case _: LineString | _: MultiLineString =>
        val parts = (0 until g.getNumGeometries)
          .map(g.getGeometryN(_).getCoordinates)
        encodeParts(3, g, parts)
      case _: Polygon | _: MultiPolygon =>
        val parts = (0 until g.getNumGeometries).flatMap { i =>
          val p = g.getGeometryN(i).asInstanceOf[Polygon]
          // spec orientation: shell CW, holes CCW
          val shell = orient(p.getExteriorRing.getCoordinates, ccw = false)
          val holes = (0 until p.getNumInteriorRing)
            .map(j => orient(p.getInteriorRingN(j).getCoordinates, ccw = true))
          shell +: holes
        }
        encodeParts(5, g, parts)
      case other =>
        throw new IllegalArgumentException(
          s"cannot encode ${other.getGeometryType} in a shapefile")
    }
  }

  private def orient(cs: Array[Coordinate], ccw: Boolean): Array[Coordinate] =
    if (Orientation.isCCW(cs) == ccw) cs else cs.reverse

  private def putBbox(b: ByteBuffer, g: Geometry): Unit = {
    val e = g.getEnvelopeInternal
    b.putDouble(e.getMinX).putDouble(e.getMinY)
      .putDouble(e.getMaxX).putDouble(e.getMaxY)
  }

  private def encodeParts(shapeType: Int, g: Geometry,
      parts: Seq[Array[Coordinate]]): Array[Byte] = {
    val nPoints = parts.map(_.length).sum
    val b = ByteBuffer.allocate(44 + 4 * parts.length + 16 * nPoints)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(shapeType)
    putBbox(b, g)
    b.putInt(parts.length).putInt(nPoints)
    var off = 0
    parts.foreach { p => b.putInt(off); off += p.length }
    parts.foreach(_.foreach(c => b.putDouble(c.x).putDouble(c.y)))
    b.array()
  }

  /** The one shape type a geometry column maps to (all records in a
    * shapefile must share it, spec p.4). */
  def shapeTypeOf(g: Geometry): Int = g match {
    case _: Point => 1
    case _: MultiPoint => 8
    case _: LineString | _: MultiLineString => 3
    case _: Polygon | _: MultiPolygon => 5
    case other => throw new IllegalArgumentException(
      s"cannot encode ${other.getGeometryType} in a shapefile")
  }

  // ------------------------------------------------------------ range read

  /** Read records [lo, hi) as (recordIndex, geometry, dbfValues) without
    * touching any byte outside the range: one .shx slice for offsets, one
    * contiguous .shp span, one contiguous .dbf span. */
  def readRange(shpPath: String, lo: Int, hi: Int,
      header: DbfHeader): Iterator[(Long, Geometry, Array[Any])] = {
    if (hi <= lo) return Iterator.empty
    val base = shpPath.stripSuffix(".shp")
    val n = hi - lo

    // .shx slice -> (offsetWords, lengthWords) per record
    val shx = PositionedCursor.open(base + ".shx")
    val idx = try {
      require(100L + 8L * hi <= shx.length(),
        s"corrupt shapefile index: record $hi past ${shx.length()} .shx bytes")
      val raw = new Array[Byte](8 * n)
      shx.seek(100L + 8L * lo)
      shx.readFully(raw)
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.BIG_ENDIAN)
      Array.fill(n)((bb.getInt, bb.getInt))
    } finally shx.close()

    // contiguous .shp span covering the range
    val spanStart = 2L * idx.head._1
    val spanEnd = 2L * idx.last._1 + 8L + 2L * idx.last._2
    val shp = PositionedCursor.open(shpPath)
    val span = try {
      // index words are untrusted: the span they describe must lie inside
      // the .shp file before it sizes an allocation
      require(spanStart >= 0 && spanEnd >= spanStart && spanEnd <= shp.length(),
        s"corrupt shapefile index: span [$spanStart, $spanEnd) outside ${shp.length()} bytes")
      val raw = new Array[Byte]((spanEnd - spanStart).toInt)
      shp.seek(spanStart)
      shp.readFully(raw)
      raw
    } finally shp.close()

    // contiguous .dbf span
    val dbfPath = base + ".dbf"
    val dbf = if (graft.io.FileIO.exists(dbfPath) && header.fields.nonEmpty) {
      val raf = PositionedCursor.open(dbfPath)
      try {
        val raw = new Array[Byte](header.recordSize * n)
        raf.seek(header.headerSize.toLong + header.recordSize.toLong * lo)
        raf.readFully(raw)
        raw
      } finally raf.close()
    } else Array.emptyByteArray

    (0 until n).iterator.map { i =>
      val (offW, lenW) = idx(i)
      val contentOff = (2L * offW - spanStart).toInt + 8
      val geom = decodeShape(
        ByteBuffer.wrap(span, contentOff, 2 * lenW).slice())
      val attrs = if (dbf.isEmpty) Array.empty[Any] else {
        val recOff = header.recordSize * i
        var fieldOff = recOff + 1 // deletion flag byte
        header.fields.map { f =>
          val v = parseField(dbf, fieldOff, f)
          fieldOff += f.length
          v
        }.toArray[Any]
      }
      ((lo + i).toLong, geom, attrs)
    }
  }

  // ----------------------------------------------------------------- write

  /** Streaming shapefile writer: records append one at a time with bounded
    * memory; the headers that depend on totals (.shp/.shx lengths, union
    * envelope, shape type, .dbf record count) are back-patched on `close` —
    * the shapefile layout permits this because every variable-length total
    * lives in a fixed-offset header slot. Lets unbounded exports feed a
    * sorted `toLocalIterator` without materializing the feature set. */
  final class StreamWriter(shpPath: String, fields: Seq[DbfField], proj: String) {
    private val base = shpPath.stripSuffix(".shp")
    private val shp = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(shpPath)))
    private val shx = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(base + ".shx")))
    private val dbf = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(base + ".dbf")))
    private val env = new Envelope()
    private var shapeType = -1
    private var count = 0
    private var offWords = 50L
    // the shapefile format stores record offsets as signed 32-bit counts of
    // 16-bit words, capping .shp at 2 GiB (same ceiling OGR enforces); past
    // it the back-patched offsets would silently wrap negative
    private val MaxWords = (2L << 30) / 2

    // placeholder headers, patched in close()
    shp.write(new Array[Byte](100))
    shx.write(new Array[Byte](100))
    dbf.write(dbfHeader(fields, 0))

    def append(g: Geometry, attrs: Seq[Any]): Unit = {
      if (g != null) {
        val st = shapeTypeOf(g)
        if (shapeType == -1) shapeType = st
        else if (st != shapeType) throw new IllegalArgumentException(
          "all geometries in a shapefile must share one shape type")
        env.expandToInclude(g.getEnvelopeInternal)
      }
      val c = encodeShape(g)
      if (offWords + 4 + c.length / 2 > MaxWords)
        throw new IllegalArgumentException(
          s"shapefile format caps .shp at 2 GiB; record ${count + 1} would " +
            "exceed it — use the geoparquet sink for exports this large")
      count += 1
      shp.writeInt(count) // record numbers are 1-based
      shp.writeInt(c.length / 2)
      shp.write(c)
      shx.writeInt(offWords.toInt)
      shx.writeInt(c.length / 2)
      offWords += 4 + c.length / 2
      writeDbfRecord(dbf, attrs, fields)
    }

    def close(): Unit = {
      dbf.writeByte(0x1A)
      shp.close(); shx.close(); dbf.close()
      if (env.isNull) env.expandToInclude(0, 0)
      def header(fileWords: Int): Array[Byte] = {
        val b = ByteBuffer.allocate(100)
        b.order(ByteOrder.BIG_ENDIAN)
        b.putInt(0, 9994)
        b.putInt(24, fileWords)
        b.order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(28, 1000)
        b.putInt(32, math.max(shapeType, 0))
        b.putDouble(36, env.getMinX).putDouble(44, env.getMinY)
        b.putDouble(52, env.getMaxX).putDouble(60, env.getMaxY)
        b.array()
      }
      patch(shpPath, 0, header(offWords.toInt))
      patch(base + ".shx", 0, header((100 + 8 * count) / 2))
      // .dbf record count lives at offset 4
      val cnt = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(count).array()
      patch(base + ".dbf", 4, cnt)
      // foreign tools read .prj as WKT, not "EPSG:xxxx" — emit WKT for hub
      // codes, keep anything unresolvable (already-WKT input) verbatim
      val prjText = graft.raster.WktSrs.toWkt(proj).getOrElse(proj)
      val prj = new FileOutputStream(base + ".prj")
      try prj.write(prjText.getBytes(StandardCharsets.US_ASCII)) finally prj.close()
    }

    private def patch(path: String, off: Long, bytes: Array[Byte]): Unit = {
      val raf = new java.io.RandomAccessFile(path, "rw")
      try { raf.seek(off); raf.write(bytes) } finally raf.close()
    }
  }

  /** Write one complete shapefile set (.shp/.shx/.dbf/.prj). `rows` carry
    * (geometry, attrs) aligned with `fields`; attrs hold Long/Double/String/
    * Boolean/java.sql.Date or null. */
  def write(shpPath: String, rows: Seq[(Geometry, Seq[Any])],
      fields: Seq[DbfField], proj: String): Unit = {
    val w = new StreamWriter(shpPath, fields, proj)
    rows.foreach { case (g, attrs) => w.append(g, attrs) }
    w.close()
  }

  /** DBF fields for a Spark schema (geometry/fid excluded by the caller).
    * String widths are sized from the data, which the driver-side writer has
    * in hand — DBF is fixed-width, there is no streaming-safe alternative. */
  def dbfFieldsFor(schema: Seq[(String, DataType)],
      rows: Seq[Seq[Any]]): Seq[DbfField] = {
    val fields = schema.zipWithIndex.map { case ((name, dt), i) =>
      val short = name.take(10)
      dt match {
        case LongType | IntegerType | ShortType | ByteType =>
          DbfField(short, 'N', 18, 0)
        case DoubleType | FloatType =>
          DbfField(short, 'N', 24, 15)
        case BooleanType => DbfField(short, 'L', 1, 0)
        case DateType => DbfField(short, 'D', 8, 0)
        case _ =>
          val w = rows.iterator.map { r =>
            r(i) match {
              case null => 0
              case s => s.toString.getBytes(StandardCharsets.ISO_8859_1).length
            }
          }.foldLeft(1)(math.max)
          DbfField(short, 'C', math.min(254, w), 0)
      }
    }
    val dup = fields.groupBy(_.name).collectFirst { case (n, fs) if fs.size > 1 => n }
    dup.foreach(n => throw new IllegalArgumentException(
      s"field name '$n' collides after the DBF 10-char truncation"))
    fields
  }

  private def formatNumeric(v: Any, f: DbfField): String = {
    val s = v match {
      case null => ""
      case d: Double =>
        if (f.decimals == 0) d.toLong.toString
        else {
          // widest plain decimal that fits the field, trimmed of zero-tail
          var t = new java.math.BigDecimal(d)
            .setScale(f.decimals, java.math.RoundingMode.HALF_EVEN)
            .stripTrailingZeros().toPlainString
          if (t.length > f.length)
            t = new java.math.BigDecimal(d)
              .round(new java.math.MathContext(f.length - 6))
              .toPlainString.take(f.length)
          t
        }
      case other => other.toString
    }
    if (s.length > f.length)
      throw new IllegalArgumentException(s"value $s overflows N(${f.length})")
    (" " * (f.length - s.length)) + s
  }

  private def dbfHeader(fields: Seq[DbfField], nRecords: Int): Array[Byte] = {
    val recordSize = 1 + fields.map(_.length).sum
    val headerSize = 32 + 32 * fields.length + 1
    val head = ByteBuffer.allocate(headerSize).order(ByteOrder.LITTLE_ENDIAN)
    head.put(0, 0x03.toByte)
    // fixed stamp: the update date is metadata; a deterministic file is
    // worth more than a true one here
    head.put(1, 24.toByte); head.put(2, 1.toByte); head.put(3, 1.toByte)
    head.putInt(4, nRecords)
    head.putShort(8, headerSize.toShort)
    head.putShort(10, recordSize.toShort)
    fields.zipWithIndex.foreach { case (f, i) =>
      val off = 32 + 32 * i
      val nameB = f.name.getBytes(StandardCharsets.US_ASCII)
      head.position(off)
      head.put(nameB, 0, math.min(10, nameB.length))
      head.put(off + 11, f.ftype.toByte)
      head.put(off + 16, f.length.toByte)
      head.put(off + 17, f.decimals.toByte)
    }
    head.put(headerSize - 1, 0x0D.toByte)
    head.array()
  }

  private val dbfPad = Array.fill(254)(' '.toByte)

  private def writeDbfRecord(out: DataOutputStream, r: Seq[Any],
      fields: Seq[DbfField]): Unit = {
    out.writeByte(0x20) // live record
    fields.zip(r).foreach { case (f, v) =>
      val bytes = f.ftype match {
        case 'N' | 'F' => formatNumeric(v, f).getBytes(StandardCharsets.ISO_8859_1)
        case 'L' => Array((v match {
          case null => '?'
          case b: Boolean => if (b) 'T' else 'F'
          case other => if (other.toString.toBoolean) 'T' else 'F'
        }).toByte)
        case 'D' => (v match {
          case null => " " * 8
          case d: java.sql.Date => d.toString.replace("-", "")
          case other => other.toString.replace("-", "").take(8)
        }).getBytes(StandardCharsets.US_ASCII)
        case _ =>
          val s = if (v == null) "" else v.toString
          val b = s.getBytes(StandardCharsets.ISO_8859_1)
          if (b.length > f.length) throw new IllegalArgumentException(
            s"string of ${b.length} bytes overflows C(${f.length}) field '${f.name}'")
          b
      }
      out.write(bytes)
      if (bytes.length < f.length) out.write(dbfPad, 0, f.length - bytes.length)
    }
  }
}

/** Distributed shapefile reader: a GeometryBlock over a .shp file set.
  *
  * Counterpart of the reference's OGR-backed GeometryFileSource reading
  * `.shp` (geometry/sources.py:18-159). Splits follow the .shx stride (see
  * Shapefile scaladoc); attribute/spatial filters and limit apply after the
  * scan — the format has no pushdown to offer, which is exactly why the
  * engine's native store is (geo)parquet.
  */
case class ShapefileSource(url: String, proj: String = "EPSG:28992")
    extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val header = Shapefile.readDbfHeader(
    url.stripSuffix(".shp") + ".dbf")

  override lazy val columns: Set[String] =
    header.fields.map(_.name).toSet + "geometry"

  /** Stored projection: the .prj content if present, else the constructor
    * default. The codec writes "EPSG:xxxx" style strings; foreign WKT .prj
    * content (ArcGIS/QGIS) resolves through the Proj hub's WKT reader. */
  override lazy val projection: String = {
    val f = url.stripSuffix(".shp") + ".prj"
    if (graft.io.FileIO.exists(f)) {
      val raw = graft.io.FileIO.readString(f).trim
      try graft.raster.Proj.normalize(raw)
      catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"shapefile $url: .prj declares an unsupported SRS — ${e.getMessage}")
      }
    } else proj
  }

  // fail fast: an unreadable or unsupported .prj errors here, at source
  // construction, naming the file — not from deep inside a warp/transform
  locally {
    if (graft.io.FileIO.exists(url.stripSuffix(".shp") + ".prj")) {
      val decl = projection
      if (!graft.raster.Proj.supported(decl))
        throw new IllegalArgumentException(
          s"shapefile $url: .prj declares unsupported SRS '$decl'")
    }
  }

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val h = header
    val shpBytes = graft.io.FileIO.size(url)
    val nRec = h.numRecords
    // a long-typed DBF field named "fid" IS the feature id (round-tripped
    // exports keep their ids); otherwise the record index serves
    val fidField = h.fields.indexWhere(f =>
      f.name == "fid" && Shapefile.sparkType(f) == LongType)
    val attrFields = h.fields.zipWithIndex.filter(_._2 != fidField)
    val schema = StructType(
      StructField("fid", LongType, nullable = false) +:
        attrFields.map { case (f, _) =>
          StructField(f.name, Shapefile.sparkType(f), nullable = true)
        } :+
        StructField("geometry", BinaryType, nullable = true))

    // ~32 MB of .shp per split, bounded by the session's parallelism floor
    val targetSplit = 32L * 1024 * 1024
    val nSplits = math.max(1, math.min(nRec.toLong,
      math.max(shpBytes / targetSplit, 1L))).toInt
    val per = (nRec + nSplits - 1) / math.max(nSplits, 1)
    val ranges = (0 until nSplits).map(i =>
      (i * per, math.min(nRec, (i + 1) * per))).filter(r => r._2 > r._1)

    val path = url
    val attrIdx = attrFields.map(_._2)
    val rdd = spark.sparkContext.parallelize(ranges, math.max(ranges.size, 1))
      .flatMap { case (lo, hi) =>
        Shapefile.readRange(path, lo, hi, h).map { case (idx, g, attrs) =>
          val fid =
            if (fidField >= 0 && attrs(fidField) != null)
              attrs(fidField).asInstanceOf[Long]
            else idx
          Row.fromSeq(fid +: attrIdx.map(attrs(_)) :+
            (if (g == null) null else GeomFunctions.writeWkb(g)))
        }
      }
    var df = spark.createDataFrame(rdd, schema)

    req.filters.foreach { case (k, v) => df = df.filter(col(k) === lit(v)) }
    req.geometryWkt.foreach { wkt =>
      df = df.filter(GeomFunctions.stFilter(col("geometry"), lit(wkt),
        lit(if (req.mode == "centroid") "centroid" else "intersects")))
    }
    req.minSize.foreach(ms =>
      df = df.filter(GeomFunctions.stSizeAtLeast(col("geometry"), lit(ms))))
    req.limit.foreach(n => df = df.limit(n))
    df
  }
}

/** Shapefile export of a GeometryBlock, after the reference's `to_file`
  * with a `.shp` target (geometry/sinks.py:224-284). A shapefile is one
  * single-writer file set, so the write collects through the same
  * geometry-limit guard as `getFeatures`; unbounded exports belong in
  * partitioned geoparquet. The reference has the same shape: its dask
  * workers write per-tile files that a single merge folds together.
  */
object ShapefileSink {

  /** Unbounded streaming export, no geometry-limit guard: one distributed
    * pass sizes the fixed-width DBF string fields, then a fid-sorted
    * `toLocalIterator` appends records one at a time — driver memory is
    * bounded by one Spark partition. This is the engine's analogue of the
    * reference's tiled to_file + merge_files (sinks.py:224-284, :116-169). */
  def writeStream(df: DataFrame, proj: String, shpPath: String)
      (implicit spark: SparkSession): String = {
    require(df.columns.contains("geometry"), "shapefile export needs a geometry column")
    val attrCols = df.columns.filterNot(_ == "geometry").toSeq
    val schema = attrCols.map(c => (c, df.schema(c).dataType))
    // distributed width pass for C (string) fields — DBF is fixed-width
    val strCols = schema.collect {
      case (c, dt) if !Set[DataType](LongType, IntegerType, ShortType, ByteType,
        DoubleType, FloatType, BooleanType, DateType).contains(dt) => c
    }
    val widths: Map[String, Int] =
      if (strCols.isEmpty) Map.empty
      else {
        val aggs = strCols.map(c => max(length(col(c).cast("string"))).as(c))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        strCols.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(i)) 1 else math.max(1, r.getInt(i)))
        }.toMap
      }
    val fields = schema.map { case (name, dt) =>
      val short = name.take(10)
      dt match {
        case LongType | IntegerType | ShortType | ByteType => Shapefile.DbfField(short, 'N', 18, 0)
        case DoubleType | FloatType => Shapefile.DbfField(short, 'N', 24, 15)
        case BooleanType => Shapefile.DbfField(short, 'L', 1, 0)
        case DateType => Shapefile.DbfField(short, 'D', 8, 0)
        case _ => Shapefile.DbfField(short, 'C', math.min(254, widths(name)), 0)
      }
    }
    val dup = fields.groupBy(_.name).collectFirst { case (n, fs) if fs.size > 1 => n }
    dup.foreach(n => throw new IllegalArgumentException(
      s"field name '$n' collides after the DBF 10-char truncation"))

    val ordered = if (df.columns.contains("fid")) SinkFunnel.ordered(df, col("fid")) else df
    val geomIdx = df.columns.indexOf("geometry")
    val attrIdx = attrCols.map(df.columns.indexOf(_))
    val w = new Shapefile.StreamWriter(shpPath, fields, proj)
    val it = ordered.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val wkb = r.get(geomIdx).asInstanceOf[Array[Byte]]
      val g = if (wkb == null) null else GeomFunctions.readWkb(wkb)
      w.append(g, attrIdx.map(i => r.get(i)))
    }
    w.close()
    shpPath
  }

  def write(source: GeometryBlock, shpPath: String, req: GeometryRequest)
      (implicit spark: SparkSession): String = {
    val df = source.frame(req)
    require(df.columns.contains("geometry"), "shapefile export needs a geometry column")
    val attrCols = df.columns.filterNot(_ == "geometry").toSeq
    val rows = {
      val cap = graft.raster.RequestGuards.geometryLimit
      val limited = req.limit.isDefined
      val collected = (if (limited) df else df.limit(cap + 1)).collect()
      if (!limited && collected.length > cap) throw new RuntimeException(
        s"The amount of returned geometries exceeded the maximum of $cap geometries.")
      collected
    }
    val schema = attrCols.map(c => (c, df.schema(c).dataType))
    val geomIdx = df.columns.indexOf("geometry")
    val attrIdx = attrCols.map(df.columns.indexOf(_))
    val attrRows = rows.map(r => attrIdx.map(i => r.get(i)).toSeq).toSeq
    val fields = Shapefile.dbfFieldsFor(schema, attrRows)
    val geoms = rows.map { r =>
      val wkb = r.get(geomIdx).asInstanceOf[Array[Byte]]
      if (wkb == null) null else GeomFunctions.readWkb(wkb)
    }
    Shapefile.write(shpPath, geoms.zip(attrRows).toSeq, fields, source.projection)
    shpPath
  }
}
