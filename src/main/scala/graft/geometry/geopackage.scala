package graft.geometry

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType,
  StructField, StructType}

/** Minimal read-only SQLite file parser — just enough b-tree walking to read
  * GeoPackage feature tables without any native library.
  *
  * The SQLite database file format is public and frozen
  * (https://www.sqlite.org/fileformat2.html): a 100-byte header, fixed-size
  * pages, table b-trees of interior (0x05) and leaf (0x0d) pages, records
  * encoded as serial-type arrays, large payloads spilling to overflow-page
  * chains. This reader implements exactly that subset (no indexes, no WAL,
  * no freelist reuse — all irrelevant for reading a finished file).
  *
  * Scale design: interior pages are walked on the driver (they are ~1/fanout
  * of the file — a 100 GB table has ~MBs of interior pages) to enumerate
  * leaf-page numbers; leaves are then read in distributed batches, each task
  * seeking directly to its own pages. Overflow chains are followed per-cell
  * inside the task.
  */
object Sqlite {

  case class DbInfo(pageSize: Int, usableSize: Int, textEncoding: Int)

  def open(path: String): DbInfo = {
    val raf = graft.io.PositionedCursor.open(path)
    try {
      val head = new Array[Byte](100)
      raf.readFully(head)
      val magic = new String(head, 0, 16, StandardCharsets.ISO_8859_1)
      require(magic.startsWith("SQLite format 3"), s"$path is not a SQLite file")
      val bb = ByteBuffer.wrap(head).order(ByteOrder.BIG_ENDIAN)
      val ps0 = bb.getShort(16) & 0xffff
      val pageSize = if (ps0 == 1) 65536 else ps0
      // spec: power of two in [512, 65536] — a corrupt size would let the
      // overflow-chain reader loop without progress or missize every page
      require(pageSize >= 512 && (pageSize & (pageSize - 1)) == 0,
        s"corrupt SQLite header: page size $pageSize")
      val reserved = head(20) & 0xff
      require(reserved < pageSize - 64, s"corrupt SQLite header: reserved $reserved")
      DbInfo(pageSize, pageSize - reserved, bb.getInt(56))
    } finally raf.close()
  }

  /** Read a varint at `off`; returns (value, bytesConsumed). */
  def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8) {
      val x = b(off + i)
      v = (v << 7) | (x & 0x7f)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | (b(off + 8) & 0xff), 9)
  }

  private def readPage(raf: graft.io.PositionedCursor, info: DbInfo, page: Int): Array[Byte] = {
    val buf = new Array[Byte](info.pageSize)
    raf.seek((page - 1).toLong * info.pageSize)
    raf.readFully(buf)
    buf
  }

  /** All leaf-page numbers of the table b-tree rooted at `root`, in key
    * order. Only interior pages are materialized here. */
  def leafPages(path: String, root: Int): Seq[Int] = {
    val info = open(path)
    val raf = graft.io.PositionedCursor.open(path)
    try {
      val out = Seq.newBuilder[Int]
      // a corrupt b-tree can cycle or point at itself; a page is visited
      // at most once in a well-formed tree, so repeats are corruption
      val seen = scala.collection.mutable.HashSet.empty[Int]
      def walk(page: Int): Unit = {
        require(seen.add(page), s"corrupt SQLite b-tree: page $page revisited")
        val buf = readPage(raf, info, page)
        val hdr = if (page == 1) 100 else 0
        (buf(hdr) & 0xff) match {
          case 0x0d => out += page
          case 0x05 =>
            val nCells = ByteBuffer.wrap(buf).getShort(hdr + 3) & 0xffff
            val rightMost = ByteBuffer.wrap(buf).getInt(hdr + 8)
            val ptrArray = hdr + 12
            var i = 0
            while (i < nCells) {
              val cellOff = ByteBuffer.wrap(buf).getShort(ptrArray + 2 * i) & 0xffff
              walk(ByteBuffer.wrap(buf).getInt(cellOff))
              i += 1
            }
            walk(rightMost)
          case t => throw new IllegalStateException(s"page $page: not a table page (type $t)")
        }
      }
      walk(root)
      out.result()
    } finally raf.close()
  }

  /** Decode the cells of one leaf page into (rowid, columnValues) pairs,
    * following overflow chains through `raf` when a payload spills. */
  def leafRows(raf: graft.io.PositionedCursor, info: DbInfo, page: Int): Seq[(Long, Array[Any])] = {
    val buf = readPage(raf, info, page)
    val hdr = if (page == 1) 100 else 0
    require((buf(hdr) & 0xff) == 0x0d, s"page $page is not a table leaf")
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.BIG_ENDIAN)
    val nCells = bb.getShort(hdr + 3) & 0xffff
    val ptrArray = hdr + 8 // leaf header is 8 bytes (no right-pointer slot)
    (0 until nCells).map { i =>
      val cellOff = bb.getShort(ptrArray + 2 * i) & 0xffff
      var off = cellOff
      val (payloadLen, n1) = varint(buf, off); off += n1
      val (rowid, n2) = varint(buf, off); off += n2
      // structural bound: a record payload cannot exceed the database file
      // (stops a corrupt varint from sizing a multi-GB allocation)
      require(payloadLen >= 0 && payloadLen <= raf.length(),
        s"corrupt SQLite cell: payload length $payloadLen")
      val u = info.usableSize
      val x = u - 35
      val payload =
        if (payloadLen <= x) {
          val p = new Array[Byte](payloadLen.toInt)
          System.arraycopy(buf, off, p, 0, payloadLen.toInt)
          p
        } else {
          // spilled: K = M + (P - M) % (U - 4); local = K if K <= X else M
          val m = ((u - 12) * 32 / 255) - 23
          val k = m + ((payloadLen - m) % (u - 4)).toInt
          val local = if (k <= x) k else m
          val p = new Array[Byte](payloadLen.toInt)
          System.arraycopy(buf, off, p, 0, local)
          var next = bb.getInt(off + local)
          var have = local
          while (next != 0 && have < payloadLen) {
            val op = readPage(raf, info, next)
            val take = math.min((payloadLen - have).toInt, u - 4)
            System.arraycopy(op, 4, p, have, take)
            have += take
            next = ByteBuffer.wrap(op).getInt(0)
          }
          p
        }
      (rowid, decodeRecord(payload))
    }
  }

  /** Decode one record payload: header of serial types, then values.
    * Integers → Long, floats → Double, text → String (UTF-8), blob →
    * Array[Byte], NULL → null. */
  def decodeRecord(p: Array[Byte]): Array[Any] = {
    val (hdrLen, n0) = varint(p, 0)
    var hOff = n0
    val types = Array.newBuilder[Long]
    while (hOff < hdrLen) {
      val (t, n) = varint(p, hOff); hOff += n
      types += t
    }
    var off = hdrLen.toInt
    types.result().map { t =>
      t match {
        case 0 => null
        case 1 => val v = p(off).toLong; off += 1; java.lang.Long.valueOf(v)
        case 2 | 3 | 4 | 5 | 6 =>
          val len = t match {
            case 2 => 2; case 3 => 3; case 4 => 4; case 5 => 6; case 6 => 8
          }
          var v = p(off).toLong // sign-extend from the first byte
          var i = 1
          while (i < len) { v = (v << 8) | (p(off + i) & 0xff); i += 1 }
          off += len
          java.lang.Long.valueOf(v)
        case 7 =>
          val v = ByteBuffer.wrap(p, off, 8).order(ByteOrder.BIG_ENDIAN).getDouble
          off += 8; java.lang.Double.valueOf(v)
        case 8 => java.lang.Long.valueOf(0L)
        case 9 => java.lang.Long.valueOf(1L)
        case n if n >= 12 && n % 2 == 0 =>
          val len = ((n - 12) / 2).toInt
          // bound BEFORE allocating: a corrupt serial type must not size
          // a multi-GB array that the copy would only then reject
          require(len >= 0 && off + len <= p.length,
            s"corrupt SQLite record: blob of $len bytes past payload end")
          val v = new Array[Byte](len)
          System.arraycopy(p, off, v, 0, len); off += len
          v
        case n if n >= 13 =>
          val len = ((n - 13) / 2).toInt
          require(len >= 0 && off + len <= p.length,
            s"corrupt SQLite record: text of $len bytes past payload end")
          val v = new String(p, off, len, StandardCharsets.UTF_8)
          off += len
          v
        case other => throw new IllegalStateException(s"reserved serial type $other")
      }
    }
  }

  /** Scan a whole table (driver-side; for the small metadata tables). */
  def scanTable(path: String, root: Int): Seq[(Long, Array[Any])] = {
    val info = open(path)
    val raf = graft.io.PositionedCursor.open(path)
    try leafPages(path, root).flatMap(p => leafRows(raf, info, p))
    finally raf.close()
  }

  case class MasterRow(kind: String, name: String, tblName: String,
      rootPage: Int, sql: String)

  /** sqlite_master (root page 1): the schema table. */
  def master(path: String): Seq[MasterRow] =
    scanTable(path, 1).flatMap { case (_, vals) =>
      if (vals.length < 5 || vals(0) == null) None
      else Some(MasterRow(vals(0).toString,
        if (vals(1) == null) "" else vals(1).toString,
        if (vals(2) == null) "" else vals(2).toString,
        vals(3) match { case l: java.lang.Long => l.toInt; case _ => 0 },
        if (vals(4) == null) "" else vals(4).toString))
    }

  /** SQLite type affinity (fileformat §3.1 rules) for a declared type. */
  def affinity(decl: String): Char = {
    val d = decl.toUpperCase
    if (d.contains("INT")) 'I'
    else if (d.contains("CHAR") || d.contains("CLOB") || d.contains("TEXT")) 'T'
    else if (d.isEmpty || d.contains("BLOB")) 'B'
    else if (d.contains("REAL") || d.contains("FLOA") || d.contains("DOUB")) 'R'
    else 'N' // NUMERIC
  }

  /** Column (name, declaredType) pairs and the INTEGER PRIMARY KEY position
    * from a CREATE TABLE statement — a pragmatic parse: split the
    * parenthesized body on top-level commas, take the leading identifier of
    * each entry, skip table-level constraints. */
  def tableColumnDecls(sql: String): (Seq[(String, String)], Int) = {
    val open = sql.indexOf('(')
    val body = sql.substring(open + 1, sql.lastIndexOf(')'))
    val parts = Seq.newBuilder[String]
    var depth = 0; var start = 0; var inQuote: Char = 0.toChar
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQuote != 0.toChar) { if (c == inQuote) inQuote = 0.toChar }
      else c match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '"' | '\'' | '`' | '[' => inQuote = if (c == '[') ']' else c
        case ',' if depth == 0 => parts += body.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    parts += body.substring(start)
    val constraintKw = Set("primary", "unique", "check", "foreign", "constraint")
    val cols = Seq.newBuilder[(String, String)]
    var n = 0
    var ipk = -1
    parts.result().map(_.trim).filter(_.nonEmpty).foreach { entry =>
      val first = entry.takeWhile(c => !c.isWhitespace)
      val bare = first.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`")
        .stripPrefix("[").stripSuffix("]")
      if (!constraintKw.contains(bare.toLowerCase)) {
        val rest = entry.drop(first.length).trim
        val decl = rest.takeWhile(c => !",(".contains(c)).trim
          .split("\\s+").takeWhile(w =>
            !Set("primary", "not", "null", "unique", "default", "check",
              "references", "collate", "autoincrement", "generated")
              .contains(w.toLowerCase))
          .mkString(" ")
        val lower = entry.toLowerCase
        if (lower.contains("integer") && lower.contains("primary key")) ipk = n
        cols += ((bare, decl))
        n += 1
      }
    }
    (cols.result(), ipk)
  }

  /** Back-compat helper: column names only. */
  def tableColumns(sql: String): (Seq[String], Int) = {
    val (decls, ipk) = tableColumnDecls(sql)
    (decls.map(_._1), ipk)
  }
}

/** GeoPackage helpers: the geometry BLOB header (GP magic + envelope) in
  * front of standard WKB (OGC GeoPackage spec §2.1.3, public). */
object GeoPackage {
  /** Strip the GPB header, returning the WKB payload (null for empty). */
  def wkbOf(blob: Array[Byte]): Array[Byte] = {
    if (blob == null || blob.length < 8) return null
    require(blob(0) == 'G' && blob(1) == 'P', "not a GeoPackage geometry blob")
    val flags = blob(3)
    if (((flags >> 5) & 1) == 1) return null // empty-geometry flag
    val envCode = (flags >> 1) & 0x7
    val envDoubles = envCode match {
      case 0 => 0; case 1 => 4; case 2 | 3 => 6; case 4 => 8
      case other => throw new IllegalArgumentException(s"invalid envelope code $other")
    }
    val off = 8 + 8 * envDoubles
    java.util.Arrays.copyOfRange(blob, off, blob.length)
  }

  case class FeatureTable(name: String, geomColumn: String, srsId: Int)

  /** Feature tables declared in gpkg_geometry_columns. */
  def featureTables(path: String): Seq[FeatureTable] = {
    val m = Sqlite.master(path)
    m.find(r => r.kind == "table" && r.name == "gpkg_geometry_columns") match {
      case None => Seq.empty
      case Some(gc) =>
        val (cols, _) = Sqlite.tableColumns(gc.sql)
        val iTab = cols.indexOf("table_name")
        val iCol = cols.indexOf("column_name")
        val iSrs = cols.indexOf("srs_id")
        Sqlite.scanTable(path, gc.rootPage).map { case (_, vals) =>
          FeatureTable(vals(iTab).toString, vals(iCol).toString,
            vals(iSrs) match { case l: java.lang.Long => l.toInt; case _ => 0 })
        }
    }
  }

  /** "EPSG:xxxx" for a srs_id via gpkg_spatial_ref_sys, falling back to the
    * id itself (GeoPackage srs_ids are EPSG codes in practice). */
  def srsString(path: String, srsId: Int): String = {
    val m = Sqlite.master(path)
    m.find(r => r.kind == "table" && r.name == "gpkg_spatial_ref_sys").flatMap { srs =>
      val (cols, _) = Sqlite.tableColumns(srs.sql)
      val iId = cols.indexOf("srs_id")
      val iOrg = cols.indexOf("organization")
      val iCode = cols.indexOf("organization_coordsys_id")
      Sqlite.scanTable(path, srs.rootPage).collectFirst {
        case (_, vals) if vals(iId).asInstanceOf[java.lang.Long].toInt == srsId =>
          s"${vals(iOrg).toString.toUpperCase}:${vals(iCode)}"
      }
    }.getOrElse(s"EPSG:$srsId")
  }
}

/** GeoPackage feature-table source: the GeometryBlock over a .gpkg file,
  * matching the reference's OGR-backed read of `.gpkg`
  * (geometry/sources.py:18-159). Reads the first declared feature table
  * unless `table` picks one. Leaf pages are read in distributed batches
  * (see Sqlite scaladoc); geometry arrives as GPB blobs and is re-emitted
  * as plain WKB columns.
  */
case class GeoPackageSource(url: String, table: Option[String] = None)
    extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val meta: (GeoPackage.FeatureTable, Sqlite.MasterRow,
      Seq[(String, String)], Int) = {
    val tables = GeoPackage.featureTables(url)
    require(tables.nonEmpty, s"$url declares no feature tables")
    val ft = table match {
      case Some(t) => tables.find(_.name == t).getOrElse(
        throw new IllegalArgumentException(
          s"feature table '$t' not in ${tables.map(_.name)}"))
      case None => tables.head
    }
    val row = Sqlite.master(url).find(r => r.kind == "table" && r.name == ft.name)
      .getOrElse(throw new IllegalArgumentException(s"table ${ft.name} missing"))
    val (decls, ipk) = Sqlite.tableColumnDecls(row.sql)
    (ft, row, decls, ipk)
  }

  override lazy val columns: Set[String] = {
    val (ft, _, decls, ipk) = meta
    val attrs = decls.map(_._1).zipWithIndex
      .filterNot { case (c, i) => c == ft.geomColumn || i == ipk }
      .map(_._1).toSet
    attrs + "geometry"
  }

  override lazy val projection: String = {
    val (ft, _, _, _) = meta
    GeoPackage.srsString(url, ft.srsId)
  }

  // fail fast: an unsupported declared SRS errors at source construction,
  // naming the file — not from deep inside a warp/transform. The spec's
  // "undefined" entries (srs_id 0 / -1, organization NONE) pass: absent is
  // not unsupported, and planar reads never transform.
  locally {
    if (graft.io.FileIO.exists(url) && !graft.io.FileIO.isDirectory(url)) {
      val p = projection
      val undefined = p.startsWith("NONE:") || p == "EPSG:0" || p == "EPSG:-1"
      if (!undefined && !graft.raster.Proj.supported(p))
        throw new IllegalArgumentException(
          s"geopackage $url declares unsupported SRS '$p'")
    }
  }

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val (ft, row, decls, ipk) = meta
    val geomIdx = decls.map(_._1).indexOf(ft.geomColumn)
    val attrIdx = decls.zipWithIndex
      .filterNot { case (_, i) => i == geomIdx || i == ipk }.map(_._2)

    // the driver walks only interior pages; leaves fan out in batches
    val leaves = Sqlite.leafPages(url, row.rootPage)
    val info = Sqlite.open(url)
    // ~2k leaves (≈8 MB at the 4 KB default page size) per task
    val batch = 2048
    val groups = leaves.grouped(batch).toSeq
    val path = url

    // column types come from the declared affinities (GeoPackage requires
    // declared types); values are coerced per-row because SQLite stores
    // e.g. integral REALs in integer format on disk
    val affs: Seq[Char] = attrIdx.map(i => Sqlite.affinity(decls(i)._2))
    def sparkTypeOf(a: Char): org.apache.spark.sql.types.DataType = a match {
      case 'I' => LongType
      case 'R' | 'N' => DoubleType
      case 'B' => BinaryType
      case _ => StringType
    }
    val schema = StructType(
      StructField("fid", LongType, nullable = false) +:
        attrIdx.zip(affs).map { case (i, a) =>
          StructField(decls(i)._1, sparkTypeOf(a), nullable = true)
        } :+
        StructField("geometry", BinaryType, nullable = true))

    val rdd = spark.sparkContext.parallelize(groups, math.max(groups.size, 1))
      .flatMap { pages =>
        val raf = graft.io.PositionedCursor.open(path)
        val rows = try pages.flatMap(p => Sqlite.leafRows(raf, info, p))
        finally raf.close()
        rows.iterator.map { case (rowid, vals) =>
          val attrs = attrIdx.zip(affs).map { case (i, a) =>
            (vals(i), a) match {
              case (null, _) => null
              case (l: java.lang.Long, 'R') => java.lang.Double.valueOf(l.toDouble)
              case (l: java.lang.Long, 'N') => java.lang.Double.valueOf(l.toDouble)
              case (d: java.lang.Double, 'I') => java.lang.Long.valueOf(d.toLong)
              case (v, 'T') => v.toString
              case (v, _) => v
            }
          }
          val wkb = GeoPackage.wkbOf(vals(geomIdx).asInstanceOf[Array[Byte]])
          Row.fromSeq(rowid +: attrs :+ wkb)
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

/** The reference's `GeometryFileSource(url, layer, id_field)` opens any OGR
  * vector format by url (geometry/sources.py:18-159). Here the url's
  * extension picks a row of [[VectorFormat]] (`layer` selects a GeoPackage
  * feature table or a GPX layer), a `.zip` bundle reads the dataset inside
  * it, and anything else (directories, `.parquet`) is a [[GeoParquetSource]].
  * `proj` is the fallback CRS for formats that do not carry one; when given
  * it is honored for EVERY format that takes one — including geojson, where
  * it overrides the RFC 7946 default of EPSG:4326 (legacy files this engine
  * wrote before the sink reprojected carry native-CRS coordinates and must
  * not be relabeled WGS84).
  */
case class GeometryFileSource(url: String, layer: Option[String] = None,
    proj: Option[String] = None) extends GeometryBlock with graft.core.FileSource {

  @transient private lazy val delegate: GeometryBlock =
    VectorFormat.open(url, layer, proj)

  override def columns: Set[String] = delegate.columns
  override def projection: String = delegate.projection
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame =
    delegate.frame(req)
}
