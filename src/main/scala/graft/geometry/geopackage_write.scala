package graft.geometry

import java.io.RandomAccessFile
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Minimal SQLite *writer* — the emit side of [[Sqlite]], enough to produce
  * a valid database file (readable by the stock `sqlite3` library and by
  * OGR/pyogrio) from in-memory tables.
  *
  * Same public, frozen format as the reader
  * (https://www.sqlite.org/fileformat2.html): 100-byte header on page 1,
  * fixed 4096-byte pages, table b-trees of leaf (0x0d) and interior (0x05)
  * pages, records as serial-type arrays, oversized payloads spilling to
  * overflow chains with the spec's K/M/X split formulas (mirroring
  * [[Sqlite.leafRows]] exactly). No indexes, no freelist, no WAL — a
  * write-once file needs none of them.
  */
object SqliteWrite {

  val PageSize = 4096
  private val U = PageSize // usable bytes (reserved-per-page = 0)
  private val X = U - 35 // max non-spilling table-leaf payload
  private val M = ((U - 12) * 32 / 255) - 23 // min local when spilled

  /** One table to emit: `sql` is the CREATE TABLE text recorded in
    * sqlite_master; rows are (rowid, values) with values already coerced to
    * null / java.lang.Long / java.lang.Double / String / Array[Byte]
    * (INTEGER PRIMARY KEY columns must hold null — the rowid aliases them).
    * `rows` is consumed ONCE, in streaming fashion, and must be
    * rowid-ascending with no duplicates — so unbounded exports can feed a
    * sorted `toLocalIterator` without materializing the table. */
  case class Table(name: String, sql: String, rows: Iterator[(Long, Seq[Any])])

  object Table {
    def apply(name: String, sql: String, rows: Seq[(Long, Seq[Any])]): Table = {
      val sorted = rows.sortBy(_._1)
      require(sorted.map(_._1).distinct.size == sorted.size,
        s"table $name: duplicate rowids")
      Table(name, sql, sorted.iterator)
    }
  }

  /** SQLite varint (1-9 bytes, big-endian 7-bit groups; 9th byte = low 8). */
  def varintBytes(v: Long): Array[Byte] = {
    if (v >= 0 && v < (1L << 56)) {
      var n = 1
      while (n < 8 && (v >>> (7 * n)) != 0) n += 1
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        out(i) = (((v >>> (7 * (n - 1 - i))) & 0x7f) |
          (if (i < n - 1) 0x80 else 0)).toByte
        i += 1
      }
      out
    } else {
      // full 64-bit form: 8 groups of 7 bits, then the low byte
      val out = new Array[Byte](9)
      var i = 0
      while (i < 8) { out(i) = (0x80 | ((v >>> (57 - 7 * i)) & 0x7f)).toByte; i += 1 }
      out(8) = (v & 0xff).toByte
      out
    }
  }

  /** Encode one record (serial-type header + values) — the inverse of
    * [[Sqlite.decodeRecord]]. */
  def encodeRecord(vals: Seq[Any]): Array[Byte] = {
    val types = Array.newBuilder[Long]
    val bodies = Array.newBuilder[Array[Byte]]
    vals.foreach {
      case null =>
        types += 0L; bodies += Array.emptyByteArray
      case l: java.lang.Long =>
        val v = l.longValue
        val len =
          if (v >= -128 && v <= 127) 1
          else if (v >= -32768 && v <= 32767) 2
          else if (v >= -8388608 && v <= 8388607) 3
          else if (v >= Int.MinValue && v <= Int.MaxValue) 4
          else if (v >= -140737488355328L && v <= 140737488355327L) 6
          else 8
        types += (len match {
          case 1 => 1L; case 2 => 2L; case 3 => 3L; case 4 => 4L
          case 6 => 5L; case 8 => 6L
        })
        val b = new Array[Byte](len)
        var i = 0
        while (i < len) { b(i) = (v >>> (8 * (len - 1 - i))).toByte; i += 1 }
        bodies += b
      case d: java.lang.Double =>
        types += 7L
        bodies += ByteBuffer.allocate(8).putDouble(d.doubleValue).array
      case s: String =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        types += 13L + 2L * b.length; bodies += b
      case b: Array[Byte] =>
        types += 12L + 2L * b.length; bodies += b
      case other =>
        throw new IllegalArgumentException(
          s"unsupported SQLite value ${other.getClass.getName}")
    }
    val typeBytes = types.result().map(varintBytes)
    val typesLen = typeBytes.map(_.length).sum
    // header length includes its own varint; one byte covers < 128,
    // two cover < 16384 (far beyond any realistic column count)
    val hdrLen = if (typesLen + 1 < 128) typesLen + 1 else typesLen + 2
    val bodyArrs = bodies.result()
    val out = new Array[Byte](hdrLen + bodyArrs.map(_.length).sum)
    var off = 0
    val h = varintBytes(hdrLen)
    System.arraycopy(h, 0, out, off, h.length); off += h.length
    typeBytes.foreach { t => System.arraycopy(t, 0, out, off, t.length); off += t.length }
    bodyArrs.foreach { b => System.arraycopy(b, 0, out, off, b.length); off += b.length }
    out
  }

  private class Alloc {
    // the lock-byte page (at offset 2^30) may hold no data; files that large
    // should use the distributed parquet sink instead. Checked here, per
    // allocation, so an oversized export fails with this error while the
    // buffer is still small — not after the heap has absorbed the whole file.
    private val MaxPages = ((1L << 30) / PageSize).toInt - 1
    val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    pages += new Array[Byte](PageSize) // page 1 (header + master root)
    def alloc(): Int = {
      require(pages.size < MaxPages,
        "SqliteWrite caps files at 1 GiB (lock-byte page); use the " +
          "distributed parquet sink for larger exports")
      pages += new Array[Byte](PageSize); pages.size
    }
    def apply(n: Int): Array[Byte] = pages(n - 1)
  }

  private def putShort(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 8).toByte; b(off + 1) = v.toByte
  }
  private def putInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** A built b-tree node awaiting linkage: page number + largest rowid. */
  private case class Child(page: Int, maxKey: Long)

  /** Leaf cell bytes for (rowid, payload), allocating overflow pages for
    * payloads past the X threshold (same split the reader reverses). */
  private def makeLeafCell(rowid: Long, payload: Array[Byte], alloc: Alloc): Array[Byte] = {
    val pl = payload.length
    val head = varintBytes(pl.toLong) ++ varintBytes(rowid)
    if (pl <= X) head ++ payload
    else {
      val k = M + ((pl - M) % (U - 4))
      val local = if (k <= X) k else M
      val chunks = payload.drop(local).grouped(U - 4).toSeq
      val nums = chunks.map(_ => alloc.alloc())
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val pg = alloc(nums(i))
        putInt(pg, 0, if (i + 1 < nums.length) nums(i + 1) else 0)
        System.arraycopy(chunk, 0, pg, 4, chunk.length)
      }
      val ptr = new Array[Byte](4)
      putInt(ptr, 0, nums.head)
      head ++ payload.take(local) ++ ptr
    }
  }

  /** Write a leaf page: 8-byte header at `hdrOff`, pointer array, cells
    * packed downward from the page end. */
  private def writeLeaf(buf: Array[Byte], hdrOff: Int,
      cells: Seq[Array[Byte]]): Unit = {
    buf(hdrOff) = 0x0d
    putShort(buf, hdrOff + 1, 0)
    putShort(buf, hdrOff + 3, cells.size)
    buf(hdrOff + 7) = 0
    var top = PageSize
    cells.zipWithIndex.foreach { case (c, i) =>
      top -= c.length
      System.arraycopy(c, 0, buf, top, c.length)
      putShort(buf, hdrOff + 8 + 2 * i, top)
    }
    putShort(buf, hdrOff + 5, top)
  }

  /** Write an interior page over `children` (≥1): cells for all but the
    * last child, which becomes the right-most pointer. */
  private def writeInterior(buf: Array[Byte], hdrOff: Int,
      children: Seq[Child]): Unit = {
    buf(hdrOff) = 0x05
    putShort(buf, hdrOff + 1, 0)
    putShort(buf, hdrOff + 3, children.size - 1)
    buf(hdrOff + 7) = 0
    putInt(buf, hdrOff + 8, children.last.page)
    var top = PageSize
    children.init.zipWithIndex.foreach { case (c, i) =>
      val ptr = new Array[Byte](4)
      putInt(ptr, 0, c.page)
      val cell = ptr ++ varintBytes(c.maxKey)
      top -= cell.length
      System.arraycopy(cell, 0, buf, top, cell.length)
      putShort(buf, hdrOff + 12 + 2 * i, top)
    }
    putShort(buf, hdrOff + 5, top)
  }

  /** Pack cells into leaves, consuming `rows` once (streaming — only the
    * current leaf's cells are held). Enforces the ascending-unique rowid
    * contract the b-tree requires. */
  private def packLeaves(rows: Iterator[(Long, Seq[Any])], alloc: Alloc,
      table: String): Seq[Child] = {
    val leaves = Seq.newBuilder[Child]
    val cur = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var curSize = 0
    var lastRid = Long.MinValue
    def flush(): Unit = if (cur.nonEmpty) {
      val pn = alloc.alloc()
      writeLeaf(alloc(pn), 0, cur.toSeq)
      leaves += Child(pn, lastRid)
      cur.clear(); curSize = 0
    }
    rows.foreach { case (rid, vals) =>
      require(rid > lastRid,
        s"table $table: rowids must be strictly ascending (got $rid after $lastRid)")
      val cell = makeLeafCell(rid, encodeRecord(vals), alloc)
      if (cur.nonEmpty && 8 + 2 * (cur.size + 1) + curSize + cell.length > U) flush()
      cur += cell; curSize += cell.length
      lastRid = rid
    }
    flush()
    leaves.result()
  }

  /** Reduce children to a single root, building interior levels as needed.
    * `fixedRoot` forces the root onto that page (page 1 for sqlite_master,
    * whose b-tree header sits after the 100-byte file header). */
  private def buildRoot(children0: Seq[Child], alloc: Alloc,
      fixedRoot: Option[Int]): Int = {
    // fanout 200: interior cells are ≤ 15 bytes, so 200 always fit a page
    // (12 + 200·2 + 199·15 ≈ 3.4 KB) even behind the 100-byte file header
    val F = 200
    var level = children0
    while (level.size > F) level = level.grouped(F).map { g =>
      val pn = alloc.alloc()
      writeInterior(alloc(pn), 0, g)
      Child(pn, g.last.maxKey)
    }.toSeq
    fixedRoot match {
      case Some(p) => writeInterior(alloc(p), if (p == 1) 100 else 0, level); p
      case None =>
        if (level.size == 1) level.head.page
        else {
          val pn = alloc.alloc()
          writeInterior(alloc(pn), 0, level)
          pn
        }
    }
  }

  /** Emit a complete database file at `path`. Tables keep their order;
    * sqlite_master rows get rowids 1..n. */
  def writeDb(path: String, tables: Seq[Table],
      applicationId: Int = 0, userVersion: Int = 0): Unit = {
    val alloc = new Alloc
    val roots = tables.map { t =>
      val leaves = packLeaves(t.rows, alloc, t.name)
      if (leaves.isEmpty) {
        // empty table: a single empty leaf page is its root
        val pn = alloc.alloc()
        writeLeaf(alloc(pn), 0, Seq.empty)
        t.name -> pn
      } else if (leaves.size == 1) t.name -> leaves.head.page
      else t.name -> buildRoot(leaves, alloc, None)
    }
    // sqlite_master, rooted at page 1
    val masterRows: Seq[(Long, Seq[Any])] = tables.zip(roots).zipWithIndex.map {
      case ((t, (_, root)), i) =>
        (i + 1L, Seq[Any]("table", t.name, t.name,
          java.lang.Long.valueOf(root.toLong), t.sql))
    }
    val masterCells = masterRows.map { case (rid, vals) =>
      makeLeafCell(rid, encodeRecord(vals), alloc)
    }
    val oneLeafSize = 8 + 2 * masterCells.size + masterCells.map(_.length).sum
    if (oneLeafSize <= U - 100) writeLeaf(alloc(1), 100, masterCells)
    else buildRoot(packLeaves(masterRows.iterator, alloc, "sqlite_master"), alloc, Some(1))
    // the lock-byte page (at offset 2^30) may hold no data; files that large
    // should use the distributed parquet sink instead
    require(alloc.pages.size.toLong * PageSize < (1L << 30),
      "SqliteWrite caps files at 1 GiB (lock-byte page)")
    // 100-byte file header on page 1
    val h = alloc(1)
    val magic = "SQLite format 3".getBytes(StandardCharsets.ISO_8859_1)
    System.arraycopy(magic, 0, h, 0, magic.length); h(15) = 0
    putShort(h, 16, PageSize)
    h(18) = 1; h(19) = 1 // legacy (rollback-journal) file format
    h(20) = 0 // reserved bytes per page
    h(21) = 64; h(22) = 32; h(23) = 32 // payload fractions (fixed by spec)
    putInt(h, 24, 1) // change counter
    putInt(h, 28, alloc.pages.size) // database size in pages
    putInt(h, 40, 1) // schema cookie
    putInt(h, 44, 4) // schema format
    putInt(h, 56, 1) // text encoding: UTF-8
    putInt(h, 60, userVersion)
    putInt(h, 68, applicationId)
    putInt(h, 92, 1) // version-valid-for = change counter
    putInt(h, 96, 3045000) // library version stamp
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.setLength(0)
      alloc.pages.foreach(raf.write)
    } finally raf.close()
  }
}

/** GeoPackage export of a GeometryBlock — the reference's gpkg `to_file`
  * branch (geometry/sinks.py:46-216) writes via OGR; here [[SqliteWrite]]
  * emits the SQLite pages directly: `gpkg_spatial_ref_sys`,
  * `gpkg_contents`, `gpkg_geometry_columns`, and one feature table whose
  * geometries are GPB blobs (GeoPackage spec §2.1.3) around JTS WKB.
  *
  * The `.gpkg` row of [[VectorFormat]]; gpkg is a single-writer format,
  * so the frame streams through the driver in fid order.
  */
object GeoPackageSink {

  private val Wgs84Wkt = "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
    "SPHEROID[\"WGS 84\",6378137,298.257223563]],PRIMEM[\"Greenwich\",0]," +
    "UNIT[\"degree\",0.0174532925199433]]"

  /** GPB blob: magic, version 0, flags (little-endian + XY envelope),
    * srs_id, envelope, then WKB. */
  def gpb(wkb: Array[Byte], srsId: Int): Array[Byte] = {
    if (wkb == null) return null
    val env = GeomFunctions.readWkb(wkb).getEnvelopeInternal
    val bb = ByteBuffer.allocate(8 + 32 + wkb.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('P'.toByte).put(0.toByte)
    bb.put(0x03.toByte) // bit0: little-endian header; envelope code 1 (XY)
    bb.putInt(srsId)
    bb.putDouble(env.getMinX).putDouble(env.getMaxX)
    bb.putDouble(env.getMinY).putDouble(env.getMaxY)
    bb.put(wkb)
    bb.array
  }

  private def declFor(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case BinaryType => "BLOB"
    case _ => "TEXT"
  }

  private def coerce(v: Any): Any = v match {
    case null => null
    case l: java.lang.Long => l
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
    case s: java.lang.Short => java.lang.Long.valueOf(s.longValue)
    case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue)
    case b: java.lang.Boolean => java.lang.Long.valueOf(if (b) 1L else 0L)
    case d: java.lang.Double => d
    case f: java.lang.Float => java.lang.Double.valueOf(f.doubleValue)
    case s: String => s
    case b: Array[Byte] => b
    case other => other.toString
  }

  private def tableNameFor(gpkgPath: String, table: Option[String]): String =
    table.getOrElse {
      val base = new java.io.File(gpkgPath).getName
      if (base.toLowerCase.endsWith(".gpkg")) base.dropRight(5) else base
    }

  private def srsOf(proj: String): (Int, String) = {
    val srsId = proj.split(":") match {
      case Array(_, code) if code.forall(c => c.isDigit || c == '-') => code.toInt
      case _ => 0
    }
    (srsId, proj.split(":").headOption.getOrElse("NONE").toUpperCase)
  }

  /** The three GeoPackage metadata tables + the feature-table DDL. */
  private def buildTables(tableName: String, proj: String,
      attrCols: Seq[(String, DataType)], geomType: String,
      env: Option[(Double, Double, Double, Double)],
      featRows: Iterator[(Long, Seq[Any])]): Seq[SqliteWrite.Table] = {
    val (srsId, org) = srsOf(proj)
    val q = (s: String) => "\"" + s + "\""
    val featSql = s"CREATE TABLE ${q(tableName)} (${q("fid")} INTEGER PRIMARY KEY, " +
      s"${q("geom")} ${geomType}" +
      attrCols.map { case (c, dt) => s", ${q(c)} ${declFor(dt)}" }.mkString + ")"
    val srsRows: Seq[(Long, Seq[Any])] = {
      val base = Seq(
        (-1L, Seq[Any]("Undefined cartesian SRS", null, "NONE",
          java.lang.Long.valueOf(-1L), "undefined", null)),
        (0L, Seq[Any]("Undefined geographic SRS", null, "NONE",
          java.lang.Long.valueOf(0L), "undefined", null)),
        (4326L, Seq[Any]("WGS 84", null, "EPSG",
          java.lang.Long.valueOf(4326L), Wgs84Wkt, null)))
      if (Set(-1L, 0L, 4326L).contains(srsId.toLong)) base
      else base :+ ((srsId.toLong, Seq[Any](proj, null, org,
        java.lang.Long.valueOf(srsId.toLong),
        // foreign tools take the CRS from `definition` WKT; fall back to
        // the spec's "undefined" marker for non-hub codes
        graft.raster.WktSrs.toWkt(proj).getOrElse("undefined"), null)))
    }
    val contentsRow: Seq[Any] = Seq[Any](tableName, "features", tableName, "",
      "2026-01-01T00:00:00.000Z",
      env.map(e => java.lang.Double.valueOf(e._1)).orNull,
      env.map(e => java.lang.Double.valueOf(e._2)).orNull,
      env.map(e => java.lang.Double.valueOf(e._3)).orNull,
      env.map(e => java.lang.Double.valueOf(e._4)).orNull,
      java.lang.Long.valueOf(srsId.toLong))
    Seq(
      SqliteWrite.Table("gpkg_spatial_ref_sys",
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, " +
          "srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, " +
          "organization_coordsys_id INTEGER NOT NULL, " +
          "definition TEXT NOT NULL, description TEXT)",
        srsRows.map { case (rid, vals) =>
          // srs_id is the INTEGER PRIMARY KEY (column 2) → NULL in the record
          (rid, vals.updated(1, null))
        }),
      SqliteWrite.Table("gpkg_contents",
        // NOTE: a TEXT PRIMARY KEY / UNIQUE column would imply an
        // auto-index b-tree sqlite expects on disk; this writer emits table
        // b-trees only, so the constraints stay out of the DDL (readers use
        // the column names — INTEGER PRIMARY KEY rowid aliases are kept,
        // they never create an index)
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, " +
          "data_type TEXT NOT NULL, identifier TEXT, " +
          "description TEXT DEFAULT '', last_change DATETIME NOT NULL, " +
          "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, " +
          "srs_id INTEGER)",
        Seq((1L, contentsRow))),
      SqliteWrite.Table("gpkg_geometry_columns",
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, " +
          "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, " +
          "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)",
        Seq((1L, Seq[Any](tableName, "geom", geomType,
          java.lang.Long.valueOf(srsId.toLong), java.lang.Long.valueOf(0L),
          java.lang.Long.valueOf(0L))))),
      SqliteWrite.Table(tableName, featSql, featRows))
  }

  /** Unbounded streaming export: one distributed metadata pass (envelope,
    * geometry types, fid usability), then a fid-sorted `toLocalIterator`
    * feeds the page builder — driver memory is
    * bounded by one Spark partition plus the page buffer. The reference
    * exports unbounded totals the same way: per-tile files appended through
    * one OGR handle (sinks.py:224-284, merge_files :116-169); here the tile
    * stage is Spark's own partitioning. */
  def writeStream(df: DataFrame, proj: String, gpkgPath: String,
      table: Option[String] = None)(implicit spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    require(df.columns.contains("geometry"), "gpkg export needs a geometry column")
    val tableName = tableNameFor(gpkgPath, table)
    val (srsId, _) = srsOf(proj)
    val geomTypeOf = udf { (wkb: Array[Byte]) =>
      if (wkb == null) null else GeomFunctions.readWkb(wkb).getGeometryType.toUpperCase
    }
    val hasFid = df.columns.contains("fid")
    val meta = df.agg(
      min(GeomFunctions.stEnvMinX(col("geometry"))).as("x1"),
      min(GeomFunctions.stEnvMinY(col("geometry"))).as("y1"),
      max(GeomFunctions.stEnvMaxX(col("geometry"))).as("x2"),
      max(GeomFunctions.stEnvMaxY(col("geometry"))).as("y2"),
      collect_set(geomTypeOf(col("geometry"))).as("types"),
      count(lit(1)).as("n"),
      (if (hasFid) count_distinct(col("fid")) else lit(0L)).as("nfid")).head()
    val types = meta.getSeq[String](4)
    val geomType = if (types.size == 1) types.head else "GEOMETRY"
    val env = if (meta.isNullAt(0)) None
      else Some((meta.getDouble(0), meta.getDouble(1), meta.getDouble(2), meta.getDouble(3)))
    // rowid = fid when usable (present, unique); else a sequential renumber,
    // like OGR's append assigns fresh FIDs on merge
    val useFid = hasFid && meta.getLong(6) == meta.getLong(5)
    val attrCols = df.columns.filter(c => c != "geometry" && c != "fid").toSeq
    val geomIdx = df.columns.indexOf("geometry")
    val attrIdx = attrCols.map(df.columns.indexOf(_))
    def record(r: org.apache.spark.sql.Row): Seq[Any] = {
      val wkb = r.get(geomIdx).asInstanceOf[Array[Byte]]
      val blob = if (wkb == null) null else gpb(wkb, srsId)
      null +: blob +: attrIdx.map(i => coerce(r.get(i)))
    }
    val featRows: Iterator[(Long, Seq[Any])] =
      if (useFid) {
        val fidIdx = df.columns.indexOf("fid")
        val it = SinkFunnel.ordered(df, col("fid")).toLocalIterator()
        new Iterator[(Long, Seq[Any])] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (Long, Seq[Any]) = {
            val r = it.next()
            (r.get(fidIdx) match {
              case l: java.lang.Long => l.longValue
              case i: java.lang.Integer => i.longValue
              case _ => throw new IllegalArgumentException("fid must be integral")
            }, record(r))
          }
        }
      } else {
        val it = df.toLocalIterator()
        var rid = 0L
        new Iterator[(Long, Seq[Any])] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (Long, Seq[Any]) = { rid += 1; (rid, record(it.next())) }
        }
      }
    val tables = buildTables(tableName, proj,
      attrCols.map(c => (c, df.schema(c).dataType)), geomType, env, featRows)
    new java.io.File(gpkgPath).delete()
    SqliteWrite.writeDb(gpkgPath, tables,
      applicationId = 0x47504B47, userVersion = 10300)
    gpkgPath
  }
}
