package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import graft.io.PositionedReader
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}

/** NetCDF classic (CDF-1/CDF-2) raster codec with CF conventions — the
  * native interchange layout of the multi-frame rain-radar/climate stacks
  * the temporal operators exist for. The reference reads NetCDF through
  * GDAL's format autodetection in `RasterFileSource`
  * (dask_geomodeling/raster/sources.py:396-564); this is a from-scratch
  * implementation of the public NetCDF classic file format spec (the
  * `CDF\x01`/`CDF\x02` container) plus the CF metadata conventions
  * (coordinate variables, `units = "<unit> since <epoch>"` time,
  * `_FillValue`/`missing_value`, `scale_factor`/`add_offset`,
  * `grid_mapping` → `spatial_ref` WKT).
  *
  * The CF `time` dimension maps onto the engine's time axis — one frame
  * per time index, exactly like the ENVI/multiband-GeoTIFF path — so a
  * whole stack round-trips through ONE `.nc` file. Reads accept CDF-1 and
  * CDF-2, fixed or unlimited (record) time dimensions, all six classic
  * types, both y-axis orientations; writes emit CDF-2 with fixed dims,
  * double coordinates and a `crs` grid-mapping variable carrying WKT.
  *
  * Scale note: like the other sidecar exchange formats this is a bounded
  * driver-side codec — the cluster-scale paths remain parquet/COG.
  * Metadata (header + 1-D coordinate variables) comes from positioned
  * reads only; the pixel payload is not touched until a frame is asked
  * for, so constructing a source over a huge stack costs a few KB of I/O.
  */
object NetCdf {

  // classic nc_type codes (public NetCDF classic format spec); 7-11 are
  // the CDF-5 (64-bit data) additions
  private val NcByte = 1; private val NcChar = 2; private val NcShort = 3
  private val NcInt = 4; private val NcFloat = 5; private val NcDouble = 6
  private val NcUByte = 7; private val NcUShort = 8; private val NcUInt = 9
  private val NcInt64 = 10; private val NcUInt64 = 11
  private def typeSize(t: Int): Int = t match {
    case NcByte | NcChar | NcUByte  => 1
    case NcShort | NcUShort         => 2
    case NcInt | NcFloat | NcUInt   => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }
  private def dtypeName(t: Int): String = t match {
    case NcByte   => "int8"
    case NcShort  => "int16"
    case NcInt    => "int32"
    case NcFloat  => "float32"
    case NcDouble => "float64"
    case NcUByte  => "uint8"
    case NcUShort => "uint16"
    case NcUInt   => "uint32"
    case NcInt64  => "int64"
    case NcUInt64 => "uint64"
    case other => throw new IllegalArgumentException(
      s"nc_type $other has no raster dtype")
  }
  /** Decode one value of `t` from a big-endian buffer as a double. */
  private def decode(bb: ByteBuffer, t: Int): Double = t match {
    case NcByte   => bb.get().toDouble
    case NcChar | NcUByte => (bb.get() & 0xFF).toDouble
    case NcShort  => bb.getShort().toDouble
    case NcUShort => (bb.getShort() & 0xFFFF).toDouble
    case NcInt    => bb.getInt().toDouble
    case NcUInt   => (bb.getInt().toLong & 0xFFFFFFFFL).toDouble
    case NcFloat  => bb.getFloat().toDouble
    case NcDouble => bb.getDouble()
    case NcInt64  => bb.getLong().toDouble
    case NcUInt64 =>
      val l = bb.getLong()
      if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552e19
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }

  /** Attribute value: text (NC_CHAR) or numbers (everything else). */
  case class Att(ncType: Int, text: String, nums: Array[Double]) {
    def num: Double = { require(nums.nonEmpty, "empty numeric attribute"); nums(0) }
  }
  case class Vari(name: String, dimIds: Seq[Int], atts: Map[String, Att],
      ncType: Int, vsize: Long, begin: Long) {
    def isRecord(h: Header): Boolean = dimIds.headOption.contains(h.recDim)
  }
  case class Header(version: Int, numrecs: Long, dims: Seq[(String, Int)],
      recDim: Int, gatts: Map[String, Att], vars: Seq[Vari]) {
    /** record stride = sum of record-var vsizes (their stored values
      * already reflect the single-record-var no-padding exception) */
    lazy val recSize: Long = vars.filter(_.isRecord(this)).map(_.vsize).sum
  }

  /** Sequential big-endian reader over a channel (the header region),
    * with fuzz-hardened bounds checks. */
  private final class HeadReader(ch: PositionedReader, val fileLen: Long,
      val v5: Boolean) {
    private var pos = 0L
    def position: Long = pos
    private def pull(n: Int): ByteBuffer = {
      require(n >= 0 && pos + n <= fileLen,
        s"netcdf: truncated header (need $n bytes at $pos, file $fileLen)")
      val b = ByteBuffer.allocate(n)
      PositionedReader.readFully(ch, pos, b)
      pos += n
      b.flip(); b
    }
    def i32(): Int = pull(4).getInt
    def u32(): Long = pull(4).getInt.toLong & 0xFFFFFFFFL
    def i64(): Long = pull(8).getLong
    /** NON_NEG: 4-byte in CDF-1/2, 8-byte in CDF-5. */
    def nonNeg(): Long = {
      val v = if (v5) i64() else i32().toLong
      require(v >= 0, s"netcdf: negative NON_NEG field $v")
      v
    }
    /** nelems-style NON_NEG with an implausibility cap. */
    def count(cap: Long, what: String): Int = {
      val v = nonNeg()
      require(v <= cap, s"netcdf: implausible $what $v")
      v.toInt
    }
    def bytes(n: Int): Array[Byte] = pull(n).array()
    def pad(): Unit = { val r = (4 - (pos % 4)) % 4; if (r > 0) pull(r.toInt) }
  }

  /** Positioned read of `n` bytes at `at`. */
  private def readAt(ch: PositionedReader, at: Long, n: Int): ByteBuffer = {
    require(at >= 0 && n >= 0 && at + n <= ch.size(),
      s"netcdf: data beyond end of file (offset $at + $n > ${ch.size()})")
    val b = ByteBuffer.allocate(n)
    PositionedReader.readFully(ch, at, b)
    b.flip(); b
  }

  private def readName(r: HeadReader): String = {
    val n = r.count(65536L.min(r.fileLen), "name length")
    val s = new String(r.bytes(n), "UTF-8")
    r.pad()
    s
  }

  private def readAtts(r: HeadReader): Map[String, Att] = {
    val tag = r.i32()
    val n = r.count(65536, "att count")
    if (tag == 0) { require(n == 0, "netcdf: ABSENT att list with nelems"); Map.empty }
    else {
      require(tag == 0x0C, s"netcdf: expected NC_ATTRIBUTE tag, got $tag")
      (0 until n).map { _ =>
        val name = readName(r)
        val t = r.i32()
        val ne = r.count(r.fileLen / typeSize(t) max 1L, "att size")
        val raw = r.bytes(ne * typeSize(t))
        r.pad()
        val att =
          if (t == NcChar) Att(t, new String(raw, "UTF-8").takeWhile(_ != 0), Array.empty)
          else {
            val bb = ByteBuffer.wrap(raw)
            Att(t, "", Array.tabulate(ne)(_ => decode(bb, t)))
          }
        name -> att
      }.toMap
    }
  }

  def readHeader(ch: PositionedReader): Header = {
    val len = ch.size()
    require(len >= 8, "netcdf: file too small")
    val magicBuf = readAt(ch, 0, 4).array()
    require(magicBuf(0) == 'C' && magicBuf(1) == 'D' && magicBuf(2) == 'F',
      "netcdf: missing CDF magic")
    val version = magicBuf(3).toInt
    require(version == 1 || version == 2 || version == 5,
      s"netcdf: unsupported CDF version $version (HDF5-based NetCDF-4 files " +
        "need the netcdf-4 library; export as classic/64-bit-offset)")
    // CDF-5 (64-bit data): every NON_NEG field widens to 8 bytes
    val r = new HeadReader(ch, len, version == 5)
    r.bytes(4) // past the magic
    val numrecs = if (version == 5) r.i64() else r.u32()
    require(numrecs != 0xFFFFFFFFL && numrecs != -1L,
      "netcdf: STREAMING numrecs not supported")
    require(numrecs >= 0, s"netcdf: negative numrecs $numrecs")
    // dim_list
    val dimTag = r.i32(); val nDims = r.count(1024, "dim count")
    val dims =
      if (dimTag == 0) { require(nDims == 0, "netcdf: ABSENT dims with nelems"); Seq.empty }
      else {
        require(dimTag == 0x0A, s"netcdf: expected NC_DIMENSION tag, got $dimTag")
        (0 until nDims).map { _ =>
          val name = readName(r)
          val dl = r.count(Int.MaxValue, s"dimension $name")
          (name, dl)
        }
      }
    val recDim = dims.indexWhere(_._2 == 0)
    val gatts = readAtts(r)
    // var_list
    val varTag = r.i32(); val nVars = r.count(4096, "var count")
    val vars =
      if (varTag == 0) { require(nVars == 0, "netcdf: ABSENT vars with nelems"); Seq.empty }
      else {
        require(varTag == 0x0B, s"netcdf: expected NC_VARIABLE tag, got $varTag")
        (0 until nVars).map { _ =>
          val name = readName(r)
          val nd = r.count(32, s"rank of $name")
          val dimIds = (0 until nd).map { _ =>
            val id = r.count(Int.MaxValue, "dimid").toInt
            require(id >= 0 && id < dims.length, s"netcdf: bad dimid $id in $name")
            id
          }
          val atts = readAtts(r)
          val t = r.i32()
          typeSize(t) // validates
          val vsize = r.nonNeg()
          val begin = if (version == 1) r.u32() else r.i64()
          require(begin >= 0 && begin <= len,
            s"netcdf: var $name begins past end of file")
          Vari(name, dimIds, atts, t, vsize, begin)
        }
      }
    Header(version, numrecs, dims, recDim, gatts, vars)
  }

  /** Element count of one record of `v` (record dim excluded) or of the
    * whole fixed variable. */
  private def sliceElems(h: Header, v: Vari): Long = {
    val ds = v.dimIds.map(h.dims(_)._2.toLong)
    val per = (if (v.isRecord(h)) ds.tail else ds).product max 1L
    require(per <= Int.MaxValue / 8, s"netcdf: variable ${v.name} too large")
    per
  }

  /** Decode a whole variable (record-aware) to doubles in storage order. */
  def readVarData(ch: PositionedReader, h: Header, v: Vari): Array[Double] = {
    val per = sliceElems(h, v).toInt
    val nSlices = if (v.isRecord(h)) {
      require(h.numrecs <= Int.MaxValue / 8 / per.max(1),
        s"netcdf: record variable ${v.name} too large")
      h.numrecs.toInt
    } else 1
    val out = new Array[Double](per * nSlices)
    val sz = typeSize(v.ncType)
    var s = 0
    while (s < nSlices) {
      val at = v.begin + (if (v.isRecord(h)) s.toLong * h.recSize else 0L)
      val bb = readAt(ch, at, per * sz)
      var i = 0
      while (i < per) {
        out(s * per + i) = decode(bb, v.ncType)
        i += 1
      }
      s += 1
    }
    out
  }

  /** Decode only the selected time slices of a 3-D variable: each frame
    * is one contiguous byte range (a record slice for record variables;
    * an outermost-dimension block for fixed ones), so a time-sliced
    * request costs positioned reads of exactly the requested frames —
    * the same pruned contract as the Zarr/HDF5 sources. */
  def readVarFrames(ch: PositionedReader, h: Header, v: Vari,
      frames: Seq[Int]): Array[Double] = {
    require(v.dimIds.length == 3, s"netcdf: ${v.name} is not 3-D")
    val per = sliceElems(h, v).toInt // elems per frame (record OR fixed tail)
    val perFrame =
      if (v.isRecord(h)) per
      else (h.dims(v.dimIds(1))._2.toLong * h.dims(v.dimIds(2))._2).toInt
    val sz = typeSize(v.ncType)
    val out = new Array[Double](perFrame * frames.length)
    var o = 0
    frames.foreach { f =>
      val at = v.begin + (if (v.isRecord(h)) f.toLong * h.recSize
        else f.toLong * perFrame * sz)
      val bb = readAt(ch, at, perFrame * sz)
      var i = 0
      while (i < perFrame) { out(o * perFrame + i) = decode(bb, v.ncType); i += 1 }
      o += 1
    }
    out
  }

  /** CF time-units parser: `"<unit> since <epoch>"` → epoch millis per
    * value. Tolerates the common epoch spellings (date only, space or `T`
    * separator, fractional seconds, trailing zone). */
  def parseCfTimes(units: String, values: Array[Double]): Seq[Long] = {
    val m = """(?i)^\s*(\w+)\s+since\s+(.+?)\s*$""".r
    val (unitMs, epochStr) = units match {
      case m(u, e) =>
        val ms = u.toLowerCase match {
          case "second" | "seconds" | "sec" | "secs" | "s"  => 1000L
          case "minute" | "minutes" | "min" | "mins"        => 60000L
          case "hour" | "hours" | "hr" | "hrs" | "h"        => 3600000L
          case "day" | "days" | "d"                         => 86400000L
          case "millisecond" | "milliseconds" | "ms"        => 1L
          case other => throw new IllegalArgumentException(
            s"netcdf: unsupported time unit '$other'")
        }
        (ms, e)
      case _ => throw new IllegalArgumentException(
        s"netcdf: time units '$units' are not '<unit> since <epoch>'")
    }
    val em = """(\d{1,4})-(\d{1,2})-(\d{1,2})(?:[T ](\d{1,2}):(\d{2})(?::(\d{2}(?:\.\d+)?))?)?\s*(Z|[+-]\d{2}:?\d{2})?""".r
    val epochMs = epochStr.trim match {
      case em(y, mo, d, hh, mm, ss, zone) =>
        val secs = Option(ss).map(_.toDouble).getOrElse(0.0)
        val base = java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt,
          Option(hh).map(_.toInt).getOrElse(0),
          Option(mm).map(_.toInt).getOrElse(0), 0)
        val off = Option(zone).filter(_ != "Z").map { z =>
          java.time.ZoneOffset.of(if (z.contains(":")) z
            else z.substring(0, 3) + ":" + z.substring(3))
        }.getOrElse(java.time.ZoneOffset.UTC)
        base.toInstant(off).toEpochMilli + math.round(secs * 1000.0)
      case other => throw new IllegalArgumentException(
        s"netcdf: cannot parse time epoch '$other'")
    }
    values.toSeq.map(v => epochMs + math.round(v * unitMs))
  }

  /** Everything a RasterBlock needs, read without touching the pixel
    * payload: grid geometry from the 1-D coordinate variables, time axis
    * from the CF time variable, CRS from grid_mapping WKT → degrees
    * heuristic → `.prj`/argument. */
  case class Meta(header: Header, dataVar: Vari, w: Int, h: Int,
      timesMs: Seq[Long], cellSize: Double, originX: Double, originY: Double,
      yAscending: Boolean, noDataRaw: Double, scale: Double, offset: Double,
      projection: String, dtype: DType, unsignedBits: Int) {
    def scaled: Boolean = scale != 1.0 || offset != 0.0
    def noData: Double = if (scaled) DType.F8.noDataValue else noDataRaw
    def outDtype: DType = if (scaled) DType.F8 else dtype
  }

  def readMeta(ch: PositionedReader, path: String, projectionArg: String = "",
      varName: String = ""): Meta = {
    val h = readHeader(ch)
    val byName = h.vars.map(v => v.name -> v).toMap
    def isCoord(v: Vari) =
      v.dimIds.length == 1 && h.dims(v.dimIds.head)._1 == v.name
    val mappingTargets = h.vars.flatMap(_.atts.get("grid_mapping"))
      .map(_.text).toSet
    val dataVar =
      if (varName.nonEmpty) byName.getOrElse(varName,
        throw new IllegalArgumentException(s"$path: no variable '$varName'"))
      else h.vars.find(v => (v.dimIds.length == 2 || v.dimIds.length == 3) &&
          !isCoord(v) && !mappingTargets.contains(v.name) && v.ncType != NcChar)
        .getOrElse(throw new IllegalArgumentException(
          s"$path: no 2-D/3-D data variable found"))
    require(dataVar.dimIds.length == 2 || dataVar.dimIds.length == 3,
      s"$path: variable ${dataVar.name} is not 2-D/3-D")
    val (xDim, yDim) = (dataVar.dimIds.last, dataVar.dimIds(dataVar.dimIds.length - 2))
    val w = h.dims(xDim)._2; val hh = h.dims(yDim)._2
    require(w > 0 && hh > 0, s"$path: empty grid $w×$hh")

    def coordVals(dimId: Int, what: String): Array[Double] = {
      val name = h.dims(dimId)._1
      val v = byName.getOrElse(name, throw new IllegalArgumentException(
        s"$path: no coordinate variable '$name' for the $what dimension"))
      require(isCoord(v), s"$path: '$name' is not a 1-D coordinate variable")
      readVarData(ch, h, v)
    }
    val xs = coordVals(xDim, "x")
    val ys = coordVals(yDim, "y")
    require(xs.length == w && ys.length == hh, s"$path: coordinate length mismatch")
    def uniformStep(a: Array[Double], what: String): Double = {
      require(a.length >= 1, s"$path: empty $what coordinates")
      if (a.length == 1) 0.0
      else {
        val d = a(1) - a(0)
        require(d != 0.0, s"$path: zero $what spacing")
        var i = 2
        while (i < a.length) {
          require(math.abs((a(i) - a(i - 1)) - d) <= 1e-6 * math.abs(d),
            s"$path: non-uniform $what spacing (regular grid required)")
          i += 1
        }
        d
      }
    }
    val dx = uniformStep(xs, "x"); val dyRaw = uniformStep(ys, "y")
    require(w == 1 || dx > 0, s"$path: descending x axis not supported")
    val cell = if (w > 1) dx else math.abs(dyRaw)
    require(cell > 0, s"$path: cannot determine cell size from 1×1 grid")
    val dy = if (hh > 1) math.abs(dyRaw) else cell
    require(math.abs(cell - dy) <= 1e-9 * math.max(cell, dy),
      s"$path: non-square pixels $cell × $dy not supported")
    val yAsc = hh > 1 && dyRaw > 0
    val originX = xs(0) - cell / 2 // CF coordinates are CELL CENTERS
    val originY = (if (yAsc) ys(hh - 1) else ys(0)) + cell / 2

    val timesMs: Seq[Long] =
      if (dataVar.dimIds.length == 3) {
        val tName = h.dims(dataVar.dimIds.head)._1
        val tv = byName.getOrElse(tName, throw new IllegalArgumentException(
          s"$path: no time coordinate variable '$tName'"))
        val units = tv.atts.get("units").map(_.text).getOrElse(
          throw new IllegalArgumentException(
            s"$path: time variable '$tName' has no CF units attribute"))
        val raw = readVarData(ch, h, tv)
        val n = if (tv.isRecord(h)) h.numrecs.toInt else h.dims(dataVar.dimIds.head)._2
        require(raw.length == n, s"$path: time length mismatch")
        parseCfTimes(units, raw)
      } else Seq(0L)
    require(timesMs.nonEmpty, s"$path: empty time axis")

    val atts = dataVar.atts
    val scale = atts.get("scale_factor").map(_.num).getOrElse(1.0)
    val offset = atts.get("add_offset").map(_.num).getOrElse(0.0)
    // NetCDF classic has no unsigned types; the `_Unsigned = "true"`
    // attribute (the NetCDF best-practice convention) marks a same-width
    // signed payload to reinterpret
    val unsigned = atts.get("_Unsigned").exists(_.text.equalsIgnoreCase("true"))
    val uBits = if (!unsigned) 0 else dataVar.ncType match {
      case NcByte => 8; case NcShort => 16; case NcInt => 32; case _ => 0
    }
    def uncorrect(v: Double): Double =
      if (uBits > 0 && v < 0) v + math.pow(2.0, uBits) else v
    val dt = DType.byName(uBits match {
      case 8  => "uint8"
      case 16 => "uint16"
      case 32 => "uint32"
      case _  => dtypeName(dataVar.ncType)
    })
    val fill = uncorrect(atts.get("_FillValue").orElse(atts.get("missing_value"))
      .map(_.num).getOrElse(dt.noDataValue))
    val projection = atts.get("grid_mapping").map(_.text).flatMap(byName.get)
      .flatMap(gm => gm.atts.get("spatial_ref").orElse(gm.atts.get("crs_wkt")))
      .map(a => Proj.normalize(a.text)) match {
      case Some(p) => p
      case None =>
        val xUnits = byName.get(h.dims(xDim)._1)
          .flatMap(_.atts.get("units")).map(_.text.toLowerCase).getOrElse("")
        if (xUnits.startsWith("degree")) "EPSG:4326"
        else GridFiles.resolveProjection(path, projectionArg)
    }
    Meta(h, dataVar, w, hh, timesMs, cell, originX, originY, yAsc,
      fill, scale, offset, projection, dt, uBits)
  }

  /** Decode ONLY the requested frames (3-D variables; positioned reads
    * of exactly those frames' byte ranges). `frames` indexes timesMs. */
  def readFrames(ch: PositionedReader, m: Meta, frames: Seq[Int]): Seq[Array[Double]] = {
    val raw = readVarFrames(ch, m.header, m.dataVar, frames)
    val px = m.w * m.h
    frames.indices.map { o =>
      val band = new Array[Double](px)
      var row = 0
      while (row < m.h) {
        val srcRow = if (m.yAscending) m.h - 1 - row else row
        var cx = 0
        while (cx < m.w) {
          val v0 = raw(o * px + srcRow * m.w + cx)
          val v = if (m.unsignedBits > 0 && v0 < 0)
            v0 + math.pow(2.0, m.unsignedBits) else v0
          band(row * m.w + cx) =
            if (v == m.noDataRaw || (v.isNaN && m.noDataRaw.isNaN)) m.noData
            else if (m.scaled) v * m.scale + m.offset
            else v
          cx += 1
        }
        row += 1
      }
      band
    }
  }

  /** Decode the pixel payload into one top-row-first band per frame. */
  def readBands(ch: PositionedReader, m: Meta): Seq[Array[Double]] = {
    val raw = readVarData(ch, m.header, m.dataVar)
    val px = m.w * m.h
    val nFrames = m.timesMs.length
    require(raw.length == px.toLong * nFrames,
      s"netcdf: payload ${raw.length} != ${px.toLong * nFrames}")
    (0 until nFrames).map { f =>
      val band = new Array[Double](px)
      var row = 0
      while (row < m.h) {
        val srcRow = if (m.yAscending) m.h - 1 - row else row
        var cx = 0
        while (cx < m.w) {
          val v0 = raw(f * px + srcRow * m.w + cx)
          val v = if (m.unsignedBits > 0 && v0 < 0)
            v0 + math.pow(2.0, m.unsignedBits) else v0
          band(row * m.w + cx) =
            if (v == m.noDataRaw ||
              (v.isNaN && m.noDataRaw.isNaN)) m.noData
            else if (m.scaled) v * m.scale + m.offset
            else v
          cx += 1
        }
        row += 1
      }
      band
    }
  }

  // ---------------------------------------------------------------- write

  private def pad4(n: Int): Int = (n + 3) & ~3
  private case class WAtt(name: String, ncType: Int, text: String,
      nums: Array[Double])
  private case class WVar(name: String, dimIds: Seq[Int], atts: Seq[WAtt],
      ncType: Int, nelems: Long)

  private def nameSize(s: String): Int = 4 + pad4(s.getBytes("UTF-8").length)
  private def attSize(a: WAtt): Int = {
    val ne = if (a.ncType == NcChar) a.text.getBytes("UTF-8").length else a.nums.length
    nameSize(a.name) + 8 + pad4(ne * typeSize(a.ncType))
  }
  private def varHeadSize(v: WVar): Int =
    nameSize(v.name) + 4 + 4 * v.dimIds.length +
      (if (v.atts.isEmpty) 8 else 8 + v.atts.map(attSize).sum) +
      4 + 4 + 8 // nc_type + vsize + 64-bit begin (CDF-2)

  private def putName(b: ByteBuffer, s: String): Unit = {
    val raw = s.getBytes("UTF-8")
    b.putInt(raw.length); b.put(raw)
    (raw.length until pad4(raw.length)).foreach(_ => b.put(0.toByte))
  }
  private def putAtt(b: ByteBuffer, a: WAtt): Unit = {
    putName(b, a.name)
    b.putInt(a.ncType)
    if (a.ncType == NcChar) {
      val raw = a.text.getBytes("UTF-8")
      b.putInt(raw.length); b.put(raw)
      (raw.length until pad4(raw.length)).foreach(_ => b.put(0.toByte))
    } else {
      b.putInt(a.nums.length)
      a.nums.foreach(v => putVal(b, a.ncType, v))
      val sz = a.nums.length * typeSize(a.ncType)
      (sz until pad4(sz)).foreach(_ => b.put(0.toByte))
    }
  }
  private def putVal(b: ByteBuffer, t: Int, v: Double): Unit = t match {
    case NcByte   => b.put(math.rint(v).toInt.toByte)
    case NcShort  => b.putShort(math.rint(v).toInt.toShort)
    case NcInt    => b.putInt(math.rint(v).toLong.toInt)
    case NcFloat  => b.putFloat(v.toFloat)
    case NcDouble => b.putDouble(v)
    case _ => throw new IllegalArgumentException(s"cannot write nc_type $t")
  }

  /** Unsigned engine dtypes ride in the SAME-WIDTH signed classic type
    * with the `_Unsigned = "true"` attribute (the NetCDF convention), so
    * dtype and nodata sentinel survive the round-trip. */
  private def ncTypeOf(dt: DType): Int = dt match {
    case DType.I1 | DType.U1 | DType.Bool => NcByte
    case DType.I2 | DType.U2              => NcShort
    case DType.I4 | DType.U4              => NcInt
    case DType.F4                         => NcFloat
    case _                                => NcDouble // 64-bit ints promote
  }
  private def isUnsigned(dt: DType): Boolean =
    dt == DType.U1 || dt == DType.U2 || dt == DType.U4 || dt == DType.Bool

  /** Raw fill sentinel for a packed integer nc_type (the type minimum —
    * the netCDF library's own default fill convention). */
  private def packedFill(nct: Int): Double = nct match {
    case NcByte  => Byte.MinValue.toDouble
    case NcShort => Short.MinValue.toDouble
    case NcInt   => Int.MinValue.toDouble
    case other => throw new IllegalArgumentException(
      s"packed NetCDF write needs an integer type, got nc_type $other")
  }

  /** Write a CF-convention CDF-2 file: dims (time, y, x), double
    * coordinates (y descending, top row first), a `crs` grid-mapping
    * variable when the projection has a WKT form, and the band stack as
    * `varName(time, y, x)` with `_FillValue`.
    *
    * Non-identity `scaleFactor`/`addOffset` write a PACKED variable (the
    * CF packing convention): `dtypeName` must then be an integer type,
    * stored raw = rint((v − offset) / scale) with the type minimum as the
    * raw fill; the reader decodes transparently. */
  def write(path: String, bands: Seq[Array[Double]], w: Int, h: Int,
      bbox: Bbox, noData: Double, projection: String, timesMs: Seq[Long],
      dtypeName: String = "float64", varName: String = "band1",
      pack: Boolean = false, scaleFactor: Double = 1.0,
      addOffset: Double = 0.0): Unit = {
    require(bands.nonEmpty && bands.forall(_.length == w * h),
      "band size must equal w*h")
    require(timesMs.length == bands.length, "one time per band required")
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"NetCDF written here requires square pixels (got $cx × $cy)")
    val dt = DType.byName(dtypeName)
    val nct = ncTypeOf(dt)
    val packed = pack
    require(!packed || scaleFactor != 0.0, "scale_factor must be nonzero")
    val fillRaw = if (packed) packedFill(nct) else noData
    val geographic = projection == "EPSG:4326"
    val wkt = WktSrs.toWkt(projection)

    val dims = Seq(("time", bands.length), ("y", h), ("x", w))
    def charAtt(n: String, v: String) = WAtt(n, NcChar, v, Array.empty)
    val xName = if (geographic) "longitude" else "projection_x_coordinate"
    val yName = if (geographic) "latitude" else "projection_y_coordinate"
    val unit = if (geographic) "degrees_east" else "m"
    val unitY = if (geographic) "degrees_north" else "m"
    val dataAtts = Seq(WAtt("_FillValue", nct, "", Array(fillRaw))) ++
      (if (packed) Seq(
        WAtt("scale_factor", NcDouble, "", Array(scaleFactor)),
        WAtt("add_offset", NcDouble, "", Array(addOffset))) else Nil) ++
      (if (!packed && isUnsigned(dt)) Seq(charAtt("_Unsigned", "true")) else Nil) ++
      wkt.map(_ => charAtt("grid_mapping", "crs"))
    val wvars = Seq(
      WVar("time", Seq(0), Seq(
        charAtt("standard_name", "time"),
        charAtt("units", "seconds since 1970-01-01 00:00:00"),
        charAtt("calendar", "standard")), NcDouble, bands.length.toLong),
      WVar("y", Seq(1), Seq(
        charAtt("standard_name", yName), charAtt("units", unitY)),
        NcDouble, h.toLong),
      WVar("x", Seq(2), Seq(
        charAtt("standard_name", xName), charAtt("units", unit)),
        NcDouble, w.toLong)) ++
      wkt.map(k => WVar("crs", Seq.empty,
        Seq(charAtt("spatial_ref", k), charAtt("crs_wkt", k)),
        NcInt, 1L)).toSeq ++
      Seq(WVar(varName, Seq(0, 1, 2), dataAtts, nct,
        bands.length.toLong * w * h))

    val gatts = Seq(charAtt("Conventions", "CF-1.6"))
    val headSize = 4 + 4 + // magic + numrecs
      (8 + dims.map { case (n, _) => nameSize(n) + 4 }.sum) +
      (8 + gatts.map(attSize).sum) +
      (8 + wvars.map(varHeadSize).sum)
    val vsizes = wvars.map(v => pad4((v.nelems * typeSize(v.ncType)).toInt).toLong)
    val begins = vsizes.scanLeft(headSize.toLong)(_ + _).init
    val total = headSize + vsizes.sum
    require(total <= Int.MaxValue - 8, "stack too large for one buffer")

    val b = ByteBuffer.allocate(total.toInt).order(ByteOrder.BIG_ENDIAN)
    b.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(2.toByte)
    b.putInt(0) // numrecs: all dims fixed
    b.putInt(0x0A); b.putInt(dims.length)
    dims.foreach { case (n, len) => putName(b, n); b.putInt(len) }
    b.putInt(0x0C); b.putInt(gatts.length); gatts.foreach(putAtt(b, _))
    b.putInt(0x0B); b.putInt(wvars.length)
    wvars.zip(begins).foreach { case (v, begin) =>
      putName(b, v.name)
      b.putInt(v.dimIds.length); v.dimIds.foreach(id => b.putInt(id))
      if (v.atts.isEmpty) { b.putInt(0); b.putInt(0) }
      else { b.putInt(0x0C); b.putInt(v.atts.length); v.atts.foreach(putAtt(b, _)) }
      b.putInt(v.ncType)
      b.putInt(pad4((v.nelems * typeSize(v.ncType)).toInt))
      b.putLong(begin)
    }
    require(b.position() == headSize, s"header size mismatch ${b.position()} != $headSize")
    def padData(written: Long): Unit =
      (0 until (pad4(written.toInt) - written.toInt)).foreach(_ => b.put(0.toByte))
    // time (seconds since epoch), y centers DESCENDING, x centers ascending
    timesMs.foreach(t => b.putDouble(t / 1000.0)); padData(bands.length * 8L)
    (0 until h).foreach(row => b.putDouble(bbox.y2 - (row + 0.5) * cx))
    padData(h * 8L)
    (0 until w).foreach(col => b.putDouble(bbox.x1 + (col + 0.5) * cx))
    padData(w * 8L)
    wkt.foreach { _ => b.putInt(0); padData(4L) }
    bands.foreach(_.foreach { v =>
      val raw =
        if (!packed) v
        else if (v == noData || (v.isNaN && noData.isNaN)) fillRaw
        else math.rint((v - addOffset) / scaleFactor)
      putVal(b, nct, raw)
    })
    padData(bands.length.toLong * w * h * typeSize(nct))
    require(b.position() == total, s"payload size mismatch ${b.position()} != $total")

    val p = Paths.get(path)
    Option(p.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.write(p, b.array())
    GridFiles.writePrj(path, projection)
  }
}

/** NetCDF classic raster source: the CF time dimension IS the time axis
  * (frame instants come from the file, not from constructor args, unlike
  * the timeFirst/timeDelta sidecar formats). Metadata costs positioned
  * header + coordinate reads only; pixel bytes wait until a frame is
  * requested. Multiple data variables select via `varNameArg`. */
case class NetCdfSource(url: String, projectionArg: String = "",
    varNameArg: String = "") extends RasterBlock with graft.core.FileSource {

  private def withChannel[A](f: PositionedReader => A): A = {
    val ch = PositionedReader.open(url)
    try f(ch) finally ch.close()
  }

  @transient private lazy val meta: NetCdf.Meta =
    withChannel(ch => NetCdf.readMeta(ch, url, projectionArg, varNameArg))

  /** Uniform frame spacing (the engine's time axis is regular, like the
    * reference's equidistant-frame model); validated lazily. */
  @transient private lazy val deltaMs: Option[Long] = {
    val t = meta.timesMs
    if (t.length <= 1) None
    else {
      val d = t(1) - t(0)
      require(t.sliding(2).forall(p => p(1) - p(0) == d),
        s"$url: non-equidistant time axis not supported")
      Some(d)
    }
  }

  @transient private lazy val memory: MemorySource = {
    val bands = withChannel(ch => NetCdf.readBands(ch, meta))
    MemorySource(bands, meta.w, meta.h, meta.noData, meta.projection,
      meta.cellSize, meta.originX, meta.originY, meta.timesMs.head,
      deltaMs, meta.outDtype.name)
  }

  override def dtype: DType = meta.outDtype
  override def projection: String = meta.projection
  override def temporal: Boolean = meta.dataVar.dimIds.length == 3
  override def timeDeltaMs: Option[Long] = deltaMs
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(meta.timesMs.head),
      Instant.ofEpochMilli(meta.timesMs.last)))
  override def extent: Option[Bbox] = Some(Bbox(
    meta.originX, meta.originY - meta.h * meta.cellSize,
    meta.originX + meta.w * meta.cellSize, meta.originY))
  override def cellSize: Option[Double] = Some(meta.cellSize)
  override def allTimes: Seq[Instant] = meta.timesMs.map(Instant.ofEpochMilli)

  /** Frame-pruned read: a time-sliced request issues positioned reads of
    * exactly the selected frames' byte ranges (same contract as the
    * Zarr/HDF5 sources); full-stack requests use the cached load. */
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val sel = timesIn(req.start, req.stop)
    if (sel.isEmpty || sel.length == meta.timesMs.length ||
      meta.dataVar.dimIds.length != 3) memory.frame(req)
    else {
      val idx = allTimes.zipWithIndex.toMap
      val bands = withChannel(ch => NetCdf.readFrames(ch, meta, sel.map(idx)))
      MemorySource(bands, meta.w, meta.h, meta.noData, meta.projection,
        meta.cellSize, meta.originX, meta.originY, sel.head.toEpochMilli,
        if (temporal) deltaMs else None, meta.outDtype.name).frame(req)
    }
  }
}

/** NetCDF sink: the WHOLE requested time stack goes into one `.nc` file
  * (CF time dimension = frames), carrying the true frame instants.
  *
  * `packTo` (e.g. `Some("int16")`) writes the CF packed layout: the data
  * range maps linearly onto the integer type (one code reserved for
  * fill), with `scale_factor`/`add_offset` derived from the requested
  * stack's min/max — a 4× size cut for float64 stacks at ~2⁻¹⁶ relative
  * precision, the standard climate-data trade. */
case class NetCdfSink(source: RasterBlock, url: String,
    varName: String = "band1", packTo: Option[String] = None) {
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val path = if (url.toLowerCase.endsWith(".nc")) url else s"$url/stack.nc"
    packTo match {
      case None =>
        NetCdf.write(path, res.values, req.width, req.height, req.bbox,
          res.noDataValue, req.projection, res.times.map(_.toEpochMilli),
          source.dtype.name, varName)
      case Some(t) =>
        val dt = DType.byName(t)
        require(dt.kind == 'i', s"packTo must be a signed integer type, got $t")
        val nd = res.noDataValue
        var mn = Double.PositiveInfinity
        var mx = Double.NegativeInfinity
        res.values.foreach(_.foreach { v =>
          if (v != nd && !(v.isNaN && nd.isNaN)) {
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
        })
        if (mn > mx) { mn = 0.0; mx = 0.0 } // all-nodata stack
        // raw codes span [-(2^(bits-1)-1), 2^(bits-1)-1]; the minimum is
        // the fill
        val half = math.pow(2.0, dt.size * 8 - 1) - 1
        val scale = if (mx > mn) (mx - mn) / (2 * half) else 1.0
        val offset = (mx + mn) / 2
        NetCdf.write(path, res.values, req.width, req.height, req.bbox,
          nd, req.projection, res.times.map(_.toEpochMilli),
          t, varName, pack = true, scaleFactor = scale, addOffset = offset)
    }
    path
  }
}
