package graft.raster

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.SparkSession

/** Pure-JVM GeoTIFF codec (no GDAL on the classpath). Reads classic TIFF
  * and BigTIFF in either byte order; writes classic little-endian.
  * Striped or tiled layout, uncompressed / DEFLATE (`java.util.zip`) /
  * LZW / PackBits (both read-only; LZW with horizontal-predictor support),
  * six sample types (float64/float32, int16/int32, uint8/uint16),
  * ModelPixelScale/ModelTiepoint + GeoKey EPSG tagging and the GDAL_NODATA
  * convention — the subset the reference's RasterFileSource/Sink actually
  * exercises (raster/sources.py:396-564, sinks.py:18-141). All three TIFF
  * predictors decode (none / horizontal / floating-point).
  * The layout follows TIFF 6.0 + the GeoTIFF 1.1 spec
  * (ascending IFD tags, correct field types, out-of-line offset/byte-count
  * arrays). Write paths round-trip through this reader; the LZW read path
  * is additionally pinned by fixtures from an independent spec-derived
  * encoder (tools/make_lzw_fixture.py) — no external TIFF reader exists in
  * this environment to cross-validate against.
  */
object GeoTiff {

  /** dtypeName → (bitsPerSample, TIFF SampleFormat). Format 1 = unsigned
    * int, 2 = signed int, 3 = IEEE float. */
  private val SampleTypes: Map[String, (Int, Int)] = Map(
    "float64" -> ((64, 3)), "float32" -> ((32, 3)),
    "int32" -> ((32, 2)), "int16" -> ((16, 2)),
    "uint8" -> ((8, 1)), "uint16" -> ((16, 1)))

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** TIFF-flavour LZW decode (TIFF 6.0 §13): MSB-first bit packing, 9-bit
    * initial codes, ClearCode 256 / EndOfInformation 257, and the "early
    * change" width bump when one code short of the table limit. Decodes at
    * most `expected` bytes; a truncated stream raises rather than looping. */
  private def lzwDecode(packed: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outAt = 0
    val dict = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
    var nextCode = 258
    var width = 9
    var bitPos = 0L
    val nBits = packed.length.toLong * 8
    var prev: Array[Byte] = null
    var done = false
    while (!done && outAt < expected) {
      if (bitPos + width > nBits) throw new IllegalArgumentException(
        "truncated LZW stream in TIFF segment")
      var code = 0
      var k = 0
      while (k < width) {
        val b = bitPos + k
        code = (code << 1) | ((packed((b >> 3).toInt) >> (7 - (b & 7).toInt)) & 1)
        k += 1
      }
      bitPos += width
      if (code == 257) done = true
      else if (code == 256) {
        java.util.Arrays.fill(dict.asInstanceOf[Array[AnyRef]], 258, 4096, null)
        nextCode = 258; width = 9; prev = null
      } else {
        val entry =
          if (code < nextCode && dict(code) != null) dict(code)
          else if (prev != null && code == nextCode) prev :+ prev(0)
          else throw new IllegalArgumentException(
            s"corrupt LZW stream: code $code used before definition")
        val n = math.min(entry.length, expected - outAt)
        System.arraycopy(entry, 0, out, outAt, n)
        outAt += n
        if (prev != null && nextCode < 4096) {
          dict(nextCode) = prev :+ entry(0); nextCode += 1
        }
        // early change: the width grows one code BEFORE the table limit
        if (nextCode == (1 << width) - 1 && width < 12) width += 1
        prev = entry
      }
    }
    out
  }

  /** PackBits decode (TIFF 6.0 §9): control byte n in [0, 127] copies n+1
    * literal bytes; n in [-127, -1] repeats the next byte 1-n times; -128
    * is a no-op. Decodes exactly `expected` bytes; truncated or
    * over-running streams raise rather than read past either buffer. */
  private def packBitsDecode(packed: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0
    var o = 0
    while (o < expected) {
      if (i >= packed.length) throw new IllegalArgumentException(
        "truncated PackBits stream in TIFF segment")
      val n = packed(i); i += 1
      if (n >= 0) {
        val cnt = n + 1
        if (i + cnt > packed.length || o + cnt > expected)
          throw new IllegalArgumentException("corrupt PackBits literal run")
        System.arraycopy(packed, i, out, o, cnt)
        i += cnt; o += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        if (i >= packed.length || o + cnt > expected)
          throw new IllegalArgumentException("corrupt PackBits repeat run")
        java.util.Arrays.fill(out, o, o + cnt, packed(i))
        i += 1; o += cnt
      }
    }
    out
  }

  /** Undo TIFF predictor 3 (floating-point, TechNote 3): each row's sample
    * bytes are stored as byte planes, most-significant plane first, then
    * byte-wise horizontally differenced. Reverse: accumulate the byte
    * deltas across the row, then de-interleave plane p into sample byte
    * position p counted from the MSB (so LSB-first for little-endian
    * files, as libtiff's fpAcc does). Returns a new array in the file's
    * byte order, ready for the sample ByteBuffer. */
  private def undoFloatPredictor(raw: Array[Byte], rowW: Int, bytesPer: Int,
      bigEndian: Boolean): Array[Byte] = {
    val rowBytes = rowW * bytesPer
    val rows = raw.length / rowBytes
    val out = new Array[Byte](raw.length)
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var i = 1
      while (i < rowBytes) {
        raw(base + i) = (raw(base + i) + raw(base + i - 1)).toByte
        i += 1
      }
      var p = 0
      while (p < bytesPer) { // plane 0 holds every sample's MSB
        val byteIdx = if (bigEndian) p else bytesPer - 1 - p
        var x = 0
        while (x < rowW) {
          out(base + x * bytesPer + byteIdx) = raw(base + p * rowW + x)
          x += 1
        }
        p += 1
      }
      r += 1
    }
    out
  }

  /** Undo TIFF predictor 2 (horizontal differencing) in place: each sample
    * is stored as the delta from its left neighbour in the file's byte
    * order, per row of `rowW` samples of `bytesPer` bytes. */
  private def undoPredictor(raw: Array[Byte], rowW: Int, bytesPer: Int,
      bigEndian: Boolean): Unit = {
    val rowBytes = rowW * bytesPer
    val rows = raw.length / rowBytes
    def shiftOf(k: Int): Int = if (bigEndian) 8 * (bytesPer - 1 - k) else 8 * k
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var x = 1
      while (x < rowW) {
        var cur = 0L; var prev = 0L
        var k = 0
        while (k < bytesPer) {
          cur |= (raw(base + x * bytesPer + k) & 0xffL) << shiftOf(k)
          prev |= (raw(base + (x - 1) * bytesPer + k) & 0xffL) << shiftOf(k)
          k += 1
        }
        val sum = cur + prev
        k = 0
        while (k < bytesPer) {
          raw(base + x * bytesPer + k) = ((sum >> shiftOf(k)) & 0xff).toByte
          k += 1
        }
        x += 1
      }
      r += 1
    }
  }

  private def inflate(packed: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(packed)
    val out = new Array[Byte](expected)
    var at = 0
    while (!inf.finished() && at < expected) {
      val n = inf.inflate(out, at, expected - at)
      // n == 0 without finishing means the inflater stalled: truncated
      // input, or a zlib header demanding a preset dictionary — error out
      // rather than spinning forever on a malformed file
      if (n == 0) throw new IllegalArgumentException(
        "truncated or unsupported deflate stream in TIFF segment")
      at += n
    }
    inf.end()
    out
  }

  /** `tileSize` 0 = striped layout; > 0 = tiled layout with square tiles
    * of that size (TIFF requires a multiple of 16). `compression` is
    * "none" or "deflate".
    *
    * The writer STREAMS: header + IFD + auxiliary arrays are built in a
    * small buffer, then segments encode and append one at a time — no
    * whole-file allocation, so output size is bounded by disk, not heap.
    * It emits classic TIFF (version 42, 4-byte offsets) while everything
    * fits, and switches to BigTIFF (version 43: 16-byte header, 8-byte
    * entry counts/values, 20-byte entries, LONG8 offset arrays) when the
    * projected size passes 4 GiB or `bigTiff` forces it. */
  /** `sparse` (tiled layout only) writes the GDAL sparse-file convention:
    * all-nodata tiles record offset 0 and are never written — the dense
    * layout's byte positions are kept for the real tiles, so the file's
    * apparent size is that of the full raster while unwritten spans stay
    * filesystem holes. */
  def write(path: String, values: Array[Double], w: Int, h: Int,
      bbox: Bbox, epsg: Int, noData: Double, dtypeName: String = "float64",
      rowsPerStrip: Int = 256, compression: String = "none",
      tileSize: Int = 0, bigTiff: Boolean = false,
      sparse: Boolean = false, overviews: Boolean = false): Unit = {
    require(values.length.toLong == w.toLong * h, "value count must equal w*h")
    val (bits, sampleFormat) = SampleTypes.getOrElse(dtypeName,
      throw new IllegalArgumentException(
        s"unsupported GeoTIFF dtype '$dtypeName' (${SampleTypes.keys.mkString(", ")})"))
    val comp = compression match {
      case "none"    => 1
      case "deflate" => 8 // Adobe deflate (zlib); the reader also takes 32946
      case other => throw new IllegalArgumentException(
        s"unsupported compression '$other' (none, deflate)")
    }
    val tiled = tileSize > 0
    require(!tiled || tileSize % 16 == 0, "TIFF tile size must be a multiple of 16")
    require(!sparse || (tiled && comp == 1),
      "sparse writing requires an uncompressed tiled layout")
    val bytesPer = bits / 8

    def encode(vals: Array[Double]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vals.length * bytesPer).order(ByteOrder.LITTLE_ENDIAN)
      val put: Double => Unit = (bits, sampleFormat) match {
        case (64, 3) => v => { bb.putDouble(v); () }
        case (32, 3) => v => { bb.putFloat(v.toFloat); () }
        case (32, 2) => v => { bb.putInt(math.rint(v).toInt); () }
        case (16, 2) => v => { bb.putShort(math.rint(v).toShort); () }
        case (16, 1) => v => { bb.putShort((math.rint(v).toLong & 0xffffL).toShort); () }
        case (8, 1)  => v => { bb.put((math.rint(v).toLong & 0xffL).toByte); () }
        case _ => throw new IllegalStateException("unreachable")
      }
      vals.foreach(put)
      bb.array()
    }

    val rps = math.min(math.max(rowsPerStrip, 1), h)
    val tAcross = if (tiled) (w + tileSize - 1) / tileSize else 0
    val tDown = if (tiled) (h + tileSize - 1) / tileSize else 0
    val nSegs = if (tiled) tDown * tAcross else (h + rps - 1) / rps

    // raw (uncompressed) segment: strip of full rows, or a square tile
    // padded with nodata — generated on demand so only one segment's bytes
    // are ever held
    def rawSegment(i: Int): Array[Byte] =
      if (!tiled) {
        val rows = math.min(rps, h - i * rps)
        encode(java.util.Arrays.copyOfRange(values, i * rps * w, (i * rps + rows) * w))
      } else {
        val ty = i / tAcross; val tx = i % tAcross
        val tvals = Array.fill(tileSize * tileSize)(noData)
        var y = 0
        while (y < tileSize && ty * tileSize + y < h) {
          var x = 0
          while (x < tileSize && tx * tileSize + x < w) {
            tvals(y * tileSize + x) = values((ty * tileSize + y) * w + tx * tileSize + x)
            x += 1
          }
          y += 1
        }
        encode(tvals)
      }

    // segment byte counts: analytic for "none" (so nothing is buffered);
    // deflate pre-compresses (compressed output is small by construction)
    val deflated: Array[Array[Byte]] =
      if (comp == 1) null else Array.tabulate(nSegs)(i => deflate(rawSegment(i)))
    val segBytes: Array[Long] = Array.tabulate(nSegs) { i =>
      if (comp != 1) deflated(i).length.toLong
      else if (tiled) tileSize.toLong * tileSize * bytesPer
      else math.min(rps, h - i * rps).toLong * w * bytesPer
    }
    // sparse mode: an all-nodata tile is never written (offset 0 marker);
    // the dense layout keeps every real tile's byte position
    val tileEmpty: Array[Boolean] =
      if (!sparse) null
      else Array.tabulate(nSegs) { i =>
        val ty = i / tAcross; val tx = i % tAcross
        var empty = true
        var y = 0
        while (empty && y < tileSize && ty * tileSize + y < h) {
          var x = 0
          while (empty && x < tileSize && tx * tileSize + x < w) {
            if (values((ty * tileSize + y) * w + tx * tileSize + x) != noData)
              empty = false
            x += 1
          }
          y += 1
        }
        empty
      }

    // GDAL_NODATA: NUL-terminated ASCII, space-padded past 8 bytes so the
    // IFD entry legitimately stores an offset in BOTH formats (TIFF 6.0
    // inlines <= 4 value bytes, BigTIFF <= 8 — a 5-byte string would be an
    // offset classically but inline bytes in BigTIFF)
    val ndAscii = (noData.toString.padTo(8, ' ') + 0.toChar).getBytes("ASCII")
    val geographic = epsg == 4326
    val geoKeys: Array[Int] = Array(
      1, 1, 0, 3, // version, revision, minor, number of keys
      1024, 0, 1, if (geographic) 2 else 1, // GTModelType
      1025, 0, 1, 1, // GTRasterType = PixelIsArea
      (if (geographic) 2048 else 3072), 0, 1, epsg)
    val nEntries = if (tiled) 15 else 14

    def layout(big: Boolean): (Long, Array[Long], Long) = {
      val headerLen = if (big) 16L else 8L
      val entryLen = if (big) 20 else 12
      val ifdLen = (if (big) 8 + 8 else 2 + 4) + nEntries.toLong * entryLen
      val offW = if (big) 8 else 4 // offset/count array element width
      var aux = headerLen + ifdLen
      val segArrays = nSegs > 1
      val segArrOff = aux; aux += (if (segArrays) nSegs.toLong * offW * 2 else 0L)
      val pixelScaleOff = aux; aux += 3 * 8
      val tiepointOff = aux; aux += 6 * 8
      val geoKeysOff = aux; aux += geoKeys.length * 2
      val ndOff = aux; aux += ndAscii.length
      val dataOff = aux
      val segOffs = segBytes.scanLeft(dataOff)(_ + _).init
      (segArrOff, Array(pixelScaleOff, tiepointOff, geoKeysOff, ndOff, dataOff) ++ segOffs,
        dataOff + segBytes.sum)
    }
    // auto-upgrade: classic TIFF offsets are unsigned 32-bit (overview
    // levels append ~1/3 of the image again — account for them up front)
    val big = bigTiff ||
      layout(false)._3 + (if (overviews) layout(false)._3 / 2 else 0L) > 0xfffffff0L
    val (segArrOff, offs, total) = layout(big)
    val Array(pixelScaleOff, tiepointOff, geoKeysOff, ndOff, dataOff) = offs.take(5)
    val segOffs = offs.drop(5)
    require(big || total <= 0xffffffffL, "classic TIFF cannot exceed 4 GiB")
    val segArrays = nSegs > 1
    // what the IFD records: sparse tiles carry the offset-0 marker
    val recOffs = if (!sparse) segOffs
      else Array.tabulate(nSegs)(i => if (tileEmpty(i)) 0L else segOffs(i))
    val recCnts = if (!sparse) segBytes
      else Array.tabulate(nSegs)(i => if (tileEmpty(i)) 0L else segBytes(i))

    val head = ByteBuffer.allocate(dataOff.toInt).order(ByteOrder.LITTLE_ENDIAN)
    if (big) {
      head.put('I'.toByte).put('I'.toByte).putShort(43)
      head.putShort(8).putShort(0).putLong(16L)
      head.putLong(nEntries.toLong)
    } else {
      head.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      head.putShort(nEntries.toShort)
    }
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      head.putShort(tag.toShort).putShort(typ.toShort)
      if (big) head.putLong(count) else head.putInt(count.toInt)
      if (typ == 3 && count == 1) {
        head.putShort(value.toShort).putShort(0)
        if (big) head.putInt(0)
      } else if (big) head.putLong(value)
      else head.putInt(value.toInt)
    }
    // in BigTIFF the offset/count arrays are LONG8; classic keeps LONG
    val arrTyp = if (big) 16 else 4
    def offsetsEntry(tag: Int): Unit =
      if (segArrays) entry(tag, arrTyp, nSegs, segArrOff) else entry(tag, arrTyp, 1, recOffs(0))
    def countsEntry(tag: Int): Unit =
      if (segArrays) entry(tag, arrTyp, nSegs, segArrOff + nSegs.toLong * (if (big) 8 else 4))
      else entry(tag, arrTyp, 1, recCnts(0))
    // a dimension is SHORT *or LONG* (TIFF 6.0 §4): past 65535 rows the
    // SHORT form truncates mod 2^16 (75000 -> 9464, caught by the sf30
    // soak's mosaic lane) — promote the type, not the value
    def dimEntry(tag: Int, v: Long): Unit =
      entry(tag, if (v > 0xFFFFL) 4 else 3, 1, v)
    // entries must be ascending by tag id
    dimEntry(256, w)
    dimEntry(257, h)
    entry(258, 3, 1, bits)
    entry(259, 3, 1, comp)
    entry(262, 3, 1, 1)
    if (!tiled) offsetsEntry(273)
    entry(277, 3, 1, 1)
    if (!tiled) { dimEntry(278, rps); countsEntry(279) }
    if (tiled) {
      entry(322, 3, 1, tileSize)
      entry(323, 3, 1, tileSize)
      offsetsEntry(324)
      countsEntry(325)
    }
    entry(339, 3, 1, sampleFormat)
    entry(33550, 12, 3, pixelScaleOff)
    entry(33922, 12, 6, tiepointOff)
    entry(34735, 3, geoKeys.length, geoKeysOff)
    entry(42113, 2, ndAscii.length, ndOff)
    if (big) head.putLong(0L) else head.putInt(0) // next IFD
    if (segArrays) {
      if (big) { recOffs.foreach(head.putLong); recCnts.foreach(head.putLong) }
      else { recOffs.foreach(o => head.putInt(o.toInt)); recCnts.foreach(b => head.putInt(b.toInt)) }
    }
    head.putDouble(bbox.width / w).putDouble(bbox.height / h).putDouble(0.0)
    // tiepoint: raster (0,0,0) → world (x1, y2, 0) (top-left)
    head.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(bbox.x1).putDouble(bbox.y2).putDouble(0)
    geoKeys.foreach(k => head.putShort(k.toShort))
    head.put(ndAscii)

    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    if (sparse) {
      // seek-write only the real tiles; the skipped spans stay filesystem
      // holes, and setLength extends the apparent size to the dense layout
      val raf = new java.io.RandomAccessFile(path, "rw")
      try {
        raf.setLength(0)
        raf.write(head.array())
        var i = 0
        while (i < nSegs) {
          if (!tileEmpty(i)) { raf.seek(segOffs(i)); raf.write(rawSegment(i)) }
          i += 1
        }
        raf.setLength(total)
      } finally raf.close()
    } else {
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(path), 1 << 20)
      try {
        out.write(head.array())
        var i = 0
        while (i < nSegs) {
          out.write(if (comp == 1) rawSegment(i) else deflated(i))
          i += 1
        }
      } finally out.close()
    }
    if (overviews) appendOverviews(path, values, w, h, noData, dtypeName)
  }

  /** Append COG-style reduced-resolution overview IFDs to a file written
    * by [[write]] (little-endian): successive 2× nearest decimations
    * (GDAL's top-left convention) until both dimensions fit in one tile,
    * each a tiled uncompressed IFD tagged NewSubfileType=1 and chained
    * behind the previous image. Geo tags stay on IFD 0 only; readers
    * derive each level's grid from the base bbox. Returns (w, h) per
    * appended level. */
  def appendOverviews(path: String, values: Array[Double], w: Int, h: Int,
      noData: Double, dtypeName: String, tileSize: Int = 256,
      minDim: Int = 256): Seq[(Int, Int)] = {
    val (bits, sampleFormat) = SampleTypes.getOrElse(dtypeName,
      throw new IllegalArgumentException(s"unsupported GeoTIFF dtype '$dtypeName'"))
    val bytesPer = bits / 8
    val ndAscii = (noData.toString.padTo(8, ' ') + 0.toChar).getBytes("ASCII")
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      val head = new Array[Byte](8); raf.seek(0); raf.readFully(head)
      require(head(0) == 'I' && head(1) == 'I', "appendOverviews needs a little-endian TIFF")
      val version = (head(2) & 0xff) | ((head(3) & 0xff) << 8)
      val big = version == 43
      def u32At(off: Long): Long = { raf.seek(off); java.lang.Integer.reverseBytes(raf.readInt()).toLong & 0xffffffffL }
      def i64At(off: Long): Long = { raf.seek(off); java.lang.Long.reverseBytes(raf.readLong()) }
      def nAt(off: Long): Long =
        if (big) i64At(off) else { raf.seek(off); java.lang.Short.reverseBytes(raf.readShort()).toLong & 0xffffL }
      // walk to the chain tail's next-IFD pointer
      var ifd = if (big) i64At(8) else u32At(4)
      var nextPtrPos = 0L
      var guard = 0
      while (ifd != 0 && guard < 64) {
        val n = nAt(ifd)
        nextPtrPos = ifd + (if (big) 8 + n * 20 else 2 + n * 12)
        ifd = if (big) i64At(nextPtrPos) else u32At(nextPtrPos)
        guard += 1
      }
      require(nextPtrPos != 0, "corrupt TIFF: empty IFD chain")

      def encode(vals: Array[Double]): Array[Byte] = {
        val bb = ByteBuffer.allocate(vals.length * bytesPer).order(ByteOrder.LITTLE_ENDIAN)
        val put: Double => Unit = (bits, sampleFormat) match {
          case (64, 3) => v => { bb.putDouble(v); () }
          case (32, 3) => v => { bb.putFloat(v.toFloat); () }
          case (32, 2) => v => { bb.putInt(math.rint(v).toInt); () }
          case (16, 2) => v => { bb.putShort(math.rint(v).toShort); () }
          case (16, 1) => v => { bb.putShort((math.rint(v).toLong & 0xffffL).toShort); () }
          case (8, 1)  => v => { bb.put((math.rint(v).toLong & 0xffL).toByte); () }
          case _ => throw new IllegalStateException("unreachable")
        }
        vals.foreach(put)
        bb.array()
      }

      val emitted = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var prev = values; var pw = w; var ph = h
      // FLOOR dims, not ceil: each level's cell is then exactly 2× the
      // previous (the last odd row/column is cropped), so levels keep
      // square pixels — the warp stage assumes a single pixel size
      while (math.max(pw, ph) > minDim && pw >= 2 && ph >= 2) {
        val nw = pw / 2; val nh = ph / 2
        val lv = new Array[Double](nw * nh)
        var y = 0
        while (y < nh) {
          var x = 0
          while (x < nw) {
            lv(y * nw + x) = prev(2 * y * pw + 2 * x)
            x += 1
          }
          y += 1
        }
        val tAcross = (nw + tileSize - 1) / tileSize
        val tDown = (nh + tileSize - 1) / tileSize
        val nSegs = tAcross * tDown
        val segBytes = tileSize.toLong * tileSize * bytesPer
        val nEntries = 13
        val base = (raf.length() + 7) / 8 * 8 // 8-aligned append point
        val ifdLen = (if (big) 8 + 8 else 2 + 4) + nEntries.toLong * (if (big) 20 else 12)
        val offW = if (big) 8 else 4
        val segArrays = nSegs > 1
        var aux = base + ifdLen
        val segArrOff = aux; aux += (if (segArrays) nSegs.toLong * offW * 2 else 0L)
        val ndOff = aux; aux += ndAscii.length
        val dataOff = (aux + 7) / 8 * 8
        val segOffs = Array.tabulate(nSegs)(i => dataOff + i * segBytes)
        require(big || dataOff + nSegs * segBytes <= 0xffffffffL,
          "classic TIFF cannot exceed 4 GiB — write with bigTiff=true for overviews this large")

        val hb = ByteBuffer.allocate((dataOff - base).toInt).order(ByteOrder.LITTLE_ENDIAN)
        if (big) hb.putLong(nEntries.toLong) else hb.putShort(nEntries.toShort)
        def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
          hb.putShort(tag.toShort).putShort(typ.toShort)
          if (big) hb.putLong(count) else hb.putInt(count.toInt)
          if (typ == 3 && count == 1) {
            hb.putShort(value.toShort).putShort(0)
            if (big) hb.putInt(0)
          } else if (big) hb.putLong(value)
          else hb.putInt(value.toInt)
        }
        val arrTyp = if (big) 16 else 4
        // dimensions promote SHORT->LONG past 65535 (TIFF 6.0 §4)
        def dimEntry(tag: Int, v: Long): Unit =
          entry(tag, if (v > 0xFFFFL) 4 else 3, 1, v)
        entry(254, 4, 1, 1) // NewSubfileType: reduced-resolution image
        dimEntry(256, nw)
        dimEntry(257, nh)
        entry(258, 3, 1, bits)
        entry(259, 3, 1, 1)
        entry(262, 3, 1, 1)
        entry(277, 3, 1, 1)
        entry(322, 3, 1, tileSize)
        entry(323, 3, 1, tileSize)
        if (segArrays) entry(324, arrTyp, nSegs, segArrOff)
        else entry(324, arrTyp, 1, segOffs(0))
        if (segArrays) entry(325, arrTyp, nSegs, segArrOff + nSegs.toLong * offW)
        else entry(325, arrTyp, 1, segBytes)
        entry(339, 3, 1, sampleFormat)
        entry(42113, 2, ndAscii.length, ndOff)
        if (big) hb.putLong(0L) else hb.putInt(0) // next IFD (chain tail)
        if (segArrays) {
          if (big) { segOffs.foreach(hb.putLong); (0 until nSegs).foreach(_ => hb.putLong(segBytes)) }
          else { segOffs.foreach(o => hb.putInt(o.toInt)); (0 until nSegs).foreach(_ => hb.putInt(segBytes.toInt)) }
        }
        hb.put(ndAscii)
        raf.seek(base); raf.write(hb.array())
        // tile data, one tile buffered at a time
        var ti = 0
        while (ti < nSegs) {
          val ty = ti / tAcross; val tx = ti % tAcross
          val tvals = Array.fill(tileSize * tileSize)(noData)
          var yy = 0
          while (yy < tileSize && ty * tileSize + yy < nh) {
            var xx = 0
            while (xx < tileSize && tx * tileSize + xx < nw) {
              tvals(yy * tileSize + xx) = lv((ty * tileSize + yy) * nw + tx * tileSize + xx)
              xx += 1
            }
            yy += 1
          }
          raf.seek(segOffs(ti)); raf.write(encode(tvals))
          ti += 1
        }
        // chain the new IFD behind the previous tail
        raf.seek(nextPtrPos)
        if (big) raf.writeLong(java.lang.Long.reverseBytes(base))
        else raf.writeInt(java.lang.Integer.reverseBytes(base.toInt))
        nextPtrPos = base + (if (big) 8 + nEntries.toLong * 20 else 2 + nEntries.toLong * 12)
        prev = lv; pw = nw; ph = nh
        emitted += ((nw, nh))
      }
      emitted.toSeq
    } finally raf.close()
  }

  /** `values` is band 1; `moreBands` the rest (chunky-interleaved
    * multiband files — the reference maps bands onto the synthetic time
    * axis, one band per frame, raster/sources.py:396-564). `bandCount` is
    * populated by metadata-only reads without decoding pixels. */
  case class Tiff(values: Array[Double], w: Int, h: Int, bbox: Bbox,
      epsg: Int, noData: Double, dtypeName: String = "float64",
      moreBands: Seq[Array[Double]] = Nil, bandCount: Int = 1) {
    def bands: Seq[Array[Double]] = values +: moreBands
  }

  /** TIFF field-type byte widths (TIFF 6.0 §2 + BigTIFF LONG8/SLONG8/IFD8).
    * RATIONAL(5)/SRATIONAL(10) are two LONGs = 8 bytes — without them the
    * inline-vs-offset decision for tags like XResolution resolves against a
    * 1-byte width and reads the wrong offset. Unknown types reject instead
    * of defaulting (a lax default makes the corrupt-tag bound too weak). */
  private val TypeSizes = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8, 6 -> 1,
    7 -> 1, 8 -> 2, 9 -> 4, 10 -> 8, 11 -> 4, 12 -> 8, 13 -> 4, 16 -> 8,
    17 -> 8, 18 -> 8)

  /** Positioned file access: the reader seeks header/IFD/segment spans
    * instead of materializing the file, so BigTIFF inputs past 2 GB read
    * with heap bounded by one segment. */
  private final class TiffIn(path: String) extends AutoCloseable {
    private val rd = graft.io.PositionedReader.open(path)
    val length: Long = rd.size()
    var order: ByteOrder = ByteOrder.LITTLE_ENDIAN
    def bytesAt(off: Long, len: Int): Array[Byte] = {
      val a = new Array[Byte](len)
      graft.io.PositionedReader.readFully(rd, off, ByteBuffer.wrap(a))
      a
    }
    private def bb(off: Long, len: Int): ByteBuffer =
      ByteBuffer.wrap(bytesAt(off, len)).order(order)
    def u8(off: Long): Int = bytesAt(off, 1)(0) & 0xff
    def u16(off: Long): Int = bb(off, 2).getShort() & 0xffff
    def i32(off: Long): Int = bb(off, 4).getInt()
    def u32(off: Long): Long = bb(off, 4).getInt().toLong & 0xffffffffL
    def i64(off: Long): Long = bb(off, 8).getLong()
    def f64(off: Long): Double = bb(off, 8).getDouble()
    override def close(): Unit = rd.close()
  }

  def read(path: String): Tiff = {
    val in = new TiffIn(path)
    try readFrom(in, firstIfd(in)._2) finally in.close()
  }

  /** Read only the selected bands (0-based, any order; the result's
    * band order follows `bands`). Chunky interleave means the pruned
    * bands' BYTES still stream through the segment codec — that is the
    * format's layout — but their samples are never decoded and their
    * frame arrays never allocated, and the in-memory pixel guard is
    * sized by the bands actually materialized. This is the decode the
    * DSv2 connector's pushed time filter maps to (a time-sliced read of
    * a 100-band stack must not pay for 100 bands). */
  def read(path: String, bands: Seq[Int]): Tiff = {
    val in = new TiffIn(path)
    try readFrom(in, firstIfd(in)._2, bandSel = Some(bands.toArray))
    finally in.close()
  }

  /** Parse the header: (isBigTiff, first IFD offset). Sets `in.order`. */
  private def firstIfd(in: TiffIn): (Boolean, Long) = {
    require(in.length >= 8, "truncated TIFF header")
    val mark = in.bytesAt(0, 2)
    val bigEndian = mark(0) == 'M' && mark(1) == 'M'
    require(bigEndian || (mark(0) == 'I' && mark(1) == 'I'),
      "not a TIFF (bad byte-order mark)")
    in.order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val version = in.u16(2)
    // 42 = classic TIFF (4-byte offsets, 12-byte entries); 43 = BigTIFF
    // (8-byte offsets, 20-byte entries) — same tag vocabulary
    require(version == 42 || version == 43, s"not a TIFF (version $version)")
    val big = version == 43
    if (big) require(in.u16(4) == 8 && in.u16(6) == 0,
      "malformed BigTIFF header")
    (big, if (big) in.i64(8) else in.u32(4))
  }

  /** Offsets of every IFD in the chain (full-resolution image first, then
    * reduced-resolution overview levels, COG-style). */
  private def ifdChain(in: TiffIn): Seq[Long] = {
    val (big, first) = firstIfd(in)
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var off = first
    while (off != 0 && out.length < 64) {
      require(off > 0 && off < in.length, "corrupt TIFF: IFD offset outside the file")
      out += off
      val n = if (big) in.i64(off) else in.u16(off).toLong
      require(n >= 0 && n < 65536, s"corrupt TIFF: $n IFD entries")
      val nextPtr = off + (if (big) 8 + n * 20 else 2 + n * 12)
      off = if (big) in.i64(nextPtr) else in.u32(nextPtr)
    }
    out.toSeq
  }

  /** (width, height) of each image in the file, full resolution first. */
  def levelDims(path: String): Seq[(Int, Int)] = {
    val in = new TiffIn(path)
    try ifdChain(in).map { off =>
      val t = parseTags(in, off)
      (t.scalar(256), t.scalar(257))
    } finally in.close()
  }

  /** Read one overview level entirely (0 = full resolution). Geo-metadata
    * (bbox, CRS, nodata) lives only on IFD 0, COG-style; the level's bbox
    * is the full image's. */
  def readLevel(path: String, level: Int): Tiff = {
    val in = new TiffIn(path)
    try {
      val chain = ifdChain(in)
      require(level >= 0 && level < chain.length,
        s"no overview level $level (file has ${chain.length})")
      if (level == 0) readFrom(in, chain.head)
      else {
        val base = readMeta(in, chain.head)
        readFrom(in, chain(level), Some(base))
      }
    } finally in.close()
  }

  /** Read only the tiles/strips of `level` that intersect `window` (in
    * world coordinates). Returns a Tiff covering the segment-aligned
    * enclosing region — the COG partial read: bytes touched are the
    * header, the IFDs, and the intersecting segments of that level only. */
  def readLevelWindow(path: String, level: Int, window: Bbox): Tiff = {
    val in = new TiffIn(path)
    try {
      val chain = ifdChain(in)
      require(level >= 0 && level < chain.length,
        s"no overview level $level (file has ${chain.length})")
      val base = readMeta(in, chain.head)
      readFrom(in, chain(level), if (level == 0) None else Some(base),
        Some(window))
    } finally in.close()
  }

  /** Band-selected, window-pruned read in PIXEL coordinates (rows
    * [y0, y1), cols [x0, x1), half-open, on the full-resolution grid).
    * Returns the segment-aligned enclosing region plus its (col0, row0)
    * offset on the full grid — the DSv2 spatial pushdown's decode:
    * bytes touched are the header, the IFDs, and the intersecting
    * strips/tiles only. */
  def readWindowPx(path: String, bands: Seq[Int], y0: Int, y1: Int,
      x0: Int, x1: Int): (Tiff, Int, Int) = {
    val in = new TiffIn(path)
    try {
      val off = firstIfd(in)._2
      val meta = readFrom(in, off, metaOnly = true)
      require(y0 >= 0 && y0 < y1 && y1 <= meta.h &&
        x0 >= 0 && x0 < x1 && x1 <= meta.w,
        s"TIFF window rows [$y0,$y1) cols [$x0,$x1) outside " +
          s"${meta.w} x ${meta.h}")
      val sx = meta.bbox.width / meta.w; val sy = meta.bbox.height / meta.h
      // half-cell inset so the world-window floor/ceil recovers exactly
      // this pixel range before segment alignment
      val win = Bbox(meta.bbox.x1 + (x0 + 0.5) * sx,
        meta.bbox.y2 - (y1 - 0.5) * sy,
        meta.bbox.x1 + (x1 - 0.5) * sx,
        meta.bbox.y2 - (y0 + 0.5) * sy)
      val t = readFrom(in, off, None, Some(win), bandSel = Some(bands.toArray))
      val col0 = math.round((t.bbox.x1 - meta.bbox.x1) / sx).toInt
      val row0 = math.round((meta.bbox.y2 - t.bbox.y2) / sy).toInt
      (t, col0, row0)
    } finally in.close()
  }

  /** Header-only metadata (no pixel bytes read): the full-resolution
    * image's shape and geo tags. */
  def readMeta(path: String): Tiff = {
    val in = new TiffIn(path)
    try readMeta(in, firstIfd(in)._2) finally in.close()
  }

  private def readMeta(in: TiffIn, ifdOff: Long): Tiff =
    readFrom(in, ifdOff, None, None, metaOnly = true)

  /** Resolved IFD tag table: tag -> (type, count, value offset). */
  private final class TagTable(in: TiffIn, val tags: Map[Int, (Int, Int, Long)]) {
    def scalar(tag: Int): Int = {
      val (typ, _, off) = tags(tag)
      typ match {
        case 1      => in.u8(off)
        case 3      => in.u16(off)
        case 16     => in.i64(off).toInt
        case _      => in.i32(off)
      }
    }
    def scalarOpt(tag: Int): Option[Int] = tags.get(tag).map(_ => scalar(tag))
    def contains(tag: Int): Boolean = tags.contains(tag)
    def apply(tag: Int): (Int, Int, Long) = tags(tag)
    def get(tag: Int): Option[(Int, Int, Long)] = tags.get(tag)
    def longsOf(tag: Int): Array[Long] = {
      val (typ, count, off) = tags(tag)
      Array.tabulate(count) { i =>
        typ match {
          case 3  => in.u16(off + i * 2).toLong
          case 16 => in.i64(off + i * 8)
          case _  => in.u32(off + i * 4)
        }
      }
    }
  }

  private def parseTags(in: TiffIn, ifd: Long): TagTable = {
    val big = { val v = in.u16(2); v == 43 }
    require(ifd >= 0 && ifd < in.length, "corrupt TIFF: IFD offset outside the file")
    val n = (if (big) in.i64(ifd) else (in.u16(ifd).toLong: Long)).toInt
    require(n >= 0 && n < 65536, s"corrupt TIFF: $n IFD entries")
    val entriesBase = ifd + (if (big) 8 else 2)
    val inlineCap = if (big) 8 else 4
    // tag -> (type, count, file offset of the value bytes): values at most
    // inlineCap bytes live inside the entry's value field, larger ones
    // behind the stored offset — resolving that here means every consumer
    // below reads from a plain file offset
    var tags = Map.empty[Int, (Int, Int, Long)]
    for (i <- 0 until n) {
      val off = entriesBase + i.toLong * (if (big) 20 else 12)
      val tag = in.u16(off)
      val typ = in.u16(off + 2)
      val count = (if (big) in.i64(off + 4) else in.u32(off + 4)).toInt
      val valueField = off + (if (big) 12 else 8)
      require(TypeSizes.contains(typ), s"corrupt TIFF: tag $tag has unknown field type $typ")
      val byteLen = TypeSizes(typ).toLong * count
      // structural bound: out-of-line value bytes live inside the file, so
      // a count driving byteLen past the file size is corruption, not data
      // (stops hostile 8-byte counts from sizing allocations)
      require(count >= 0 && byteLen <= in.length,
        s"corrupt TIFF: tag $tag count $count exceeds file size")
      val valueOff =
        if (byteLen <= inlineCap) valueField
        else if (big) in.i64(valueField) else in.u32(valueField)
      require(valueOff >= 0 && valueOff + byteLen <= in.length,
        s"corrupt TIFF: tag $tag value offset outside the file")
      tags += tag -> ((typ, count, valueOff))
    }
    new TagTable(in, tags)
  }

  /** Read the image of one IFD. `base` supplies geo-metadata when this IFD
    * is an overview level (geo tags live only on IFD 0, COG-style);
    * `window` restricts decoding to the segments intersecting a world-
    * coordinate bbox; `metaOnly` skips pixel decoding entirely. */
  private def readFrom(in: TiffIn, ifdOff: Long, base: Option[Tiff] = None,
      window: Option[Bbox] = None, metaOnly: Boolean = false,
      bandSel: Option[Array[Int]] = None): Tiff = {
    val mark = in.bytesAt(0, 2)
    val bigEndian = mark(0) == 'M' && mark(1) == 'M'
    val t = parseTags(in, ifdOff)
    val w = t.scalar(256); val h = t.scalar(257)
    require(w > 0 && h > 0, s"corrupt TIFF: $w x $h image")
    val bits = t.scalar(258)
    val sampleFormat = t.scalarOpt(339).getOrElse(1)
    val comp = t.scalarOpt(259).getOrElse(1)
    require(comp == 1 || comp == 5 || comp == 8 || comp == 32946 || comp == 32773,
      s"reader supports uncompressed, LZW, PackBits, or deflate TIFF only (compression=$comp)")
    val predictor = t.scalarOpt(317).getOrElse(1)
    val dtypeName = SampleTypes.collectFirst {
      case (name, (b, f)) if b == bits && f == sampleFormat => name
    }.getOrElse(throw new IllegalArgumentException(
      s"unsupported sample type bits=$bits format=$sampleFormat"))
    // predictor 2 (horizontal differencing) is defined on integer samples,
    // 3 (floating-point byte-plane differencing) on float samples
    require(predictor == 1 || (predictor == 2 && sampleFormat != 3) ||
      (predictor == 3 && sampleFormat == 3),
      s"unsupported TIFF predictor $predictor for sample format $sampleFormat")
    val bytesPer = bits / 8
    val tiled = t.contains(322)
    // multiband: chunky interleave only (PlanarConfiguration 1), no
    // predictor (its differencing stride is per-component — fail loud
    // rather than mis-decode a foreign file)
    val spp = t.scalarOpt(277).getOrElse(1)
    require(spp >= 1 && spp <= 1024, s"corrupt TIFF: $spp samples per pixel")
    if (spp > 1) {
      require(t.scalarOpt(284).forall(_ == 1),
        "multiband TIFF requires chunky interleave (PlanarConfiguration=1)")
      require(predictor == 1,
        "multiband TIFF with a predictor is not supported")
    }

    // geo-metadata: this IFD's tags, or (overview levels) the base image's
    val nd = t.get(42113).map { case (_, count, off) =>
      new String(in.bytesAt(off, count), "ASCII").replace(0.toChar.toString, " ").trim.toDouble
    }.orElse(base.map(_.noData)).getOrElse(Double.MaxValue)
    val bbox = if (t.contains(33550) && t.contains(33922)) {
      val psOff = t(33550)._3
      val (sx, sy) = (in.f64(psOff), in.f64(psOff + 8))
      val tpOff = t(33922)._3
      val (ox, oy) = (in.f64(tpOff + 24), in.f64(tpOff + 32))
      Bbox(ox, oy - sy * h, ox + sx * w, oy)
    } else base.map { b =>
      // overview level: infer the decimation factor. Floor-dim levels
      // (ours) have cells exactly factor× the base and a bbox cropped at
      // the bottom/right; ceil-dim levels (GDAL's convention) keep the
      // full extent with slightly stretched cells.
      val fx = math.max(1L, math.round(b.w.toDouble / w))
      val cellX = b.bbox.width / b.w * fx
      val cellY = b.bbox.height / b.h * fx
      if (w * cellX <= b.bbox.width * (1 + 1e-9) &&
        h * cellY <= b.bbox.height * (1 + 1e-9))
        Bbox(b.bbox.x1, b.bbox.y2 - h * cellY, b.bbox.x1 + w * cellX, b.bbox.y2)
      else b.bbox
    }.getOrElse(
      throw new IllegalArgumentException("TIFF has no geo tags and no base image"))
    val epsg = if (t.contains(34735)) {
      val gkOff = t(34735)._3
      val nKeys = in.u16(gkOff + 6)
      var e = 0
      for (k <- 0 until nKeys) {
        val kOff = gkOff + 8 + k * 8
        val keyId = in.u16(kOff)
        if (keyId == 3072 || keyId == 2048) e = in.u16(kOff + 6)
      }
      e
    } else base.map(_.epsg).getOrElse(0)
    if (metaOnly)
      return Tiff(new Array[Double](0), w, h, bbox, epsg, nd, dtypeName,
        bandCount = spp)

    // pixel window to decode: everything, or the segment-aligned region
    // enclosing the requested world bbox on this level's grid
    val sx = bbox.width / w; val sy = bbox.height / h
    val (col0, row0, cols, rows) = window match {
      case None => (0, 0, w, h)
      case Some(win) =>
        val c0 = math.max(0, math.min(w - 1, math.floor((win.x1 - bbox.x1) / sx).toInt))
        val c1 = math.max(0, math.min(w - 1, math.ceil((win.x2 - bbox.x1) / sx).toInt - 1))
        val r0 = math.max(0, math.min(h - 1, math.floor((bbox.y2 - win.y2) / sy).toInt))
        val r1 = math.max(0, math.min(h - 1, math.ceil((bbox.y2 - win.y1) / sy).toInt - 1))
        // align to segment boundaries so decode loops stay whole-segment
        val segH = if (tiled) t.scalar(323) else t.scalarOpt(278).getOrElse(h)
        val segW = if (tiled) t.scalar(322) else w
        val ac0 = c0 / segW * segW
        val ar0 = r0 / segH * segH
        val ac1 = math.min(w - 1, (c1 / segW + 1) * segW - 1)
        val ar1 = math.min(h - 1, (r1 / segH + 1) * segH - 1)
        (ac0, ar0, ac1 - ac0 + 1, ar1 - ar0 + 1)
    }
    // bands to materialize: all, or the caller's selection (the DSv2
    // time-filter pushdown); order of the output follows the selection
    val sel: Array[Int] = bandSel.getOrElse(Array.range(0, spp))
    require(sel.nonEmpty, "TIFF band selection is empty")
    sel.foreach(b => require(b >= 0 && b < spp,
      s"TIFF band $b out of range (file has $spp)"))
    // single-request materialization cap, same limit the engine's request
    // guards enforce — and the backstop against hostile dimension tags.
    // Sized by the bands DECODED, not the file's band count: that is the
    // memory this call materializes
    require(cols.toLong * rows * sel.length <= RequestGuards.rasterLimitPixels,
      s"TIFF window of $cols x $rows x ${sel.length} decoded samples " +
        s"exceeds the in-memory limit of ${RequestGuards.rasterLimitPixels} " +
        "pixels")
    val decodeFrom: (ByteBuffer, Int) => Double = (bits, sampleFormat) match {
      case (64, 3) => (b, off) => b.getDouble(off)
      case (32, 3) => (b, off) => b.getFloat(off).toDouble
      case (32, 2) => (b, off) => b.getInt(off).toDouble
      case (16, 2) => (b, off) => b.getShort(off).toDouble
      case (16, 1) => (b, off) => (b.getShort(off) & 0xffff).toDouble
      case (8, 1)  => (b, off) => (b.get(off) & 0xff).toDouble
      case _ => throw new IllegalStateException("unreachable")
    }
    // one segment (strip or tile) as a decode-ready little-endian buffer;
    // `rowW` is the segment's row width in samples (predictor 2 is per-row)
    def segment(off: Long, count: Long, expected: Int, rowW: Int): ByteBuffer = {
      require(off >= 0 && count >= 0 && count <= Int.MaxValue &&
        off + count <= in.length,
        s"corrupt TIFF: segment [$off, +$count) outside the file")
      val packed = in.bytesAt(off, count.toInt)
      val raw = comp match {
        case 1     => packed
        case 5     => lzwDecode(packed, expected)
        case 32773 => packBitsDecode(packed, expected)
        case _     => inflate(packed, expected)
      }
      if (predictor == 2) undoPredictor(raw, rowW, bytesPer, bigEndian)
      val decoded =
        if (predictor == 3) undoFloatPredictor(raw, rowW, bytesPer, bigEndian)
        else raw
      ByteBuffer.wrap(decoded)
        .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    }
    val bandVals = Array.fill(sel.length)(new Array[Double](cols * rows))
    if (!tiled) {
      val stripOffs = t.longsOf(273)
      val stripCnts = t.longsOf(279)
      val rps = t.scalarOpt(278).getOrElse(h)
      var strip = row0 / rps // window rows are strip-aligned
      while (strip * rps < row0 + rows) {
        val sRows = math.min(rps, h - strip * rps)
        val seg = segment(stripOffs(strip), stripCnts(strip),
          sRows * w * spp * bytesPer, w * spp)
        var r = 0
        while (r < sRows && strip * rps + r < row0 + rows) {
          var j = 0
          while (j < cols) {
            var b = 0
            while (b < sel.length) {
              bandVals(b)((strip * rps + r - row0) * cols + j) =
                decodeFrom(seg, ((r * w + col0 + j) * spp + sel(b)) * bytesPer)
              b += 1
            }
            j += 1
          }
          r += 1
        }
        strip += 1
      }
    } else {
      val tw = t.scalar(322); val th = t.scalar(323)
      val tileOffs = t.longsOf(324)
      val tileCnts = t.longsOf(325)
      val tAcross = (w + tw - 1) / tw
      // window cols/rows are tile-aligned: visit only intersecting tiles
      var ty = row0 / th
      while (ty * th < row0 + rows) {
        var tx = col0 / tw
        while (tx * tw < col0 + cols) {
          val ti = ty * tAcross + tx
          if (tileOffs(ti) == 0) {
            // GDAL sparse-file convention: offset 0 marks an unwritten
            // tile — it reads as nodata fill, never bytes from file start
            var y = 0
            while (y < th && ty * th + y < h) {
              var x = 0
              while (x < tw && tx * tw + x < w) {
                var b = 0
                while (b < sel.length) {
                  bandVals(b)((ty * th + y - row0) * cols + tx * tw + x - col0) = nd
                  b += 1
                }
                x += 1
              }
              y += 1
            }
          } else {
            val seg = segment(tileOffs(ti), tileCnts(ti), tw * th * spp * bytesPer, tw * spp)
            var y = 0
            while (y < th && ty * th + y < h) {
              var x = 0
              while (x < tw && tx * tw + x < w) {
                var b = 0
                while (b < sel.length) {
                  bandVals(b)((ty * th + y - row0) * cols + tx * tw + x - col0) =
                    decodeFrom(seg, ((y * tw + x) * spp + sel(b)) * bytesPer)
                  b += 1
                }
                x += 1
              }
              y += 1
            }
          }
          tx += 1
        }
        ty += 1
      }
    }
    val outBbox = Bbox(bbox.x1 + col0 * sx, bbox.y2 - (row0 + rows) * sy,
      bbox.x1 + (col0 + cols) * sx, bbox.y2 - row0 * sy)
    Tiff(bandVals(0), cols, rows, outBbox, epsg, nd, dtypeName,
      moreBands = bandVals.toSeq.drop(1), bandCount = sel.length)
  }
}

/** Write one GeoTIFF per frame + a VRT-style JSON manifest (the reference's
  * tile-and-merge pattern, sinks.py:123-141). Frames are collected per
  * request — this is the export path, not the distributed store (that is
  * RasterParquetSink). The file sample type follows the source dtype when
  * the codec supports it; everything else exports as float64. */
case class GeoTiffSink(source: RasterBlock, url: String,
    compression: String = "none", tileSize: Int = 0,
    overviews: Boolean = false) {
  def write(req: RasterRequest)(implicit spark: SparkSession): Seq[String] = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val epsg = req.projection.stripPrefix("EPSG:").toIntOption.getOrElse(0)
    val dt = source.dtype.name match {
      case n @ ("float32" | "int16" | "int32" | "uint8" | "uint16") => n
      case _ => "float64"
    }
    val paths = res.times.zipWithIndex.map { case (t, i) =>
      val p = s"$url/frame_${t.toEpochMilli}.tif"
      GeoTiff.write(p, res.values(i), req.width, req.height, req.bbox, epsg,
        res.noDataValue, dt, compression = compression, tileSize = tileSize,
        overviews = overviews)
      p
    }
    val manifest = Map("type" -> "graft-geotiff-v1",
      "frames" -> res.times.map(_.toEpochMilli), "files" -> paths)
    Files.writeString(Paths.get(url, "manifest.json"), graft.core.Json.render(manifest))
    paths
  }
}

/** Re-open a GeoTIFF directory (or single file) as a raster source.
  *
  * Metadata comes from a header-only parse — no pixel bytes are read at
  * construction. For a single same-CRS file, each request is served COG-
  * style: the coarsest overview level whose resolution still satisfies the
  * request is chosen, and only the tiles of that level intersecting the
  * request bbox are decoded (positioned range reads). A session that only
  * ever asks for coarse zooms never touches full-resolution pixel bytes.
  * Temporal directories (one file per frame) keep the eager MemorySource
  * path — they are bounded exports. */
case class GeoTiffSource(url: String, timeFirstMs: Long = 0L,
    timeDeltaMsArg: Long = 300000L) extends RasterBlock with graft.core.FileSource {
  private lazy val files: Seq[String] = {
    val p = Paths.get(url)
    if (Files.isDirectory(p)) {
      import scala.jdk.CollectionConverters._
      // numeric-aware order: the sink names frames frame_<epochMs>, and a
      // lexicographic sort would put frame_10800000 before frame_3600000
      GridFiles.numericSort(Files.list(p).iterator().asScala.map(_.toString)
        .filter(f => { val l = f.toLowerCase; l.endsWith(".tif") || l.endsWith(".tiff") })
        .toSeq)
    } else Seq(url)
  }
  // header-only: shape, bbox, CRS, nodata, dtype + the overview pyramid
  private lazy val meta0: GeoTiff.Tiff = GeoTiff.readMeta(files.head)
  private lazy val levelDims: Seq[(Int, Int)] = GeoTiff.levelDims(files.head)
  private lazy val tiffs: Seq[GeoTiff.Tiff] = files.map(GeoTiff.read)
  private lazy val memory: MemorySource = {
    val t = tiffs.head
    // the reference maps bands onto the synthetic time axis — one band
    // per frame (raster/sources.py:396-564). A single multiband file
    // contributes one frame per band; directories (the sink's own
    // exports, single-band by construction) one frame per file.
    val frames = if (tiffs.size > 1) tiffs.map(_.values) else tiffs.head.bands
    MemorySource(frames, t.w, t.h, t.noData,
      s"EPSG:${t.epsg}", (t.bbox.x2 - t.bbox.x1) / t.w, t.bbox.x1, t.bbox.y2,
      timeFirstMs, if (frames.size > 1) Some(timeDeltaMsArg) else None,
      t.dtypeName)
  }
  // frames = files × bands (single-file multiband = one frame per band)
  private lazy val frameCount: Int =
    if (files.size > 1) files.size else meta0.bandCount
  override def dtype: DType = DType.byName(meta0.dtypeName)
  override def projection: String = s"EPSG:${meta0.epsg}"
  override def temporal: Boolean = frameCount > 1
  override def timeDeltaMs: Option[Long] =
    if (frameCount > 1) Some(timeDeltaMsArg) else None
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(timeFirstMs), Instant.ofEpochMilli(
      timeFirstMs + timeDeltaMs.getOrElse(0L) * (frameCount - 1))))
  override def extent: Option[Bbox] = Some(meta0.bbox)
  override def cellSize: Option[Double] = Some(meta0.bbox.width / meta0.w)
  override def allTimes: Seq[Instant] =
    (0 until frameCount).map(i => Instant.ofEpochMilli(
      timeFirstMs + timeDeltaMs.getOrElse(0L) * i))
  // the file's stored sentinel is remapped to the dtype-max convention by
  // the underlying MemorySource
  override def frame(req: RasterRequest)(implicit spark: SparkSession) = {
    val sameCrs = files.size == 1 && meta0.bandCount == 1 &&
      (try Proj.normalize(req.projection) == Proj.normalize(projection)
       catch { case _: IllegalArgumentException => false })
    if (!sameCrs) memory.frame(req)
    else {
      val fullCell = meta0.bbox.width / meta0.w
      // coarsest level still at least as fine as the request's grid;
      // level cell = fullCell × decimation factor (robust to floor- and
      // ceil-dim pyramids alike)
      def cellOf(i: Int): Double =
        fullCell * math.max(1L, math.round(meta0.w.toDouble / levelDims(i)._1))
      val reqCell = req.cellW
      val level = levelDims.indices.reverse.find(i =>
        cellOf(i) <= reqCell * (1 + 1e-9)).getOrElse(0)
      val lvlCell = cellOf(level)
      val pad = 2 * math.max(lvlCell, fullCell)
      val win = Bbox(req.bbox.x1 - pad, req.bbox.y1 - pad,
        req.bbox.x2 + pad, req.bbox.y2 + pad)
      val t = GeoTiff.readLevelWindow(files.head, level, win)
      MemorySource(Seq(t.values), t.w, t.h, t.noData, s"EPSG:${t.epsg}",
        (t.bbox.x2 - t.bbox.x1) / t.w, t.bbox.x1, t.bbox.y2,
        timeFirstMs, None, t.dtypeName).frame(req)
    }
  }
}
