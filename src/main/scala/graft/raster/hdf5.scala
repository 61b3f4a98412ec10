package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import graft.io.PositionedReader
import java.nio.file.{Paths, StandardOpenOption}
import java.time.Instant
import java.util.zip.Inflater
import org.apache.spark.sql.{DataFrame, SparkSession}

/** HDF5 read subset — enough of the public HDF5 File Format Specification
  * to open NetCDF-4 raster stacks (a NetCDF-4 file IS an HDF5 file; the
  * reference reads both through GDAL's netCDF driver,
  * dask_geomodeling/raster/sources.py:396-564).
  *
  * Implemented from the format spec: v0/v2/v3 superblocks, v1 and v2
  * object headers (+ continuations), old-style groups (B-tree v1 +
  * local heap + SNOD) and compact new-style groups (Link messages),
  * dataspace/datatype/fill/layout/filter/attribute messages, contiguous
  * and chunked layouts (chunk B-tree v1), deflate + shuffle +
  * fletcher32 filters, fixed and vlen string attributes (global heap).
  * Everything else — dense link storage, virtual/compact-external
  * layouts, szip/other filters, compound types — fails loudly by name.
  *
  * Dimension identification follows the netCDF-4 data model: 1-D
  * datasets carrying the `CLASS = "DIM_SCALE"` convention (or simply
  * 1-D siblings) are coordinate variables; the data variable's axes are
  * matched to them by length, with the x/y/time name conventions
  * breaking ties — the same CF semantics as the classic codec, so the
  * whole Meta pipeline (cell centers, y orientation, time units,
  * scale/offset, grid_mapping CRS) is shared with [[NetCdf]] via
  * [[Hdf5.readMeta]]'s output shape.
  *
  * All metadata access is positioned reads — no data chunk is touched
  * until a frame is requested.
  */
object Hdf5 {

  private val Magic = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n',
    0x1A, '\n')

  def isHdf5(path: String): Boolean = {
    val ch = PositionedReader.open(path)
    try {
      if (ch.size() < 8) false
      else {
        val b = ByteBuffer.allocate(8)
        ch.read(b, 0)
        b.array().sameElements(Magic)
      }
    } finally ch.close()
  }

  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF address

  private def readAt(ch: PositionedReader, at: Long, n: Int): ByteBuffer = {
    require(at >= 0 && n >= 0 && at + n <= ch.size(),
      s"hdf5: read [$at, ${at + n}) outside file of ${ch.size()} bytes")
    val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    PositionedReader.readFully(ch, at, b)
    b.flip()
    b.order(ByteOrder.LITTLE_ENDIAN)
  }

  // --------------------------------------------------------- superblock

  /** Root group object header address. */
  def rootAddress(ch: PositionedReader): Long = {
    val head = readAt(ch, 0, 64)
    val sig = new Array[Byte](8); head.get(sig)
    require(sig.sameElements(Magic), "hdf5: bad signature (not an HDF5 file)")
    val version = head.get() & 0xFF
    version match {
      case 0 | 1 =>
        val offSize = readAt(ch, 13, 1).get() & 0xFF
        val lenSize = readAt(ch, 14, 1).get() & 0xFF
        require(offSize == 8 && lenSize == 8,
          s"hdf5: only 8-byte offsets/lengths supported ($offSize/$lenSize)")
        // v0: root symbol table entry at 24 + 4*8; v1 adds 4 bytes
        val entryAt = (if (version == 0) 24 else 28) + 32
        readAt(ch, entryAt + 8, 8).getLong // object header address
      case 2 | 3 =>
        val b = readAt(ch, 8, 40)
        val offSize = b.get() & 0xFF
        val lenSize = b.get() & 0xFF
        require(offSize == 8 && lenSize == 8,
          s"hdf5: only 8-byte offsets/lengths supported ($offSize/$lenSize)")
        b.get() // flags
        b.getLong // base
        b.getLong // extension
        b.getLong // eof
        b.getLong // root object header
      case v => throw new IllegalArgumentException(
        s"hdf5: unsupported superblock version $v")
    }
  }

  // ------------------------------------------------------ object header

  case class Msg(typ: Int, data: ByteBuffer)

  /** All header messages of an object (v1 and v2 headers, following
    * continuation blocks). */
  def readMessages(ch: PositionedReader, addr: Long): Seq[Msg] = {
    val peek = readAt(ch, addr, 4).getInt
    if (peek == 0x5244484F) readMessagesV2(ch, addr) // "OHDR" LE
    else readMessagesV1(ch, addr)
  }

  private def readMessagesV1(ch: PositionedReader, addr: Long): Seq[Msg] = {
    val head = readAt(ch, addr, 16)
    val version = head.get() & 0xFF
    require(version == 1, s"hdf5: object header version $version at $addr")
    head.get()
    val nMsgs = head.getShort() & 0xFFFF
    require(nMsgs <= 4096, s"hdf5: implausible message count $nMsgs")
    head.getInt // ref count
    val headerSize = head.getInt
    require(headerSize >= 0 && headerSize <= (1 << 26),
      s"hdf5: implausible header size $headerSize")
    val msgs = scala.collection.mutable.ArrayBuffer.empty[Msg]
    // (blockAddr, blockLen); the first block begins after the 4-byte pad
    var blocks = List((addr + 16, headerSize.toLong))
    var count = 0
    while (blocks.nonEmpty && count < nMsgs) {
      val (bAddr, bLen) = blocks.head
      blocks = blocks.tail
      val buf = readAt(ch, bAddr, bLen.toInt)
      while (buf.remaining() >= 8 && count < nMsgs) {
        val typ = buf.getShort() & 0xFFFF
        val size = buf.getShort() & 0xFFFF
        buf.get(); buf.get(); buf.get(); buf.get() // flags + reserved
        require(size <= buf.remaining(),
          s"hdf5: message overruns header block at $bAddr")
        val data = buf.slice().order(ByteOrder.LITTLE_ENDIAN)
        data.limit(size)
        buf.position(buf.position() + size)
        count += 1
        if (typ == 0x0010) { // continuation
          val c = data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
          blocks = blocks :+ ((c.getLong, c.getLong))
        } else if (typ != 0x0000) msgs += Msg(typ, data)
      }
    }
    msgs.toSeq
  }

  private def readMessagesV2(ch: PositionedReader, addr: Long): Seq[Msg] = {
    val head = readAt(ch, addr, 16)
    head.getInt // OHDR
    val version = head.get() & 0xFF
    require(version == 2, s"hdf5: OHDR version $version")
    val flags = head.get() & 0xFF
    var at = addr + 6
    if ((flags & 0x20) != 0) at += 16 // times
    if ((flags & 0x10) != 0) at += 4  // max compact/dense
    val szBytes = 1 << (flags & 0x03)
    val szBuf = readAt(ch, at, szBytes)
    val chunk0 = szBytes match {
      case 1 => (szBuf.get() & 0xFFL)
      case 2 => (szBuf.getShort() & 0xFFFFL)
      case 4 => szBuf.getInt().toLong & 0xFFFFFFFFL
      case _ => szBuf.getLong
    }
    require(chunk0 <= (1 << 26), s"hdf5: implausible OHDR chunk size $chunk0")
    at += szBytes
    val msgs = scala.collection.mutable.ArrayBuffer.empty[Msg]
    val creationTracked = (flags & 0x04) != 0
    // each continuation block after the first starts with "OCHK" and ends
    // with a 4-byte checksum; the first chunk just ends with the checksum
    var blocks = List((at, chunk0 - 4))
    while (blocks.nonEmpty) {
      val (bAddr, bLen) = blocks.head
      blocks = blocks.tail
      val buf = readAt(ch, bAddr, bLen.toInt)
      while (buf.remaining() >= 4 + (if (creationTracked) 2 else 0)) {
        val typ = buf.get() & 0xFF
        val size = buf.getShort() & 0xFFFF
        buf.get() // flags
        if (creationTracked) buf.getShort()
        if (size > buf.remaining()) {
          buf.position(buf.limit()) // trailing gap
        } else {
          val data = buf.slice().order(ByteOrder.LITTLE_ENDIAN)
          data.limit(size)
          buf.position(buf.position() + size)
          if (typ == 0x10) {
            val c = data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
            val cAddr = c.getLong; val cLen = c.getLong
            // skip OCHK signature and trailing checksum
            blocks = blocks :+ ((cAddr + 4, cLen - 8))
          } else if (typ != 0) msgs += Msg(typ, data)
        }
      }
    }
    msgs.toSeq
  }

  // ------------------------------------------------------------ groups

  /** (name, objectHeaderAddress) pairs of a group's children. */
  def groupLinks(ch: PositionedReader, addr: Long): Seq[(String, Long)] = {
    val msgs = readMessages(ch, addr)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    msgs.find(_.typ == 0x0011).foreach { st => // old-style symbol table
      val b = st.data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      val btree = b.getLong; val heap = b.getLong
      val heapData = localHeapData(ch, heap)
      walkGroupBtree(ch, btree, heapData, out)
    }
    msgs.filter(_.typ == 0x0006).foreach { lm => // compact Link messages
      val b = lm.data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      val ver = b.get() & 0xFF
      require(ver == 1, s"hdf5: link message version $ver")
      val flags = b.get() & 0xFF
      val typ = if ((flags & 0x08) != 0) b.get() & 0xFF else 0
      if ((flags & 0x04) != 0) b.getLong // creation order
      if ((flags & 0x10) != 0) b.get()   // charset
      val nameLen = (flags & 0x03) match {
        case 0 => b.get() & 0xFFL
        case 1 => b.getShort() & 0xFFFFL
        case 2 => b.getInt().toLong & 0xFFFFFFFFL
        case _ => b.getLong
      }
      val nm = new Array[Byte](nameLen.toInt); b.get(nm)
      if (typ == 0) out += ((new String(nm, "UTF-8"), b.getLong))
    }
    msgs.find(_.typ == 0x0002).foreach { li => // link info: dense storage?
      val b = li.data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      b.get(); val flags = b.get() & 0xFF
      if ((flags & 0x01) != 0) b.getLong
      val fheap = b.getLong
      require(fheap == Undef || out.nonEmpty,
        "hdf5: dense (fractal-heap) link storage not supported")
    }
    out.toSeq
  }

  private def localHeapData(ch: PositionedReader, addr: Long): ByteBuffer = {
    val h = readAt(ch, addr, 32)
    require(h.getInt == 0x50414548, s"hdf5: bad local heap at $addr") // HEAP
    h.getInt // version + reserved
    val size = h.getLong
    h.getLong // free list
    val dataAddr = h.getLong
    require(size <= (1 << 26), s"hdf5: implausible heap size $size")
    readAt(ch, dataAddr, size.toInt)
  }

  private def heapString(heap: ByteBuffer, off: Long): String = {
    val b = heap.duplicate()
    b.position(off.toInt)
    val sb = new StringBuilder
    var c = b.get()
    while (c != 0) { sb.append(c.toChar); c = b.get() }
    sb.toString
  }

  private def walkGroupBtree(ch: PositionedReader, addr: Long, heap: ByteBuffer,
      out: scala.collection.mutable.ArrayBuffer[(String, Long)],
      depth: Int = 0): Unit = {
    require(depth < 32, "hdf5: group B-tree too deep")
    if (addr == Undef) return
    val h = readAt(ch, addr, 24)
    require(h.getInt == 0x45455254, s"hdf5: bad TREE at $addr")
    val nodeType = h.get() & 0xFF
    require(nodeType == 0, s"hdf5: B-tree node type $nodeType in group")
    val level = h.get() & 0xFF
    val used = h.getShort() & 0xFFFF
    require(used <= 65535, "hdf5: implausible btree entry count")
    val body = readAt(ch, addr + 24, (used * 2 + 1) * 8)
    body.getLong // key 0
    for (_ <- 0 until used) {
      val child = body.getLong
      body.getLong // next key
      if (level > 0) walkGroupBtree(ch, child, heap, out, depth + 1)
      else { // SNOD
        val sh = readAt(ch, child, 8)
        require(sh.getInt == 0x444F4E53, s"hdf5: bad SNOD at $child")
        sh.get() // version
        sh.get()
        val nSyms = sh.getShort() & 0xFFFF
        val entries = readAt(ch, child + 8, nSyms * 40)
        for (_ <- 0 until nSyms) {
          val nameOff = entries.getLong
          val objAddr = entries.getLong
          entries.getInt; entries.getInt
          entries.position(entries.position() + 16)
          out += ((heapString(heap, nameOff), objAddr))
        }
      }
    }
  }

  // ---------------------------------------------------------- datatypes

  case class H5Type(cls: Int, size: Int, bigEndian: Boolean, signed: Boolean)

  private def parseDatatype(b0: ByteBuffer): H5Type = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val classAndVersion = b.get() & 0xFF
    val cls = classAndVersion & 0x0F
    val bits0 = b.get() & 0xFF
    b.get(); b.get()
    val size = b.getInt
    require(size > 0 && size <= (1 << 20), s"hdf5: datatype size $size")
    H5Type(cls, size, (bits0 & 0x01) != 0,
      cls != 0 || (bits0 & 0x08) != 0)
  }

  private def dtypeOf(t: H5Type): DType = t.cls match {
    case 0 => (t.size, t.signed) match {
      case (1, true) => DType.I1; case (1, false) => DType.U1
      case (2, true) => DType.I2; case (2, false) => DType.U2
      case (4, true) => DType.I4; case (4, false) => DType.U4
      case (8, true) => DType.I8; case (8, false) => DType.U8
      case _ => throw new IllegalArgumentException(
        s"hdf5: unsupported integer width ${t.size}")
    }
    case 1 => if (t.size <= 4) DType.F4 else DType.F8
    case c => throw new IllegalArgumentException(
      s"hdf5: unsupported datatype class $c for data")
  }

  // --------------------------------------------------------- dataspace

  private def parseDims(b0: ByteBuffer): Seq[Long] = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    val rank = b.get() & 0xFF
    require(rank <= 8, s"hdf5: rank $rank too large")
    ver match {
      case 1 => b.get(); b.getInt; b.get() // flags + 5 reserved
      case 2 => b.get(); b.get()           // flags + type
      case v => throw new IllegalArgumentException(s"hdf5: dataspace v$v")
    }
    (0 until rank).map(_ => b.getLong)
  }

  // --------------------------------------------------------- attributes

  /** Attribute value: either a String or an Array[Double]. */
  case class AttVal(text: String, nums: Array[Double]) {
    def num: Double = { require(nums.nonEmpty, "empty numeric attr"); nums(0) }
  }

  def readAttributes(ch: PositionedReader, msgs: Seq[Msg]): Map[String, AttVal] =
    msgs.filter(_.typ == 0x000C).flatMap { m =>
      try Some(parseAttribute(ch, m.data)) catch {
        case _: IllegalArgumentException => None // skip exotic attr types
      }
    }.toMap

  private def pad8(n: Int): Int = (n + 7) & ~7

  private def parseAttribute(ch: PositionedReader, b0: ByteBuffer): (String, AttVal) = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    require(ver >= 1 && ver <= 3, s"hdf5: attribute version $ver")
    val flags = b.get() & 0xFF // reserved in v1
    require(ver == 1 || (flags & 0x03) == 0,
      "hdf5: shared attribute datatype/dataspace not supported")
    val nameSize = b.getShort() & 0xFFFF
    val dtSize = b.getShort() & 0xFFFF
    val dsSize = b.getShort() & 0xFFFF
    if (ver == 3) b.get() // name charset
    val namePad = if (ver == 1) pad8(nameSize) else nameSize
    val nameB = new Array[Byte](namePad); b.get(nameB)
    val name = new String(nameB.take(
      math.max(nameB.indexOf(0) match { case -1 => nameSize case i => i }, 0)),
      "UTF-8")
    val dtPad = if (ver == 1) pad8(dtSize) else dtSize
    val dtB = b.slice().order(ByteOrder.LITTLE_ENDIAN); dtB.limit(dtSize)
    b.position(b.position() + dtPad)
    val dsPad = if (ver == 1) pad8(dsSize) else dsSize
    val dsB = b.slice().order(ByteOrder.LITTLE_ENDIAN); dsB.limit(dsSize)
    b.position(b.position() + dsPad)
    val t = parseDatatype(dtB)
    val dims = parseDims(dsB)
    val n = dims.product.toInt max 1
    val value = t.cls match {
      case 3 => // fixed string
        val raw = new Array[Byte](t.size * n); b.get(raw)
        val z = raw.indexOf(0)
        AttVal(new String(if (z >= 0) raw.take(z) else raw, "UTF-8"), Array.empty)
      case 9 => // vlen (netCDF string attrs): sequence of (len, gheap, idx)
        val len = b.getInt
        val gheapAddr = b.getLong
        val idx = b.getInt
        AttVal(new String(globalHeapObject(ch, gheapAddr, idx).take(len), "UTF-8"),
          Array.empty)
      case 0 | 1 =>
        val raw = new Array[Byte](t.size * n); b.get(raw)
        val rb = ByteBuffer.wrap(raw).order(
          if (t.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
        AttVal("", Array.fill(n)(decodeNum(rb, t)))
      case c => throw new IllegalArgumentException(s"hdf5: attr class $c")
    }
    (name, value)
  }

  private def decodeNum(bb: ByteBuffer, t: H5Type): Double = t.cls match {
    case 1 => if (t.size <= 4) bb.getFloat().toDouble else bb.getDouble()
    case _ => (t.size, t.signed) match {
      case (1, true)  => bb.get().toDouble
      case (1, false) => (bb.get() & 0xFF).toDouble
      case (2, true)  => bb.getShort().toDouble
      case (2, false) => (bb.getShort() & 0xFFFF).toDouble
      case (4, true)  => bb.getInt().toDouble
      case (4, false) => (bb.getInt().toLong & 0xFFFFFFFFL).toDouble
      case (8, _) =>
        val l = bb.getLong()
        if (t.signed || l >= 0) l.toDouble
        else l.toDouble + 1.8446744073709552e19
      case _ => throw new IllegalArgumentException("hdf5: bad numeric size")
    }
  }

  private def globalHeapObject(ch: PositionedReader, addr: Long, idx: Int): Array[Byte] = {
    val h = readAt(ch, addr, 16)
    require(h.getInt == 0x4C4F4347, s"hdf5: bad GCOL at $addr") // "GCOL"
    h.getInt // version + reserved
    val size = h.getLong
    require(size >= 16 && size <= (1 << 26), s"hdf5: implausible GCOL size")
    val body = readAt(ch, addr + 16, (size - 16).toInt)
    while (body.remaining() >= 16) {
      val oid = body.getShort() & 0xFFFF
      body.getShort(); body.getInt
      val osize = body.getLong
      require(osize >= 0 && osize <= body.remaining(),
        "hdf5: heap object overruns collection")
      if (oid == idx) {
        val out = new Array[Byte](osize.toInt); body.get(out)
        return out
      }
      if (oid == 0) return Array.empty // free space terminator
      body.position(body.position() + pad8(osize.toInt))
    }
    throw new IllegalArgumentException(s"hdf5: heap object $idx not found")
  }

  // ------------------------------------------------------------ layout

  sealed trait Layout
  case class Contiguous(addr: Long, size: Long) extends Layout
  case class Chunked(btree: Long, chunkDims: Seq[Int]) extends Layout
  case class Compact(data: Array[Byte]) extends Layout
  /** Layout v4 (HDF5 1.10+) single-chunk index: the whole dataset is
    * one chunk at `addr`; `nbytes` >= 0 iff the filtered variant
    * (flag 0x02) carried an explicit size + mask. */
  case class ChunkedSingle(addr: Long, chunkDims: Seq[Int], nbytes: Long,
      filterMask: Int) extends Layout
  /** Layout v4 implicit index: unfiltered chunks laid out back-to-back
    * at `addr` in row-major chunk-grid order (early allocation). */
  case class ChunkedImplicit(addr: Long, chunkDims: Seq[Int]) extends Layout
  /** Layout v4 Fixed Array index (the HDF5 1.10 default for datasets
    * with fixed maximum dimensions): `addr` points at a FAHD header. */
  case class ChunkedFArray(addr: Long, chunkDims: Seq[Int],
      pageBits: Int) extends Layout
  /** Layout v4 Extensible Array index (the HDF5 1.10 default for ONE
    * unlimited dimension — netCDF-4's unlimited-time shape under
    * libver 1.10 bounds): `addr` points at an EAHD header; the five
    * creation parameters ride in the message and must agree with the
    * header's own copy. */
  case class ChunkedEArray(addr: Long, chunkDims: Seq[Int],
      maxNelmtsBits: Int, idxBlkElmts: Int, supMinPtrs: Int,
      minElmts: Int, pageBits: Int) extends Layout
  /** Layout v4 version-2 B-tree index (HDF5 1.10+, more than one
    * unlimited dimension): `addr` points at a BTHD header. */
  case class ChunkedBtree2(addr: Long, chunkDims: Seq[Int],
      nodeSize: Int) extends Layout

  private def parseLayout(b0: ByteBuffer): Layout = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    require(ver == 3 || ver == 4, s"hdf5: data layout version $ver (v3/v4)")
    (b.get() & 0xFF) match {
      case 0 =>
        val sz = b.getShort() & 0xFFFF
        val d = new Array[Byte](sz); b.get(d)
        Compact(d)
      case 1 => Contiguous(b.getLong, b.getLong)
      case 2 if ver == 3 =>
        val dim = b.get() & 0xFF
        val btree = b.getLong
        // dims include the trailing element-size dimension
        val ds = (0 until dim).map(_ => b.getInt)
        Chunked(btree, ds.init)
      case 2 =>
        // version 4 chunked (HDF5 1.10+): variable-width dims + one of
        // five chunk index types replacing the v1 B-tree
        val flags = b.get() & 0xFF
        val dim = b.get() & 0xFF
        val encLen = b.get() & 0xFF
        require(encLen >= 1 && encLen <= 8,
          s"hdf5: layout v4 dim field width $encLen")
        require(dim >= 2 && dim <= 33, s"hdf5: layout v4 dimensionality $dim")
        val ds = (0 until dim).map { _ =>
          var v = 0L
          for (k <- 0 until encLen)
            v |= (b.get() & 0xFFL) << (8 * k) // little-endian, variable width
          require(v >= 1 && v <= Int.MaxValue, s"hdf5: chunk dim $v")
          v.toInt
        }
        // dims include the trailing element-size dimension (as in v3)
        val cd = ds.init
        (b.get() & 0xFF) match {
          case 1 =>
            val (sz, mask) =
              if ((flags & 0x02) != 0) (b.getLong, b.getInt) else (-1L, 0)
            ChunkedSingle(b.getLong, cd, sz, mask)
          case 2 => ChunkedImplicit(b.getLong, cd)
          case 3 =>
            val pageBits = b.get() & 0xFF
            require(pageBits >= 1 && pageBits <= 62,
              s"hdf5: fixed-array page bits $pageBits")
            ChunkedFArray(b.getLong, cd, pageBits)
          case 4 =>
            // Extensible Array creation parameters, in the layout
            // message's documented order: Max Bits, Index Elements,
            // Min POINTERS, Min Elements, Page Bits (note the header
            // block stores min-elements before min-pointers — the
            // reader cross-checks both copies field by field)
            val maxBits = b.get() & 0xFF
            val idxElmts = b.get() & 0xFF
            val minPtrs = b.get() & 0xFF
            val minElmts = b.get() & 0xFF
            val pageBits = b.get() & 0xFF
            ChunkedEArray(b.getLong, cd, maxBits, idxElmts, minPtrs,
              minElmts, pageBits)
          case 5 =>
            // v2 B-tree creation parameters: node size, split percent,
            // merge percent, then the BTHD header address
            val nodeSize = b.getInt
            b.get(); b.get() // split / merge percents (not needed to read)
            ChunkedBtree2(b.getLong, cd, nodeSize)
          case t => throw new IllegalArgumentException(
            s"hdf5: chunk index type $t")
        }
      case c => throw new IllegalArgumentException(s"hdf5: layout class $c")
    }
  }

  /** One pipeline entry, in message (= encode-application) order.
    * id 1 = deflate, 2 = shuffle (clientData(0) = element size),
    * 3 = fletcher32. */
  case class FilterEntry(id: Int, clientData: Seq[Int])

  /** Ordered filter pipeline. Encode applies entries 0..n-1 in order,
    * so decode applies the inverse of entry n-1 first, down to entry 0.
    * filterMask bit i (chunk B-tree key) marks the i-th PIPELINE entry
    * as skipped for that chunk. */
  case class Filters(entries: Seq[FilterEntry])

  private def parseFilters(b0: ByteBuffer, elemSize: Int): Filters = {
    val b = b0.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    val n = b.get() & 0xFF
    if (ver == 1) { b.getShort(); b.getInt }
    val entries = Seq.newBuilder[FilterEntry]
    for (_ <- 0 until n) {
      val id = b.getShort() & 0xFFFF
      val nameLen =
        if (ver == 2 && id < 256) 0 else b.getShort() & 0xFFFF
      b.getShort() // flags
      val nVals = b.getShort() & 0xFFFF
      if (nameLen > 0) {
        val skip = if (ver == 1) pad8(nameLen) else nameLen
        b.position(b.position() + skip)
      }
      val vals = (0 until nVals).map(_ => b.getInt)
      if (ver == 1 && nVals % 2 == 1) b.getInt // pad
      id match {
        case 1 | 3 => entries += FilterEntry(id, vals)
        case 2 =>
          entries += FilterEntry(2,
            Seq(vals.headOption.filter(_ > 0).getOrElse(elemSize)))
        case 4 => throw new IllegalArgumentException(
          "hdf5: szip (filter 4) is permanently out of scope for this " +
            "pure-JVM reader — a CCSDS-121 Rice decoder cannot be " +
            "independently validated in this environment; repack " +
            "upstream, e.g. `h5repack -f GZIP=6 in.h5 out.h5`, before " +
            "ingest")
        case other => throw new IllegalArgumentException(
          s"hdf5: unsupported filter id $other (deflate/shuffle/fletcher32)")
      }
    }
    Filters(entries.result())
  }

  /** HDF5 fletcher32 (H5_checksum_fletcher32): big-endian 16-bit word
    * pairing, deferred 1's-complement reduction. */
  private[raster] def fletcher32(data: Array[Byte], len: Int): Int = {
    var sum1 = 0L; var sum2 = 0L
    var i = 0
    val pairs = len / 2
    var left = pairs
    while (left > 0) {
      var tlen = math.min(left, 360)
      left -= tlen
      while (tlen > 0) {
        sum1 += (((data(i) & 0xFF) << 8) | (data(i + 1) & 0xFF)).toLong
        i += 2
        sum2 += sum1
        tlen -= 1
      }
      sum1 = (sum1 & 0xFFFF) + (sum1 >>> 16)
      sum2 = (sum2 & 0xFFFF) + (sum2 >>> 16)
    }
    if (len % 2 == 1) {
      sum1 += ((data(i) & 0xFF) << 8).toLong
      sum2 += sum1
      sum1 = (sum1 & 0xFFFF) + (sum1 >>> 16)
      sum2 = (sum2 & 0xFFFF) + (sum2 >>> 16)
    }
    sum1 = (sum1 & 0xFFFF) + (sum1 >>> 16)
    sum2 = (sum2 & 0xFFFF) + (sum2 >>> 16)
    ((sum2 << 16) | sum1).toInt
  }

  /** Verify + strip the trailing 4-byte little-endian fletcher32. */
  private def defletch(raw: Array[Byte]): Array[Byte] = {
    require(raw.length >= 4, "hdf5: fletcher32 chunk shorter than checksum")
    val n = raw.length - 4
    val stored = (raw(n) & 0xFF) | ((raw(n + 1) & 0xFF) << 8) |
      ((raw(n + 2) & 0xFF) << 16) | ((raw(n + 3) & 0xFF) << 24)
    val computed = fletcher32(raw, n)
    require(stored == computed,
      f"hdf5: fletcher32 mismatch (stored 0x$stored%08x, computed 0x$computed%08x)")
    java.util.Arrays.copyOf(raw, n)
  }

  // ------------------------------------------------------------- chunks

  private def walkChunkBtree(ch: PositionedReader, addr: Long, rank: Int,
      out: scala.collection.mutable.ArrayBuffer[(Seq[Long], Long, Long, Int)],
      depth: Int = 0): Unit = {
    require(depth < 32, "hdf5: chunk B-tree too deep")
    if (addr == Undef) return
    val h = readAt(ch, addr, 24)
    require(h.getInt == 0x45455254, s"hdf5: bad chunk TREE at $addr")
    val nodeType = h.get() & 0xFF
    require(nodeType == 1, s"hdf5: B-tree node type $nodeType in chunks")
    val level = h.get() & 0xFF
    val used = h.getShort() & 0xFFFF
    h.getLong; h.getLong // siblings (in the 24-byte head only partially)
    val keySize = 8 + (rank + 1) * 8
    val body = readAt(ch, addr + 24, used * (keySize + 8) + keySize)
    for (_ <- 0 until used) {
      val nbytes = body.getInt().toLong & 0xFFFFFFFFL
      val filterMask = body.getInt
      val offs = (0 to rank).map(_ => body.getLong).init
      val child = body.getLong
      if (level > 0) walkChunkBtree(ch, child, rank, out, depth + 1)
      else out += ((offs, child, nbytes, filterMask))
    }
  }

  private def inflate(raw: Array[Byte], cap: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(math.min(cap, 1 << 20))
    val buf = new Array[Byte](65536)
    try {
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k == 0 && inf.needsInput())
          throw new IllegalArgumentException("hdf5: truncated deflate chunk")
        out.write(buf, 0, k)
        if (out.size() > cap) throw new IllegalArgumentException(
          s"hdf5: chunk inflates past its $cap-byte shape")
      }
    } finally inf.end()
    out.toByteArray
  }

  private def unshuffle(raw: Array[Byte], elem: Int): Array[Byte] = {
    if (elem <= 1) return raw
    // H5Zshuffle: only whole elements are shuffled; leftover tail bytes
    // (e.g. a trailing fletcher32 when the checksum filter precedes
    // shuffle in the pipeline) pass through unchanged
    val n = raw.length / elem
    val body = n * elem
    val out = new Array[Byte](raw.length)
    var j = 0
    var k = 0
    while (j < elem) {
      var i = 0
      while (i < n) { out(i * elem + j) = raw(k); k += 1; i += 1 }
      j += 1
    }
    System.arraycopy(raw, body, out, body, raw.length - body)
    out
  }

  // ----------------------------------------------------------- dataset

  case class Dataset(name: String, addr: Long, dims: Seq[Long], t: H5Type,
      layout: Layout, filters: Option[Filters],
      atts: Map[String, AttVal]) {
    def rank: Int = dims.length
    def dtype: DType = dtypeOf(t)
  }

  def readDataset(ch: PositionedReader, name: String, addr: Long): Option[Dataset] = {
    val msgs = readMessages(ch, addr)
    val dtM = msgs.find(_.typ == 0x0003)
    val dsM = msgs.find(_.typ == 0x0001)
    val loM = msgs.find(_.typ == 0x0008)
    if (dtM.isEmpty || dsM.isEmpty || loM.isEmpty) return None // a group
    val t = parseDatatype(dtM.get.data)
    if (t.cls != 0 && t.cls != 1) return None // string/vlen datasets: skip
    val dims = parseDims(dsM.get.data)
    val layout = parseLayout(loM.get.data)
    val filters = msgs.find(_.typ == 0x000B)
      .map(m => parseFilters(m.data, t.size))
    Some(Dataset(name, addr, dims, t, layout, filters,
      readAttributes(ch, msgs)))
  }

  /** Whole dataset decoded to doubles in C order. */
  def readData(ch: PositionedReader, d: Dataset): Array[Double] = {
    val n = d.dims.product
    require(n <= (1L << 27), s"hdf5: dataset ${d.name} too large ($n elems)")
    val elems = n.toInt
    val raw: Array[Byte] = d.layout match {
      case Compact(data) => data
      case Contiguous(addr, size) =>
        if (addr == Undef) // never written: fill
          return Array.fill(elems)(fillOf(d))
        readAt(ch, addr, size.toInt).array()
      case l if chunkDimsOf(l).isDefined =>
        return readChunked(ch, d, l)
    }
    require(raw.length >= elems * d.t.size,
      s"hdf5: dataset ${d.name} has ${raw.length} bytes, needs ${elems * d.t.size}")
    decodeAll(raw, d.t, elems)
  }

  private def fillOf(d: Dataset): Double =
    d.atts.get("_FillValue").map(_.num).getOrElse(0.0)

  private def decodeAll(raw: Array[Byte], t: H5Type, n: Int): Array[Double] = {
    val bb = ByteBuffer.wrap(raw).order(
      if (t.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    Array.fill(n)(decodeNum(bb, t))
  }

  /** Chunk dims of any chunked layout (None for non-chunked). */
  private def chunkDimsOf(l: Layout): Option[Seq[Int]] = l match {
    case Chunked(_, cd) => Some(cd)
    case ChunkedSingle(_, cd, _, _) => Some(cd)
    case ChunkedImplicit(_, cd) => Some(cd)
    case ChunkedFArray(_, cd, _) => Some(cd)
    case l: ChunkedEArray => Some(l.chunkDims)
    case l: ChunkedBtree2 => Some(l.chunkDims)
    case _ => None
  }

  /** Row-major chunk-grid geometry: per-axis chunk counts and the
    * dataset offsets of the linear chunk index `i` (the order every
    * v4 index stores its entries in — H5VM_chunk_index). */
  private def chunkGrid(dims: Seq[Long], cd: Seq[Int]): Array[Long] =
    dims.zip(cd).map { case (n, c) => (n + c - 1) / c }.toArray

  private def chunkOffsets(grid: Array[Long], cd: Seq[Int],
      idx: Long): Seq[Long] = {
    val offs = new Array[Long](grid.length)
    var r = idx
    var k = grid.length - 1
    while (k >= 0) { offs(k) = (r % grid(k)) * cd(k); r /= grid(k); k -= 1 }
    require(r == 0, s"hdf5: chunk index $idx outside the grid")
    offs.toSeq
  }

  /** Every allocated chunk of a chunked layout as
    * (dataset offsets, file address, stored bytes, filter mask) —
    * index-metadata reads only, no chunk payload is touched. */
  private def enumerateChunks(ch: PositionedReader, d: Dataset,
      layout: Layout): Seq[(Seq[Long], Long, Long, Int)] = layout match {
    case Chunked(btree, _) =>
      val chunks = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Long], Long, Long, Int)]
      walkChunkBtree(ch, btree, d.rank, chunks)
      chunks.toSeq
    case ChunkedSingle(addr, cd, sz, mask) =>
      if (addr == Undef) Seq.empty
      else {
        val grid = chunkGrid(d.dims, cd)
        require(grid.forall(_ == 1L),
          s"hdf5: single-chunk index but the grid is ${grid.mkString("x")}")
        val nbytes = if (sz >= 0) sz else cd.map(_.toLong).product * d.t.size
        Seq((Seq.fill(d.rank)(0L), addr, nbytes, mask))
      }
    case ChunkedImplicit(addr, cd) =>
      require(d.filters.isEmpty,
        "hdf5: implicit chunk index cannot carry filtered chunks")
      if (addr == Undef) Seq.empty
      else {
        val grid = chunkGrid(d.dims, cd)
        val n = grid.product
        require(n <= (1L << 24), s"hdf5: $n implicit chunks")
        val nbytes = cd.map(_.toLong).product * d.t.size
        (0L until n).map(i =>
          (chunkOffsets(grid, cd, i), addr + i * nbytes, nbytes, 0))
      }
    case ChunkedFArray(addr, cd, _) => readFixedArray(ch, d, addr, cd)
    case l: ChunkedEArray => readExtensibleArray(ch, d, l)
    case l: ChunkedBtree2 => readBtree2(ch, d, l)
    case l => throw new IllegalArgumentException(s"hdf5: not chunked: $l")
  }

  /** Fixed Array chunk index (HDF5 1.10+, fixed maximum dimensions):
    * FAHD header -> FADB data block (paged above 2^pageBits entries),
    * elements in row-major chunk-grid order. Client 0 elements are bare
    * chunk addresses; client 1 (filtered) adds the stored size and
    * filter mask. Checksums ride at the documented positions and are
    * not verified (consistent with the superblock handling). */
  private def readFixedArray(ch: PositionedReader, d: Dataset, addr: Long,
      cd: Seq[Int]): Seq[(Seq[Long], Long, Long, Int)] = {
    if (addr == Undef) return Seq.empty
    // FAHD: sig(4) version(1) client(1) entrySize(1) pageBits(1)
    //       maxEntries(8) dblkAddr(8) checksum(4)
    val hb = readAt(ch, addr, 28)
    val sig = new Array[Byte](4); hb.get(sig)
    require(sig.sameElements("FAHD".getBytes("US-ASCII")),
      s"hdf5: fixed-array header at $addr has no FAHD signature")
    val ver = hb.get() & 0xFF
    require(ver == 0, s"hdf5: fixed-array header version $ver")
    val client = hb.get() & 0xFF
    require(client == 0 || client == 1,
      s"hdf5: fixed-array client $client (0 chunks, 1 filtered chunks)")
    require((client == 1) == d.filters.nonEmpty,
      s"hdf5: fixed-array client $client disagrees with the dataset's " +
        "filter pipeline")
    val entrySize = hb.get() & 0xFF
    val pageBits = hb.get() & 0xFF
    require(pageBits >= 1 && pageBits <= 62,
      s"hdf5: fixed-array page bits $pageBits")
    val nelmts = hb.getLong
    val dblkAddr = hb.getLong
    val grid = chunkGrid(d.dims, cd)
    require(nelmts == grid.product,
      s"hdf5: fixed array holds $nelmts entries, the chunk grid " +
        s"${grid.mkString("x")} needs ${grid.product}")
    if (dblkAddr == Undef) return Seq.empty
    require(nelmts <= (1L << 24), s"hdf5: $nelmts fixed-array entries")
    val sizeLen = entrySize - 12
    if (client == 0) require(entrySize == 8,
      s"hdf5: fixed-array entry size $entrySize for bare addresses")
    else require(sizeLen >= 1 && sizeLen <= 8,
      s"hdf5: fixed-array entry size $entrySize for filtered chunks")
    val unfilteredBytes = cd.map(_.toLong).product * d.t.size

    def parse(eb: ByteBuffer, fromIdx: Long, count: Int,
        out: scala.collection.mutable.ArrayBuffer[(Seq[Long], Long, Long, Int)])
        : Unit = {
      var j = 0
      while (j < count) {
        val a = eb.getLong
        val (nbytes, mask) =
          if (client == 0) (unfilteredBytes, 0)
          else {
            var v = 0L
            for (k <- 0 until sizeLen)
              v |= (eb.get() & 0xFFL) << (8 * k)
            (v, eb.getInt)
          }
        if (a != Undef)
          out += ((chunkOffsets(grid, cd, fromIdx + j), a, nbytes, mask))
        j += 1
      }
    }

    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Long], Long, Long, Int)]
    val pageElems = 1L << math.min(pageBits, 62)
    // FADB prefix: sig(4) version(1) client(1) headerAddr(8)
    val pb = readAt(ch, dblkAddr, 14)
    val dsig = new Array[Byte](4); pb.get(dsig)
    require(dsig.sameElements("FADB".getBytes("US-ASCII")),
      s"hdf5: fixed-array data block at $dblkAddr has no FADB signature")
    require((pb.get() & 0xFF) == 0, "hdf5: fixed-array data block version")
    require((pb.get() & 0xFF) == client,
      "hdf5: data block client disagrees with the header")
    require(pb.getLong == addr,
      "hdf5: data block does not point back at its header")
    if (nelmts <= pageElems) {
      val eb = readAt(ch, dblkAddr + 14, (nelmts * entrySize).toInt)
      parse(eb, 0L, nelmts.toInt, out)
    } else {
      // paged: bitmap of initialized pages + checksum, then pages of
      // pageElems entries (last truncated), each with its own checksum
      val npages = (nelmts + pageElems - 1) / pageElems
      val bitmapBytes = ((npages + 7) / 8).toInt
      val bm = readAt(ch, dblkAddr + 14, bitmapBytes).array()
      var pageAt = dblkAddr + 14 + bitmapBytes + 4
      var p = 0L
      while (p < npages) {
        val count = math.min(pageElems, nelmts - p * pageElems).toInt
        val init = (bm((p / 8).toInt) >> (p % 8).toInt & 1) != 0
        if (init) {
          val eb = readAt(ch, pageAt, count * entrySize)
          parse(eb, p * pageElems, count, out)
        }
        pageAt += count.toLong * entrySize + 4
        p += 1
      }
    }
    out.toSeq
  }

  // ---------------- Extensible Array chunk index (1 unlimited dim) ----

  /** Super-block geometry of an Extensible Array — H5EA's doubling
    * pattern: super block u holds 2^(u/2) data blocks of
    * minElmts·2^((u+1)/2) elements each; `startIdx` is the element
    * offset of the super block's first element RELATIVE to the first
    * data-block element (the index block's inline elements come before
    * all of these). */
  private[raster] case class EaSblk(ndblks: Long, dblkNelmts: Long,
      startIdx: Long, startDblk: Long)

  private[raster] def log2Exact(v: Int, what: String): Int = {
    require(v >= 1 && Integer.bitCount(v) == 1,
      s"hdf5: $what $v is not a power of two")
    Integer.numberOfTrailingZeros(v)
  }

  private[raster] def eaSblkInfo(maxBits: Int, minElmts: Int): Array[EaSblk] = {
    val nsblks = 1 + (maxBits - log2Exact(minElmts,
      "extensible-array data block min elements"))
    require(nsblks >= 1 && nsblks <= 64,
      s"hdf5: $nsblks extensible-array super blocks")
    var startIdx = 0L; var startDblk = 0L
    Array.tabulate(nsblks) { u =>
      val s = EaSblk(1L << (u / 2), minElmts.toLong << ((u + 1) / 2),
        startIdx, startDblk)
      startIdx += s.ndblks * s.dblkNelmts; startDblk += s.ndblks
      s
    }
  }

  /** Extensible Array chunk index (HDF5 1.10+, one unlimited
    * dimension): EAHD header -> EAIB index block (inline elements +
    * direct data-block pointers + super-block pointers) -> EASB super
    * blocks -> EADB data blocks (paged above 2^pageBits elements, the
    * page-init bitmap riding in the owning super block). Elements are
    * in row-major chunk-grid order, exactly as the Fixed Array stores
    * them; client 0 = bare chunk addresses, client 1 = filtered
    * (address + stored size + filter mask). Checksums ride at the
    * documented positions and are not verified, consistent with the
    * superblock handling. Block offsets are validated as GLOBAL element
    * indexes (inline elements included) and every block carries a
    * back-pointer to the header — a foreign file that disagrees with
    * either convention fails loudly rather than misdecoding. */
  private def readExtensibleArray(ch: PositionedReader, d: Dataset,
      lm: ChunkedEArray): Seq[(Seq[Long], Long, Long, Int)] = {
    if (lm.addr == Undef) return Seq.empty
    val cd = lm.chunkDims
    val grid = chunkGrid(d.dims, cd)
    val need = grid.product
    require(need <= (1L << 24), s"hdf5: $need extensible-array chunks")
    // EAHD: sig(4) version(1) client(1) elemSize(1) maxNelmtsBits(1)
    //   idxBlkElmts(1) dataBlkMinElmts(1) supBlkMinDataPtrs(1)
    //   maxDblkPageNelmtsBits(1) | six 8-byte statistics | iblkAddr(8)
    //   checksum(4). The header stores min-ELEMENTS before
    //   min-POINTERS (the layout message is the other way around);
    //   the equality check below turns a misread of either order into
    //   a loud failure.
    val hb = readAt(ch, lm.addr, 72)
    val sig = new Array[Byte](4); hb.get(sig)
    require(sig.sameElements("EAHD".getBytes("US-ASCII")),
      s"hdf5: extensible-array header at ${lm.addr} has no EAHD signature")
    require((hb.get() & 0xFF) == 0, "hdf5: extensible-array header version")
    val client = hb.get() & 0xFF
    require(client == 0 || client == 1,
      s"hdf5: extensible-array client $client (0 chunks, 1 filtered chunks)")
    require((client == 1) == d.filters.nonEmpty,
      s"hdf5: extensible-array client $client disagrees with the " +
        "dataset's filter pipeline")
    val elemSize = hb.get() & 0xFF
    val maxBits = hb.get() & 0xFF
    val idxElmts = hb.get() & 0xFF
    val minElmts = hb.get() & 0xFF
    val minPtrs = hb.get() & 0xFF
    val pageBits = hb.get() & 0xFF
    require(maxBits == lm.maxNelmtsBits && idxElmts == lm.idxBlkElmts &&
      minPtrs == lm.supMinPtrs && minElmts == lm.minElmts &&
      pageBits == lm.pageBits,
      s"hdf5: extensible-array header parameters ($maxBits, $idxElmts, " +
        s"$minPtrs, $minElmts, $pageBits) disagree with the layout " +
        s"message (${lm.maxNelmtsBits}, ${lm.idxBlkElmts}, " +
        s"${lm.supMinPtrs}, ${lm.minElmts}, ${lm.pageBits})")
    require(maxBits >= 1 && maxBits <= 64,
      s"hdf5: extensible-array max element bits $maxBits")
    hb.position(hb.position() + 48) // block/element statistics
    val iblkAddr = hb.getLong
    if (iblkAddr == Undef) return Seq.empty

    val sizeLen = elemSize - 12
    if (client == 0) require(elemSize == 8,
      s"hdf5: extensible-array element size $elemSize for bare addresses")
    else require(sizeLen >= 1 && sizeLen <= 8,
      s"hdf5: extensible-array element size $elemSize for filtered chunks")
    val unfilteredBytes = cd.map(_.toLong).product * d.t.size
    val arrOffSize = (maxBits + 7) / 8
    val pageNelmts = 1L << math.min(pageBits, 62)
    val sblks = eaSblkInfo(maxBits, minElmts)
    val nsblksDirect = 2 * log2Exact(minPtrs,
      "extensible-array super block min data pointers")
    require(nsblksDirect <= sblks.length,
      s"hdf5: extensible-array geometry holds ${sblks.length} super " +
        s"blocks, fewer than the $nsblksDirect covered by the index block")
    val nDirDblks = sblks.take(nsblksDirect).map(_.ndblks).sum.toInt
    require(nDirDblks == 2 * (minPtrs - 1),
      s"hdf5: extensible-array index block holds $nDirDblks direct data " +
        s"blocks, expected ${2 * (minPtrs - 1)}")
    val nsblkAddrs = sblks.length - nsblksDirect

    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Long], Long, Long, Int)]
    def element(eb: ByteBuffer): (Long, Long, Int) = {
      val a = eb.getLong
      if (client == 0) (a, unfilteredBytes, 0)
      else {
        var v = 0L
        for (k <- 0 until sizeLen) v |= (eb.get() & 0xFFL) << (8 * k)
        (a, v, eb.getInt)
      }
    }
    def emit(globalIdx: Long, a: Long, nb: Long, mask: Int): Unit =
      if (globalIdx < need)
        { if (a != Undef) out += ((chunkOffsets(grid, cd, globalIdx), a, nb, mask)) }
      else require(a == Undef,
        s"hdf5: extensible-array element $globalIdx outside the " +
          s"${grid.mkString("x")} chunk grid is allocated")
    def offField(bb: ByteBuffer): Long = {
      var v = 0L
      for (k <- 0 until arrOffSize) v |= (bb.get() & 0xFFL) << (8 * k)
      v
    }

    /** One data block holding `nelmts` element slots whose first slot
      * is global element `startElem`; `pageInit(p)` gates paged reads. */
    def readDblk(at: Long, startElem: Long, nelmts: Long,
        pageInit: Int => Boolean): Unit = {
      val pre = readAt(ch, at, 14 + arrOffSize)
      val s4 = new Array[Byte](4); pre.get(s4)
      require(s4.sameElements("EADB".getBytes("US-ASCII")),
        s"hdf5: extensible-array data block at $at has no EADB signature")
      require((pre.get() & 0xFF) == 0,
        "hdf5: extensible-array data block version")
      require((pre.get() & 0xFF) == client,
        "hdf5: data block client disagrees with the header")
      require(pre.getLong == lm.addr,
        "hdf5: data block does not point back at its header")
      val boff = offField(pre)
      require(boff == startElem,
        s"hdf5: data block at $at has block offset $boff, expected $startElem")
      if (nelmts <= pageNelmts) {
        val eb = readAt(ch, at + 14 + arrOffSize, (nelmts * elemSize).toInt)
        var j = 0L
        while (j < nelmts) {
          val (a, nb, m) = element(eb); emit(startElem + j, a, nb, m); j += 1
        }
      } else {
        require(nelmts % pageNelmts == 0,
          s"hdf5: paged data block of $nelmts elements does not divide " +
            s"into $pageNelmts-element pages")
        val npages = (nelmts / pageNelmts).toInt
        // paged shape: prefix + its checksum, then fixed-size pages of
        // pageNelmts elements + per-page checksum (uninitialized pages
        // occupy their slot but are never read)
        var pageAt = at + 14 + arrOffSize + 4
        for (p <- 0 until npages) {
          if (pageInit(p)) {
            val eb = readAt(ch, pageAt, (pageNelmts * elemSize).toInt)
            var j = 0L
            while (j < pageNelmts) {
              val (a, nb, m) = element(eb)
              emit(startElem + p * pageNelmts + j, a, nb, m); j += 1
            }
          }
          pageAt += pageNelmts * elemSize + 4
        }
      }
    }

    // EAIB: sig(4) version(1) client(1) headerAddr(8), idxElmts inline
    // element slots, nDirDblks data-block addresses, nsblkAddrs super-
    // block addresses, checksum(4) — fixed size, Undef where unset
    val iblkSize = 14 + idxElmts * elemSize + (nDirDblks + nsblkAddrs) * 8 + 4
    val ib = readAt(ch, iblkAddr, iblkSize)
    val is4 = new Array[Byte](4); ib.get(is4)
    require(is4.sameElements("EAIB".getBytes("US-ASCII")),
      s"hdf5: extensible-array index block at $iblkAddr has no EAIB signature")
    require((ib.get() & 0xFF) == 0, "hdf5: extensible-array index block version")
    require((ib.get() & 0xFF) == client,
      "hdf5: index block client disagrees with the header")
    require(ib.getLong == lm.addr,
      "hdf5: index block does not point back at its header")
    for (j <- 0 until idxElmts) {
      val (a, nb, m) = element(ib); emit(j.toLong, a, nb, m)
    }
    val dirDblkAddrs = Array.fill(nDirDblks)(ib.getLong)
    val sblkAddrs = Array.fill(nsblkAddrs)(ib.getLong)

    for (g <- 0 until nDirDblks; if dirDblkAddrs(g) != Undef) {
      val s = sblks(sblks.lastIndexWhere(_.startDblk <= g))
      require(s.dblkNelmts <= pageNelmts,
        "hdf5: paged data block pointed directly from the index block " +
          "not supported")
      readDblk(dirDblkAddrs(g),
        idxElmts + s.startIdx + (g - s.startDblk) * s.dblkNelmts,
        s.dblkNelmts, _ => true)
    }

    // EASB: sig(4) version(1) client(1) headerAddr(8)
    //   blockOffset(arrOffSize) [page-init bitmap when its data blocks
    //   are paged] ndblks data-block addresses, checksum(4)
    for (k <- 0 until nsblkAddrs; if sblkAddrs(k) != Undef) {
      val s = sblks(nsblksDirect + k)
      val paged = s.dblkNelmts > pageNelmts
      val npgs = if (paged) {
        require(s.dblkNelmts % pageNelmts == 0,
          s"hdf5: paged data block of ${s.dblkNelmts} elements does not " +
            s"divide into $pageNelmts-element pages")
        (s.dblkNelmts / pageNelmts).toInt
      } else 0
      val bmBytes = if (paged) ((s.ndblks * npgs + 7) / 8).toInt else 0
      val sbSize = 14 + arrOffSize + bmBytes + s.ndblks.toInt * 8 + 4
      val sb = readAt(ch, sblkAddrs(k), sbSize)
      val ss4 = new Array[Byte](4); sb.get(ss4)
      require(ss4.sameElements("EASB".getBytes("US-ASCII")),
        s"hdf5: extensible-array super block at ${sblkAddrs(k)} has no " +
          "EASB signature")
      require((sb.get() & 0xFF) == 0,
        "hdf5: extensible-array super block version")
      require((sb.get() & 0xFF) == client,
        "hdf5: super block client disagrees with the header")
      require(sb.getLong == lm.addr,
        "hdf5: super block does not point back at its header")
      val boff = offField(sb)
      require(boff == idxElmts + s.startIdx,
        s"hdf5: super block at ${sblkAddrs(k)} has block offset $boff, " +
          s"expected ${idxElmts + s.startIdx}")
      val bm = new Array[Byte](bmBytes); sb.get(bm)
      val dblkAddrs = Array.fill(s.ndblks.toInt)(sb.getLong)
      for (j <- dblkAddrs.indices; if dblkAddrs(j) != Undef)
        readDblk(dblkAddrs(j),
          idxElmts + s.startIdx + j * s.dblkNelmts, s.dblkNelmts,
          p => (bm((j * npgs + p) / 8) >> ((j * npgs + p) % 8) & 1) != 0)
    }
    out.toSeq
  }

  // ---------------- v2 B-tree chunk index (>1 unlimited dim) ---------

  /** Bytes needed to encode values up to `limit` (H5VM_limit_enc_size:
    * floor(log2(limit))/8 + 1). */
  private def limitEncSize(limit: Long): Int = {
    require(limit >= 1, s"hdf5: v2 B-tree record capacity $limit")
    (63 - java.lang.Long.numberOfLeadingZeros(limit)) / 8 + 1
  }

  /** v2 B-tree chunk index (HDF5 1.10+, more than one unlimited
    * dimension): BTHD header -> BTLF leaf (depth 0) or one BTIN
    * internal level over leaves (depth 1; deeper trees fail loudly by
    * name). Record type 10 = unfiltered chunks (address + SCALED
    * offsets, i.e. chunk-grid coordinates), type 11 = filtered
    * (+ stored size + filter mask). Internal nodes store all records
    * first, then the child node pointers (address + record count in
    * the minimal byte width for a leaf's capacity). The total-record
    * count in the header must equal the records walked — a structural
    * mismatch is loud. */
  private def readBtree2(ch: PositionedReader, d: Dataset,
      lm: ChunkedBtree2): Seq[(Seq[Long], Long, Long, Int)] = {
    if (lm.addr == Undef) return Seq.empty
    val cd = lm.chunkDims
    val grid = chunkGrid(d.dims, cd)
    // BTHD: sig(4) version(1) type(1) nodeSize(4) recordSize(2)
    //   depth(2) splitPercent(1) mergePercent(1) rootAddr(8)
    //   rootNrec(2) totalNrec(8) checksum(4)
    val hb = readAt(ch, lm.addr, 38)
    val sig = new Array[Byte](4); hb.get(sig)
    require(sig.sameElements("BTHD".getBytes("US-ASCII")),
      s"hdf5: v2 B-tree header at ${lm.addr} has no BTHD signature")
    require((hb.get() & 0xFF) == 0, "hdf5: v2 B-tree header version")
    val rtype = hb.get() & 0xFF
    require(rtype == 10 || rtype == 11,
      s"hdf5: v2 B-tree record type $rtype (10 unfiltered / 11 filtered " +
        "dataset chunks)")
    require((rtype == 11) == d.filters.nonEmpty,
      s"hdf5: v2 B-tree record type $rtype disagrees with the dataset's " +
        "filter pipeline")
    val nodeSize = hb.getInt
    require(nodeSize == lm.nodeSize,
      s"hdf5: v2 B-tree node size $nodeSize disagrees with the layout " +
        s"message (${lm.nodeSize})")
    val recSize = hb.getShort & 0xFFFF
    val depth = hb.getShort & 0xFFFF
    hb.get(); hb.get() // split / merge percents
    val rootAddr = hb.getLong
    val rootNrec = hb.getShort & 0xFFFF
    val totalNrec = hb.getLong
    if (rootAddr == Undef) return Seq.empty
    require(depth <= 16,
      s"hdf5: v2 B-tree depth $depth (a sane tree of 2^24 records " +
        "never exceeds a handful of levels)")
    val rank = d.rank
    val sizeLen = recSize - 12 - 8 * rank
    if (rtype == 10) require(recSize == 8 + 8 * rank,
      s"hdf5: v2 B-tree record size $recSize for rank-$rank unfiltered chunks")
    else require(sizeLen >= 1 && sizeLen <= 8,
      s"hdf5: v2 B-tree record size $recSize for rank-$rank filtered chunks")
    val unfilteredBytes = cd.map(_.toLong).product * d.t.size
    val leafCap = (nodeSize - 10) / recSize
    require(leafCap >= 1, s"hdf5: v2 B-tree node size $nodeSize holds no " +
      s"$recSize-byte records")
    require(totalNrec <= (1L << 24), s"hdf5: $totalNrec v2 B-tree records")
    // per-level node geometry (H5B2 header math): a pointer to a child
    // at level L-1 is (address, child nrec, and — when the child is
    // itself internal — the child's cumulative subtree record count),
    // with the two counters encoded in exactly enough bytes for their
    // level's maxima. These widths are what make depth >= 2 walkable:
    // they change per level, so a fixed leaf-width reader cannot
    // descend further than one internal level.
    val maxNrec = new Array[Long](depth + 1)
    val cumMax = new Array[Long](depth + 1)
    maxNrec(0) = leafCap; cumMax(0) = leafCap
    def ptrWidth(childLevel: Int): Int =
      8 + limitEncSize(maxNrec(childLevel)) +
        (if (childLevel > 0) limitEncSize(cumMax(childLevel)) else 0)
    for (lvl <- 1 to depth) {
      val pw = ptrWidth(lvl - 1)
      maxNrec(lvl) = (nodeSize - 10 - pw).toLong / (recSize + pw)
      require(maxNrec(lvl) >= 1,
        s"hdf5: v2 B-tree node size $nodeSize holds no records at " +
          s"level $lvl")
      cumMax(lvl) = (maxNrec(lvl) + 1) * cumMax(lvl - 1) + maxNrec(lvl)
    }

    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Long], Long, Long, Int)]
    def record(bb: ByteBuffer): Unit = {
      val a = bb.getLong
      require(a != Undef, "hdf5: v2 B-tree chunk record with an " +
        "undefined address")
      val (nb, mask) =
        if (rtype == 10) (unfilteredBytes, 0)
        else {
          var v = 0L
          for (k <- 0 until sizeLen) v |= (bb.get() & 0xFFL) << (8 * k)
          (v, bb.getInt)
        }
      val offs = Seq.tabulate(rank) { k =>
        val scaled = bb.getLong
        require(scaled >= 0 && scaled < grid(k),
          s"hdf5: v2 B-tree chunk at scaled offset $scaled outside axis " +
            s"$k of the ${grid.mkString("x")} chunk grid")
        scaled * cd(k)
      }
      out += ((offs, a, nb, mask))
    }
    def leaf(at: Long, nrec: Int): Unit = {
      val bb = readAt(ch, at, 6 + nrec * recSize + 4)
      val s4 = new Array[Byte](4); bb.get(s4)
      require(s4.sameElements("BTLF".getBytes("US-ASCII")),
        s"hdf5: v2 B-tree leaf at $at has no BTLF signature")
      require((bb.get() & 0xFF) == 0, "hdf5: v2 B-tree leaf version")
      require((bb.get() & 0xFF) == rtype,
        "hdf5: leaf record type disagrees with the header")
      for (_ <- 0 until nrec) record(bb)
    }
    def walk(at: Long, nrec: Int, level: Int): Unit =
      if (level == 0) leaf(at, nrec)
      else {
        // BTIN: sig(4) version(1) type(1), nrec records, then nrec+1
        // child pointers (address, child nrec [, child subtree total
        // when the child is internal]), checksum
        val pw = ptrWidth(level - 1)
        val nrecW = limitEncSize(maxNrec(level - 1))
        val totW = if (level - 1 > 0) limitEncSize(cumMax(level - 1)) else 0
        val sz = 6 + nrec * recSize + (nrec + 1) * pw + 4
        val bb = readAt(ch, at, sz)
        val s4 = new Array[Byte](4); bb.get(s4)
        require(s4.sameElements("BTIN".getBytes("US-ASCII")),
          s"hdf5: v2 B-tree internal node at $at has no BTIN signature")
        require((bb.get() & 0xFF) == 0, "hdf5: v2 B-tree internal version")
        require((bb.get() & 0xFF) == rtype,
          "hdf5: internal record type disagrees with the header")
        val sepAt = out.length
        for (_ <- 0 until nrec) record(bb)
        val seps = out.slice(sepAt, sepAt + nrec).toList
        out.remove(sepAt, nrec)
        val children = Seq.fill(nrec + 1) {
          val a = bb.getLong
          var cn = 0L
          for (k <- 0 until nrecW) cn |= (bb.get() & 0xFFL) << (8 * k)
          var tot = 0L
          for (k <- 0 until totW) tot |= (bb.get() & 0xFFL) << (8 * k)
          (a, cn.toInt, tot)
        }
        children.zipWithIndex.foreach { case ((a, cn, tot), i) =>
          require(a != Undef, "hdf5: v2 B-tree child pointer with an " +
            "undefined address")
          require(cn >= 1 && cn <= maxNrec(level - 1),
            s"hdf5: v2 B-tree child holds $cn records (level " +
              s"${level - 1} capacity ${maxNrec(level - 1)})")
          require(totW == 0 || (tot >= cn && tot <= cumMax(level - 1)),
            s"hdf5: v2 B-tree child subtree of $tot records exceeds its " +
              s"level's ${cumMax(level - 1)} capacity")
          val before = out.length
          walk(a, cn, level - 1)
          require(totW == 0 || out.length - before == tot,
            s"hdf5: v2 B-tree child subtree walked ${out.length - before} " +
              s"records, its pointer promises $tot")
          if (i < seps.length) out += seps(i)
        }
      }
    walk(rootAddr, rootNrec, depth)
    require(out.length.toLong == totalNrec,
      s"hdf5: v2 B-tree walked ${out.length} records, the header " +
        s"promises $totalNrec")
    out.toSeq
  }

  private def readChunked(ch: PositionedReader, d: Dataset, layout: Layout,
      keep: Seq[Long] => Boolean = _ => true): Array[Double] = {
    val chunkDims = chunkDimsOf(layout).getOrElse(
      throw new IllegalArgumentException(s"hdf5: not a chunked layout"))
    require(chunkDims.length == d.rank,
      s"hdf5: chunk rank ${chunkDims.length} != dataset rank ${d.rank}")
    val n = d.dims.product.toInt
    val out = Array.fill(n)(fillOf(d))
    val chunks = enumerateChunks(ch, d, layout)
    val chunkElems = chunkDims.map(_.toLong).product
    require(chunkElems <= (1L << 27), "hdf5: chunk too large")
    val expect = (chunkElems * d.t.size).toInt
    val strides = d.dims.scanRight(1L)(_ * _).tail // C-order strides
    chunks.filter(c => keep(c._1)).foreach { case (offs, addr, nbytes, filterMask) =>
      var raw = readAt(ch, addr, nbytes.toInt).array()
      d.filters.foreach { f =>
        // inverse filters in reverse pipeline order; mask bit i skips
        // the i-th pipeline entry for this chunk
        for (i <- f.entries.indices.reverse if (filterMask & (1 << i)) == 0) {
          f.entries(i) match {
            case FilterEntry(1, _) => raw = inflate(raw, expect + 64)
            case FilterEntry(2, cd) => raw = unshuffle(raw, cd.head)
            case FilterEntry(3, _) => raw = defletch(raw)
            case FilterEntry(id, _) => throw new IllegalArgumentException(
              s"hdf5: unsupported filter id $id in pipeline")
          }
        }
      }
      require(raw.length >= expect,
        s"hdf5: chunk at $addr has ${raw.length} bytes, needs $expect")
      val vals = decodeAll(raw, d.t, chunkElems.toInt)
      // scatter the (possibly edge-padded) chunk into the C-order output
      val cd = chunkDims.toArray
      val within = new Array[Int](d.rank)
      var i = 0
      while (i < chunkElems) {
        var inside = true
        var base = 0L
        var k = 0
        while (k < d.rank) {
          val gi = offs(k) + within(k)
          if (gi >= d.dims(k)) inside = false
          base += gi * strides(k)
          k += 1
        }
        if (inside) out(base.toInt) = vals(i)
        // increment within (row-major)
        var j = d.rank - 1
        var carry = true
        while (carry && j >= 0) {
          within(j) += 1
          if (within(j) == cd(j)) { within(j) = 0; j -= 1 }
          else carry = false
        }
        i += 1
      }
    }
    out
  }

  // ------------------------------------------------------------ netCDF-4

  /** Open a NetCDF-4 (HDF5) raster stack as the same Meta-like data the
    * classic codec produces. */
  case class Meta(dataVar: Dataset, w: Int, h: Int, timesMs: Seq[Long],
      cellSize: Double, originX: Double, originY: Double,
      yAscending: Boolean, noDataRaw: Double, scale: Double, offset: Double,
      projection: String) {
    def scaled: Boolean = scale != 1.0 || offset != 0.0
    def noData: Double = if (scaled) DType.F8.noDataValue else noDataRaw
    def outDtype: DType = if (scaled) DType.F8 else dataVar.dtype
  }

  private def isDimScaleTagged(d: Dataset): Boolean =
    d.rank == 1 && d.atts.get("CLASS").exists(_.text.startsWith("DIM_SCALE"))

  /** Coordinate candidates: datasets explicitly tagged with the HDF5
    * dimension-scale convention (CLASS = "DIM_SCALE") when any exist —
    * tagging disambiguates auxiliary 1-D variables — otherwise every
    * 1-D sibling. */
  private def coordCandidates(dsets: Seq[Dataset]): Seq[Dataset] = {
    val tagged = dsets.filter(isDimScaleTagged)
    if (tagged.nonEmpty) tagged else dsets.filter(_.rank == 1)
  }

  /** Pick coordinate datasets for the data variable's axes: match by
    * LENGTH, break ties by name convention (x/lon/…, y/lat/…, time/t). */
  private def axisCoord(cands: Seq[Dataset], len: Long,
      names: Seq[String], what: String, path: String): Dataset = {
    val byLen = cands.filter(_.dims.head == len)
    require(byLen.nonEmpty,
      s"$path: no 1-D coordinate of length $len for the $what axis")
    if (byLen.length == 1) byLen.head
    else byLen.find(c => names.contains(c.name.toLowerCase)).getOrElse(
      throw new IllegalArgumentException(
        s"$path: ambiguous $what coordinate among ${byLen.map(_.name)}"))
  }

  private val xNames = Seq("x", "lon", "longitude", "easting")
  private val yNames = Seq("y", "lat", "latitude", "northing")
  private val tNames = Seq("time", "t", "date")

  def readMeta(ch: PositionedReader, path: String, projectionArg: String = "",
      varName: String = ""): Meta = {
    val root = rootAddress(ch)
    val links = groupLinks(ch, root)
    require(links.nonEmpty, s"$path: empty HDF5 root group")
    val dsets = links.flatMap { case (nm, ad) => readDataset(ch, nm, ad) }
    val coords = coordCandidates(dsets)
    val dataVar =
      if (varName.nonEmpty) dsets.find(_.name == varName).getOrElse(
        throw new IllegalArgumentException(s"$path: no dataset '$varName'"))
      else dsets.find(d => (d.rank == 2 || d.rank == 3) &&
          !d.atts.contains("spatial_ref") && !d.atts.contains("crs_wkt"))
        .getOrElse(throw new IllegalArgumentException(
          s"$path: no 2-D/3-D data variable found"))
    require(dataVar.rank == 2 || dataVar.rank == 3,
      s"$path: variable ${dataVar.name} is not 2-D/3-D")
    val w = dataVar.dims.last.toInt
    val hh = dataVar.dims(dataVar.rank - 2).toInt
    require(w > 0 && hh > 0, s"$path: empty grid $w×$hh")
    val others = coords.filterNot(_.name == dataVar.name)
    val xC = axisCoord(others, w, xNames, "x", path)
    val yC = axisCoord(others.filterNot(_ eq xC), hh, yNames, "y", path)
    val xs = readData(ch, xC)
    val ys = readData(ch, yC)

    def uniformStep(a: Array[Double], what: String): Double = {
      require(a.nonEmpty, s"$path: empty $what coordinates")
      if (a.length == 1) 0.0
      else {
        val d0 = a(1) - a(0)
        require(d0 != 0.0, s"$path: zero $what spacing")
        var i = 2
        while (i < a.length) {
          require(math.abs((a(i) - a(i - 1)) - d0) <= 1e-6 * math.abs(d0),
            s"$path: non-uniform $what spacing (regular grid required)")
          i += 1
        }
        d0
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
    val originX = xs(0) - cell / 2
    val originY = (if (yAsc) ys(hh - 1) else ys(0)) + cell / 2

    val timesMs: Seq[Long] =
      if (dataVar.rank == 3) {
        val tLen = dataVar.dims.head
        val tC = axisCoord(others.filterNot(c => (c eq xC) || (c eq yC)),
          tLen, tNames, "time", path)
        val units = tC.atts.get("units").map(_.text).getOrElse(
          throw new IllegalArgumentException(
            s"$path: time variable '${tC.name}' has no CF units attribute"))
        NetCdf.parseCfTimes(units, readData(ch, tC))
      } else Seq(0L)

    val atts = dataVar.atts
    val scale = atts.get("scale_factor").map(_.num).getOrElse(1.0)
    val offset = atts.get("add_offset").map(_.num).getOrElse(1.0 - 1.0)
    val fill = atts.get("_FillValue").orElse(atts.get("missing_value"))
      .map(_.num).getOrElse(dataVar.dtype.noDataValue)
    val projection = atts.get("grid_mapping").map(_.text)
      .flatMap(gm => dsets.find(_.name == gm))
      .flatMap(gmv => gmv.atts.get("spatial_ref").orElse(
        gmv.atts.get("crs_wkt")))
      .map(a => Proj.normalize(a.text)) match {
      case Some(p) => p
      case None =>
        val xUnits = xC.atts.get("units").map(_.text.toLowerCase).getOrElse("")
        if (xUnits.startsWith("degree")) "EPSG:4326"
        else GridFiles.resolveProjection(path, projectionArg)
    }
    Meta(dataVar, w, hh, timesMs, cell, originX, originY, yAsc,
      fill, scale, offset, projection)
  }

  /** Decode ONLY the requested frames, touching only the chunks whose
    * time range intersects them (chunked 3-D layouts; other layouts
    * fall back to the full read). `frames` indexes `timesMs`.
    * `window` — (y0, y1, x0, x1), half-open, ENGINE pixel coordinates —
    * additionally prunes to the chunks intersecting that region (the
    * DSv2 spatial pushdown); pixels outside it are left unfilled and
    * must not be consumed. */
  def readFrames(ch: PositionedReader, m: Meta, frames: Seq[Int],
      window: Option[(Int, Int, Int, Int)] = None): Seq[Array[Double]] = {
    val d = m.dataVar
    val sel = frames.toSet
    val raw: Array[Double] = d.layout match {
      case l if chunkDimsOf(l).isDefined && d.rank == 3 =>
        val cd = chunkDimsOf(l).get
        val cT = cd.head
        val keepYx: Seq[Long] => Boolean = window match {
          case None => _ => true
          case Some((y0, y1, x0, x1)) =>
            // engine window -> FILE row range (ascending-y files store
            // the engine's top rows last)
            val (fy0, fy1) =
              if (m.yAscending) (m.h - y1, m.h - y0) else (y0, y1)
            offs => offs(1) < fy1 && offs(1) + cd(1) > fy0 &&
              offs(2) < x1 && offs(2) + cd(2) > x0
        }
        readChunked(ch, d, l,
          offs => (offs.head until offs.head + cT).exists(t => sel(t.toInt)) &&
            keepYx(offs))
      case _ => readData(ch, d)
    }
    val px = m.w * m.h
    frames.map { f =>
      val band = new Array[Double](px)
      var row = 0
      while (row < m.h) {
        val srcRow = if (m.yAscending) m.h - 1 - row else row
        var cx = 0
        while (cx < m.w) {
          val v = raw(f * px + srcRow * m.w + cx)
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
    val raw = readData(ch, m.dataVar)
    val px = m.w * m.h
    val nFrames = m.timesMs.length
    require(raw.length == px.toLong * nFrames,
      s"hdf5: payload ${raw.length} != ${px.toLong * nFrames}")
    (0 until nFrames).map { f =>
      val band = new Array[Double](px)
      var row = 0
      while (row < m.h) {
        val srcRow = if (m.yAscending) m.h - 1 - row else row
        var cx = 0
        while (cx < m.w) {
          val v = raw(f * px + srcRow * m.w + cx)
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
}

/** Minimal HDF5 writer producing NetCDF-4-shaped stacks the world's
  * HDF5 stack (h5py/xarray/GDAL) can open: v0 superblock, v1 object
  * headers, ONE old-style root group, contiguous f8 coordinate datasets,
  * a chunked+deflate data variable (chunk B-tree v1), fixed-string and
  * double attributes carrying the CF metadata (units, _FillValue,
  * grid_mapping → a `crs` dataset with the spatial_ref WKT). Assembled
  * byte-by-byte from the public format spec — no HDF5 library exists in
  * this container. */
object Hdf5Write {

  private val Undef = -1L
  private def pad8(n: Int): Int = (n + 7) & ~7

  private class Buf {
    private var arr = new Array[Byte](1 << 16)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        val nb = new Array[Byte](math.max(arr.length * 2, len + n))
        System.arraycopy(arr, 0, nb, 0, len); arr = nb
      }
    def pos: Long = len.toLong
    def bytes(b: Array[Byte]): Long = {
      ensure(b.length); val at = len
      System.arraycopy(b, 0, arr, len, b.length); len += b.length
      at.toLong
    }
    def u8(v: Int): Unit = { ensure(1); arr(len) = v.toByte; len += 1 }
    def u16(v: Int): Unit = bytes(le(2)(_.putShort(v.toShort)))
    def u32(v: Int): Unit = bytes(le(4)(_.putInt(v)))
    def u64(v: Long): Unit = bytes(le(8)(_.putLong(v)))
    def patch64(at: Long, v: Long): Unit =
      System.arraycopy(le(8)(_.putLong(v)), 0, arr, at.toInt, 8)
    def patch16(at: Long, v: Int): Unit =
      System.arraycopy(le(2)(_.putShort(v.toShort)), 0, arr, at.toInt, 2)
    def pad(to: Int): Unit = while (len % to != 0) u8(0)
    def result: Array[Byte] = arr.take(len)
  }

  private def le(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    f(b); b.array()
  }

  private def msg(typ: Int, body: Array[Byte]): Array[Byte] = {
    val size = pad8(body.length)
    le(8 + size) { b =>
      b.putShort(typ.toShort); b.putShort(size.toShort)
      b.putInt(0); b.put(body)
    }
  }

  private def dataspace(dims: Seq[Long]): Array[Byte] =
    le(8 + dims.length * 8) { b =>
      b.put(1.toByte); b.put(dims.length.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); dims.foreach(b.putLong)
    }

  private def dtFixed(size: Int, signed: Boolean): Array[Byte] =
    le(12) { b =>
      b.put((0x10 | 0).toByte)
      b.put((if (signed) 8 else 0).toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(size); b.putShort(0); b.putShort((size * 8).toShort)
    }

  private def dtFloat(size: Int): Array[Byte] =
    le(20) { b =>
      b.put((0x10 | 1).toByte); b.put(0x20.toByte); b.put(0x3F.toByte)
      b.put(0.toByte); b.putInt(size)
      if (size == 8) {
        b.putShort(0); b.putShort(64)
        b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte)
        b.putInt(1023)
      } else {
        b.putShort(0); b.putShort(32)
        b.put(23.toByte); b.put(8.toByte); b.put(0.toByte); b.put(23.toByte)
        b.putInt(127)
      }
    }

  private def dtOf(dt: DType): Array[Byte] =
    if (dt.isFloat) dtFloat(dt.size) else dtFixed(dt.size, dt.kind == 'i')

  private def dtString(size: Int): Array[Byte] =
    le(8) { b =>
      b.put((0x10 | 3).toByte); b.put(0.toByte); b.put(0.toByte)
      b.put(0.toByte); b.putInt(size)
    }

  private def attr(name: String, dt: Array[Byte], ds: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    val nm = name.getBytes("UTF-8") :+ 0.toByte
    le(8 + pad8(nm.length) + pad8(dt.length) + pad8(ds.length) + data.length) { b =>
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(nm.length.toShort)
      b.putShort(dt.length.toShort)
      b.putShort(ds.length.toShort)
      b.put(nm); b.put(new Array[Byte](pad8(nm.length) - nm.length))
      b.put(dt); b.put(new Array[Byte](pad8(dt.length) - dt.length))
      b.put(ds); b.put(new Array[Byte](pad8(ds.length) - ds.length))
      b.put(data)
    }
  }

  private def strAttr(name: String, v: String): Array[Byte] = {
    val s = v.getBytes("UTF-8") :+ 0.toByte
    attr(name, dtString(s.length), dataspace(Nil), s)
  }

  private def dblAttr(name: String, v: Double): Array[Byte] =
    attr(name, dtFloat(8), dataspace(Nil), le(8)(_.putDouble(v)))

  private def objectHeader(b: Buf, msgs: Seq[Array[Byte]]): Long = {
    b.pad(8)
    val at = b.pos
    b.u8(1); b.u8(0); b.u16(msgs.length); b.u32(1)
    b.u32(msgs.map(_.length).sum); b.u32(0)
    msgs.foreach(b.bytes)
    at
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](65536)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end(); out.toByteArray
  }

  private def encode(vals: Array[Double], dt: DType): Array[Byte] =
    le(vals.length * dt.size) { bb =>
      vals.foreach { v =>
        dt match {
          case DType.Bool | DType.I1 | DType.U1 =>
            bb.put(math.rint(v).toInt.toByte)
          case DType.I2 | DType.U2 => bb.putShort(math.rint(v).toInt.toShort)
          case DType.I4 | DType.U4 => bb.putInt(math.rint(v).toLong.toInt)
          case DType.I8 | DType.U8 => bb.putLong(math.rint(v).toLong)
          case DType.F4            => bb.putFloat(v.toFloat)
          case _                   => bb.putDouble(v)
        }
      }
    }

  /** Write a (time,y,x) stack as one NetCDF-4-shaped HDF5 file. */
  /** `chunkIndex` selects the data variable's chunk index encoding:
    * "btree1" (v3 layout + v1 chunk B-tree, the pre-1.10 shape),
    * "farray" (v4 layout + Fixed Array, what HDF5 1.10+ emits for
    * fixed-size datasets), "earray" (v4 + Extensible Array, the 1.10
    * shape for one unlimited dimension), or "btree2" (v4 + version-2
    * B-tree, >1 unlimited dimension). `faPageBits` is the Fixed Array
    * page size exponent (1.10's default 10; small values force the
    * paged data block shape); the `ea*` parameters are the Extensible
    * Array creation parameters (defaults are HDF5 1.10's; small values
    * force super blocks and paged data blocks); `b2NodeSize` is the v2
    * B-tree node size (small values force an internal level). */
  def write(path: String, bands: Seq[Array[Double]], w: Int, h: Int,
      bbox: Bbox, noData: Double, projection: String, timesMs: Seq[Long],
      dtypeName: String = "float64", varName: String = "band1",
      chunkRows: Int = 256, chunkIndex: String = "btree1",
      faPageBits: Int = 10, eaIdxBlkElmts: Int = 4, eaMinElmts: Int = 16,
      eaSupMinPtrs: Int = 4, eaPageBits: Int = 10,
      b2NodeSize: Int = 512): Unit = {
    require(Seq("btree1", "farray", "earray", "btree2").contains(chunkIndex),
      s"hdf5: chunk index '$chunkIndex' (btree1, farray, earray or btree2)")
    require(faPageBits >= 1 && faPageBits <= 20,
      s"hdf5: faPageBits $faPageBits")
    require(eaIdxBlkElmts >= 1 && eaIdxBlkElmts <= 255 &&
      eaPageBits >= 1 && eaPageBits <= 20,
      s"hdf5: extensible-array parameters ($eaIdxBlkElmts, $eaPageBits)")
    require(b2NodeSize >= 64 && b2NodeSize <= (1 << 20),
      s"hdf5: b2NodeSize $b2NodeSize")
    require(bands.nonEmpty && bands.forall(_.length == w * h),
      "band size must equal w*h")
    require(timesMs.length == bands.length, "one time per frame required")
    val dt = DType.byName(dtypeName)
    val cx = bbox.width / w; val cy = bbox.height / h
    require(math.abs(cx - cy) <= 1e-9 * math.max(cx.abs, cy.abs),
      s"hdf5 written here requires square pixels (got $cx × $cy)")
    val b = new Buf
    // superblock
    b.bytes(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
    b.u8(0); b.u8(0); b.u8(0); b.u8(0)
    b.u8(0); b.u8(8); b.u8(8); b.u8(0)
    b.u16(4); b.u16(16); b.u32(0)
    b.u64(0); b.u64(Undef)
    val eofPatch = b.pos; b.u64(0)
    b.u64(Undef)
    val rootEntry = b.pos
    b.u64(0); b.u64(0); b.u32(0); b.u32(0)
    b.bytes(new Array[Byte](16))

    // coordinate payloads (cell centers; y DESCENDING = top row first)
    val xs = Array.tabulate(w)(i => bbox.x1 + (i + 0.5) * cx)
    val ys = Array.tabulate(h)(i => bbox.y2 - (i + 0.5) * cx)
    val ts = timesMs.map(_.toDouble).toArray
    val xAddr = b.bytes(encode(xs, DType.F8))
    val yAddr = b.bytes(encode(ys, DType.F8))
    val tAddr = b.bytes(encode(ts, DType.F8))

    // data chunks: (1, chunkRows, w), deflate
    val cR = math.min(chunkRows, h)
    val nCY = (h + cR - 1) / cR
    val chunkEntries = for (t <- bands.indices; cyI <- 0 until nCY) yield {
      val vals = new Array[Double](cR * w)
      var ry = 0
      while (ry < cR) {
        val sy = cyI * cR + ry
        var sx = 0
        while (sx < w) {
          vals(ry * w + sx) =
            if (sy < h) bands(t)(sy * w + sx) else noData
          sx += 1
        }
        ry += 1
      }
      val z = deflate(encode(vals, dt))
      (Seq(t.toLong, cyI.toLong * cR, 0L), b.bytes(z), z.length.toLong)
    }
    b.pad(8)
    val idxAddr = b.pos
    val faSizeLen = {
      val chunkBytes = cR.toLong * w * dt.size
      // H5Dfarray.c: 1 + (floor(log2(chunk size)) + 8) / 8, capped at 8
      math.min(8, 1 + ((63 - java.lang.Long.numberOfLeadingZeros(
        chunkBytes)) + 8) / 8)
    }
    chunkIndex match {
    case "btree1" =>
      b.u32(0x45455254); b.u8(1); b.u8(0); b.u16(chunkEntries.length)
      b.u64(Undef); b.u64(Undef)
      chunkEntries.foreach { case (offs, addr, nbytes) =>
        b.u32(nbytes.toInt); b.u32(0)
        offs.foreach(b.u64); b.u64(0)
        b.u64(addr)
      }
      b.u32(0); b.u32(0); (0 to 3).foreach(_ => b.u64(0))
    case "earray" =>
      // Extensible Array, client 1 (filtered chunks): EAHD first (the
      // layout message points at it), then data blocks, super blocks
      // and the index block — children before parents so addresses are
      // known when referenced; the header's index-block address is
      // patched last. Element i is chunk i in row-major chunk-grid
      // order (= the emission order above). Checksums ride as zeros
      // (unverified by the reader, as elsewhere).
      val n = chunkEntries.length
      val maxBits = 32
      val elemSize = 8 + faSizeLen + 4
      val arrOffSize = (maxBits + 7) / 8
      val pageNelmts = 1L << eaPageBits
      val sblks = Hdf5.eaSblkInfo(maxBits, eaMinElmts)
      val nsblksDirect = 2 * Hdf5.log2Exact(eaSupMinPtrs,
        "extensible-array super block min data pointers")
      val nDirDblks = sblks.take(nsblksDirect).map(_.ndblks).sum.toInt
      val nsblkAddrs = sblks.length - nsblksDirect
      def elemSlot(idx: Long): Unit =
        if (idx < n) {
          val (_, addr, nb) = chunkEntries(idx.toInt)
          b.u64(addr)
          for (k <- 0 until faSizeLen) b.u8(((nb >> (8 * k)) & 0xFF).toInt)
          b.u32(0) // filter mask
        } else {
          b.u64(Undef)
          for (_ <- 0 until faSizeLen) b.u8(0)
          b.u32(0)
        }
      def sblkOf(g: Long): Hdf5.EaSblk =
        sblks(sblks.lastIndexWhere(_.startDblk <= g))
      def dblkStart(g: Long): Long = {
        val s = sblkOf(g)
        eaIdxBlkElmts + s.startIdx + (g - s.startDblk) * s.dblkNelmts
      }
      val usedDblks =
        (0L until sblks.map(_.ndblks).sum).takeWhile(dblkStart(_) < n)
      // EAHD (header min-ELEMENTS before min-POINTERS; the layout
      // message swaps them — the reader cross-checks both copies)
      b.bytes("EAHD".getBytes("US-ASCII"))
      b.u8(0); b.u8(1); b.u8(elemSize); b.u8(maxBits)
      b.u8(eaIdxBlkElmts); b.u8(eaMinElmts); b.u8(eaSupMinPtrs)
      b.u8(eaPageBits)
      // statistics (not load-bearing for the reader): super blocks,
      // super block bytes, data blocks, data block bytes, max index
      // set, elements realized
      b.u64(0); b.u64(0); b.u64(usedDblks.length.toLong); b.u64(0)
      b.u64(n.toLong); b.u64(n.toLong)
      val iblkPatch = b.pos; b.u64(0); b.u32(0)
      val dblkAddr = scala.collection.mutable.Map.empty[Long, Long]
      for (g <- usedDblks) {
        val s = sblkOf(g)
        val start = dblkStart(g)
        if (g < nDirDblks) require(s.dblkNelmts <= pageNelmts,
          "hdf5: a data block pointed directly from the index block " +
            "must not be paged (raise eaPageBits)")
        dblkAddr(g) = b.pos
        b.bytes("EADB".getBytes("US-ASCII"))
        b.u8(0); b.u8(1); b.u64(idxAddr)
        for (k <- 0 until arrOffSize) b.u8(((start >> (8 * k)) & 0xFF).toInt)
        if (s.dblkNelmts <= pageNelmts) {
          for (j <- 0L until s.dblkNelmts) elemSlot(start + j)
          b.u32(0)
        } else {
          require(s.dblkNelmts % pageNelmts == 0,
            "hdf5: page size must divide the data block")
          b.u32(0) // prefix checksum; fixed-size pages follow
          for (p <- 0L until s.dblkNelmts / pageNelmts) {
            for (j <- 0L until pageNelmts) elemSlot(start + p * pageNelmts + j)
            b.u32(0)
          }
        }
      }
      val sblkAddrOf = scala.collection.mutable.Map.empty[Int, Long]
      for (u <- nsblksDirect until sblks.length) {
        val s = sblks(u)
        if ((0L until s.ndblks).exists(j => dblkAddr.contains(s.startDblk + j))) {
          sblkAddrOf(u) = b.pos
          b.bytes("EASB".getBytes("US-ASCII"))
          b.u8(0); b.u8(1); b.u64(idxAddr)
          val boff = eaIdxBlkElmts + s.startIdx
          for (k <- 0 until arrOffSize) b.u8(((boff >> (8 * k)) & 0xFF).toInt)
          if (s.dblkNelmts > pageNelmts) {
            // page-init bitmap: every page of an allocated data block
            val npgs = (s.dblkNelmts / pageNelmts).toInt
            val bm = new Array[Byte]((s.ndblks.toInt * npgs + 7) / 8)
            for (j <- 0 until s.ndblks.toInt
                 if dblkAddr.contains(s.startDblk + j); p <- 0 until npgs) {
              val bit = j * npgs + p
              bm(bit / 8) = (bm(bit / 8) | (1 << (bit % 8))).toByte
            }
            b.bytes(bm)
          }
          for (j <- 0 until s.ndblks.toInt)
            b.u64(dblkAddr.getOrElse(s.startDblk + j, Undef))
          b.u32(0)
        }
      }
      val iblkAt = b.pos
      b.bytes("EAIB".getBytes("US-ASCII"))
      b.u8(0); b.u8(1); b.u64(idxAddr)
      for (j <- 0 until eaIdxBlkElmts) elemSlot(j.toLong)
      for (g <- 0 until nDirDblks) b.u64(dblkAddr.getOrElse(g.toLong, Undef))
      for (k <- 0 until nsblkAddrs)
        b.u64(sblkAddrOf.getOrElse(nsblksDirect + k, Undef))
      b.u32(0)
      b.patch64(iblkPatch, iblkAt)
    case "btree2" =>
      // v2 B-tree, record type 11 (filtered chunks): BTHD first (the
      // layout message points at it; the root address is patched),
      // then leaves, then the internal root when one leaf cannot hold
      // every record. Records are (address, stored size, filter mask,
      // SCALED offsets) in row-major chunk-grid order; internal nodes
      // store all records first, then the child pointers.
      val n = chunkEntries.length
      val cdims = Seq(1, cR, w)
      val recSize = 8 + faSizeLen + 4 + 8 * cdims.length
      val leafCap = (b2NodeSize - 10) / recSize
      require(leafCap >= 2, s"hdf5: v2 B-tree node size $b2NodeSize holds " +
        s"$leafCap $recSize-byte records; need at least 2")
      def encW(limit: Long): Int =
        (63 - java.lang.Long.numberOfLeadingZeros(limit)) / 8 + 1
      // per-level capacities (the reader's H5B2 header math, mirrored)
      val maxNrec = scala.collection.mutable.ArrayBuffer[Long](leafCap)
      val cumMax = scala.collection.mutable.ArrayBuffer[Long](leafCap)
      def ptrW(childLevel: Int): Int =
        8 + encW(maxNrec(childLevel)) +
          (if (childLevel > 0) encW(cumMax(childLevel)) else 0)
      var depth = 0
      while (cumMax(depth) < n) {
        val pw = ptrW(depth)
        val m = (b2NodeSize - 10 - pw).toLong / (recSize + pw)
        require(m >= 2, s"hdf5: v2 B-tree node size $b2NodeSize holds " +
          s"$m records at level ${depth + 1}; raise b2NodeSize")
        maxNrec += m
        cumMax += (m + 1) * cumMax(depth) + m
        depth += 1
      }
      def record(i: Int): Unit = {
        val (offs, addr, nb) = chunkEntries(i)
        b.u64(addr)
        for (k <- 0 until faSizeLen) b.u8(((nb >> (8 * k)) & 0xFF).toInt)
        b.u32(0)
        offs.zip(cdims).foreach { case (o, c) => b.u64(o / c) }
      }
      b.bytes("BTHD".getBytes("US-ASCII"))
      b.u8(0); b.u8(11); b.u32(b2NodeSize); b.u16(recSize)
      b.u16(depth); b.u8(100); b.u8(40) // split / merge percents
      val rootPatch = b.pos; b.u64(0)
      val rootNrecPatch = b.pos; b.u16(0)
      b.u64(n.toLong); b.u32(0)
      /** Emit the subtree over records [lo, hi) at `level`, children
        * first (their addresses feed the parent's pointers); returns
        * (node address, node record count). */
      def build(lo: Int, hi: Int, level: Int): (Long, Int) = {
        val size = hi - lo
        if (level == 0) {
          require(size >= 1 && size <= leafCap,
            s"hdf5: v2 B-tree leaf of $size records (cap $leafCap)")
          val at = b.pos
          b.bytes("BTLF".getBytes("US-ASCII")); b.u8(0); b.u8(11)
          for (i <- lo until hi) record(i)
          b.u32(0)
          (at, size)
        } else {
          val below = cumMax(level - 1)
          // smallest child count whose subtrees + separators cover size,
          // bounded so every child keeps >= 1 record
          val c0 = ((size + 1).toLong + below) / (below + 1)
          val c = math.max(2L, math.min(c0, ((size + 1) / 2).toLong)).toInt
          require(c - 1 <= maxNrec(level),
            s"hdf5: v2 B-tree internal node needs ${c - 1} records " +
              s"(level-$level cap ${maxNrec(level)})")
          val recs = size - (c - 1)
          val base = recs / c; val extra = recs % c
          var cursor = lo
          val seps = scala.collection.mutable.ArrayBuffer.empty[Int]
          val children = (0 until c).map { ci =>
            val cnt = base + (if (ci < extra) 1 else 0)
            val (at, nrec) = build(cursor, cursor + cnt, level - 1)
            cursor += cnt
            if (ci < c - 1) { seps += cursor; cursor += 1 }
            (at, nrec, cnt)
          }
          require(cursor == hi, "hdf5: v2 B-tree record distribution bug")
          val at = b.pos
          b.bytes("BTIN".getBytes("US-ASCII")); b.u8(0); b.u8(11)
          seps.foreach(record)
          val nrecW = encW(maxNrec(level - 1))
          val totW = if (level - 1 > 0) encW(cumMax(level - 1)) else 0
          children.foreach { case (cat, cnrec, ctot) =>
            b.u64(cat)
            for (k <- 0 until nrecW) b.u8((cnrec >> (8 * k)) & 0xFF)
            for (k <- 0 until totW) b.u8((ctot >> (8 * k)) & 0xFF)
          }
          b.u32(0)
          (at, c - 1)
        }
      }
      val (rootAt, rootNrec) = build(0, n, depth)
      b.patch64(rootPatch, rootAt)
      b.patch16(rootNrecPatch, rootNrec)
    case _ =>
      // Fixed Array index, client 1 (filtered chunks): FAHD + FADB in
      // the 1.10 on-disk shape; checksums ride as zeros (unverified by
      // the reader, as elsewhere)
      val nelmts = chunkEntries.length
      val entrySize = 8 + faSizeLen + 4
      b.bytes("FAHD".getBytes("US-ASCII"))
      b.u8(0); b.u8(1); b.u8(entrySize); b.u8(faPageBits)
      b.u64(nelmts.toLong); b.u64(idxAddr + 28); b.u32(0)
      b.bytes("FADB".getBytes("US-ASCII"))
      b.u8(0); b.u8(1); b.u64(idxAddr)
      def element(addr: Long, nb: Long): Unit = {
        b.u64(addr)
        for (k <- 0 until faSizeLen) b.u8(((nb >> (8 * k)) & 0xFF).toInt)
        b.u32(0) // filter mask
      }
      val pageElems = 1 << faPageBits
      if (nelmts <= pageElems) {
        chunkEntries.foreach { case (_, addr, nbytes) => element(addr, nbytes) }
        b.u32(0) // data block checksum
      } else {
        val npages = (nelmts + pageElems - 1) / pageElems
        for (_ <- 0 until (npages + 7) / 8) b.u8(0xFF) // all pages live
        b.u32(0) // data block checksum
        chunkEntries.grouped(pageElems).foreach { page =>
          page.foreach { case (_, addr, nbytes) => element(addr, nbytes) }
          b.u32(0) // per-page checksum
        }
      }
    }

    // object headers
    val xOH = objectHeader(b, Seq(
      msg(0x0001, dataspace(Seq(w))),
      msg(0x0003, dtFloat(8)),
      msg(0x0008, le(18) { l =>
        l.put(3.toByte); l.put(1.toByte); l.putLong(xAddr); l.putLong(w * 8L)
      }),
      msg(0x000C, strAttr("standard_name", "projection_x_coordinate"))))
    val yOH = objectHeader(b, Seq(
      msg(0x0001, dataspace(Seq(h))),
      msg(0x0003, dtFloat(8)),
      msg(0x0008, le(18) { l =>
        l.put(3.toByte); l.put(1.toByte); l.putLong(yAddr); l.putLong(h * 8L)
      })))
    val tOH = objectHeader(b, Seq(
      msg(0x0001, dataspace(Seq(timesMs.length))),
      msg(0x0003, dtFloat(8)),
      msg(0x0008, le(18) { l =>
        l.put(3.toByte); l.put(1.toByte); l.putLong(tAddr)
        l.putLong(timesMs.length * 8L)
      }),
      msg(0x000C, strAttr("units", "milliseconds since 1970-01-01T00:00")),
      msg(0x000C, strAttr("calendar", "standard"))))
    val wkt = WktSrs.toWkt(projection).getOrElse(projection)
    val crsOH = objectHeader(b, Seq(
      msg(0x0001, dataspace(Nil)),
      msg(0x0003, dtFixed(4, signed = true)),
      msg(0x0008, le(18) { l =>
        l.put(3.toByte); l.put(1.toByte); l.putLong(Undef); l.putLong(0L)
      }),
      msg(0x000C, strAttr("spatial_ref", wkt)),
      msg(0x000C, strAttr("crs_wkt", wkt))))
    val dataOH = objectHeader(b, Seq(
      msg(0x0001, dataspace(Seq(bands.length.toLong, h, w))),
      msg(0x0003, dtOf(dt)),
      msg(0x000B, le(24) { l => // filter pipeline v1: deflate(level 6)
        l.put(1.toByte); l.put(1.toByte); l.putShort(0); l.putInt(0)
        l.putShort(1); l.putShort(0); l.putShort(0); l.putShort(1)
        l.putInt(6); l.putInt(0)
      }),
      chunkIndex match {
        case "btree1" =>
          msg(0x0008, le(11 + 4 * 4) { l =>
            l.put(3.toByte); l.put(2.toByte); l.put(4.toByte)
            l.putLong(idxAddr)
            l.putInt(1); l.putInt(cR); l.putInt(w); l.putInt(dt.size)
          })
        case "farray" =>
          msg(0x0008, le(5 + 4 * 4 + 2 + 8) { l => // layout v4 + fixed array
            l.put(4.toByte); l.put(2.toByte); l.put(0.toByte)
            l.put(4.toByte); l.put(4.toByte) // dimensionality, dim width
            l.putInt(1); l.putInt(cR); l.putInt(w); l.putInt(dt.size)
            l.put(3.toByte); l.put(faPageBits.toByte)
            l.putLong(idxAddr)
          })
        case "earray" =>
          // layout v4 + extensible array: Max Bits, Index Elements,
          // Min POINTERS, Min Elements, Page Bits (the EAHD block
          // stores min-elements first — the reader checks both copies)
          msg(0x0008, le(5 + 4 * 4 + 6 + 8) { l =>
            l.put(4.toByte); l.put(2.toByte); l.put(0.toByte)
            l.put(4.toByte); l.put(4.toByte)
            l.putInt(1); l.putInt(cR); l.putInt(w); l.putInt(dt.size)
            l.put(4.toByte); l.put(32.toByte); l.put(eaIdxBlkElmts.toByte)
            l.put(eaSupMinPtrs.toByte); l.put(eaMinElmts.toByte)
            l.put(eaPageBits.toByte)
            l.putLong(idxAddr)
          })
        case _ =>
          // layout v4 + v2 B-tree: node size, split/merge percents
          msg(0x0008, le(5 + 4 * 4 + 7 + 8) { l =>
            l.put(4.toByte); l.put(2.toByte); l.put(0.toByte)
            l.put(4.toByte); l.put(4.toByte)
            l.putInt(1); l.putInt(cR); l.putInt(w); l.putInt(dt.size)
            l.put(5.toByte); l.putInt(b2NodeSize)
            l.put(100.toByte); l.put(40.toByte)
            l.putLong(idxAddr)
          })
      },
      msg(0x000C, dblAttr("_FillValue", noData)),
      msg(0x000C, strAttr("grid_mapping", "crs"))))

    // root group: heap + SNOD + B-tree + object header
    b.pad(8)
    val heapDataAddr = b.pos
    val entries = Seq("x" -> xOH, "y" -> yOH, "time" -> tOH,
      "crs" -> crsOH, varName -> dataOH)
    val nameOffs = entries.map { case (n, _) =>
      val off = b.pos - heapDataAddr
      b.bytes(n.getBytes("UTF-8")); b.u8(0)
      n -> off
    }.toMap
    b.pad(8)
    val heapDataSize = b.pos - heapDataAddr
    val heapAddr = b.pos
    b.u32(0x50414548); b.u32(0)
    b.u64(heapDataSize); b.u64(1); b.u64(heapDataAddr)
    val snodAddr = b.pos
    b.u32(0x444F4E53); b.u8(1); b.u8(0)
    val ordered = entries.sortBy(_._1)
    b.u16(ordered.length)
    ordered.foreach { case (n, oh) =>
      b.u64(nameOffs(n)); b.u64(oh); b.u32(0); b.u32(0)
      b.bytes(new Array[Byte](16))
    }
    val btreeGroupAddr = b.pos
    b.u32(0x45455254); b.u8(0); b.u8(0); b.u16(1)
    b.u64(Undef); b.u64(Undef)
    b.u64(0); b.u64(snodAddr); b.u64(0)
    val rootOH = objectHeader(b, Seq(
      msg(0x0011, le(16) { l =>
        l.putLong(btreeGroupAddr); l.putLong(heapAddr)
      })))
    b.patch64(rootEntry + 8, rootOH)
    b.patch64(eofPatch, b.pos)
    val p = Paths.get(path)
    Option(p.toAbsolutePath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, b.result)
  }
}

/** HDF5 sink: the WHOLE requested time stack goes into one NetCDF-4-
  * shaped `.nc`/`.h5` file (chunked + deflate). */
case class Hdf5Sink(source: RasterBlock, url: String,
    varName: String = "band1", chunkRows: Int = 256) {
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val lower = url.toLowerCase
    val path = if (lower.endsWith(".nc") || lower.endsWith(".nc4") ||
      lower.endsWith(".h5") || lower.endsWith(".hdf5")) url
    else s"$url/stack.nc"
    Hdf5Write.write(path, res.values, req.width, req.height, req.bbox,
      res.noDataValue, req.projection, res.times.map(_.toEpochMilli),
      source.dtype.name, varName, chunkRows)
    path
  }
}

/** NetCDF-4 / HDF5 raster source: same surface as [[NetCdfSource]] —
  * the CF time coordinate IS the time axis; header/coordinate reads are
  * positioned; pixel chunks wait until a frame is requested. */
case class Hdf5Source(url: String, projectionArg: String = "",
    varNameArg: String = "") extends RasterBlock with graft.core.FileSource {

  private def withChannel[A](f: PositionedReader => A): A = {
    val ch = PositionedReader.open(url)
    try f(ch) finally ch.close()
  }

  @transient private lazy val meta: Hdf5.Meta =
    withChannel(ch => Hdf5.readMeta(ch, url, projectionArg, varNameArg))

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
    val bands = withChannel(ch => Hdf5.readBands(ch, meta))
    MemorySource(bands, meta.w, meta.h, meta.noData, meta.projection,
      meta.cellSize, meta.originX, meta.originY, meta.timesMs.head,
      deltaMs, meta.outDtype.name)
  }

  override def dtype: DType = meta.outDtype
  override def projection: String = meta.projection
  override def temporal: Boolean = meta.dataVar.rank == 3
  override def timeDeltaMs: Option[Long] = deltaMs
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(meta.timesMs.head),
      Instant.ofEpochMilli(meta.timesMs.last)))
  override def extent: Option[Bbox] = Some(Bbox(
    meta.originX, meta.originY - meta.h * meta.cellSize,
    meta.originX + meta.w * meta.cellSize, meta.originY))
  override def cellSize: Option[Double] = Some(meta.cellSize)
  override def allTimes: Seq[Instant] = meta.timesMs.map(Instant.ofEpochMilli)

  /** Chunk-pruned read: a time-sliced request decodes only the selected
    * frames' chunks (same contract as [[ZarrSource]]); full-stack
    * requests use the cached whole-file load. */
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val sel = timesIn(req.start, req.stop)
    if (sel.isEmpty || sel.length == meta.timesMs.length) memory.frame(req)
    else {
      val idx = allTimes.zipWithIndex.toMap
      val bands = withChannel(ch => Hdf5.readFrames(ch, meta, sel.map(idx)))
      MemorySource(bands, meta.w, meta.h, meta.noData, meta.projection,
        meta.cellSize, meta.originX, meta.originY, sel.head.toEpochMilli,
        if (temporal) deltaMs else None, meta.outDtype.name).frame(req)
    }
  }
}
