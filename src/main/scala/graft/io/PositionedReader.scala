package graft.io

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Positioned byte-range access to a file or object — the ONE interface
  * every chunked raster codec (GRIB, GeoTIFF, HDF5/NetCDF, Zarr shard)
  * and the DSv2 connector read through. Two implementations:
  *
  *   - local filesystem via `java.nio.channels.FileChannel` (bare
  *     paths — the test/laptop case);
  *   - any Hadoop `FileSystem` via `FSDataInputStream.readFully(pos,…)`
  *     (`file://`, `hdfs://`, `s3a://`, … — the cluster/object-storage
  *     case; Spark ships hadoop-client, so every scheme the cluster's
  *     core-site knows resolves here without new dependencies).
  *
  * The contract mirrors `FileChannel`'s positioned read exactly —
  * `read(dst, position)` fills up to `dst.remaining()` bytes, never
  * moves shared cursor state, and is safe to call from the one thread
  * that owns the reader — so the codecs' header-walk / chunk-prune
  * logic is byte-for-byte identical on both backends. That identity is
  * what makes the byte-range pruning claims (COG strip reads, HDF5
  * chunk B-tree walks, Zarr shard-index lookups) hold on object
  * storage: the SAME positioned reads are issued, each mapping to one
  * ranged GET.
  */
trait PositionedReader extends AutoCloseable {
  /** Total length of the file/object in bytes. */
  def size(): Long

  /** Read up to `dst.remaining()` bytes starting at absolute
    * `position`, advancing `dst`; returns the count read, or -1 when
    * `position` is at/past EOF (the `FileChannel.read(ByteBuffer,
    * Long)` contract). */
  def read(dst: ByteBuffer, position: Long): Int

  def close(): Unit
}

object PositionedReader {

  /** Consecutive 0-byte reads tolerated by [[readFully]] before the
    * read is declared stuck. A 0 return is legal for both backends
    * (`FileChannel.read` and Hadoop positioned reads may transfer
    * nothing without being at EOF), so 0 must be retried, not treated
    * as EOF — but an endless 0 stream means a broken transport, and
    * looping forever would hang the task. */
  private val MaxZeroReads = 64

  /** Fill `dst` completely from absolute `position`, retrying short
    * reads. Only a negative return counts as EOF (throws
    * `EOFException`); 0-byte reads are retried up to [[MaxZeroReads]]
    * consecutive times, then fail loudly. Returns the position after
    * the last byte read. Every codec's must-fill read path goes
    * through here so both failure semantics are uniform across
    * backends. */
  def readFully(r: PositionedReader, position: Long, dst: ByteBuffer): Long = {
    var pos = position
    var zeros = 0
    while (dst.hasRemaining) {
      val k = r.read(dst, pos)
      if (k < 0)
        throw new java.io.EOFException(s"unexpected EOF at byte $pos")
      if (k == 0) {
        zeros += 1
        if (zeros >= MaxZeroReads)
          throw new java.io.IOException(
            s"positioned read stuck: $MaxZeroReads consecutive 0-byte " +
              s"reads at byte $pos")
      } else {
        zeros = 0
        pos += k
      }
    }
    pos
  }

  /** Open `url` for positioned reads: a bare path opens a local
    * `FileChannel`; a scheme-qualified URL goes through the Hadoop
    * `FileSystem` registered for that scheme. */
  def open(url: String): PositionedReader =
    if (FileIO.hasScheme(url)) {
      val (fs, p) = FileIO.fsPath(url)
      val len = fs.getFileStatus(p).getLen
      new HadoopReader(fs.open(p), len, url)
    } else
      new LocalReader(
        FileChannel.open(Paths.get(url), StandardOpenOption.READ))

  private final class LocalReader(ch: FileChannel) extends PositionedReader {
    override def size(): Long = ch.size()
    override def read(dst: ByteBuffer, position: Long): Int =
      ch.read(dst, position)
    override def close(): Unit = ch.close()
  }

  private final class HadoopReader(
      in: org.apache.hadoop.fs.FSDataInputStream, len: Long, url: String)
      extends PositionedReader {
    override def size(): Long = len
    override def read(dst: ByteBuffer, position: Long): Int = {
      if (position >= len) return -1
      val n = math.min(dst.remaining().toLong, len - position).toInt
      if (n == 0) return 0
      // PositionedReadable.readFully: one ranged read, no seek on the
      // stream's shared cursor
      if (dst.hasArray) {
        val off = dst.arrayOffset() + dst.position()
        in.readFully(position, dst.array(), off, n)
        dst.position(dst.position() + n)
      } else {
        val a = new Array[Byte](n)
        in.readFully(position, a, 0, n)
        dst.put(a)
      }
      n
    }
    override def close(): Unit = in.close()
  }
}

/** `RandomAccessFile`-shaped READ cursor over a [[PositionedReader]] —
  * lets the positional geometry codecs (GeoPackage SQLite pages,
  * shapefile .shx/.shp/.dbf records, MapInfo .map objects) keep their
  * seek/readFully structure while every byte goes through the
  * scheme-aware reader, so `file://`/`hdfs://`/`s3a://` work the same
  * as bare paths. Read-only: the codecs' writers stay on local
  * `RandomAccessFile` (single-file sinks are driver-local by the
  * format contract, then uploadable via [[FileIO.writeAll]]). */
final class PositionedCursor(r: PositionedReader) extends AutoCloseable {
  private var pos = 0L
  def seek(p: Long): Unit = { pos = p }
  def getFilePointer: Long = pos
  def length(): Long = r.size()
  def readFully(dst: Array[Byte]): Unit = readFully(dst, 0, dst.length)
  def readFully(dst: Array[Byte], off: Int, len: Int): Unit = {
    val b = ByteBuffer.wrap(dst, off, len)
    pos = PositionedReader.readFully(r, pos, b)
  }
  def close(): Unit = r.close()
}

object PositionedCursor {
  def open(url: String): PositionedCursor =
    new PositionedCursor(PositionedReader.open(url))
}

/** Store-level operations (existence, listing, whole-object reads) over
  * the same two backends as [[PositionedReader]]: bare paths use
  * `java.nio`, scheme-qualified URLs the Hadoop `FileSystem` for their
  * scheme. Directory-shaped formats (Zarr stores, archive directories)
  * and the DSv2 planner's dataset expansion go through here so a
  * `file://`/`hdfs://`/`s3a://` archive plans exactly like a local one. */
object FileIO {

  /** `scheme://...` or `scheme:/...` (Hadoop also accepts the latter).
    * A single-char prefix is NOT a scheme (Windows drive letters). */
  def hasScheme(url: String): Boolean =
    url.matches("^[A-Za-z][A-Za-z0-9+.\\-]+:/.*")

  /** Hadoop FileSystem + Path for a scheme-qualified URL. The
    * `Configuration` comes from the active SparkSession when one exists
    * (driver side — carries `spark.hadoop.*` overrides); otherwise the
    * default Hadoop configuration (executor side — cluster
    * core-site/credential providers, the object-storage norm). FS
    * instances come from Hadoop's cache and are never closed here. */
  private[io] def fsPath(url: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(url)
    (p.getFileSystem(conf), p)
  }

  private[graft] def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def exists(url: String): Boolean =
    if (hasScheme(url)) { val (fs, p) = fsPath(url); fs.exists(p) }
    else Files.exists(Paths.get(url))

  def isDirectory(url: String): Boolean =
    if (hasScheme(url)) {
      val (fs, p) = fsPath(url)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    } else Files.isDirectory(Paths.get(url))

  def size(url: String): Long =
    if (hasScheme(url)) { val (fs, p) = fsPath(url); fs.getFileStatus(p).getLen }
    else Files.size(Paths.get(url))

  /** Immediate children of a directory as full URLs/paths (one level,
    * sorted by name for deterministic planning). */
  def list(url: String): Seq[String] =
    if (hasScheme(url)) {
      val (fs, p) = fsPath(url)
      fs.listStatus(p).map(_.getPath.toString).toSeq.sorted
    } else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(url))
      try s.iterator().asScala.map(_.toString).toSeq.sorted
      finally s.close()
    }

  def readAllBytes(url: String): Array[Byte] =
    if (hasScheme(url)) {
      val (fs, p) = fsPath(url)
      val len = fs.getFileStatus(p).getLen
      require(len <= Int.MaxValue, s"$url: object of $len bytes too large " +
        "for a whole-object read")
      val a = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0L, a, 0, a.length) finally in.close()
      a
    } else Files.readAllBytes(Paths.get(url))

  def readString(url: String): String =
    new String(readAllBytes(url), java.nio.charset.StandardCharsets.UTF_8)

  /** Sequential read stream (text-grid formats, sidecar files). */
  def openStream(url: String): java.io.InputStream =
    if (hasScheme(url)) { val (fs, p) = fsPath(url); fs.open(p) }
    else new java.io.BufferedInputStream(
      new java.io.FileInputStream(url))

  /** Create/overwrite a file or object as a STREAM (parent directories
    * created) — for single-file writers whose output is assembled
    * sequentially and can exceed memory. */
  def createStream(url: String): java.io.OutputStream =
    if (hasScheme(url)) { val (fs, p) = fsPath(url); fs.create(p, true) }
    else {
      val p = Paths.get(url)
      Option(p.getParent).foreach(Files.createDirectories(_))
      new java.io.FileOutputStream(url)
    }

  /** Atomic-ish rename within one store (the task-commit publish step).
    * Overwrites nothing: fails if `dst` exists. */
  def rename(src: String, dst: String): Unit =
    if (hasScheme(src) || hasScheme(dst)) {
      val (fs, sp) = fsPath(src)
      val dp = new org.apache.hadoop.fs.Path(dst)
      require(!fs.exists(dp), s"rename target $dst already exists")
      require(fs.rename(sp, dp), s"rename $src -> $dst failed")
    } else {
      Files.move(Paths.get(src), Paths.get(dst))
    }

  /** Create/overwrite a file or object with `bytes` (parent
    * directories created; one PUT on object stores). */
  def writeAll(url: String, bytes: Array[Byte]): Unit =
    if (hasScheme(url)) {
      val (fs, p) = fsPath(url)
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    } else {
      val p = Paths.get(url)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, bytes)
    }

  /** Best-effort delete of a file/object (true if it existed). */
  def delete(url: String): Boolean =
    if (hasScheme(url)) {
      val (fs, p) = fsPath(url)
      fs.delete(p, false)
    } else Files.deleteIfExists(Paths.get(url))

  /** Join a directory URL/path and a child name (slash-normalized). */
  def child(dirUrl: String, name: String): String =
    if (dirUrl.endsWith("/")) dirUrl + name else s"$dirUrl/$name"

  /** Last path segment (file/object name without the directory). */
  def name(url: String): String = {
    val trimmed = if (url.endsWith("/")) url.dropRight(1) else url
    trimmed.substring(trimmed.lastIndexOf('/') + 1)
  }
}
