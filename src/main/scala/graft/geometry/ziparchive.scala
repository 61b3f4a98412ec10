package graft.geometry

import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

/** Zipped vector containers: `.kmz` (a zip holding `doc.kml`, OGC KML 2.2
  * §5.2) and `.zip` shapefile/vector bundles — both everyday currency in
  * the wild, which the reference opens through OGR's /vsizip/ virtual
  * filesystem (geometry/sources.py:18-159 accepts any OGR url). Here the
  * archive is extracted once per stamp (path, length, mtime) into a temp
  * directory and the contained dataset dispatches through the normal
  * extension codecs.
  *
  * Safety: entry paths are confined to the extraction root (zip-slip),
  * and the total inflated size is capped — a zip bomb fails loudly
  * instead of filling the disk. */
object ZipVector {

  /** Total inflated bytes allowed per archive (matches the single-file
    * sink scale documented for the streaming codecs). */
  val MaxInflatedBytes: Long = 8L << 30

  /** Extractions by the archive's stamp (`SessionMemo.stamp`): a
    * rewritten archive is extracted afresh. JVM-global, as an extracted
    * directory does not depend on the session; each directory is removed
    * when the JVM exits, not before, since a source opened on a superseded
    * extraction still reads its files. */
  private val extracted =
    new java.util.concurrent.ConcurrentHashMap[Seq[(String, Long, Long)], Path]()

  /** Extract the archive (memoized) and return the primary vector file
    * inside: the first file (by name) with the first of `candidates` that
    * any file has — a `.kmz`'s `.kml` (conventionally doc.kml), or a
    * `.zip`'s dataset by [[VectorFormat.readable]], the shapefile first. */
  def primaryFile(url: String, candidates: Seq[String]): String = {
    import graft.io.FileIO
    require(FileIO.exists(url) && !FileIO.isDirectory(url),
      s"no such archive: $url")
    val dir = graft.SessionMemo.stamp(FileIO.conf, Seq(url)) match {
      case Some(stamp) => extracted.computeIfAbsent(stamp, _ => extract(url))
      case None => extract(url)
    }
    val names = Files.list(dir).iterator()
    val all = new scala.collection.mutable.ArrayBuffer[Path]()
    while (names.hasNext) all += names.next()
    val sorted = all.sortBy(_.getFileName.toString.toLowerCase)
    def byExt(ext: String): Option[Path] =
      sorted.find(_.getFileName.toString.toLowerCase.endsWith(ext))
    candidates.view.flatMap(byExt).headOption.getOrElse(throw new IllegalArgumentException(
      s"archive $url contains no recognized vector dataset " +
        s"(entries: ${sorted.map(_.getFileName).mkString(", ")})")).toString
  }

  private def extract(url: String): Path = {
    val root = Files.createTempDirectory("graft_zip")
    // deleteOnExit runs in reverse registration order: entries, then root
    root.toFile.deleteOnExit()
    // ZipFile needs random access on a LOCAL file: a scheme-qualified
    // archive is fetched once into a temp copy (zipped containers are
    // bounded by the single-file exchange contract)
    val localZip =
      if (graft.io.FileIO.hasScheme(url)) {
        val t = Files.createTempFile("graft_zip_src", ".zip")
        val in = graft.io.FileIO.openStream(url)
        try Files.copy(in, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        t.toString
      } else url
    try unzip(url, localZip, root)
    finally if (localZip != url) Files.deleteIfExists(Paths.get(localZip))
  }

  /** Inflate every entry of the local archive `zip` (the copy of `url`)
    * into `root`. */
  private def unzip(url: String, zip: String, root: Path): Path = {
    val zf = new ZipFile(zip)
    try {
      var total = 0L
      val entries = zf.entries()
      while (entries.hasMoreElements) {
        val e = entries.nextElement()
        if (!e.isDirectory) {
          // flatten to basenames: shapefile sidecars must live next to
          // the .shp regardless of folder structure inside the archive
          val name = Paths.get(e.getName).getFileName.toString
          require(!name.isEmpty && !name.contains(".."),
            s"archive $url has an unsafe entry name '${e.getName}'")
          val target = root.resolve(name).normalize()
          require(target.startsWith(root),
            s"archive $url entry '${e.getName}' escapes the extraction root")
          target.toFile.deleteOnExit()
          val in = zf.getInputStream(e)
          val out = Files.newOutputStream(target)
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n > 0) {
              total += n
              require(total <= MaxInflatedBytes,
                s"archive $url inflates past ${MaxInflatedBytes} bytes")
              out.write(buf, 0, n)
              n = in.read(buf)
            }
          } finally { in.close(); out.close() }
        }
      }
      root
    } finally zf.close()
  }

  /** Write `file` into a fresh zip archive at `zipPath` under `entryName`
    * (the `.kmz` writer: doc.kml). */
  def writeSingle(zipPath: String, entryName: String, file: String): String = {
    val out = new ZipOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(zipPath)))
    try {
      out.putNextEntry(new ZipEntry(entryName))
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(file))
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      out.closeEntry()
      zipPath
    } finally out.close()
  }
}
