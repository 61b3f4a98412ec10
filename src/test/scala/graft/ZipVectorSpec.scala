package graft

import org.apache.spark.sql.functions._
import graft.geometry._

class ZipVectorSpec extends SparkSpec {

  private def tmp(tag: String, name: String): String =
    java.nio.file.Files.createTempDirectory(tag).resolve(name).toString

  test("kmz round-trips: zip-of-doc.kml written and read back") {
    val out = tmp("kmz", "features.kmz")
    GeometryToFile.toFile(GeometryFixtures.features, out)
    // it really is a zip with doc.kml as the main document
    val zf = new java.util.zip.ZipFile(out)
    try {
      val names = new scala.collection.mutable.ArrayBuffer[String]()
      val e = zf.entries(); while (e.hasMoreElements) names += e.nextElement().getName
      assert(names == Seq("doc.kml"))
    } finally zf.close()
    val src = GeometryFileSource(out)
    val df = src.frame(GeometryRequest()).orderBy("fid").collect()
    assert(df.length == 3)
    assert(df(1).getAs[Double]("value") == 7.5)
    assert(df(1).getAs[String]("name") == "b")
  }

  test("a zipped shapefile bundle reads with its .prj honored") {
    val dir = java.nio.file.Files.createTempDirectory("zipshp")
    val shp = dir.resolve("parcels.shp").toString
    GeometryToFile.toFile(GeometryFixtures.features, shp)
    val zip = dir.resolve("parcels.zip").toString
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zip))
    try {
      // nest under a folder, as downloaded bundles usually are — the
      // extractor flattens so the sidecars stay together
      for (ext <- Seq("shp", "shx", "dbf", "prj")) {
        val f = dir.resolve(s"parcels.$ext")
        if (java.nio.file.Files.exists(f)) {
          zout.putNextEntry(new java.util.zip.ZipEntry(s"data/parcels.$ext"))
          zout.write(java.nio.file.Files.readAllBytes(f))
          zout.closeEntry()
        }
      }
    } finally zout.close()
    val src = GeometryFileSource(zip)
    assert(src.projection == "EPSG:28992") // resolved from the zipped .prj
    val df = src.frame(GeometryRequest()).orderBy("fid").collect()
    assert(df.length == 3)
    assert(df(1).getAs[Double]("value") == 7.5)
    // repeated reads reuse the memoized extraction (same delegate data)
    assert(GeometryFileSource(zip).frame(GeometryRequest()).count() == 3)
  }

  test("a scheme-qualified zip is fetched once and reads like a local one") {
    val dir = java.nio.file.Files.createTempDirectory("zipscheme")
    val shp = dir.resolve("parcels.shp").toString
    GeometryToFile.toFile(GeometryFixtures.features, shp)
    val zip = dir.resolve("parcels.zip").toString
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zip))
    try {
      for (ext <- Seq("shp", "shx", "dbf", "prj")) {
        val f = dir.resolve(s"parcels.$ext")
        if (java.nio.file.Files.exists(f)) {
          zout.putNextEntry(new java.util.zip.ZipEntry(s"parcels.$ext"))
          zout.write(java.nio.file.Files.readAllBytes(f))
          zout.closeEntry()
        }
      }
    } finally zout.close()
    val local = GeometryFileSource(zip).frame(GeometryRequest())
      .orderBy("fid").collect().map(_.getLong(0)).toSeq
    def copies = Option(new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("graft_zip_src")).toSet
    val before = copies
    val viaScheme = GeometryFileSource(s"file://$zip").frame(GeometryRequest())
      .orderBy("fid").collect().map(_.getLong(0)).toSeq
    assert(viaScheme == local && local.nonEmpty)
    // the local copy of the archive is gone once it is extracted
    assert(copies.subsetOf(before), (copies -- before).toString)
  }

  test("a zipped MapInfo TAB set reads like the unzipped one") {
    val dir = java.nio.file.Files.createTempDirectory("ziptab")
    GeometryToFile.toFile(GeometryFixtures.features, dir.resolve("parcels.tab").toString)
    val zip = dir.resolve("parcels.zip").toString
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    try {
      // every file of the set (.tab/.dat/.map/.id and any .prj)
      dir.toFile.listFiles.filter(_.getName.startsWith("parcels."))
        .filterNot(_.getName.endsWith(".zip")).foreach { f =>
          zout.putNextEntry(new java.util.zip.ZipEntry(s"tab/${f.getName}"))
          zout.write(java.nio.file.Files.readAllBytes(f.toPath))
          zout.closeEntry()
        }
    } finally zout.close()
    val src = GeometryFileSource(zip)
    assert(src.projection == GeometryFileSource(dir.resolve("parcels.tab").toString).projection)
    val df = src.frame(GeometryRequest()).orderBy("fid").collect()
    assert(df.map(_.getAs[Long]("fid")).toSeq == Seq(1L, 2L, 3L))
    assert(df.map(_.getAs[String]("name")).toSeq == Seq("a", "b", "c"))
  }

  test("non-zip bytes and vector-less archives fail loudly") {
    val notZip = tmp("badzip", "x.zip")
    java.nio.file.Files.write(java.nio.file.Paths.get(notZip),
      "just text, not an archive".getBytes)
    intercept[Exception](GeometryFileSource(notZip).frame(GeometryRequest()))
    val empty = tmp("emptyzip", "y.zip")
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(empty))
    try {
      zout.putNextEntry(new java.util.zip.ZipEntry("readme.txt"))
      zout.write("hello".getBytes); zout.closeEntry()
    } finally zout.close()
    val e = intercept[IllegalArgumentException](
      GeometryFileSource(empty).frame(GeometryRequest()))
    assert(e.getMessage.contains("no recognized vector dataset"))
  }

  test("a rewritten scheme-qualified zip of the same size is extracted afresh") {
    val zip = tmp("zipstamp", "v.zip")
    /** `zip` holding one stored (uncompressed) `data.geojson`, last
      * modified at `mtime`: equal-length texts give equal-size archives. */
    def write(text: String, mtime: Long): Unit = {
      val bytes = text.getBytes("UTF-8")
      val e = new java.util.zip.ZipEntry("data.geojson")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setTime(0L)
      e.setSize(bytes.length); e.setCompressedSize(bytes.length)
      val crc = new java.util.zip.CRC32; crc.update(bytes); e.setCrc(crc.getValue)
      val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
      try { zout.putNextEntry(e); zout.write(bytes); zout.closeEntry() }
      finally zout.close()
      java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(zip),
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    def extracted = java.nio.file.Files.readString(
      java.nio.file.Paths.get(ZipVector.primaryFile(s"file://$zip", VectorFormat.readable)))
    write("""{"v": 1.5}""", 1600000000000L)
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(zip))
    assert(extracted == """{"v": 1.5}""")
    write("""{"v": 2.5}""", 1600000060000L)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(zip)) == size)
    assert(extracted == """{"v": 2.5}""")
  }
}
