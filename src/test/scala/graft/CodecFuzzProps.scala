package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, FutureTask, TimeUnit, TimeoutException}

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.rng.Seed

import graft.geometry.{GeomFunctions, Gml, Shapefile, ShapefileSink, Sqlite, GeoPackage}
import graft.raster.{Bbox, GeoTiff}

/** Byte-level fuzzing of the pure-JVM codecs (shapefile, SQLite/GeoPackage,
  * GeoTIFF, GML): every truncated or corrupted input must fail with a clean
  * exception (or parse) — never a hang, an OutOfMemoryError, or a
  * StackOverflowError. The DEFLATE inflater-stall guard in geotiff.scala is
  * the precedent this generalizes.
  *
  * The reference gets this robustness from GDAL/OGR/SQLite's hardened C
  * parsers; these properties are the equivalent contract for the in-repo
  * codecs.
  */
object CodecFuzzProps extends Properties("codec-fuzz") {

  /** Deterministic by default; FUZZ_SEED sweeps new case sets locally. */
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(sys.env.get("FUZZ_SEED").map(_.toLong).getOrElse(427431L)))
      .withMinSuccessfulTests(150)

  // ------------------------------------------------------------- fixtures

  private lazy val tmpRoot = Files.createTempDirectory("codec_fuzz")

  /** Pristine shapefile trio (shp/shx/dbf) of 40 mixed polygons. */
  private lazy val shpFixture: (Array[Byte], Array[Byte], Array[Byte], Shapefile.DbfHeader) = {
    val base = tmpRoot.resolve("pristine")
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val g = GeomFunctions.readWkt(GeometryFixtures.square(i, 0, i + 1 + (i % 3), 2))
      (i.toLong, i * 0.25, s"name-$i", GeomFunctions.writeWkb(g))
    }
    // no fid column: records keep the rows' order
    ShapefileSink.writeStream(rows.toDF("id", "v", "name", "geometry"),
      "EPSG:28992", base.toString + ".shp")(spark)
    val shp = Files.readAllBytes(Paths.get(base.toString + ".shp"))
    val shx = Files.readAllBytes(Paths.get(base.toString + ".shx"))
    val dbf = Files.readAllBytes(Paths.get(base.toString + ".dbf"))
    (shp, shx, dbf, Shapefile.readDbfHeader(base.toString + ".dbf"))
  }

  private lazy val gpkgFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/fixture.gpkg")
    try in.readAllBytes() finally in.close()
  }

  private lazy val tifDeflate: Array[Byte] = {
    val p = tmpRoot.resolve("deflate.tif").toString
    GeoTiff.write(p, Array.tabulate(32 * 32)(_ * 0.5), 32, 32,
      Bbox(0, 0, 32, 32), 28992, -9999.0, "float64",
      rowsPerStrip = 8, compression = "deflate")
    Files.readAllBytes(Paths.get(p))
  }

  private lazy val tifLzw: Array[Byte] = {
    val in = getClass.getResourceAsStream("/lzw_noise.tif")
    try in.readAllBytes() finally in.close()
  }

  private lazy val tifPackBits: Array[Byte] = {
    val in = getClass.getResourceAsStream("/packbits_uint8.tif")
    try in.readAllBytes() finally in.close()
  }

  // ------------------------------------------------------------ harness

  /** Run `f` on a daemon thread: pass when it returns or throws any
    * exception; fail on timeout (hang), OOM, or stack overflow. */
  private def cleanOrFails(label: String)(f: => Unit): Prop = {
    val task = new FutureTask(new Callable[Option[Throwable]] {
      override def call(): Option[Throwable] =
        try { f; None } catch { case t: Throwable => Some(t) }
    })
    val th = new Thread(task, s"fuzz-$label")
    th.setDaemon(true)
    th.start()
    try task.get(30, TimeUnit.SECONDS) match {
      case Some(_: OutOfMemoryError)    => Prop.falsified :| s"$label: OutOfMemoryError"
      case Some(_: StackOverflowError)  => Prop.falsified :| s"$label: StackOverflowError"
      case _                            => Prop.passed
    } catch {
      case _: TimeoutException =>
        th.interrupt()
        Prop.falsified :| s"$label: hung >30s"
    }
  }

  private def mutate(bytes: Array[Byte], kind: Int, pos: Int, value: Int): Array[Byte] =
    kind match {
      case 0 => // truncate
        bytes.take(math.min(pos, bytes.length))
      case 1 => // flip one byte
        val b = bytes.clone()
        if (b.nonEmpty) b(pos % b.length) = value.toByte
        b
      case _ => // splice a hostile 32-bit value (huge counts / offsets)
        val b = bytes.clone()
        val at = if (b.length < 4) 0 else pos % (b.length - 3)
        if (b.length >= 4) {
          b(at) = (value >> 24).toByte; b(at + 1) = (value >> 16).toByte
          b(at + 2) = (value >> 8).toByte; b(at + 3) = value.toByte
        }
        b
    }

  private val hostileInts =
    Gen.oneOf(Int.MaxValue, Int.MinValue, -1, 0, 0x7fffff00, 0x40000000, 0xdeadbeef)

  private def mutationGen(len: Int): Gen[(Int, Int, Int)] = for {
    kind <- Gen.choose(0, 2)
    pos <- Gen.choose(0, math.max(len - 1, 0))
    value <- hostileInts
  } yield (kind, pos, value)

  private def writeTmp(name: String, bytes: Array[Byte]): String = {
    val p = tmpRoot.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  // ---------------------------------------------------------- properties

  property("shapefile read survives corrupt .shp bytes") =
    Prop.forAll(mutationGen(1 << 14)) { case (kind, pos, value) =>
      val (shp, shx, dbf, header) = shpFixture
      val bad = writeTmp("bad_shp.shp", mutate(shp, kind, pos, value))
      Files.write(Paths.get(bad.stripSuffix(".shp") + ".shx"), shx)
      Files.write(Paths.get(bad.stripSuffix(".shp") + ".dbf"), dbf)
      cleanOrFails(s"shp k=$kind p=$pos v=$value") {
        Shapefile.readRange(bad, 0, header.numRecords, header).foreach(_ => ())
      }
    }

  property("shapefile read survives corrupt .shx/.dbf bytes") =
    Prop.forAll(mutationGen(1 << 12), Gen.oneOf("shx", "dbf")) { case ((kind, pos, value), which) =>
      val (shp, shx, dbf, _) = shpFixture
      val base = writeTmp("bad_idx.shp", shp).stripSuffix(".shp")
      Files.write(Paths.get(base + ".shx"),
        if (which == "shx") mutate(shx, kind, pos, value) else shx)
      Files.write(Paths.get(base + ".dbf"),
        if (which == "dbf") mutate(dbf, kind, pos, value) else dbf)
      cleanOrFails(s"$which k=$kind p=$pos v=$value") {
        val h = Shapefile.readDbfHeader(base + ".dbf")
        Shapefile.readRange(base + ".shp", 0, h.numRecords, h).foreach(_ => ())
      }
    }

  property("sqlite/gpkg walk survives corrupt database bytes") =
    Prop.forAll(mutationGen(gpkgFixture.length)) { case (kind, pos, value) =>
      val bad = writeTmp("bad.gpkg", mutate(gpkgFixture, kind, pos, value))
      cleanOrFails(s"gpkg k=$kind p=$pos v=$value") {
        val master = Sqlite.master(bad)
        GeoPackage.featureTables(bad)
        // scan every declared table like the source does: b-tree walk,
        // leaf cells, overflow chains, record decode, GPB strip, WKB parse
        master.filter(_.kind == "table").foreach { t =>
          Sqlite.scanTable(bad, t.rootPage).foreach { case (_, vals) =>
            vals.foreach {
              case b: Array[Byte] if b.length >= 2 && b(0) == 'G' && b(1) == 'P' =>
                val wkb = GeoPackage.wkbOf(b)
                if (wkb != null) GeomFunctions.readWkb(wkb)
              case _ =>
            }
          }
        }
      }
    }

  property("geotiff read survives corrupt DEFLATE file bytes") =
    Prop.forAll(mutationGen(tifDeflate.length)) { case (kind, pos, value) =>
      val bad = writeTmp("bad_deflate.tif", mutate(tifDeflate, kind, pos, value))
      cleanOrFails(s"tif-deflate k=$kind p=$pos v=$value") {
        GeoTiff.read(bad)
      }
    }

  property("geotiff read survives corrupt LZW file bytes") =
    Prop.forAll(mutationGen(tifLzw.length)) { case (kind, pos, value) =>
      val bad = writeTmp("bad_lzw.tif", mutate(tifLzw, kind, pos, value))
      cleanOrFails(s"tif-lzw k=$kind p=$pos v=$value") {
        GeoTiff.read(bad)
      }
    }

  property("geotiff read survives corrupt PackBits file bytes") =
    Prop.forAll(mutationGen(tifPackBits.length)) { case (kind, pos, value) =>
      val bad = writeTmp("bad_packbits.tif", mutate(tifPackBits, kind, pos, value))
      cleanOrFails(s"tif-packbits k=$kind p=$pos v=$value") {
        GeoTiff.read(bad)
      }
    }

  private lazy val tifBigBe: Array[Byte] = {
    val in = getClass.getResourceAsStream("/bigtiff_be_u16.tif")
    try in.readAllBytes() finally in.close()
  }

  private lazy val tifOverviews: Array[Byte] = {
    val p = tmpRoot.resolve("ovr.tif").toString
    GeoTiff.write(p, Array.tabulate(128 * 96)(_ * 0.25), 128, 96,
      Bbox(0, 0, 128, 96), 28992, -9999.0, "float64", tileSize = 16)
    GeoTiff.appendOverviews(p, Array.tabulate(128 * 96)(_ * 0.25), 128, 96,
      -9999.0, "float64", tileSize = 16, minDim = 16)
    Files.readAllBytes(Paths.get(p))
  }

  property("geotiff overview chain walk survives corrupt bytes") =
    Prop.forAll(mutationGen(tifOverviews.length)) { case (kind, pos, value) =>
      val bad = writeTmp("bad_ovr.tif", mutate(tifOverviews, kind, pos, value))
      cleanOrFails(s"tif-ovr k=$kind p=$pos v=$value") {
        // the chained-IFD surfaces: chain walk, per-level read, windowed
        // read — corrupt next-IFD pointers and overview tags must fail
        // cleanly, never loop or over-allocate
        val dims = GeoTiff.levelDims(bad)
        dims.indices.foreach(i => GeoTiff.readLevel(bad, i))
        GeoTiff.readLevelWindow(bad, dims.length - 1, Bbox(10, 10, 50, 50))
      }
    }

  property("geotiff read survives corrupt BigTIFF bytes") =
    Prop.forAll(mutationGen(tifBigBe.length)) { case (kind, pos, value) =>
      val bad = writeTmp("bad_bigtiff.tif", mutate(tifBigBe, kind, pos, value))
      cleanOrFails(s"tif-bigtiff k=$kind p=$pos v=$value") {
        GeoTiff.read(bad)
      }
    }

  property("gml member parse survives corrupt/truncated fragments") = {
    val member =
      """<gml:featureMember><ogr:t fid="t.7"><ogr:geometryProperty><gml:Polygon><gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>0,0 4,0 4,4 0,4 0,0</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs></gml:Polygon></ogr:geometryProperty><ogr:v>1.5</ogr:v></ogr:t></gml:featureMember>"""
    Prop.forAll(mutationGen(member.length)) { case (kind, pos, value) =>
      val bytes = mutate(member.getBytes("UTF-8"), kind, pos, value)
      cleanOrFails(s"gml k=$kind p=$pos v=$value") {
        Gml.parseFeatureMember(new String(bytes, "UTF-8"))
      }
    }
  }

  private lazy val enviFixture: (Array[Byte], Array[Byte]) = {
    val base = tmpRoot.resolve("fuzz_envi.dat").toString
    graft.raster.Envi.write(base,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992", "float64")
    (Files.readAllBytes(Paths.get(tmpRoot.resolve("fuzz_envi.hdr").toString)),
      Files.readAllBytes(Paths.get(base)))
  }

  property("envi read survives corrupt header and data bytes") =
    Prop.forAll(mutationGen(1 << 10), Gen.oneOf(true, false)) {
      case ((kind, pos, value), hitHeader) =>
        val (hdr, dat) = enviFixture
        val dir = Files.createTempDirectory(tmpRoot, "envi_case")
        val h = if (hitHeader) mutate(hdr, kind, pos, value) else hdr
        val d = if (hitHeader) dat else mutate(dat, kind, pos, value)
        Files.write(dir.resolve("s.hdr"), h)
        Files.write(dir.resolve("s.dat"), d)
        cleanOrFails(s"envi k=$kind p=$pos v=$value h=$hitHeader") {
          graft.raster.Envi.readBands(dir.resolve("s.dat").toString,
            "EPSG:28992")
        }
    }

  private lazy val ncFixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz.nc").toString
    graft.raster.NetCdf.write(p,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L), "float64")
    Files.readAllBytes(Paths.get(p))
  }

  property("netcdf read survives corrupt header/coordinate/payload bytes") =
    Prop.forAll(mutationGen(1 << 10)) { case (kind, pos, value) =>
      val bytes = mutate(ncFixture, kind, pos, value)
      val dir = Files.createTempDirectory(tmpRoot, "nc_case")
      val f = dir.resolve("s.nc")
      Files.write(f, bytes)
      cleanOrFails(s"netcdf k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.NetCdf.readMeta(ch, f.toString, "EPSG:28992")
          graft.raster.NetCdf.readBands(ch, m)
        } finally ch.close()
      }
    }

  private lazy val mifFixture: (Array[Byte], Array[Byte]) = {
    val mif =
      """Version 300
        |Delimiter ","
        |CoordSys Earth Projection 1, 104
        |Columns 2
        |  name Char(20)
        |  v Float
        |Data
        |Point 5.0 52.0
        |Pline 3
        |5.0 52.0
        |5.1 52.1
        |5.2 52.2
        |Region 2
        |  4
        |0 0
        |4 0
        |4 4
        |0 0
        |  4
        |1 1
        |2 1
        |2 2
        |1 1
        |""".stripMargin
    val mid = "\"a\",1.5\n\"b\",2.5\n\"c\",3.5\n"
    (mif.getBytes("UTF-8"), mid.getBytes("UTF-8"))
  }

  property("mif/mid read survives corrupt header/object/attribute bytes") =
    Prop.forAll(mutationGen(1 << 9), Gen.oneOf(true, false)) {
      case ((kind, pos, value), hitMif) =>
        val (mif, mid) = mifFixture
        val dir = Files.createTempDirectory(tmpRoot, "mif_case")
        Files.write(dir.resolve("s.mif"),
          if (hitMif) mutate(mif, kind, pos, value) else mif)
        Files.write(dir.resolve("s.mid"),
          if (hitMif) mid else mutate(mid, kind, pos, value))
        cleanOrFails(s"mif k=$kind p=$pos v=$value m=$hitMif") {
          graft.geometry.Mif.read(dir.resolve("s.mif").toString)
        }
    }

  private lazy val dxfFixture: Array[Byte] =
    Seq("0", "SECTION", "2", "ENTITIES",
      "0", "POINT", "8", "0", "10", "5.0", "20", "52.0",
      "1001", "GRAFT", "1000", "fid=1", "1000", "name=a",
      "0", "POLYLINE", "8", "0", "66", "1", "70", "1",
      "0", "VERTEX", "8", "0", "10", "0", "20", "0",
      "0", "VERTEX", "8", "0", "10", "4", "20", "0",
      "0", "VERTEX", "8", "0", "10", "4", "20", "4",
      "0", "SEQEND",
      "0", "LWPOLYLINE", "8", "0", "90", "2", "10", "1", "20", "1",
      "10", "2", "20", "2",
      "0", "CIRCLE", "8", "0", "10", "0", "20", "0", "40", "2",
      "0", "ENDSEC", "0", "EOF").mkString("\n").getBytes("UTF-8")

  property("dxf read survives corrupt/truncated drawing bytes") =
    Prop.forAll(mutationGen(1 << 9)) { case (kind, pos, value) =>
      val bytes = mutate(dxfFixture, kind, pos, value)
      val dir = Files.createTempDirectory(tmpRoot, "dxf_case")
      val f = dir.resolve("s.dxf")
      Files.write(f, bytes)
      cleanOrFails(s"dxf k=$kind p=$pos v=$value") {
        graft.geometry.Dxf.read(f.toString)
      }
    }

  private lazy val zarrFixture: java.nio.file.Path = {
    val root = tmpRoot.resolve("fuzz.zarr")
    graft.raster.Zarr.write(root.toString,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L), "float64", chunkH = 5, chunkW = 5)
    root
  }

  /** Copy the pristine store, then corrupt ONE member file. */
  private def corruptedZarr(member: String, kind: Int, pos: Int,
      value: Int): String = {
    val dst = Files.createTempDirectory(tmpRoot, "zarr_case")
    import scala.jdk.CollectionConverters._
    Files.walk(zarrFixture).iterator().asScala
      .filter(Files.isRegularFile(_)).foreach { p =>
        val rel = zarrFixture.relativize(p)
        val to = dst.resolve(rel)
        Files.createDirectories(to.getParent)
        Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
      }
    val target = dst.resolve(member)
    Files.write(target, mutate(Files.readAllBytes(target), kind, pos, value))
    dst.toString
  }

  private lazy val h5Fixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz.h5").toString
    graft.raster.Hdf5Write.write(p,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L), "float64", chunkRows = 5)
    Files.readAllBytes(Paths.get(p))
  }

  property("hdf5 read survives corrupt superblock/header/chunk bytes") =
    Prop.forAll(mutationGen(1 << 10)) { case (kind, pos, value) =>
      val bytes = mutate(h5Fixture, kind, pos, value)
      val dir = Files.createTempDirectory(tmpRoot, "h5_case")
      val f = dir.resolve("s.h5")
      Files.write(f, bytes)
      cleanOrFails(s"hdf5 k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Hdf5.readMeta(ch, f.toString, "EPSG:28992")
          graft.raster.Hdf5.readBands(ch, m)
        } finally ch.close()
      }
    }

  /** Small creation parameters force the full block graph (index /
    * super / paged data blocks; an internal B-tree level), so the
    * mutation sweep actually lands in the new structures. */
  private lazy val h5EaFixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_ea.h5").toString
    graft.raster.Hdf5Write.write(p,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0),
        Array.tabulate(64)(i => (i % 7).toDouble)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L, 7200000L), "float64", chunkRows = 1,
      chunkIndex = "earray", eaIdxBlkElmts = 1, eaMinElmts = 2,
      eaSupMinPtrs = 2, eaPageBits = 2)
    Files.readAllBytes(Paths.get(p))
  }

  private lazy val h5B2Fixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_b2.h5").toString
    graft.raster.Hdf5Write.write(p,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0),
        Array.tabulate(64)(i => (i % 7).toDouble)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L, 7200000L), "float64", chunkRows = 1,
      chunkIndex = "btree2", b2NodeSize = 512)
    Files.readAllBytes(Paths.get(p))
  }

  property("hdf5 1.10 chunk-index read survives corrupt EA/B-tree bytes") =
    Prop.forAll(mutationGen(math.max(h5EaFixture.length, h5B2Fixture.length)),
      Gen.oneOf(true, false)) { case ((kind, pos, value), ea) =>
      val fixture = if (ea) h5EaFixture else h5B2Fixture
      val bytes = mutate(fixture, kind, pos, value)
      val dir = Files.createTempDirectory(tmpRoot, "h5idx_case")
      val f = dir.resolve("s.h5")
      Files.write(f, bytes)
      cleanOrFails(s"hdf5idx ea=$ea k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Hdf5.readMeta(ch, f.toString, "EPSG:28992")
          graft.raster.Hdf5.readBands(ch, m)
        } finally ch.close()
      }
    }

  property("zarr read survives corrupt metadata/chunk/coordinate bytes") = {
    val members = Gen.oneOf("band1/.zarray", "band1/.zattrs", "band1/0.0.0",
      "band1/0.1.1", "time/0", "x/.zattrs", ".zgroup")
    Prop.forAll(mutationGen(1 << 9), members) {
      case ((kind, pos, value), member) =>
        val store = corruptedZarr(member, kind, pos, value)
        cleanOrFails(s"zarr m=$member k=$kind p=$pos v=$value") {
          val m = graft.raster.Zarr.readMeta(store, "EPSG:28992")
          graft.raster.Zarr.readFrames(m, 0 until m.nFrames)
        }
    }
  }

  private lazy val zarr3Fixture: java.nio.file.Path = {
    val root = tmpRoot.resolve("fuzz3.zarr")
    graft.raster.Zarr.write(root.toString,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L), "float64", chunkH = 5, chunkW = 5, zarrVersion = 3)
    root
  }

  property("zarr v3 read survives corrupt zarr.json/zstd-chunk bytes") = {
    val members = Gen.oneOf("band1/zarr.json", "band1/c/0/0/0",
      "band1/c/0/1/1", "time/c/0", "x/zarr.json", "zarr.json")
    Prop.forAll(mutationGen(1 << 9), members) {
      case ((kind, pos, value), member) =>
        val dst = Files.createTempDirectory(tmpRoot, "zarr3_case")
        import scala.jdk.CollectionConverters._
        Files.walk(zarr3Fixture).iterator().asScala
          .filter(Files.isRegularFile(_)).foreach { p =>
            val rel = zarr3Fixture.relativize(p)
            val to = dst.resolve(rel)
            Files.createDirectories(to.getParent)
            Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
          }
        val target = dst.resolve(member)
        Files.write(target,
          mutate(Files.readAllBytes(target), kind, pos, value))
        cleanOrFails(s"zarr3 m=$member k=$kind p=$pos v=$value") {
          val m = graft.raster.Zarr.readMeta(dst.toString, "EPSG:28992")
          graft.raster.Zarr.readFrames(m, 0 until m.nFrames)
        }
    }
  }

  private lazy val zarr3ShardFixture: java.nio.file.Path = {
    val root = tmpRoot.resolve("fuzz3s.zarr")
    graft.raster.Zarr.write(root.toString,
      Seq(Array.tabulate(64)(_ * 0.5), Array.tabulate(64)(_ * 2.0)),
      8, 8, Bbox(0, 0, 8, 8), -9999.0, "EPSG:28992",
      Seq(0L, 3600000L), "float64", chunkH = 4, chunkW = 4,
      zarrVersion = 3, shardSplit = 2)
    root
  }

  property("zarr v3 sharded read survives corrupt shard/index bytes") = {
    val members = Gen.oneOf("band1/zarr.json", "band1/c/0/0/0",
      "band1/c/1/1/1", "band1/c/0/1/0")
    Prop.forAll(mutationGen(1 << 9), members) {
      case ((kind, pos, value), member) =>
        val dst = Files.createTempDirectory(tmpRoot, "zarr3s_case")
        import scala.jdk.CollectionConverters._
        Files.walk(zarr3ShardFixture).iterator().asScala
          .filter(Files.isRegularFile(_)).foreach { p =>
            val rel = zarr3ShardFixture.relativize(p)
            val to = dst.resolve(rel)
            Files.createDirectories(to.getParent)
            Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
          }
        val target = dst.resolve(member)
        Files.write(target,
          mutate(Files.readAllBytes(target), kind, pos, value))
        cleanOrFails(s"zarr3s m=$member k=$kind p=$pos v=$value") {
          val m = graft.raster.Zarr.readMeta(dst.toString, "EPSG:28992")
          graft.raster.Zarr.readFrames(m, 0 until m.nFrames)
        }
    }
  }

  private lazy val gpkgTilesFixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_tiles.gpkg").toString
    graft.raster.GpkgTiles.write(p, Array.tabulate(64)(_ % 1000.0),
      8, 8, Bbox(0, 0, 8, 8), 65535.0, "EPSG:28992", tileSize = 5)
    Files.readAllBytes(Paths.get(p))
  }

  property("gpkg tile pyramid read survives corrupt database bytes") =
    Prop.forAll(mutationGen(1 << 12)) { case (kind, pos, value) =>
      val bytes = mutate(gpkgTilesFixture, kind, pos, value)
      val f = writeTmp("bad_tiles.gpkg", bytes)
      cleanOrFails(s"gpkg-tiles k=$kind p=$pos v=$value") {
        val m = graft.raster.GpkgTiles.readMeta(f)
        graft.raster.GpkgTiles.readBand(f, m)
      }
    }

  private lazy val gribFixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_stack.grib2").toString
    graft.raster.Grib.write(p,
      Seq(Array.tabulate(12 * 8)(i => (i % 37).toDouble),
        Array.tabulate(12 * 8)(i =>
          if (i % 5 == 0) Double.MaxValue else (i % 23).toDouble)),
      12, 8, Double.MaxValue, Seq(0L, 3600000L), 0.0, 0.0, 0.05)
    Files.readAllBytes(Paths.get(p))
  }

  property("grib2 read survives corrupt section/bitmap/payload bytes") =
    Prop.forAll(mutationGen(gribFixture.length)) { case (kind, pos, value) =>
      val bytes = mutate(gribFixture, kind, pos, value)
      val f = Files.createTempDirectory(tmpRoot, "grib_case")
        .resolve("s.grib2")
      Files.write(f, bytes)
      cleanOrFails(s"grib k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Grib.readMeta(ch, f.toString)
          m.fields.foreach(fd =>
            graft.raster.Grib.decode(ch, fd, Double.MaxValue))
        } finally ch.close()
      }
    }

  private val gribStackGen = for {
    w <- Gen.choose(1, 17)
    h <- Gen.choose(1, 13)
    nf <- Gen.choose(1, 3)
    base <- Gen.choose(-1000000, 1000000)
    range <- Gen.choose(0, 5000)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield (w, h, nf, base, range, seed)

  property("grib2 write/read round-trips random integral stacks exactly") =
    Prop.forAll(gribStackGen) { case (w, h, nf, base, range, seed) =>
      val nd = Double.MaxValue
      var s = seed
      def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
      val frames = Seq.fill(nf)(Array.fill(w * h) {
        val r = next()
        if (math.floorMod(r, 7) == 0L) nd
        else (base + math.floorMod(r >>> 8, (range + 1).toLong)).toDouble
      })
      val times = Seq.tabulate(nf)(i => i * 3600000L)
      val dir = Files.createTempDirectory(tmpRoot, "grib_rt")
      val p = dir.resolve("rt.grib2").toString
      graft.raster.Grib.write(p, frames, w, h, nd, times, 0.0, 0.0, 0.05)
      val ch = graft.io.PositionedReader.open(p)
      try {
        val m = graft.raster.Grib.readMeta(ch, p)
        val ok = m.w == w && m.h == h && m.timesMs == times &&
          m.fields.indices.forall { i =>
            graft.raster.Grib.decode(ch, m.fields(i), nd).sameElements(frames(i))
          }
        Prop(ok) :| s"w=$w h=$h nf=$nf base=$base range=$range"
      } finally ch.close()
    }

  private lazy val grib1SoFixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_so.grib").toString
    graft.raster.Grib.writeEdition1(p,
      Seq(Array.tabulate(12 * 8)(i => (i % 37 * (i / 12 + 1)).toDouble),
        Array.tabulate(12 * 8)(i =>
          if (i % 5 == 0) Double.MaxValue else (i % 23).toDouble)),
      12, 8, Double.MaxValue, Seq(0L, 3600000L), 0.0, 0.0, 0.05,
      secondOrder = true)
    Files.readAllBytes(Paths.get(p))
  }

  property("grib1 second-order read survives corrupt pointer/width/" +
      "bitmap bytes") =
    Prop.forAll(mutationGen(grib1SoFixture.length)) { case (kind, pos, value) =>
      val bytes = mutate(grib1SoFixture, kind, pos, value)
      val f = Files.createTempDirectory(tmpRoot, "grib1so_case")
        .resolve("s.grib")
      Files.write(f, bytes)
      cleanOrFails(s"grib1so k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Grib.readMeta(ch, f.toString)
          m.fields.foreach(fd =>
            graft.raster.Grib.decode(ch, fd, Double.MaxValue))
        } finally ch.close()
      }
    }

  property("grib1 second-order write/read round-trips random integral " +
      "stacks exactly") =
    Prop.forAll(gribStackGen) { case (w, h, nf, base, range, seed) =>
      val nd = Double.MaxValue
      var s = seed
      def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
      // second-order packing cannot express an ALL-nodata frame (no
      // group has a first-order reference): keep sample 0 live
      val frames = Seq.fill(nf)(Array.tabulate(w * h) { j =>
        val r = next()
        if (j != 0 && math.floorMod(r, 7) == 0L) nd
        else (base + math.floorMod(r >>> 8, (range + 1).toLong)).toDouble
      })
      val times = Seq.tabulate(nf)(i => i * 3600000L)
      val dir = Files.createTempDirectory(tmpRoot, "grib1so_rt")
      val p = dir.resolve("rt.grib").toString
      graft.raster.Grib.writeEdition1(p, frames, w, h, nd, times,
        0.0, 0.0, 0.05, secondOrder = true)
      val ch = graft.io.PositionedReader.open(p)
      try {
        val m = graft.raster.Grib.readMeta(ch, p)
        m.timesMs == times && frames.indices.forall { i =>
          graft.raster.Grib.decode(ch, m.fields(i), nd).toSeq ==
            frames(i).toSeq
        }
      } finally ch.close()
    }


  property("grib2 5.41 PNG write/read round-trips random stacks exactly") =
    Prop.forAll(gribStackGen, Gen.oneOf(1, 1, 3000)) {
      case ((w, h, nf, base, range, seed), mult) =>
        // mult widens the X range into the 16/24-bit PNG shapes
        // (1.5e7 < 2^24 keeps the writer's depth election in bounds)
        val nd = Double.MaxValue
        var s = seed
        def next(): Long = {
          s = s * 6364136223846793005L + 1442695040888963407L; s
        }
        val frames = Seq.fill(nf)(Array.fill(w * h) {
          val r = next()
          if (math.floorMod(r, 7) == 0L) nd
          else (base + mult * math.floorMod(r >>> 8, (range + 1).toLong))
            .toDouble
        })
        val times = Seq.tabulate(nf)(i => i * 3600000L)
        val dir = Files.createTempDirectory(tmpRoot, "grib41_rt")
        val p = dir.resolve("rt.grib2").toString
        graft.raster.Grib.write(p, frames, w, h, nd, times, 0.0, 0.0, 0.05,
          template = 41)
        val ch = graft.io.PositionedReader.open(p)
        try {
          val m = graft.raster.Grib.readMeta(ch, p)
          val ok = m.w == w && m.h == h && m.timesMs == times &&
            m.fields.indices.forall { i =>
              graft.raster.Grib.decode(ch, m.fields(i), nd)
                .sameElements(frames(i))
            }
          Prop(ok) :| s"w=$w h=$h nf=$nf base=$base range=$range mult=$mult"
        } finally ch.close()
    }

  private lazy val grib41Fixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_541.grib2").toString
    graft.raster.Grib.write(p,
      Seq(Array.tabulate(12 * 8)(i => (i % 300 * 77).toDouble),
        Array.tabulate(12 * 8)(i =>
          if (i % 5 == 0) Double.MaxValue else (i % 23).toDouble)),
      12, 8, Double.MaxValue, Seq(0L, 3600000L), 0.0, 0.0, 0.05,
      template = 41)
    Files.readAllBytes(Paths.get(p))
  }

  property("grib2 5.41 PNG read survives corrupt section/payload bytes") =
    Prop.forAll(mutationGen(grib41Fixture.length)) { case (kind, pos, value) =>
      val bytes = mutate(grib41Fixture, kind, pos, value)
      val f = Files.createTempDirectory(tmpRoot, "grib41_case")
        .resolve("s.grib2")
      Files.write(f, bytes)
      cleanOrFails(s"grib41 k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Grib.readMeta(ch, f.toString)
          m.fields.foreach(fd =>
            graft.raster.Grib.decode(ch, fd, Double.MaxValue))
        } finally ch.close()
      }
    }

  /** Reduced lat/lon (quasi-regular) fixture: 3.0 with a 2-octet
    * per-row point list, rows of 5/3/4/5 points, simple 8-bit packing —
    * byte-built here so mutations hit the list-parsing path. */
  private lazy val gribReducedFixture: Array[Byte] = {
    val rows = Seq(5, 3, 4, 5)
    val vals = rows.zipWithIndex.flatMap { case (c, r) =>
      (0 until c).map(i => r * 40 + i) }
    val nj = rows.length
    val sec3Len = 72 + nj * 2
    val msgLen = 16 + 21 + sec3Len + 34 + 21 + 6 + (5 + vals.length) + 4
    val o = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = o.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >>> 16).toInt); u16(v.toInt) }
    o.write("GRIB".getBytes("US-ASCII")); u16(0); u8(0); u8(2)
    u32(0); u32(msgLen.toLong)
    u32(21); u8(1); u16(98); u16(0); u8(2); u8(1); u8(0)
    u16(2020); u8(3); u8(1); u8(6); u8(0); u8(0); u8(0); u8(0)
    u32(sec3Len.toLong); u8(3); u8(0); u32(vals.length.toLong)
    u8(2); u8(1); u16(0)
    u8(6); u8(0); u32(0); u8(0); u32(0); u8(0); u32(0)
    u32(0xFFFFFFFFL); u32(nj.toLong)
    u32(0); u32(0)
    u32(52000000L); u32(4000000L)
    u8(0x30)
    u32(0L); u32(6000000L)
    u32(0xFFFFFFFFL); u32(500000L); u8(0)
    rows.foreach(u16)
    u32(34); u8(4); u16(0); u16(0)
    u8(1); u8(8); u8(2); u8(0); u8(0); u16(0); u8(0)
    u8(1); u32(0L)
    u8(1); u8(0); u32(0); u8(255); u8(0); u32(0)
    u32(21); u8(5); u32(vals.length.toLong); u16(0)
    u32(0L); u16(0); u16(0); u8(8); u8(0) // R=0f, E, D, bits, type
    u32(6L); u8(6); u8(255)
    u32(5L + vals.length); u8(7); vals.foreach(u8)
    o.write("7777".getBytes("US-ASCII"))
    o.toByteArray
  }

  property("grib2 reduced-grid read survives corrupt point-list bytes") =
    Prop.forAll(mutationGen(gribReducedFixture.length)) {
      case (kind, pos, value) =>
        val bytes = mutate(gribReducedFixture, kind, pos, value)
        val f = Files.createTempDirectory(tmpRoot, "gribred_case")
          .resolve("s.grib2")
        Files.write(f, bytes)
        cleanOrFails(s"gribred k=$kind p=$pos v=$value") {
          val ch = graft.io.PositionedReader.open(f.toString)
          try {
            val m = graft.raster.Grib.readMeta(ch, f.toString)
            m.fields.foreach(fd =>
              graft.raster.Grib.decode(ch, fd, Double.MaxValue))
          } finally ch.close()
        }
      }

  private lazy val grib1Fixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_stack.grib").toString
    graft.raster.Grib.writeEdition1(p,
      Seq(Array.tabulate(12 * 8)(i => (i % 37).toDouble),
        Array.tabulate(12 * 8)(i =>
          if (i % 5 == 0) Double.MaxValue else (i % 23).toDouble)),
      12, 8, Double.MaxValue, Seq(0L, 3600000L), 0.0, 0.0, 0.05)
    Files.readAllBytes(Paths.get(p))
  }

  property("grib1 read survives corrupt section/bitmap/payload bytes") =
    Prop.forAll(mutationGen(grib1Fixture.length)) { case (kind, pos, value) =>
      val bytes = mutate(grib1Fixture, kind, pos, value)
      val f = Files.createTempDirectory(tmpRoot, "grib1_case")
        .resolve("s.grib")
      Files.write(f, bytes)
      cleanOrFails(s"grib1 k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Grib.readMeta(ch, f.toString)
          m.fields.foreach(fd =>
            graft.raster.Grib.decode(ch, fd, Double.MaxValue))
        } finally ch.close()
      }
    }

  property("grib1 write/read round-trips random integral stacks exactly") =
    Prop.forAll(gribStackGen, Gen.choose(0, 5)) {
      case ((w, h, nf, base, range, seed), fh) =>
        val nd = Double.MaxValue
        var s = seed
        def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
        val frames = Seq.fill(nf)(Array.fill(w * h) {
          val r = next()
          if (math.floorMod(r, 7) == 0L) nd
          else (base + math.floorMod(r >>> 8, (range + 1).toLong)).toDouble
        })
        // a GRIB1 constant (nbits=0) field cannot carry a bitmap:
        // densify frames whose live values would pack to zero bits
        val dense = frames.map { f =>
          val live = f.filter(_ != nd)
          if (live.length == f.length) f
          else if (live.isEmpty) Array.fill(f.length)(base.toDouble)
          else if (live.distinct.length == 1)
            f.map(v => if (v == nd) live.head else v)
          else f
        }
        val times = Seq.tabulate(nf)(i => (fh + i) * 3600000L)
        val dir = Files.createTempDirectory(tmpRoot, "grib1_rt")
        val p = dir.resolve("rt.grib").toString
        graft.raster.Grib.writeEdition1(p, dense, w, h, nd, times, 0.0,
          0.0, 0.05, forecastHours = fh)
        val ch = graft.io.PositionedReader.open(p)
        try {
          val m = graft.raster.Grib.readMeta(ch, p)
          val ok = m.w == w && m.h == h && m.timesMs == times &&
            m.fields.indices.forall { i =>
              graft.raster.Grib.decode(ch, m.fields(i), nd)
                .sameElements(dense(i))
            }
          Prop(ok) :| s"w=$w h=$h nf=$nf base=$base range=$range fh=$fh"
        } finally ch.close()
    }

  private lazy val gribComplexFixture: Array[Byte] = {
    val p = tmpRoot.resolve("fuzz_cx.grib2").toString
    graft.raster.Grib.write(p,
      Seq(Array.tabulate(12 * 8)(i => (i % 37).toDouble),
        Array.tabulate(12 * 8)(i =>
          if (i % 5 == 0) Double.MaxValue else (i % 23).toDouble)),
      12, 8, Double.MaxValue, Seq(0L, 3600000L), 0.0, 0.0, 0.05,
      template = 3, sdOrder = 2)
    Files.readAllBytes(Paths.get(p))
  }

  property("grib2 complex-packed read survives corrupt bytes") =
    Prop.forAll(mutationGen(gribComplexFixture.length)) { case (kind, pos, value) =>
      val bytes = mutate(gribComplexFixture, kind, pos, value)
      val f = Files.createTempDirectory(tmpRoot, "grib_cxm")
        .resolve("s.grib2")
      Files.write(f, bytes)
      cleanOrFails(s"grib-cx k=$kind p=$pos v=$value") {
        val ch = graft.io.PositionedReader.open(f.toString)
        try {
          val m = graft.raster.Grib.readMeta(ch, f.toString)
          m.fields.foreach(fd =>
            graft.raster.Grib.decode(ch, fd, Double.MaxValue))
        } finally ch.close()
      }
    }

  private val gribComplexGen = for {
    t <- gribStackGen
    tpl <- Gen.oneOf(2, 3)
    od <- Gen.oneOf(1, 2)
  } yield (t, tpl, od)

  property("grib2 complex packing (5.2/5.3) round-trips exactly") =
    Prop.forAll(gribComplexGen) { case ((w, h, nf, base, range, seed), tpl, od) =>
      val nd = Double.MaxValue
      var s = seed
      def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
      val frames = Seq.fill(nf)(Array.fill(w * h) {
        val r = next()
        if (math.floorMod(r, 7) == 0L) nd
        else (base + math.floorMod(r >>> 8, (range + 1).toLong)).toDouble
      })
      val times = Seq.tabulate(nf)(i => i * 3600000L)
      val dir = Files.createTempDirectory(tmpRoot, "grib_cx")
      val p = dir.resolve("cx.grib2").toString
      graft.raster.Grib.write(p, frames, w, h, nd, times, 0.0, 0.0, 0.05,
        template = tpl, sdOrder = od)
      val ch = graft.io.PositionedReader.open(p)
      try {
        val m = graft.raster.Grib.readMeta(ch, p)
        val ok = m.w == w && m.h == h && m.timesMs == times &&
          m.fields.indices.forall { i =>
            graft.raster.Grib.decode(ch, m.fields(i), nd).sameElements(frames(i))
          }
        Prop(ok) :| s"w=$w h=$h nf=$nf base=$base range=$range tpl=$tpl od=$od"
      } finally ch.close()
    }

  private lazy val vrtFixture: Array[Byte] = {
    val dir = Files.createTempDirectory(tmpRoot, "vrt_fix")
    GeoTiff.write(dir.resolve("a.tif").toString,
      Array.tabulate(16)(_ * 1.0), 4, 4, Bbox(0, 0, 2, 2), 28992,
      -9999.0, "float64")
    val vrt =
      s"""<VRTDataset rasterXSize="4" rasterYSize="4">
         |<SRS>EPSG:28992</SRS>
         |<GeoTransform>0, 0.5, 0, 2.0, 0, -0.5</GeoTransform>
         |<VRTRasterBand dataType="Float64" band="1">
         |<NoDataValue>-9999</NoDataValue>
         |<SimpleSource>
         |<SourceFilename relativeToVRT="1">a.tif</SourceFilename>
         |<SourceBand>1</SourceBand>
         |<SrcRect xOff="0" yOff="0" xSize="4" ySize="4"/>
         |<DstRect xOff="0" yOff="0" xSize="4" ySize="4"/>
         |</SimpleSource>
         |</VRTRasterBand>
         |</VRTDataset>""".stripMargin
    Files.write(dir.resolve("m.vrt"), vrt.getBytes("UTF-8"))
    vrtFixtureDir = dir.toString
    vrt.getBytes("UTF-8")
  }
  private var vrtFixtureDir: String = _

  property("vrt mosaic read survives corrupt/truncated descriptor bytes") =
    Prop.forAll(mutationGen(1 << 9)) { case (kind, pos, value) =>
      val bytes = mutate(vrtFixture, kind, pos, value)
      val f = Paths.get(vrtFixtureDir).resolve(s"bad_$kind$pos$value.vrt")
      Files.write(f, bytes)
      cleanOrFails(s"vrt k=$kind p=$pos v=$value") {
        val m = graft.raster.Vrt.readMeta(f.toString)
        m.bands.indices.foreach(b => graft.raster.Vrt.readBand(m, b))
      }
    }

  private lazy val tabFixtureDir: String = {
    val dir = Files.createTempDirectory(tmpRoot, "tab_fix")
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val rows = (0 until 20).map { i =>
      val g: org.locationtech.jts.geom.Geometry =
        if (i % 3 == 0) gf.createPoint(
          new org.locationtech.jts.geom.Coordinate(4.5 + i * 0.01, 52.0))
        else if (i % 3 == 1) gf.createLineString(Array(
          new org.locationtech.jts.geom.Coordinate(4.0 + i * 0.01, 52.0),
          new org.locationtech.jts.geom.Coordinate(4.1 + i * 0.01, 52.1)))
        else gf.createPolygon(Array(
          new org.locationtech.jts.geom.Coordinate(0 + i, 0),
          new org.locationtech.jts.geom.Coordinate(1 + i, 0),
          new org.locationtech.jts.geom.Coordinate(1 + i, 1),
          new org.locationtech.jts.geom.Coordinate(0 + i, 0)))
      (g, Seq(i.toString, s"row$i"))
    }
    val env = new org.locationtech.jts.geom.Envelope()
    rows.foreach { case (g, _) => env.expandToInclude(g.getEnvelopeInternal) }
    graft.geometry.Tab.writeStreaming(dir.resolve("f.tab").toString,
      Seq("fid" -> "Integer", "name" -> "Char (12)"), rows.iterator, rows.length, env,
      "EPSG:4326")
    dir.toString
  }

  property("tab quartet read survives corrupt .map/.dat/.id bytes") = {
    val members = Gen.oneOf("f.map", "f.dat", "f.id", "f.tab")
    Prop.forAll(mutationGen(1 << 10), members) { case ((kind, pos, value), m) =>
      val pristine = tabFixtureDir
      val dir = Files.createTempDirectory(tmpRoot, "tab_case")
      Seq("f.tab", "f.map", "f.dat", "f.id").foreach { f =>
        Files.copy(Paths.get(pristine, f), dir.resolve(f))
      }
      val bytes = mutate(Files.readAllBytes(dir.resolve(m)), kind, pos, value)
      Files.write(dir.resolve(m), bytes)
      cleanOrFails(s"tab k=$kind p=$pos v=$value m=$m") {
        graft.geometry.Tab.read(dir.resolve("f.tab").toString)
      }
    }
  }

  private lazy val wavFixture: Array[Byte] =
    graft.pipeline.Wav.encode(
      Array.tabulate(500)(i => ((i * 977) % 65536 - 32768).toShort), 16000)

  property("wav decode survives corrupt header/chunk/payload bytes") =
    Prop.forAll(mutationGen(wavFixture.length)) { case (kind, pos, value) =>
      val bytes = mutate(wavFixture, kind, pos, value)
      cleanOrFails(s"wav k=$kind p=$pos v=$value") {
        graft.pipeline.Wav.decode(bytes)
      }
    }

  property("gpx element parse survives corrupt/truncated fragments") = {
    val wpt =
      """<wpt lat="52.05" lon="5.1"><ele>12.5</ele><name>home</name><extensions><graft:fid>3</graft:fid><graft:p>7</graft:p></extensions></wpt>"""
    val trk =
      """<trk><name>ride</name><extensions><graft:fid>4</graft:fid></extensions><trkseg><trkpt lat="52.0" lon="5.0"></trkpt><trkpt lat="52.1" lon="5.1"></trkpt></trkseg></trk>"""
    Prop.forAll(mutationGen(trk.length), Gen.oneOf(true, false)) {
      case ((kind, pos, value), isWpt) =>
        val src = if (isWpt) wpt else trk
        val bytes = mutate(src.getBytes("UTF-8"), kind, pos, value)
        cleanOrFails(s"gpx k=$kind p=$pos v=$value w=$isWpt") {
          val s = new String(bytes, "UTF-8")
          if (isWpt) graft.geometry.Gpx.parseWpt(s)
          else graft.geometry.Gpx.parseTrk(s)
        }
    }
  }
}
