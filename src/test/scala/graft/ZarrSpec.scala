package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import graft.raster._

class ZarrSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // --------------------------------------------- foreign store builder
  // Hand-written JSON + raw bytes (NOT the Zarr.write code path) so
  // foreign-layout reads are tested against independently built stores.

  private def writeJson(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  private def beShorts(vals: Seq[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 2).order(ByteOrder.BIG_ENDIAN)
    vals.foreach(v => bb.putShort(v.toShort))
    bb.array()
  }

  private def leDoubles(vals: Seq[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble)
    bb.array()
  }

  /** A foreign store exercising everything our sink does NOT write:
    * "/" separator, ascending y, big-endian int16 with scale/offset and
    * attrs _FillValue, no compressor, a MISSING chunk, padded edge
    * chunks, degree coordinates (no grid_mapping). 2 frames of 3×5. */
  private def buildForeign(rootS: String): Unit = {
    val root = Paths.get(rootS)
    writeJson(root.resolve(".zgroup"), """{"zarr_format": 2}""")
    def arr1d(name: String, vals: Seq[Double], attrs: String): Unit = {
      writeJson(root.resolve(name).resolve(".zarray"),
        s"""{"zarr_format": 2, "shape": [${vals.length}],
           | "chunks": [${vals.length}], "dtype": "<f8",
           | "compressor": null, "fill_value": null,
           | "order": "C", "filters": null}""".stripMargin)
      writeJson(root.resolve(name).resolve(".zattrs"), attrs)
      Files.write(root.resolve(name).resolve("0"), leDoubles(vals))
    }
    // cell centers, 0.25° pixels; y ASCENDING (bottom row first in file)
    arr1d("lon", Seq(5.125, 5.375, 5.625, 5.875, 6.125),
      """{"_ARRAY_DIMENSIONS": ["lon"], "units": "degrees_east"}""")
    arr1d("lat", Seq(52.125, 52.375, 52.625),
      """{"_ARRAY_DIMENSIONS": ["lat"], "units": "degrees_north"}""")
    arr1d("time", Seq(0.0, 24.0),
      """{"_ARRAY_DIMENSIONS": ["time"],
        | "units": "hours since 2000-01-01"}""".stripMargin)
    // data: (time=2, lat=3, lon=5), chunks (1, 2, 4) with "/" separator,
    // raw = (true - 10) / 0.5, fill raw = -999
    writeJson(root.resolve("temp").resolve(".zarray"),
      """{"zarr_format": 2, "shape": [2, 3, 5], "chunks": [1, 2, 4],
        | "dtype": ">i2", "compressor": null, "fill_value": -999,
        | "order": "C", "filters": null,
        | "dimension_separator": "/"}""".stripMargin)
    writeJson(root.resolve("temp").resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["time", "lat", "lon"],
        | "scale_factor": 0.5, "add_offset": 10.0,
        | "_FillValue": -999}""".stripMargin)
    // true value at (t, row-from-top r, col c) = 100t + 10r + c (r counts
    // from the TOP); file rows are lat order = bottom-up, so file row j
    // holds top-row r = 2 - j. raw = (true - 10) / 0.5 = 2*true - 20.
    def raw(t: Int, r: Int, c: Int): Int = 2 * (100 * t + 10 * r + c) - 20
    def chunkBytes(t: Int, cy: Int, cx: Int): Array[Byte] = {
      val vals = for (jy <- 0 until 2; jx <- 0 until 4) yield {
        val fileRow = cy * 2 + jy; val col = cx * 4 + jx
        if (fileRow >= 3 || col >= 5) -999 // edge padding
        else raw(t, 2 - fileRow, col)
      }
      beShorts(vals)
    }
    for (t <- 0 until 2; cy <- 0 until 2; cx <- 0 until 2)
      // chunk (1,1,1) of frame 1 is MISSING: those cells read as fill
      if (!(t == 1 && cy == 1 && cx == 1)) {
        val p = root.resolve("temp").resolve(s"$t").resolve(s"$cy")
        Files.createDirectories(p)
        Files.write(p.resolve(s"$cx"), chunkBytes(t, cy, cx))
      }
  }

  test("Zarr round-trips the whole stack: values, times, CRS, extent") {
    val dir = tmp("graft_zarr")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr",
      chunkH = 4, chunkW = 3).write(req)(spark)
    val back = ZarrSource(s"$dir/stack.zarr")
    assert(back.projection == "EPSG:28992")
    assert(back.temporal && back.timeDeltaMs.contains(RasterFixtures.Hour))
    assert(back.allTimes == Seq(0, 1, 2).map(i =>
      RasterFixtures.T0.plusMillis(i * RasterFixtures.Hour)))
    assert(back.cellSize.contains(0.5))
    assert(back.extent.contains(req.bbox.copy(
      x1 = 135000, y1 = 455997, x2 = 135002, y2 = 456000)))
    val res = back.getData(req)(spark).get
    val want = RasterFixtures.source.getData(req)(spark).get
    assert(res.times == want.times)
    assert(res.values.map(_.toSeq).toSeq == want.values.map(_.toSeq).toSeq)
    assert(res.noDataValue == want.noDataValue)
    // the store is chunked: the 4×6-px frame over a (4,3)-chunked 6×4
    // grid has 2×2 chunks per frame
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/band1/0.0.0")))
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/band1/0.1.1")))
  }

  test("temporal slice decodes only the selected frames' chunks") {
    val dir = tmp("graft_zarr_slice")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr").write(req)(spark)
    // clobber frame 0's chunk: a correctly pruned single-frame read of
    // frame 1 must not touch it
    val f0 = Paths.get(s"$dir/stack.zarr/band1/0.0.0")
    Files.write(f0, Array.fill[Byte](8)(0x7F))
    val back = ZarrSource(s"$dir/stack.zarr")
    val one = back.getData(req.copy(
      start = Some(RasterFixtures.T0.plusMillis(RasterFixtures.Hour)),
      stop = Some(RasterFixtures.T0.plusMillis(RasterFixtures.Hour))))(spark).get
    assert(one.times.length == 1 && one.values.head.forall(_ == 7.0))
  }

  test("foreign store: separators, big-endian, scale/offset, missing chunk") {
    val dir = tmp("graft_zarr_foreign")
    buildForeign(s"$dir/f.zarr")
    val src = ZarrSource(s"$dir/f.zarr")
    assert(src.projection == "EPSG:4326") // degrees heuristic
    assert(src.cellSize.contains(0.25))
    // ascending lat → origin is the lat max edge
    assert(src.extent.contains(Bbox(5.0, 52.0, 6.25, 52.75)))
    assert(src.allTimes == Seq("2000-01-01T00:00:00Z", "2000-01-02T00:00:00Z")
      .map(java.time.Instant.parse))
    val req = RasterRequest(Bbox(5.0, 52.0, 6.25, 52.75), "EPSG:4326", 5, 3,
      Some(java.time.Instant.parse("2000-01-01T00:00:00Z")),
      Some(java.time.Instant.parse("2000-01-02T00:00:00Z")))
    val res = src.getData(req)(spark).get
    assert(res.values.length == 2)
    val nd = res.noDataValue
    // frame 0 complete: value = 100*0 + 10*r + c (top-first)
    val f0 = res.values(0)
    for (r <- 0 until 3; c <- 0 until 5)
      assert(f0(r * 5 + c) == 10.0 * r + c, s"f0($r,$c)")
    // frame 1: the missing chunk (file rows 2.., cols 4..) = top row r=0,
    // col 4 → nodata; everything else present
    val f1 = res.values(1)
    assert(f1(0 * 5 + 4) == nd)
    for (r <- 0 until 3; c <- 0 until 5 if !(r == 0 && c == 4))
      assert(f1(r * 5 + c) == 100.0 + 10 * r + c, s"f1($r,$c)")
  }

  test("consolidated .zmetadata alone is enough to open the store") {
    val dir = tmp("graft_zarr_cons")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr").write(req)(spark)
    // delete every per-array metadata document: a consolidated reader
    // must resolve all arrays (incl. the grid-mapping CRS) from the ONE
    // .zmetadata object
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(s"$dir/stack.zarr")).iterator().asScala
      .filter(p => p.getFileName.toString == ".zarray" ||
        (p.getFileName.toString == ".zattrs" && p.getParent.getFileName
          .toString != "stack.zarr"))
      .toList.foreach(Files.delete)
    val back = ZarrSource(s"$dir/stack.zarr")
    assert(back.projection == "EPSG:28992")
    assert(back.allTimes.length == 3)
    val res = back.getData(req)(spark).get
    val want = RasterFixtures.source.getData(req)(spark).get
    assert(res.values.map(_.toSeq).toSeq == want.values.map(_.toSeq).toSeq)
  }

  test("RasterFileSource dispatches zarr directories; failures are loud") {
    val dir = tmp("graft_zarr_misc")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr").write(req)(spark)
    val viaDispatch = RasterFileSource(s"$dir/stack.zarr")
    assert(viaDispatch.isInstanceOf[ZarrSource])
    assert(viaDispatch.allTimes.length == 3)

    // unsupported compressor fails loudly, not garbage
    val blosc = Paths.get(dir, "blosc.zarr")
    writeJson(blosc.resolve(".zgroup"), """{"zarr_format": 2}""")
    writeJson(blosc.resolve("v").resolve(".zarray"),
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2],
        | "dtype": "<f8", "order": "C", "filters": null,
        | "fill_value": 0,
        | "compressor": {"id": "blosc", "cname": "lz4"}}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrSource(blosc.toString)
      .allTimes)
    assert(e.getMessage.contains("blosc"))

    // Fortran order fails loudly
    val forder = Paths.get(dir, "forder.zarr")
    writeJson(forder.resolve(".zgroup"), """{"zarr_format": 2}""")
    writeJson(forder.resolve("v").resolve(".zarray"),
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2],
        | "dtype": "<f8", "order": "F", "filters": null,
        | "fill_value": 0, "compressor": null}""".stripMargin)
    val e2 = intercept[IllegalArgumentException](ZarrSource(forder.toString)
      .allTimes)
    assert(e2.getMessage.contains("Fortran"))
  }

  test("a store marked only by .zmetadata opens through RasterFileSource " +
    "and graft-raster alike") {
    val dir = tmp("graft_zarr_zmeta")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr").write(req)(spark)
    // consolidated metadata is the only marker left, under a plain name
    val store = Paths.get(dir, "plainstore")
    Files.move(Paths.get(dir, "stack.zarr"), store)
    Files.delete(store.resolve(".zgroup"))
    assert(Files.exists(store.resolve(".zmetadata")))
    val src = RasterFileSource(store.toString)
    assert(src.isInstanceOf[ZarrSource])
    assert(src.getData(req)(spark).get.values.map(_.toSeq).toSeq ==
      RasterFixtures.source.getData(req)(spark).get.values.map(_.toSeq).toSeq)
    assert(graft.sources.GraftRasterTable.kindOf(store.toString) == "zarr")
    assert(graft.sources.GraftRasterTable.datasets(Seq(dir)) ==
      Seq(("zarr", store.toString)))
  }

  // ------------------------------------------------------------ zarr v3

  test("Zarr v3 sink round-trip: zstd codec, c/ chunk keys, group doc") {
    val dir = tmp("graft_zarr3")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr", chunkH = 7,
      chunkW = 5, zarrVersion = 3).write(req)(spark)
    // v3 layout on disk: one zarr.json per node, chunks under c/
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/zarr.json")))
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/band1/zarr.json")))
    assert(!Files.exists(Paths.get(s"$dir/stack.zarr/band1/.zarray")))
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/band1/c/0/0/0")))
    val back = RasterFileSource(s"$dir/stack.zarr")
    assert(back.isInstanceOf[ZarrSource])
    assert(back.projection == "EPSG:28992")
    val res = back.getData(req)(spark).get
    val want = RasterFixtures.source.getData(req)(spark).get
    assert(res.times == want.times)
    assert(res.values.map(_.toSeq).toSeq == want.values.map(_.toSeq).toSeq)
    // bool rasters carry the spec data_type "bool" (not a uint alias)
    // with a JSON-boolean fill, and read back through our own parser
    val bv = graft.raster.IsData(RasterFixtures.source)
    ZarrSink(bv, s"$dir/mask.zarr", chunkH = 7, chunkW = 5,
      zarrVersion = 3).write(req)(spark)
    val meta = Files.readString(
      Paths.get(s"$dir/mask.zarr/band1/zarr.json"))
    assert(meta.contains("\"data_type\":\"bool\""), meta)
    assert(!meta.contains("uint8"), meta)
    val bres = RasterFileSource(s"$dir/mask.zarr").getData(req)(spark).get
    assert(bres.values.map(_.toSeq).toSeq ==
      bv.getData(req)(spark).get.values.map(_.toSeq).toSeq)
  }

  test("foreign v3 store: gzip, big-endian, v2-style chunk keys") {
    val root = Paths.get(tmp("graft_zarr3f"), "s.zarr")
    writeJson(root.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    def coord(name: String, vals: Seq[Double], units: String): Unit = {
      writeJson(root.resolve(name).resolve("zarr.json"),
        s"""{"zarr_format": 3, "node_type": "array",
           | "shape": [${vals.length}], "data_type": "float64",
           | "chunk_grid": {"name": "regular",
           |   "configuration": {"chunk_shape": [${vals.length}]}},
           | "chunk_key_encoding": {"name": "default",
           |   "configuration": {"separator": "/"}},
           | "fill_value": "NaN",
           | "codecs": [{"name": "bytes",
           |   "configuration": {"endian": "little"}}],
           | "attributes": {"units": "$units"},
           | "dimension_names": ["$name"]}""".stripMargin)
      val d = root.resolve(name).resolve("c")
      Files.createDirectories(d)
      Files.write(d.resolve("0"), leDoubles(vals))
    }
    coord("lon", Seq(5.125, 5.375, 5.625), "degrees_east")
    coord("lat", Seq(52.375, 52.125), "degrees_north")
    // data 2x3 int16 BIG endian + gzip, v2-style keys "0.0"
    writeJson(root.resolve("t2m").resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [2, 3], "data_type": "int16",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [2, 3]}},
        | "chunk_key_encoding": {"name": "v2",
        |   "configuration": {"separator": "."}},
        | "fill_value": -9,
        | "codecs": [{"name": "bytes", "configuration": {"endian": "big"}},
        |   {"name": "gzip", "configuration": {"level": 6}}],
        | "attributes": {},
        | "dimension_names": ["lat", "lon"]}""".stripMargin)
    val raw = beShorts(Seq(11, 12, 13, 21, 22, 23))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    Files.write(root.resolve("t2m").resolve("0.0"), bos.toByteArray)
    val src = ZarrSource(root.toString)
    assert(src.projection == "EPSG:4326") // degree units, no grid_mapping
    assert(src.cellSize.contains(0.25))
    val req = RasterRequest(src.extent.get, "EPSG:4326", 3, 2, None, None)
    // lat DESCENDING in file = top row first: row 0 = (11,12,13)
    assert(src.getData(req)(spark).get.values(0).toSeq ==
      Seq(11.0, 12.0, 13.0, 21.0, 22.0, 23.0))
  }

  test("v3 sharded sink round-trip: index footer, crc32c, inner zstd") {
    val dir = tmp("graft_zarr3s")
    val req = RasterFixtures.valsRequest
    ZarrSink(RasterFixtures.source, s"$dir/stack.zarr", chunkH = 6,
      chunkW = 4, zarrVersion = 3, shardSplit = 2).write(req)(spark)
    val meta = Files.readString(
      Paths.get(s"$dir/stack.zarr/band1/zarr.json"))
    assert(meta.contains("sharding_indexed") && meta.contains("crc32c"),
      meta)
    // one shard file per (frame, whole plane): chunk grid is 3×1×1
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/band1/c/0/0/0")))
    assert(Files.exists(Paths.get(s"$dir/stack.zarr/band1/c/2/0/0")))
    val back = RasterFileSource(s"$dir/stack.zarr")
    val res = back.getData(req)(spark).get
    val want = RasterFixtures.source.getData(req)(spark).get
    assert(res.times == want.times)
    assert(res.values.map(_.toSeq).toSeq == want.values.map(_.toSeq).toSeq)
    // intra-shard pruning path: single-frame slice still exact
    val req1 = req.copy(start = Some(RasterFixtures.T0.plusMillis(3600000L)),
      stop = Some(RasterFixtures.T0.plusMillis(3600000L)))
    val r1 = back.getData(req1)(spark).get
    assert(r1.values.length == 1 &&
      r1.values.head.sameElements(want.values(1)))
  }

  test("foreign hand-built sharded store: missing inner chunk, " +
      "index at start, crc verified") {
    val root = Paths.get(tmp("graft_zarr3sh"), "s.zarr")
    writeJson(root.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    def coord(name: String, vals: Seq[Double], units: String): Unit = {
      writeJson(root.resolve(name).resolve("zarr.json"),
        s"""{"zarr_format": 3, "node_type": "array",
           | "shape": [${vals.length}], "data_type": "float64",
           | "chunk_grid": {"name": "regular",
           |   "configuration": {"chunk_shape": [${vals.length}]}},
           | "chunk_key_encoding": {"name": "default"},
           | "fill_value": "NaN",
           | "codecs": [{"name": "bytes",
           |   "configuration": {"endian": "little"}}],
           | "attributes": {"units": "$units"},
           | "dimension_names": ["$name"]}""".stripMargin)
      val d = root.resolve(name).resolve("c")
      Files.createDirectories(d)
      Files.write(d.resolve("0"), leDoubles(vals))
    }
    coord("lon", Seq(5.125, 5.375, 5.625, 5.875, 6.125, 6.375),
      "degrees_east")
    coord("lat", Seq(52.875, 52.625, 52.375, 52.125), "degrees_north")
    // 4×6 float64, shards of [2,6] with [2,3] inner chunks, index AT
    // THE START of the shard, [bytes, crc32c] index codecs
    writeJson(root.resolve("t2m").resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [4, 6], "data_type": "float64",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [2, 6]}},
        | "chunk_key_encoding": {"name": "default"},
        | "fill_value": -9,
        | "codecs": [{"name": "sharding_indexed",
        |   "configuration": {"chunk_shape": [2, 3],
        |     "codecs": [{"name": "bytes",
        |       "configuration": {"endian": "little"}}],
        |     "index_codecs": [{"name": "bytes",
        |       "configuration": {"endian": "little"}},
        |       {"name": "crc32c"}],
        |     "index_location": "start"}}],
        | "dimension_names": ["lat", "lon"]}""".stripMargin)
    def shardFile(chunks: Seq[Option[Array[Byte]]]): Array[Byte] = {
      val idxLen = chunks.length * 16 + 4
      val idx = java.nio.ByteBuffer.allocate(chunks.length * 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val payload = new java.io.ByteArrayOutputStream()
      var off = idxLen.toLong // offsets are absolute within the shard
      chunks.foreach {
        case None => idx.putLong(-1L); idx.putLong(-1L)
        case Some(b) =>
          idx.putLong(off); idx.putLong(b.length.toLong)
          payload.write(b); off += b.length
      }
      val crc = new java.util.zip.CRC32C
      crc.update(idx.array())
      val crcB = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(crc.getValue.toInt).array()
      idx.array() ++ crcB ++ payload.toByteArray
    }
    val cDir = root.resolve("t2m").resolve("c").resolve("0")
    Files.createDirectories(cDir)
    Files.createDirectories(root.resolve("t2m").resolve("c").resolve("1"))
    // shard 0 (rows 0-1): left inner present, RIGHT INNER MISSING
    Files.write(cDir.resolve("0"), shardFile(Seq(
      Some(leDoubles(Seq(11, 12, 13, 21, 22, 23))), None)))
    // shard 1 (rows 2-3): both inner chunks present
    Files.write(root.resolve("t2m").resolve("c").resolve("1").resolve("0"),
      shardFile(Seq(
        Some(leDoubles(Seq(31, 32, 33, 41, 42, 43))),
        Some(leDoubles(Seq(34, 35, 36, 44, 45, 46))))))
    val src = ZarrSource(root.toString)
    val req = RasterRequest(src.extent.get, "EPSG:4326", 6, 4, None, None)
    val res = src.getData(req)(spark).get
    val nd = res.noDataValue // fill -9 maps to the engine nodata mark
    val vals = res.values(0)
    assert(vals.toSeq == Seq(
      11, 12, 13, nd, nd, nd,
      21, 22, 23, nd, nd, nd,
      31, 32, 33, 34, 35, 36,
      41, 42, 43, 44, 45, 46).map(_.toDouble), vals.toSeq)
    // a corrupted index fails the crc loudly
    val s1 = root.resolve("t2m").resolve("c").resolve("1").resolve("0")
    val bytes = Files.readAllBytes(s1)
    bytes(3) = (bytes(3) ^ 0x55).toByte
    Files.write(s1, bytes)
    val e = intercept[IllegalArgumentException](
      ZarrSource(root.toString).getData(req)(spark))
    assert(e.getMessage.contains("crc32c"), e.getMessage)
  }

  test("v3 failure modes are loud: bad shard config, wrong node_type") {
    val dir = tmp("graft_zarr3b")
    val root = Paths.get(dir, "s.zarr")
    writeJson(root.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    def shardDoc(inner: String, idxCodecs: String): String =
      s"""{"zarr_format": 3, "node_type": "array", "shape": [4, 4],
         | "data_type": "float64",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [2, 2]}},
         | "chunk_key_encoding": {"name": "default"},
         | "fill_value": 0,
         | "codecs": [{"name": "sharding_indexed",
         |   "configuration": {"chunk_shape": $inner,
         |     "codecs": [{"name": "bytes",
         |       "configuration": {"endian": "little"}}],
         |     "index_codecs": $idxCodecs}}]}""".stripMargin
    // empty shard configuration: missing inner chunk_shape
    writeJson(root.resolve("v").resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4, 4],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "default"},
        | "fill_value": 0,
        | "codecs": [{"name": "sharding_indexed",
        |   "configuration": {}}]}""".stripMargin)
    val e = intercept[IllegalArgumentException](ZarrSource(root.toString)
      .allTimes)
    assert(e.getMessage.contains("chunk_shape"))
    // inner shape that does not divide the shard shape
    writeJson(root.resolve("v").resolve("zarr.json"),
      shardDoc("[2, 3]", """[{"name": "bytes"}]"""))
    val ed = intercept[IllegalArgumentException](ZarrSource(root.toString)
      .allTimes)
    assert(ed.getMessage.contains("divide"))
    // unsupported index codec chain
    writeJson(root.resolve("v").resolve("zarr.json"),
      shardDoc("[1, 2]", """[{"name": "crc32c"}]"""))
    val ei = intercept[IllegalArgumentException](ZarrSource(root.toString)
      .allTimes)
    assert(ei.getMessage.contains("index_codecs"))
    // array doc at the root is not a group
    val arr = Paths.get(dir, "a.zarr")
    writeJson(arr.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [1],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [1]}},
        | "fill_value": 0, "codecs": []}""".stripMargin)
    val e2 = intercept[IllegalArgumentException](ZarrSource(arr.toString)
      .allTimes)
    assert(e2.getMessage.contains("group"))
  }
}
