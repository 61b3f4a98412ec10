package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.geometry._
import org.apache.spark.sql.functions._

/** MapInfo TAB binary quartet: round-trips through the codec's
  * documented MITAB-profile writer, an INDEPENDENT hand-assembled
  * quartet for the read side, CRS resolution via CoordSys/.prj, and
  * loud failure modes. */
class TabSpec extends SparkSpec {

  // ------------------------------------------------ independent builder

  /** Hand-build a two-point quartet with one Integer + one Char field,
    * byte-by-byte (separate from Tab.writeStreaming). */
  private def buildQuartet(base: String): Unit = {
    // .tab
    Files.writeString(Paths.get(s"$base.tab"),
      """!table
        |!version 300
        |!charset WindowsLatin1
        |
        |Definition Table
        |  File "pts.dat"
        |  Type NATIVE Charset "WindowsLatin1"
        |  Fields 2
        |    fid Integer ;
        |    name Char (8) ;
        |  CoordSys Earth Projection 1, 104
        |""".stripMargin)
    // .map : header block + two SYMBOL objects
    val map = ByteBuffer.allocate(1024).order(ByteOrder.LITTLE_ENDIAN)
    map.position(0x100)
    map.putInt(42424242); map.putInt(300); map.putShort(512); map.putShort(0)
    map.putDouble(1e6); map.putDouble(1e6) // x/y scale
    map.putDouble(0.0); map.putDouble(0.0) // displacement
    map.putInt(2)
    map.position(512)
    val off1 = map.position()
    map.put(0x02.toByte); map.putInt(0)
    map.putInt(4500000); map.putInt(52000000) // (4.5, 52.0)
    val off2 = map.position()
    map.put(0x02.toByte); map.putInt(1)
    map.putInt(5100000); map.putInt(52250000) // (5.1, 52.25)
    Files.write(Paths.get(s"$base.map"), map.array())
    // .id
    val id = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    id.putInt(off1); id.putInt(off2)
    Files.write(Paths.get(s"$base.id"), id.array())
    // .dat : dBASE header, fid N(18,0) + name C(8), deletion flag ' '
    val recSize = 1 + 18 + 8
    val headerSize = 32 + 64 + 1
    val dat = ByteBuffer.allocate(headerSize + 2 * recSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    dat.put(0x03.toByte); dat.put(126.toByte); dat.put(1.toByte); dat.put(1.toByte)
    dat.putInt(2); dat.putShort(headerSize.toShort); dat.putShort(recSize.toShort)
    dat.position(32)
    dat.put("fid".getBytes("US-ASCII")); dat.position(32 + 11)
    dat.put('N'.toByte); dat.position(32 + 16); dat.put(18.toByte); dat.put(0.toByte)
    dat.position(64)
    dat.put("name".getBytes("US-ASCII")); dat.position(64 + 11)
    dat.put('C'.toByte); dat.position(64 + 16); dat.put(8.toByte); dat.put(0.toByte)
    dat.position(96); dat.put(0x0D.toByte)
    def rec(fid: String, nm: String): Unit = {
      dat.put(' '.toByte)
      dat.put(("%18s".format(fid)).getBytes("US-ASCII"))
      dat.put(("%-8s".format(nm)).getBytes("US-ASCII"))
    }
    rec("7", "alpha"); rec("9", "beta")
    Files.write(Paths.get(s"$base.dat"), dat.array())
  }

  test("independently hand-assembled quartet reads through the dispatcher") {
    val dir = Files.createTempDirectory("graft_tab").toString
    buildQuartet(s"$dir/pts")
    val src = GeometryFileSource(s"$dir/pts.tab")
    assert(src.projection == "EPSG:4326")
    val rows = src.frame(GeometryRequest())(spark)
      .select(col("fid"), col("name"),
        GeomFunctions.stCentroidX(col("geometry")).as("x"),
        GeomFunctions.stCentroidY(col("geometry")).as("y"))
      .orderBy("fid").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 7 && rows(0).getString(1) == "alpha")
    assert(rows(0).getDouble(2) == 4.5 && rows(0).getDouble(3) == 52.0)
    assert(rows(1).getLong(0) == 9 && rows(1).getString(1) == "beta")
    assert(rows(1).getDouble(2) == 5.1 && rows(1).getDouble(3) == 52.25)
  }

  test("writer round-trips all geometry kinds, types, and null geometry") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_tabw").toString
    val wkts = Seq(
      (1L, "POINT (4.5 52.0)", 10L, 1.25, "aap", true),
      (2L, "LINESTRING (4.5 52.0, 4.6 52.1, 4.7 52.0)", 20L, -2.5, "noot", false),
      (3L, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        30L, 3.75, "mies", true),
      (4L, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
        40L, 0.125, "wim", false),
      (5L, null, 50L, 9.0, "zus", true))
    val df = wkts.toDF("fid", "wkt", "n", "v", "s", "b")
      .select(col("fid"),
        when(col("wkt").isNotNull, GeomFunctions.stGeomFromWkt(col("wkt")))
          .as("geometry"),
        col("n"), col("v"), col("s"), col("b"))
    val p = s"$dir/all.tab"
    TabSink.writeStream(df, "EPSG:4326", p)(spark)
    val back = TabSource(p)
    assert(back.projection == "EPSG:4326")
    val rows = back.frame(GeometryRequest())(spark)
      .select(col("fid"), col("n"), col("v"), col("s"), col("b"),
        GeomFunctions.stAsWkt(col("geometry")).as("wkt"))
      .orderBy("fid").collect()
    assert(rows.length == 5)
    for (i <- 0 until 5) {
      assert(rows(i).getLong(0) == wkts(i)._1)
      assert(rows(i).getLong(1) == wkts(i)._3)
      assert(rows(i).getDouble(2) == wkts(i)._4) // shortest-digit N text
      assert(rows(i).getString(3) == wkts(i)._5)
      assert(rows(i).getBoolean(4) == wkts(i)._6)
    }
    // micro-grid coordinates (all inputs are exact 1e-6 multiples in
    // value): geometry survives the int32 internal grid
    assert(rows(4).isNullAt(5))
    val g3 = GeomFunctions.readWkt(rows(2).getString(5))
    assert(g3.getGeometryType == "Polygon" &&
      g3.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing == 1)
    val g4 = GeomFunctions.readWkt(rows(3).getString(5))
    assert(g4.getGeometryType == "MultiPolygon" && g4.getNumGeometries == 2)
    val g2 = GeomFunctions.readWkt(rows(1).getString(5))
    assert(g2.getCoordinates.length == 3)
    assert(g2.getCoordinates()(1).x == 4.6 && g2.getCoordinates()(1).y == 52.1)
  }

  test("non-4326 CRS rides the .prj sidecar") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_tabp").toString
    val df = Seq((1L, "POINT (135000 456000)")).toDF("fid", "wkt")
      .select(col("fid"), GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"))
    val p = s"$dir/rd.tab"
    TabSink.writeStream(df, "EPSG:28992", p)(spark)
    assert(Files.exists(Paths.get(s"$dir/rd.prj")))
    assert(TabSource(p).projection == "EPSG:28992")
  }

  test("failure modes are loud: magic, object type, field mismatch") {
    val dir = Files.createTempDirectory("graft_tabf").toString
    buildQuartet(s"$dir/pts")
    // bad magic
    val mapBytes = Files.readAllBytes(Paths.get(s"$dir/pts.map"))
    mapBytes(0x100) = 0x55
    Files.write(Paths.get(s"$dir/pts.map"), mapBytes)
    val e1 = intercept[IllegalArgumentException] { Tab.read(s"$dir/pts.tab") }
    assert(e1.getMessage.contains("magic"))
    // unsupported object type (restore, then patch type byte at offset 512)
    buildQuartet(s"$dir/pts")
    val m2 = Files.readAllBytes(Paths.get(s"$dir/pts.map"))
    m2(512) = 0x0B // ARC
    Files.write(Paths.get(s"$dir/pts.map"), m2)
    val e2 = intercept[IllegalArgumentException] { Tab.read(s"$dir/pts.tab") }
    assert(e2.getMessage.contains("0x0B"))
    // .tab/.dat field-count mismatch
    buildQuartet(s"$dir/pts")
    val tab = Files.readString(Paths.get(s"$dir/pts.tab"))
    Files.writeString(Paths.get(s"$dir/pts.tab"),
      tab.replace("Fields 2", "Fields 1")
        .replace("    name Char (8) ;\n", ""))
    val e3 = intercept[IllegalArgumentException] { Tab.read(s"$dir/pts.tab") }
    assert(e3.getMessage.contains("fields"))
  }

  test("dBASE N rounding applies to the DECIMAL value, not the double") {
    // "0.1234565" as a double is 0.12345649999... — rounding the binary
    // value at 6 decimals writes 0.123456; the decimal the caller wrote
    // is an exact HALF_UP tie and must write 0.123457 (r10 ADVICE:
    // BigDecimal-of-double double-rounds ties)
    val dir = Files.createTempDirectory("graft_tabr").toString
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val pt = gf.createPoint(new org.locationtech.jts.geom.Coordinate(4.5, 52.0))
    Tab.writeStreaming(s"$dir/t.tab", Seq("v" -> "Float"),
      Iterator((pt, Seq("0.1234565"))), 1, pt.getEnvelopeInternal, "EPSG:4326")
    val dat = new String(Files.readAllBytes(Paths.get(s"$dir/t.dat")),
      java.nio.charset.StandardCharsets.US_ASCII)
    assert(dat.contains("0.123457"), dat.takeRight(40))
    assert(!dat.contains("0.123456"), dat.takeRight(40))
  }
}
