package graft

import org.apache.spark.sql.functions._
import graft.geometry._

/** Reads the committed fixture.gpkg (generated by tools/make_gpkg_fixture.py
  * with python's stdlib sqlite3 — no GDAL anywhere): 2000 features over
  * multiple b-tree leaf pages, one overflow-chain payload, NULL geometries,
  * and the full GeoPackage metadata-table set. */
class GeoPackageSpec extends SparkSpec {

  private val path = getClass.getResource("/fixture.gpkg").getPath

  /** `block` exported through the one GeoPackage writer. */
  private def export(block: GeometryBlock, out: String): String =
    GeoPackageSink.writeStream(block.frame(GeometryRequest()), block.projection, out)

  test("sqlite master and gpkg metadata are readable") {
    val m = Sqlite.master(path)
    assert(m.exists(r => r.kind == "table" && r.name == "plots"))
    val fts = GeoPackage.featureTables(path)
    assert(fts == Seq(GeoPackage.FeatureTable("plots", "geom", 28992)))
    assert(GeoPackage.srsString(path, 28992) == "EPSG:28992")
  }

  test("create-table parse finds columns and the rowid alias") {
    val sql = Sqlite.master(path).find(_.name == "plots").get.sql
    val (cols, ipk) = Sqlite.tableColumns(sql)
    assert(cols == Seq("fid", "geom", "name", "value", "count", "note"))
    assert(ipk == 0)
  }

  test("GeoPackageSource reads all features with attributes and geometry") {
    val src = GeoPackageSource(path)
    assert(src.columns == Set("name", "value", "count", "note", "geometry"))
    assert(src.projection == "EPSG:28992")

    val df = src.frame(GeometryRequest()).cache()
    assert(df.count() == 2000)

    // fid is the rowid (AUTOINCREMENT from 1)
    val r5 = df.filter(col("fid") === 5).head()
    assert(r5.getAs[String]("name") == "plot4")
    assert(r5.getAs[Double]("value") == 0.5)
    assert(r5.getAs[Long]("count") == 12)

    // every 97th feature has a NULL geometry
    assert(df.filter(col("geometry").isNull).count() == math.ceil(2000 / 97.0).toLong)

    // polygons at i % 3 == 0 (and not null): check one area
    val poly = df.filter(col("fid") === 4) // i=3: side (3%7)+1 = 4
      .select(GeomFunctions.stArea(col("geometry"))).head().getDouble(0)
    assert(poly == 16.0)

    // the overflow row (i=1234) survives its overflow-page chain intact
    val note = df.filter(col("fid") === 1235).select("note").head().getString(0)
    assert(note == "lorem-1234" * 400)
    df.unpersist()
  }

  test("GeometryFileSource dispatches on extension and serde round-trips") {
    val byExt = GeometryFileSource(path, layer = Some("plots"))
    assert(byExt.columns == Set("name", "value", "count", "note", "geometry"))
    assert(byExt.projection == "EPSG:28992")
    assert(byExt.frame(GeometryRequest(limit = Some(5))).count() == 5)

    val back = graft.core.BlockRegistry.fromJson(byExt.toJson)
    assert(back == byExt)
    assert(back.toJson == byExt.toJson)

    val gpkgBack = graft.core.BlockRegistry.fromJson(GeoPackageSource(path).toJson)
    assert(gpkgBack == GeoPackageSource(path))
  }

  test("GeoPackageSink writes a file the source round-trips exactly") {
    val out = java.nio.file.Files.createTempDirectory("gpkg_sink")
      .resolve("export.gpkg").toString
    export(GeometryFixtures.features, out)
    val src = GeoPackageSource(out)
    assert(src.projection == "EPSG:28992")
    assert(src.columns == Set("value", "name", "geometry"))
    val df = src.frame(GeometryRequest()).cache()
    assert(df.count() == 3)
    val r2 = df.filter(col("fid") === 2).head()
    assert(r2.getAs[Double]("value") == 7.5)
    assert(r2.getAs[String]("name") == "b")
    assert(GeomFunctions.readWkb(r2.getAs[Array[Byte]]("geometry")).equalsExact(
      GeomFunctions.readWkt(GeometryFixtures.square(135001, 455998, 135003, 456000))))
    // metadata tables carry the declared layer + srs
    assert(GeoPackage.featureTables(out) ==
      Seq(GeoPackage.FeatureTable("export", "geom", 28992)))
    df.unpersist()
  }

  test("GeoPackageSink multi-leaf b-trees and overflow chains round-trip") {
    // 3000 small squares force interior pages; every 97th name is a 6 KB
    // string that must spill to an overflow chain (page size is 4 KB)
    val rows = (1 to 3000).map { i =>
      (i.toLong, GeometryFixtures.square(i, 0, i + 1, 1), i * 1.5,
        if (i % 97 == 0) ("long-" + i) * 600 else "n" + i)
    }
    val out = java.nio.file.Files.createTempDirectory("gpkg_sink_big")
      .resolve("big.gpkg").toString
    export(SeqGeometrySource(rows), out)
    val df = GeoPackageSource(out).frame(GeometryRequest()).cache()
    assert(df.count() == 3000)
    val r97 = df.filter(col("fid") === 97).head()
    assert(r97.getAs[String]("name") == "long-97" * 600)
    assert(r97.getAs[Double]("value") == 97 * 1.5)
    val r2999 = df.filter(col("fid") === 2999).head()
    assert(GeomFunctions.readWkb(r2999.getAs[Array[Byte]]("geometry")).equalsExact(
      GeomFunctions.readWkt(GeometryFixtures.square(2999, 0, 3000, 1))))
    df.unpersist()
  }

  test("spatial and attribute filters apply") {
    val src = GeoPackageSource(path)
    val named = src.frame(GeometryRequest(filters = Map("name" -> "plot77")))
    assert(named.select("fid").collect().map(_.getLong(0)).toSeq == Seq(78L))

    // points are at (1.5 i, -0.25 i); box catches i in [100, 104]
    val boxed = src.frame(GeometryRequest(
      geometryWkt = Some("POLYGON ((150 -26.1, 156.1 -26.1, 156.1 -24.9, 150 -24.9, 150 -26.1))")))
      .select("fid").collect().map(_.getLong(0)).sorted
    // i in [100, 104]: points at i % 3 != 0 (100, 101, 103, 104); the
    // polygons (i = 102) sit at y ≥ 0, outside the box
    assert(boxed.toSeq == Seq(101L, 102L, 104L, 105L))
    assert(src.frame(GeometryRequest(limit = Some(7))).count() == 7)
  }
}
