package graft
package contract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.geometry._

/** The geometry lanes (g): geometry Blocks, spatial joins and every
  * vector codec round trip, each with its DuckDB oracle. */
object Geometry {
  /** NAD83 / California zone V in US survey feet (EPSG:2229's definition
    * as ArcGIS writes it — ESRI dialect, no AUTHORITY node). */
  private val CaStatePlanePrj: String =
    """PROJCS["NAD_1983_StatePlane_California_V_FIPS_0405_Feet",GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",6561666.666666666],PARAMETER["False_Northing",1640416.666666667],PARAMETER["Central_Meridian",-118.0],PARAMETER["Standard_Parallel_1",34.03333333333333],PARAMETER["Standard_Parallel_2",35.46666666666667],PARAMETER["Latitude_Of_Origin",33.5],UNIT["Foot_US",0.3048006096012192]]"""

  /** side-(p_size/10) squares at (p_partkey%50, (p_partkey/50)*2). */
  private def squareWkt(x0: String, y0: String, side: String): String =
    s"""concat('POLYGON ((', $x0, ' ', $y0, ', ', ($x0) + ($side), ' ', $y0,
       |', ', ($x0) + ($side), ' ', ($y0) + ($side), ', ', $x0, ' ', ($y0) + ($side),
       |', ', $x0, ' ', $y0, '))')""".stripMargin.replaceAll("\n", "")

  private def partSquares(dir: String): TableGeometrySource =
    TableGeometrySource(s"$dir/part.parquet", "p_partkey", Seq("p_size"),
      geomWktExpr = Some(squareWkt("p_partkey % 50", "cast(p_partkey / 50 as int) * 2",
        "p_size / 10")))

  private def wktPrjAreaOracle: String =
      """WITH sq AS (
        |  SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        |    4.5 + (p_partkey % 50) * 0.001 AS lon0,
        |    51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS lat0,
        |    p_size * 0.00001 AS s
        |  FROM part),
        |corners AS (
        |  SELECT fid, p_size, k,
        |    CASE WHEN k IN (1, 2) THEN (lon0) + (s) ELSE lon0 END AS lon,
        |    CASE WHEN k IN (2, 3) THEN (lat0) + (s) ELSE lat0 END AS lat
        |  FROM sq, (SELECT unnest([0, 1, 2, 3]) AS k)),
        |pl AS (SELECT fid, p_size, k,
        |    0.36*(CAST(lat AS DOUBLE) - 52.15517440) AS P,
        |    0.36*(CAST(lon AS DOUBLE) - 5.38720621) AS L
        |  FROM corners),
        |rd AS (SELECT fid, p_size, k,
        |  155000 + 190094.945*L - 11832.228*P*L - 114.221*pow(P,2)*L - 32.391*pow(L,3)
        |    - 0.705*P - 2.340*pow(P,3)*L - 0.608*P*pow(L,3) - 0.008*pow(L,2)
        |    + 0.148*pow(P,2)*pow(L,3) AS x,
        |  463000 + 309056.544*P + 3638.893*pow(L,2) + 73.077*pow(P,2) - 157.984*P*pow(L,2)
        |    + 59.788*pow(P,3) + 0.433*L - 6.439*pow(P,2)*pow(L,2) - 0.032*P*L
        |    + 0.092*pow(L,4) - 0.054*P*pow(L,4) AS y
        |  FROM pl),
        |w AS (SELECT fid, p_size,
        |  max(CASE WHEN k = 0 THEN x END) AS x0, max(CASE WHEN k = 0 THEN y END) AS y0,
        |  max(CASE WHEN k = 1 THEN x END) AS x1, max(CASE WHEN k = 1 THEN y END) AS y1,
        |  max(CASE WHEN k = 2 THEN x END) AS x2, max(CASE WHEN k = 2 THEN y END) AS y2,
        |  max(CASE WHEN k = 3 THEN x END) AS x3, max(CASE WHEN k = 3 THEN y END) AS y3
        |  FROM rd GROUP BY fid, p_size)
        |SELECT fid, p_size,
        |  CAST(floor(abs((x1-x0)*(y0-y2) + (x2-x0)*(y1-y3) + (x3-x0)*(y2-y0)) / 2) AS BIGINT) AS area
        |FROM w""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("g01_merge_blocks", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey",
        Seq("c_acctbal", "c_mktsegment"))
      val o = TableGeometrySource(s"$dir/orders.parquet", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      MergeGeometryBlocks(c, o, "inner").frame(GeometryRequest())(s)
        .select(col("fid"), col("o_orderkey"), col("c_acctbal"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    },
      """SELECT c_custkey AS fid, o_orderkey, c_acctbal, round(o_totalprice, 2) AS o_totalprice
        |FROM customer JOIN orders ON o_custkey = c_custkey""".stripMargin),
    Lane("g02_field_ops", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val bal = c.getSeries("c_acctbal")
      val out = c
        .set("m7", FieldOps.Modulo(bal, 7.0))
        .set("shifted", FieldOps.Add(FieldOps.Multiply(bal, 2.0), 100.0))
        .set("pos", FieldOps.Where(bal, FieldOps.Greater(bal, 0.0), 0.0))
      out.frame(GeometryRequest())(s)
        .select(col("fid"), round(col("m7"), 4).as("m7"),
          round(col("shifted"), 2).as("shifted"), round(col("pos"), 2).as("pos"))
    },
      """SELECT c_custkey AS fid, round(fmod(fmod(c_acctbal, 7.0) + 7.0, 7.0), 4) AS m7,
        | round(c_acctbal * 2.0 + 100.0, 2) AS shifted,
        | round(CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END, 2) AS pos
        |FROM customer""".stripMargin),
    Lane("g03_classify", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val cls = FieldOps.Classify(c.getSeries("c_acctbal"),
        Seq(0.0, 5000.0), Seq("neg", "low", "high"))
      c.set("bucket", cls).frame(GeometryRequest())(s).select(col("fid"), col("bucket"))
    },
      """SELECT c_custkey AS fid, CASE WHEN c_acctbal <= 0 THEN 'neg'
        | WHEN c_acctbal <= 5000 THEN 'low' ELSE 'high' END AS bucket FROM customer""".stripMargin),
    Lane("g04_classify_columns", (s, dir) => {
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_retailprice", "p_size", "cast(p_size * 30 as double) as lo",
          "cast(p_size * 60 as double) as hi"))
      val cls = FieldOps.ClassifyFromColumns(p, "p_retailprice", Seq("lo", "hi"),
        Seq("below", "between", "above"))
      p.set("bucket", cls).frame(GeometryRequest())(s).select(col("fid"), col("bucket"))
    },
      """SELECT p_partkey AS fid, CASE
        | WHEN p_retailprice <= p_size * 30 THEN 'below'
        | WHEN p_retailprice <= p_size * 60 THEN 'between' ELSE 'above' END AS bucket
        |FROM part""".stripMargin),
    Lane("g05_interp", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val itp = FieldOps.Interp(c.getSeries("c_acctbal"),
        Seq(0.0, 5000.0, 10000.0), Seq(0.0, 1.0, 2.0))
      c.set("score", itp).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("score"), 6).as("score"))
    },
      """SELECT c_custkey AS fid, round(CASE
        | WHEN c_acctbal < 0 THEN 0.0
        | WHEN c_acctbal >= 10000 THEN 2.0
        | WHEN c_acctbal < 5000 THEN 0.0 + (c_acctbal - 0.0) * ((1.0 - 0.0) / (5000.0 - 0.0))
        | ELSE 1.0 + (c_acctbal - 5000.0) * ((2.0 - 1.0) / (10000.0 - 5000.0)) END, 6) AS score
        |FROM customer""".stripMargin),
    Lane("g06_choose", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val bal = c.getSeries("c_acctbal")
      val sel = FieldOps.Classify(bal, Seq(1000.0), Seq(0, 1))
      val chosen = FieldOps.Choose(sel,
        Seq(FieldOps.Multiply(bal, -1.0), FieldOps.Multiply(bal, 2.0)))
      c.set("picked", chosen).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("picked"), 2).as("picked"))
    },
      """SELECT c_custkey AS fid, round(CASE WHEN c_acctbal <= 1000 THEN c_acctbal * -1.0
        | ELSE c_acctbal * 2.0 END, 2) AS picked FROM customer""".stripMargin),
    Lane("g07_parse_text", (s, dir) => {
      val e = TableGeometrySource(s"$dir/events.parquet", "event_id",
        Seq("regexp_replace(props, '[{}\" ]', '') as kv"))
      ParseTextColumn(e, "kv", Seq(("k", "k_val", "double")), ",", ":")
        .frame(GeometryRequest())(s).select(col("fid"), col("k_val"))
    },
      """SELECT event_id AS fid,
        | CAST(str_split(regexp_replace(props, '[{}" ]', '', 'g'), ':')[2] AS DOUBLE) AS k_val
        |FROM events""".stripMargin),
    Lane("g28_spatial_join", (s, dir) => {
      // grid-bucketed distributed intersects join: part squares × supplier
      // squares; candidate pairs meet in a hash equi-join on the 8-unit
      // grid cell, JTS refines, report-once dedups (SpatialJoin scaladoc)
      val a = partSquares(dir).frame(GeometryRequest())(s)
      val b = TableGeometrySource(s"$dir/supplier.parquet", "s_suppkey", Seq(),
        geomWktExpr = Some(squareWkt("s_suppkey % 47", "(s_suppkey * 3) % 60",
          "4"))).frame(GeometryRequest())(s)
      SpatialJoin.intersects(a, b, cellSize = 8.0)
    },
      // closed-interval box overlap == JTS intersects for axis-aligned
      // squares (boundary contact counts on both sides)
      """WITH a AS (SELECT p_partkey AS a_fid,
        |  CAST(p_partkey % 50 AS DOUBLE) AS ax,
        |  CAST((p_partkey // 50) * 2 AS DOUBLE) AS ay,
        |  p_size / 10.0 AS aside FROM part),
        |b AS (SELECT s_suppkey AS b_fid,
        |  CAST(s_suppkey % 47 AS DOUBLE) AS bx,
        |  CAST((s_suppkey * 3) % 60 AS DOUBLE) AS by2,
        |  CAST(4 AS DOUBLE) AS bside FROM supplier)
        |SELECT a_fid, b_fid FROM a JOIN b
        |ON ax <= bx + bside AND bx <= ax + aside
        | AND ay <= by2 + bside AND by2 <= ay + aside""".stripMargin),
    Lane("g29_spatial_within", (s, dir) => {
      // same candidate machinery as g28, 'within' refinement: part
      // squares fully inside supplier squares (boundary contact allowed)
      val a = partSquares(dir).frame(GeometryRequest())(s)
      val b = TableGeometrySource(s"$dir/supplier.parquet", "s_suppkey", Seq(),
        geomWktExpr = Some(squareWkt("s_suppkey % 47", "(s_suppkey * 3) % 60",
          "4"))).frame(GeometryRequest())(s)
      SpatialJoin.join(a, b, cellSize = 8.0, "within")
    },
      // closed-interval containment == JTS within for axis-aligned
      // squares (edges may lie on the container's boundary)
      """WITH a AS (SELECT p_partkey AS a_fid,
        |  CAST(p_partkey % 50 AS DOUBLE) AS ax,
        |  CAST((p_partkey // 50) * 2 AS DOUBLE) AS ay,
        |  p_size / 10.0 AS aside FROM part),
        |b AS (SELECT s_suppkey AS b_fid,
        |  CAST(s_suppkey % 47 AS DOUBLE) AS bx,
        |  CAST((s_suppkey * 3) % 60 AS DOUBLE) AS by2,
        |  CAST(4 AS DOUBLE) AS bside FROM supplier)
        |SELECT a_fid, b_fid FROM a JOIN b
        |ON bx <= ax AND ax + aside <= bx + bside
        | AND by2 <= ay AND ay + aside <= by2 + bside""".stripMargin),
    Lane("g08_area", (s, dir) => {
      val p = partSquares(dir)
      p.set("area", Area(p, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g09_difference", (s, dir) => {
      val p = partSquares(dir)
      val half = TableGeometrySource(s"$dir/part.parquet", "p_partkey", Seq(),
        geomWktExpr = Some(squareWkt("p_partkey % 50", "cast(p_partkey / 50 as int) * 2",
          "p_size / 20")))
      val d = Difference(p, half)
      d.set("area", Area(d, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0)
        | - (p_size / 20.0) * (p_size / 20.0), 6) AS area FROM part""".stripMargin),
    Lane("g10_intersection", (s, dir) => {
      val p = partSquares(dir)
      val clipped = Intersection(p)
      clipped.set("area", Area(clipped, "EPSG:28992"))
        .frame(GeometryRequest(geometryWkt = Some("POLYGON ((0 0, 25 0, 25 6, 0 6, 0 0))")))(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, round(
        | greatest(least(CAST(p_partkey % 50 AS DOUBLE) + p_size / 10.0, 25.0)
        |   - least(CAST(p_partkey % 50 AS DOUBLE), 25.0), 0.0)
        | * greatest(least(CAST(p_partkey // 50 AS DOUBLE) * 2 + p_size / 10.0, 6.0)
        |   - least(CAST(p_partkey // 50 AS DOUBLE) * 2, 6.0), 0.0), 6) AS area
        |FROM part
        |WHERE p_partkey % 50 <= 25 AND p_partkey // 50 * 2 <= 6""".stripMargin),
    Lane("g12_geo_sink_roundtrip", (s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_geo_sink").toString
      GeometryFileSink(p, out).write(GeometryRequest())
      val back = GeoParquetSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g13_buffer", (s, dir) => {
      val p = partSquares(dir)
      val buffered = Buffer(p, 2.0, "EPSG:28992", resolution = 16)
      buffered.set("area", Area(buffered, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    },
      // square side s buffered by d with 16 quadrant segments: the rounded
      // corners form an inscribed 64-gon → area = s² + 4sd + 32 d² sin(π/32)
      """SELECT p_partkey AS fid, round(
        | (p_size / 10.0) * (p_size / 10.0) + 4 * (p_size / 10.0) * 2.0
        | + 32 * 4.0 * sin(pi() / 32), 6) AS area FROM part""".stripMargin),
    Lane("g14_simplify", (s, dir) => {
      val p = partSquares(dir)
      val simplified = Simplify(p, tolerance = Some(0.01))
      simplified.set("area", Area(simplified, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    },
      // squares have no redundant vertices → simplification is the identity
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g15_field_math", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val bal = c.getSeries("c_acctbal")
      c.set("fd", FieldOps.FloorDivide(bal, 7.0))
        .set("pw", FieldOps.Power(FieldOps.Divide(bal, 1000.0), 2.0))
        .set("rnd", FieldOps.Round(FieldOps.Divide(bal, 7.0), 2))
        .frame(GeometryRequest())(s)
        .select(col("fid"), col("fd"), round(col("pw"), 6).as("pw"), col("rnd"))
    },
      """SELECT c_custkey AS fid, floor(c_acctbal / 7.0) AS fd,
        | round(pow(c_acctbal / 1000.0, 2.0), 6) AS pw,
        | round(c_acctbal / 7.0, 2) AS rnd
        |FROM customer""".stripMargin),
    Lane("g16_shapefile_roundtrip", (s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_shp")
        .resolve("parts.shp").toString
      GeometryToFile.toFile(p, out) // streaming export: no geometry guard
      val back = ShapefileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    },
      // the shapefile carries coordinates as binary doubles and p_size as a
      // fixed-width N(18,0) field — both round-trip exactly
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g11_filters_pushdown", (s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey",
        Seq("c_acctbal", "c_mktsegment"))
      c.frame(GeometryRequest(filters = Map("c_mktsegment" -> "BUILDING")))(s)
        .select(col("fid"), round(col("c_acctbal"), 2).as("c_acctbal"))
    },
      """SELECT c_custkey AS fid, round(c_acctbal, 2) AS c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin),
    Lane("g17_gpkg_roundtrip", (s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_gpkg")
        .resolve("parts.gpkg").toString
      GeometryToFile.toFile(p, out) // streaming export: no geometry guard
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g18_gml_roundtrip", (s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_gml")
        .resolve("parts.gml").toString
      GeometryToFile.toFile(p, out) // streaming export: no geometry guard
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g20_flatgeobuf", (s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out) // streaming export, Hilbert-ordered
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g22_fgb_bbox", (s, dir) => {
      // a SPATIAL request against the FlatGeobuf source: the packed
      // Hilbert R-tree prunes feature ranges before the exact filter, so
      // an index bug (missed leaves) would drop rows the oracle demands.
      // Box bounds are non-commensurate with the 0.1-granular square
      // edges — no boundary ties between JTS intersects and the oracle's
      // closed inequalities.
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_bbox")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out)
      val back = GeometryFileSource(out)
      back.frame(GeometryRequest(geometryWkt =
        Some("POLYGON ((10.23 6.37, 30.71 6.37, 30.71 14.93, 10.23 14.93, 10.23 6.37))")))(s)
        .select(col("fid"), col("p_size"))
    },
      // squares at (k%50, (k//50)*2) with side p_size/10 intersecting the
      // request box, closed-boundary semantics like JTS intersects
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin),
    Lane("g32_dsv2_fgb_bbox", (s, dir) => {
      // the same spatial request through the `graft-fgb` DSv2 connector:
      // the world bbox resolves per FILE at planning (header envelope,
      // then the packed R-tree's per-feature leaf envelopes), so the hit
      // set is exact for the closed-interval envelope semantics the
      // oracle's inequalities express — no residual filter runs
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_dsv2")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out)
      s.read.format("graft-fgb").option("bbox", "10.23,6.37,30.71,14.93")
        .load(out)
        .select(col("fid"), col("p_size"))
    },
      // the DSv2 connector's bbox is CLOSED-interval feature-ENVELOPE
      // intersection — for axis-aligned squares identical to g22's JTS
      // intersects, so the same inequalities pin it
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin),
    Lane("g34_dsv2_fgb_envfilter", (s, dir) => {
      // the same spatial request expressed as CATALYST predicates on the
      // connector's virtual envelope columns — pushFilters resolves the
      // four inequalities to the identical R-tree window (explain shows
      // the pushed bbox) and the residual filter re-applies them exactly
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_env")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out)
      s.read.format("graft-fgb").load(out)
        .filter(col("env_maxx") >= 10.23 && col("env_minx") <= 30.71 &&
          col("env_maxy") >= 6.37 && col("env_miny") <= 14.93)
        .select(col("fid"), col("p_size"))
    },
      // Catalyst envelope-predicate pushdown: identical semantics again —
      // the residual filter is the same closed inequalities
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin),
    Lane("g35_dsv2_fgb_stream", (s, dir) => {
      // the STREAMING read path against the oracle: the per-task write
      // lands four indexed parts, the micro-batch watcher drains them
      // with AvailableNow through the same per-file planner, and every
      // feature must come out exactly once
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_s").toString
      p.frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), col("geometry"))
        .repartitionByRange(4, col("fid"))
        .write.format("graft-fgb").option("srs", "EPSG:28992")
        .mode("append").save(out)
      val schema = s.read.format("graft-fgb").load(out).schema
      val name = s"g35_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = s.readStream.format("graft-fgb").schema(schema).load(out)
        .select(col("fid"), col("p_size"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val res = s.table(name).localCheckpoint()
      q.stop()
      s.catalog.dropTempView(name)
      res
    },
      // streaming drain of the written archive: every feature exactly once
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part""".stripMargin),
    Lane("g36_dsv2_fgb_propfilter", (s, dir) => {
      // the reference's equality property filters
      // (geometry/sources.py:109-121) through the connector: the
      // predicate pushes into the scan (explain shows `pushed props`),
      // the reader evaluates it on decoded properties BEFORE the
      // geometry decode, and the residual Catalyst filter keeps the
      // semantics exact
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_pf")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out)
      s.read.format("graft-fgb").load(out)
        .filter(col("p_size") === 25)
        .select(col("fid"), col("p_size"))
    },
      // equality property filter pushed into the connector scan — the
      // predicate's SQL meaning is a plain WHERE equality
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE p_size = 25""".stripMargin),
    Lane("g37_dsv2_fgb_in", (s, dir) => {
      // IN-list property pushdown (the equality filter's set form):
      // same reader-side eval before geometry decode, residual exactness
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_in")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out)
      s.read.format("graft-fgb").load(out)
        .filter(col("p_size").isin(10, 25, 40))
        .select(col("fid"), col("p_size"))
    },
      // IN-list property pushdown: plain SQL IN
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE p_size IN (10, 25, 40)""".stripMargin),
    Lane("g38_dsv2_fgb_env_agg", (s, dir) => {
      // archive-extent aggregates answered from header + R-tree leaf
      // bytes alone (explain shows `env min/max from index`): COUNT(*)
      // is the header feature total, MIN/MAX(env_*) the leaf-envelope
      // fold — zero feature-data bytes on the pushed path
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_envagg")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out)
      s.read.format("graft-fgb").load(out)
        .agg(count(lit(1)).as("n"),
          round(min("env_minx"), 6).as("minx"),
          round(min("env_miny"), 6).as("miny"),
          round(max("env_maxx"), 6).as("maxx"),
          round(max("env_maxy"), 6).as("maxy"))
    },
      // archive-extent aggregates: the squares' corners re-derived from
      // the same table math the geometry was synthesized from
      """SELECT count(*) AS n,
        | round(min(CAST(p_partkey % 50 AS DOUBLE)), 6) AS minx,
        | round(min(CAST((p_partkey // 50) * 2 AS DOUBLE)), 6) AS miny,
        | round(max(p_partkey % 50 + p_size / 10.0), 6) AS maxx,
        | round(max((p_partkey // 50) * 2 + p_size / 10.0), 6) AS maxy
        |FROM part""".stripMargin),
    Lane("g33_dsv2_fgb_write", (s, dir) => {
      // archive-scale write → read round-trip: one internally-indexed
      // .fgb per executor task (no driver funnel, unlike the single-file
      // FlatGeobufSink), read back through the connector with the same
      // bbox pushdown the single-file path gets
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb_w").toString
      p.frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), col("geometry"))
        .repartitionByRange(4, col("fid"))
        .write.format("graft-fgb").option("srs", "EPSG:28992")
        .mode("append").save(out)
      s.read.format("graft-fgb").option("bbox", "10.23,6.37,30.71,14.93")
        .load(out)
        .select(col("fid"), col("p_size"))
    },
      // the per-task write must not change a single answer: same bbox,
      // same inequalities, now against the connector-written archive
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin),
    Lane("g21_csv_roundtrip", (s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_csv")
        .resolve("parts.csv").toString
      GeometryToFile.toFile(p, out) // streaming export, WKT column
      val back = GeometryFileSource(out, proj = Some("EPSG:28992"))
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          round(col("area"), 6).as("area"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin),
    Lane("g23_kml_roundtrip", (s, dir) => {
      // KML is WGS84 by spec: author lon/lat squares, export (identity
      // reprojection), read back through the XML text round-trip, then
      // compute the cross-CRS area in RD — the same independent
      // polynomial+shoelace oracle as g19 pins the whole chain
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size"),
        geomWktExpr = Some(squareWkt(
          "4.5 + (p_partkey % 50) * 0.001",
          "51.9 + cast(p_partkey / 50 as int) * 0.0005",
          "p_size * 0.00001")),
        proj = "EPSG:4326")
      val out = java.nio.file.Files.createTempDirectory("verify_kml")
        .resolve("parts.kml").toString
      GeometryToFile.toFile(p, out)
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          floor(col("area")).cast("long").as("area"))
    },
      // the identical independent chain pins the KML round-trip (same
      // lon/lat square literals, WGS84 → RD polynomials, shoelace)
      wktPrjAreaOracle),
    Lane("g25_gpx_roundtrip", (s, dir) => {
      // GPX is WGS84 by spec: author lon/lat waypoints with attributes,
      // export (points → <wpt>, attrs → graft: extensions incl. the fid),
      // read back through the XML text round-trip — coordinates and
      // attribute values are bit-exact (shortest-digit printing both ways)
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size", "p_retailprice", "p_name"),
        geomWktExpr = Some(
          "concat('POINT (', 4.5 + (p_partkey % 50) * 0.001, ' ', " +
            "51.9 + cast(p_partkey / 50 as int) * 0.0005, ')')"),
        proj = "EPSG:4326")
      val out = java.nio.file.Files.createTempDirectory("verify_gpx")
        .resolve("parts.gpx").toString
      GeometryToFile.toFile(p, out)
      val back = GeometryFileSource(out)
      back.frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"),
          col("p_name"),
          GeomFunctions.stCentroidX(col("geometry")).as("x"),
          GeomFunctions.stCentroidY(col("geometry")).as("y"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | 4.5 + (p_partkey % 50) * 0.001 AS x,
        | 51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS y
        |FROM part""".stripMargin),
    Lane("g26_mif_roundtrip", (s, dir) => {
      // MapInfo MIF/MID text interchange: author lon/lat points with typed
      // attributes, export (.mif objects + .mid delimited rows, CoordSys
      // Earth Projection 1, 104, fid as a leading Integer column), read
      // back — coordinates and attribute values are bit-exact (shortest-
      // digit printing both ways)
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size", "p_retailprice", "p_name"),
        geomWktExpr = Some(
          "concat('POINT (', 4.5 + (p_partkey % 50) * 0.001, ' ', " +
            "51.9 + cast(p_partkey / 50 as int) * 0.0005, ')')"),
        proj = "EPSG:4326")
      val out = java.nio.file.Files.createTempDirectory("verify_mif")
        .resolve("parts.mif").toString
      GeometryToFile.toFile(p, out)
      val back = GeometryFileSource(out)
      back.frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"),
          col("p_name"),
          GeomFunctions.stCentroidX(col("geometry")).as("x"),
          GeomFunctions.stCentroidY(col("geometry")).as("y"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | 4.5 + (p_partkey % 50) * 0.001 AS x,
        | 51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS y
        |FROM part""".stripMargin),
    Lane("g31_knn_join", (s, dir) => {
      // distance-bounded kNN join: part points against customer points,
      // k=3 within 0.003 deg — every in-range pair meets exactly once
      // (right side one cell, left side ring-exploded), ranked by
      // (squared distance, b_fid); d2 is identical IEEE arithmetic on
      // identical doubles in both engines
      implicit val sp: SparkSession = s
      // the lattice steps are EXACT binary fractions (2^-10, 2^-11,
      // 2^-12): every coordinate, difference, and square is then an
      // exact double in BOTH engines, so equidistant ties are true ties
      // broken identically by b_fid — 0.001-style decimal steps diverge
      // at the ulp and flip tie ranks (measured before this fix)
      val a = TableGeometrySource(s"$dir/part.parquet", "p_partkey", Seq(),
        geomWktExpr = Some(
          "concat('POINT (', 4.5 + (p_partkey % 50) * 0.0009765625, ' ', " +
            "51.9 + cast(p_partkey / 50 as int) * 0.00048828125, ')')"),
        proj = "EPSG:4326")
      val b = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq(),
        geomWktExpr = Some(
          "concat('POINT (', 4.5 + (c_custkey % 60) * 0.0009765625, ' ', " +
            "51.9 + cast(c_custkey / 60 as int) * 0.000244140625, ')')"),
        proj = "EPSG:4326")
      SpatialJoin.nearestWithin(a.frame(GeometryRequest())(s),
        b.frame(GeometryRequest())(s), 3, 0.0029296875, 0.0029296875)
    },
      """WITH a AS (SELECT p_partkey AS a_fid,
        |    4.5 + (p_partkey % 50) * 0.0009765625 AS ax,
        |    51.9 + CAST(p_partkey // 50 AS INT) * 0.00048828125 AS ay FROM part),
        |b AS (SELECT c_custkey AS b_fid,
        |    4.5 + (c_custkey % 60) * 0.0009765625 AS bx,
        |    51.9 + CAST(c_custkey // 60 AS INT) * 0.000244140625 AS by FROM customer),
        |pairs AS (
        |  SELECT a_fid, b_fid,
        |    (ax-bx)*(ax-bx)+(ay-by)*(ay-by) AS d2
        |  FROM a, b
        |  WHERE (ax-bx)*(ax-bx)+(ay-by)*(ay-by) <= 0.0029296875*0.0029296875),
        |r AS (SELECT a_fid, b_fid, d2,
        |    row_number() OVER (PARTITION BY a_fid ORDER BY d2, b_fid) AS nn_rank
        |  FROM pairs)
        |SELECT a_fid, b_fid, d2, nn_rank FROM r WHERE nn_rank <= 3""".stripMargin),
    Lane("g30_tab_roundtrip", (s, dir) => {
      // MapInfo TAB binary quartet (.tab/.map/.dat/.id, the MITAB-profile
      // codec): lon/lat points with typed attributes through the int32
      // internal grid — coordinates compared in exact microdegrees
      // (floor(v*1e6 + 0.5) both sides, the quantized-input oracle rule)
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size", "p_retailprice", "p_name"),
        geomWktExpr = Some(
          "concat('POINT (', 4.5 + (p_partkey % 50) * 0.001, ' ', " +
            "51.9 + cast(p_partkey / 50 as int) * 0.0005, ')')"),
        proj = "EPSG:4326")
      val out = java.nio.file.Files.createTempDirectory("verify_tab")
        .resolve("parts.tab").toString
      GeometryToFile.toFile(p, out)
      val back = GeometryFileSource(out)
      back.frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"),
          col("p_name"),
          floor(GeomFunctions.stCentroidX(col("geometry")) * 1e6 + 0.5)
            .cast("long").as("xm"),
          floor(GeomFunctions.stCentroidY(col("geometry")) * 1e6 + 0.5)
            .cast("long").as("ym"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | CAST(FLOOR((4.5 + (p_partkey % 50) * 0.001) * 1000000 + 0.5) AS BIGINT) AS xm,
        | CAST(FLOOR((51.9 + CAST(p_partkey // 50 AS INT) * 0.0005) * 1000000 + 0.5) AS BIGINT) AS ym
        |FROM part""".stripMargin),
    Lane("g27_dxf_roundtrip", (s, dir) => {
      // AutoCAD DXF text interchange: POINT entities with fid + attrs as
      // GRAFT XDATA, .prj sidecar CRS — coordinates and attribute values
      // are bit-exact (shortest-digit printing both ways)
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size", "p_retailprice", "p_name"),
        geomWktExpr = Some(
          "concat('POINT (', 4.5 + (p_partkey % 50) * 0.001, ' ', " +
            "51.9 + cast(p_partkey / 50 as int) * 0.0005, ')')"),
        proj = "EPSG:4326")
      val out = java.nio.file.Files.createTempDirectory("verify_dxf")
        .resolve("parts.dxf").toString
      GeometryToFile.toFile(p, out)
      val back = GeometryFileSource(out)
      back.frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"),
          col("p_name"),
          GeomFunctions.stCentroidX(col("geometry")).as("x"),
          GeomFunctions.stCentroidY(col("geometry")).as("y"))
    },
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | 4.5 + (p_partkey % 50) * 0.001 AS x,
        | 51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS y
        |FROM part""".stripMargin),
    Lane("g19_wkt_prj", (s, dir) => {
      // an ArcGIS-authored shapefile: the .prj carries ESRI WKT (no
      // AUTHORITY node), not an "EPSG:xxxx" string. The WKT resolver must
      // identify WGS84 from the ellipsoid so the cross-CRS area (vertices
      // WGS84 → RD, then planar area) transforms correctly. The oracle
      // re-derives the WGS84→RD polynomials and the centered shoelace in
      // SQL — fully independent of the resolver under test.
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size"),
        geomWktExpr = Some(squareWkt(
          "4.5 + (p_partkey % 50) * 0.001",
          "51.9 + cast(p_partkey / 50 as int) * 0.0005",
          "p_size * 0.00001")),
        proj = "EPSG:4326")
      val out = java.nio.file.Files.createTempDirectory("verify_wktprj")
        .resolve("parts.shp").toString
      GeometryToFile.toFile(p, out)
      // replace the codec's "EPSG:4326" .prj with what ArcGIS writes
      java.nio.file.Files.write(java.nio.file.Paths.get(
        out.stripSuffix(".shp") + ".prj"),
        """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val back = ShapefileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), floor(col("area")).cast("long").as("area"))
    },
      // the cross-CRS chain re-derived: WGS84 → RD via the published
      // Schreutelkamp & Strang van Hees polynomials on each quad corner
      // (same term order as the engine), then JTS's centered shoelace
      // (Area.ofRing) re-expressed literally — independent of the WKT
      // resolver and transform code under test
      wktPrjAreaOracle),
    Lane("g24_param_crs", (s, dir) => {
      // an ArcGIS-authored state-plane shapefile: the .prj is NAD83 /
      // California zone V in US survey FEET — a projection the hub has no
      // EPSG code for, so the resolver must instantiate the Lambert
      // Conformal Conic from the .prj's own parameters (reference:
      // utils.py:397 get_sr accepts any OGR SRS). The cross-CRS area
      // (LCC-feet vertices → WGS84 → web mercator, planar shoelace) pins
      // the parameterized inverse projection, the survey-foot unit scaling
      // and the hub composition; the oracle re-derives Snyder's LCC
      // inverse and the spherical-mercator forward in SQL.
      implicit val sp: SparkSession = s
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_size"),
        geomWktExpr = Some(squareWkt(
          "6561666.666666666 + (p_partkey % 50) * 2000.0",
          "1640416.666666667 + cast(p_partkey / 50 as int) * 1000.0",
          "p_size * 20.0")),
        proj = CaStatePlanePrj)
      val out = java.nio.file.Files.createTempDirectory("verify_paramcrs")
        .resolve("parts.shp").toString
      GeometryToFile.toFile(p, out)
      // replace the sink's .prj with ArcGIS's own text for the zone
      java.nio.file.Files.write(java.nio.file.Paths.get(
        out.stripSuffix(".shp") + ".prj"),
        CaStatePlanePrj.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val back = ShapefileSource(out)
      // whole square metres, not decimal rounding: the 10-step
      // transcendental chain (pow/atan/tan/ln on both sides) carries
      // ~1e-7 of JVM-vs-libm ulp noise, and a sf0.1 run showed decimal
      // quanta DO get hit (2-3 boundary flips per 20k rows at 1e-2/1e-4).
      // The 1.0 quantum puts the per-row flip probability near 1e-7
      // while still pinning 4-5 significant digits of the LCC inverse
      back.set("area", Area(back, "EPSG:3857")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), floor(col("area")).cast("long").as("area"))
    },
      // state-plane .prj: Snyder's ellipsoidal LCC-2SP inverse (EPSG method
      // 9802) re-derived in SQL from the zone constants — t/m/n/F/ρ0 computed
      // FROM the parallels, the latitude fixed-point unrolled 8 deep exactly
      // like the engine — then the spherical web-mercator forward and the
      // centered shoelace. Independent of WktSrs/Proj end to end.
      """WITH par AS (SELECT
        |  0.3048006096012192 AS u, 6378137.0 AS aa,
        |  1.0/298.257222101 AS ff, (-118.0/180.0)*pi() AS lam0,
        |  (34.03333333333333/180.0)*pi() AS p1,
        |  (35.46666666666667/180.0)*pi() AS p2,
        |  (33.5/180.0)*pi() AS ph0),
        |par2 AS (SELECT *, ff*(2-ff) AS ee2, sqrt(ff*(2-ff)) AS ecc FROM par),
        |par3 AS (SELECT *,
        |  cos(p1)/sqrt(1-ee2*sin(p1)*sin(p1)) AS m1,
        |  cos(p2)/sqrt(1-ee2*sin(p2)*sin(p2)) AS m2,
        |  tan(pi()/4-p1/2)/pow((1-ecc*sin(p1))/(1+ecc*sin(p1)), ecc/2) AS t1,
        |  tan(pi()/4-p2/2)/pow((1-ecc*sin(p2))/(1+ecc*sin(p2)), ecc/2) AS t2,
        |  tan(pi()/4-ph0/2)/pow((1-ecc*sin(ph0))/(1+ecc*sin(ph0)), ecc/2) AS t0
        |  FROM par2),
        |par4 AS (SELECT *, (ln(m1)-ln(m2))/(ln(t1)-ln(t2)) AS nn FROM par3),
        |par5 AS (SELECT *, m1/(nn*pow(t1, nn)) AS bigf FROM par4),
        |par6 AS (SELECT *, aa*bigf*pow(t0, nn) AS rho0,
        |  6561666.666666666*u AS fem, 1640416.666666667*u AS fnm FROM par5),
        |sq AS (
        |  SELECT p_partkey AS fid, p_size,
        |    6561666.666666666 + (p_partkey % 50) * 2000.0 AS x0,
        |    1640416.666666667 + CAST(p_partkey // 50 AS INT) * 1000.0 AS y0,
        |    p_size * 20.0 AS s
        |  FROM part),
        |corners AS (
        |  SELECT fid, p_size, k,
        |    CASE WHEN k IN (1, 2) THEN (x0) + (s) ELSE x0 END AS xft,
        |    CASE WHEN k IN (2, 3) THEN (y0) + (s) ELSE y0 END AS yft
        |  FROM sq, (SELECT unnest([0, 1, 2, 3]) AS k)),
        |inv0 AS (SELECT fid, p_size, k, par6.*,
        |    CAST(xft AS DOUBLE)*u - fem AS dx,
        |    rho0 - (CAST(yft AS DOUBLE)*u - fnm) AS dy
        |  FROM corners, par6),
        |inv1 AS (SELECT *, sqrt(dx*dx + dy*dy) AS rho, atan2(dx, dy) AS th FROM inv0),
        |inv2 AS (SELECT *, pow(rho/(aa*bigf), 1.0/nn) AS tp,
        |    lam0 + th/nn AS lam FROM inv1),
        |i0 AS (SELECT *, pi()/2 - 2*atan(tp) AS phi FROM inv2),
        |i1 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i0),
        |i2 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i1),
        |i3 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i2),
        |i4 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i3),
        |i5 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i4),
        |i6 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i5),
        |i7 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i6),
        |i8 AS (SELECT * REPLACE (pi()/2 - 2*atan(tp*pow((1-ecc*sin(phi))/(1+ecc*sin(phi)), ecc/2)) AS phi) FROM i7),
        |merc AS (SELECT fid, p_size, k,
        |    -- the engine hands degrees between the LCC inverse and the
        |    -- mercator forward; deg→rad is not an FP identity, so mirror
        |    -- the exact toDegrees/toRadians orderings (x*180/π, x/180*π)
        |    6378137.0 * (((lam*180.0/pi())/180.0)*pi()) AS x,
        |    6378137.0 * ln(tan(pi()/4 + (((phi*180.0/pi())/180.0)*pi())/2)) AS y
        |  FROM i8),
        |w AS (SELECT fid, p_size,
        |  max(CASE WHEN k = 0 THEN x END) AS x0, max(CASE WHEN k = 0 THEN y END) AS y0,
        |  max(CASE WHEN k = 1 THEN x END) AS x1, max(CASE WHEN k = 1 THEN y END) AS y1,
        |  max(CASE WHEN k = 2 THEN x END) AS x2, max(CASE WHEN k = 2 THEN y END) AS y2,
        |  max(CASE WHEN k = 3 THEN x END) AS x3, max(CASE WHEN k = 3 THEN y END) AS y3
        |  FROM merc GROUP BY fid, p_size)
        |SELECT fid, p_size,
        |  CAST(floor(abs((x1-x0)*(y0-y2) + (x2-x0)*(y1-y3) + (x3-x0)*(y2-y0)) / 2) AS BIGINT) AS area
        |FROM w""".stripMargin)
  )
}
