package graft
package contract

import java.time.Instant
import org.apache.spark.sql.functions._
import graft.geometry._
import QueryLib._

/** The zonal lanes (z): raster statistics aggregated into geometries,
  * each with its DuckDB oracle. */
object Zonal {
  val lanes: Seq[Lane] = Seq(
    Lane("z01_zonal_mean", (s, dir) => {
      val g = eventsGrid(s, dir)
      val feats = customerSquares(dir, g)
      val agg = AggregateRaster(feats, eventsRaster(dir, g), "mean",
        pixelSize = Some(1.0), columnName = "agg")
      agg.frame(GeometryRequest(start = Some(Instant.ofEpochMilli(0))))(s)
        .select(col("fid"), round(col("agg"), 6).as("zonal_mean"))
    },
      // the grid height depends on the event count; computed inline
      s"""WITH params AS (
      |  SELECT 100 AS w, CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) AS n FROM events),
      |cells AS (
      |  SELECT CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id % 4 = 0),
      |centers AS (
      |  SELECT cell_id, v, CAST(cell_id % 100 AS BIGINT) AS x,
      |    (SELECT h FROM params) - 1 - CAST(cell_id // 100 AS BIGINT) AS wy
      |  FROM cells),
      |squares AS (
      |  SELECT c_custkey AS fid,
      |    CAST((c_custkey * 7) % 98 AS BIGINT) AS x0,
      |    CAST((c_custkey * 13) % ((SELECT h FROM params) - 2) AS BIGINT) AS y0
      |  FROM customer)
      |SELECT s.fid, round(avg(c.v), 6) AS zonal_mean
      |FROM squares s LEFT JOIN centers c
      |  ON c.x >= s.x0 AND c.x < s.x0 + 2 AND c.wy >= s.y0 AND c.wy < s.y0 + 2
      |GROUP BY 1""".stripMargin),
    Lane("z02_zonal_threshold", (s, dir) => {
      val g = eventsGrid(s, dir)
      val feats = customerSquares(dir, g)
      val withThr = feats.set("thr",
        FieldOps.Divide(feats.getSeries("c_acctbal"), 50.0))
      val agg = AggregateRasterAboveThreshold(withThr, eventsRaster(dir, g), "sum",
        pixelSize = Some(1.0), columnName = "agg", thresholdName = "thr")
      agg.frame(GeometryRequest(start = Some(Instant.ofEpochMilli(0))))(s)
        .select(col("fid"), round(col("agg"), 4).as("zonal_sum"))
    },
      s"""WITH params AS (
      |  SELECT 100 AS w, CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) AS n FROM events),
      |cells AS (
      |  SELECT CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id % 4 = 0),
      |centers AS (
      |  SELECT cell_id, v, CAST(cell_id % 100 AS BIGINT) AS x,
      |    (SELECT h FROM params) - 1 - CAST(cell_id // 100 AS BIGINT) AS wy
      |  FROM cells),
      |squares AS (
      |  SELECT c_custkey AS fid, c_acctbal / 50.0 AS thr,
      |    CAST((c_custkey * 7) % 98 AS BIGINT) AS x0,
      |    CAST((c_custkey * 13) % ((SELECT h FROM params) - 2) AS BIGINT) AS y0
      |  FROM customer)
      |SELECT s.fid, round(coalesce(sum(CASE WHEN c.v >= s.thr THEN c.v END), 0.0), 4) AS zonal_sum
      |FROM squares s LEFT JOIN centers c
      |  ON c.x >= s.x0 AND c.x < s.x0 + 2 AND c.wy >= s.y0 AND c.wy < s.y0 + 2
      |GROUP BY 1""".stripMargin),
    Lane("z03_zonal_crs", (s, dir) => {
      // features authored in lon/lat (EPSG:4326); the aggregation runs in
      // the raster's CRS via aggProjection (reference aggregate.py:426-434),
      // so every feature geometry is reprojected before the cell join. The
      // oracle re-derives the WGS84→RD polynomial transform in SQL and runs
      // half-plane containment on the transformed quads.
      val g = eventsGrid(s, dir)
      val lonE = s"(3.31357 + ((c_custkey * 7) % 88) * 0.0000134)"
      val latE = s"(47.97478 + ((c_custkey * 13) % 18) * 0.0000090)"
      val lonE2 = s"($lonE + 2.5 * 0.0000134)"
      val latE2 = s"($latE + 2.5 * 0.0000090)"
      val feats = TableGeometrySource(s"$dir/customer.parquet", "c_custkey",
        Seq("c_acctbal"),
        geomWktExpr = Some(
          s"""concat('POLYGON ((', $lonE, ' ', $latE,
             |', ', $lonE2, ' ', $latE,
             |', ', $lonE2, ' ', $latE2,
             |', ', $lonE, ' ', $latE2,
             |', ', $lonE, ' ', $latE, '))')""".stripMargin.replaceAll("\n", "")),
        proj = "EPSG:4326")
      val agg = AggregateRaster(feats, eventsRaster(dir, g), "mean",
        aggProjection = Some("EPSG:28992"), pixelSize = Some(1.0),
        columnName = "agg")
      agg.frame(GeometryRequest(start = Some(Instant.ofEpochMilli(0))))(s)
        .select(col("fid"), round(col("agg"), 6).as("zonal_mean"))
    },
      // WGS84→RD re-derived in SQL from the published polynomial (the same
      // Schreutelkamp & Strang van Hees coefficients, implemented
      // independently), then exact point-in-quad containment by half-plane
      // sign tests on the transformed corners
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h
      |  FROM events),
      |cells0 AS (
      |  SELECT CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id % 4 = 0),
      |centers AS (
      |  SELECT cell_id, v,
      |    CAST(cell_id % 100 AS BIGINT) + 0.5 AS cx,
      |    (SELECT h FROM params) - CAST(cell_id // 100 AS BIGINT) - 0.5 AS cy
      |  FROM cells0),
      |corners AS (
      |  SELECT c_custkey AS fid, kk.k AS k,
      |    3.31357 + ((c_custkey * 7) % 88) * 0.0000134
      |      + (CASE WHEN kk.k IN (1, 2) THEN 2.5 * 0.0000134 ELSE 0 END) AS lon,
      |    47.97478 + ((c_custkey * 13) % 18) * 0.0000090
      |      + (CASE WHEN kk.k IN (2, 3) THEN 2.5 * 0.0000090 ELSE 0 END) AS lat
      |  FROM customer, range(0, 4) kk(k)),
      |rdc AS (SELECT fid, k,
      |  0.36*(lat - 52.15517440) AS P, 0.36*(lon - 5.38720621) AS L FROM corners),
      |rdxy AS (SELECT fid, k,
      |  155000 + 190094.945*L - 11832.228*P*L - 114.221*pow(P,2)*L - 32.391*pow(L,3)
      |    - 0.705*P - 2.340*pow(P,3)*L - 0.608*P*pow(L,3) - 0.008*pow(L,2)
      |    + 0.148*pow(P,2)*pow(L,3) AS x,
      |  463000 + 309056.544*P + 3638.893*pow(L,2) + 73.077*pow(P,2) - 157.984*P*pow(L,2)
      |    + 59.788*pow(P,3) + 0.433*L - 6.439*pow(P,2)*pow(L,2) - 0.032*P*L
      |    + 0.092*pow(L,4) - 0.054*P*pow(L,4) AS y
      |  FROM rdc),
      |quads AS (SELECT fid,
      |  max(CASE WHEN k = 0 THEN x END) AS x0, max(CASE WHEN k = 0 THEN y END) AS y0,
      |  max(CASE WHEN k = 1 THEN x END) AS x1, max(CASE WHEN k = 1 THEN y END) AS y1,
      |  max(CASE WHEN k = 2 THEN x END) AS x2, max(CASE WHEN k = 2 THEN y END) AS y2,
      |  max(CASE WHEN k = 3 THEN x END) AS x3, max(CASE WHEN k = 3 THEN y END) AS y3
      |  FROM rdxy GROUP BY 1)
      |SELECT q.fid, round(avg(c.v), 6) AS zonal_mean
      |FROM quads q LEFT JOIN centers c
      |  ON c.cx >= least(q.x0, q.x1, q.x2, q.x3) AND c.cx <= greatest(q.x0, q.x1, q.x2, q.x3)
      | AND c.cy >= least(q.y0, q.y1, q.y2, q.y3) AND c.cy <= greatest(q.y0, q.y1, q.y2, q.y3)
      | AND (least(
      |    (q.x1-q.x0)*(c.cy-q.y0) - (q.y1-q.y0)*(c.cx-q.x0),
      |    (q.x2-q.x1)*(c.cy-q.y1) - (q.y2-q.y1)*(c.cx-q.x1),
      |    (q.x3-q.x2)*(c.cy-q.y2) - (q.y3-q.y2)*(c.cx-q.x2),
      |    (q.x0-q.x3)*(c.cy-q.y3) - (q.y0-q.y3)*(c.cx-q.x3)) > 0
      |  OR greatest(
      |    (q.x1-q.x0)*(c.cy-q.y0) - (q.y1-q.y0)*(c.cx-q.x0),
      |    (q.x2-q.x1)*(c.cy-q.y1) - (q.y2-q.y1)*(c.cx-q.x1),
      |    (q.x3-q.x2)*(c.cy-q.y2) - (q.y3-q.y2)*(c.cx-q.x2),
      |    (q.x0-q.x3)*(c.cy-q.y3) - (q.y0-q.y3)*(c.cx-q.x3)) < 0)
      |GROUP BY 1""".stripMargin)
  )
}
