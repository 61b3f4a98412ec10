package graft
package contract

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.raster._
import QueryLib._

/** The raster lanes (r): Block DAGs over the events grid (elementwise,
  * temporal, spatial, warp and every raster codec round trip), each with
  * its DuckDB oracle over the same cells. */
object Raster {
  private val Hour = 3600000L

  private def q(f: (SparkSession, String, EventsGrid) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => { val g = eventsGrid(s, dir); f(s, dir, g) }

  // GRIB graticules must fit the globe at every SF: the pitch scales
  // DOWN as the events grid grows (even millidegrees, the edition-1
  // writer requirement). Values and the per-cell oracle are pitch-
  // independent, so small-SF runs keep the historical 0.05.
  private def gribDpc(g: EventsGrid): Double =
    math.max(2, math.min(50, 88000 / math.max(g.w, g.h)) / 2 * 2) / 1000.0

  val lanes: Seq[Lane] = Seq(
    Lane("r01_add", q((s, dir, g) =>
      cells(Add(eventsRaster(dir, g), 10.0).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v + 10.0 END AS v FROM cells""".stripMargin),
    Lane("r02_multiply_rasters", q((s, dir, g) =>
      cells(Multiply(eventsRaster(dir, g), eventsRaster(dir, g, "value * 0.5 + 1"))
        .frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v * (v * 0.5 + 1) END AS v
      |FROM cells""".stripMargin),
    Lane("r03_divide", q((s, dir, g) =>
      cells(Divide(eventsRaster(dir, g), 7.0).frame(fullReq(g))(s), g)
        .select(col("t_idx"), col("cell_id"), round(col("v"), 6).as("v"))),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE round(v / 7.0, 6) END AS v
      |FROM cells""".stripMargin),
    Lane("r04_power", q((s, dir, g) =>
      cells(Power(eventsRaster(dir, g), 2).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v * v END AS v FROM cells""".stripMargin),
    Lane("r05_greater", q((s, dir, g) =>
      cells(Greater(eventsRaster(dir, g), 100.0).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0
      | WHEN v > 100.0 THEN 1.0 ELSE 0.0 END AS v FROM cells""".stripMargin),
    Lane("r06_logic", q((s, dir, g) => {
      val a = eventsRaster(dir, g)
      cells(And(Greater(a, 50.0), Less(a, 150.0)).frame(fullReq(g))(s), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0
      | WHEN v > 50.0 AND v < 150.0 THEN 1.0 ELSE 0.0 END AS v FROM cells""".stripMargin),
    Lane("r07_isdata", q((s, dir, g) =>
      cells(IsData(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0 ELSE 1.0 END AS v FROM cells""".stripMargin),
    Lane("r08_fillnodata", q((s, dir, g) => {
      val sparse = eventsRaster(dir, g, "value", "event_type <> 'purchase'")
      val dense = eventsRaster(dir, g, "value * 2", "event_type = 'error'")
      cells(FillNoData(Seq(sparse, dense)).frame(fullReq(g))(s), g)
    }),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type <> 'purchase' THEN $NDSQL ELSE value END AS va,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE value * 2 END AS vb
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE WHEN vb <> $NDSQL THEN vb
      | WHEN va <> $NDSQL THEN va ELSE $NDSQL END AS v FROM cells""".stripMargin),
    Lane("r09_log", q((s, dir, g) =>
      cells(Log(eventsRaster(dir, g, "value + 1")).frame(fullReq(g))(s), g)
        .select(col("t_idx"), col("cell_id"), round(col("v"), 6).as("v"))),
      s"""${cellsSql("value + 1")}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE round(ln(v), 6) END AS v
      |FROM cells""".stripMargin),
    Lane("r10_clip", q((s, dir, g) => {
      val a = eventsRaster(dir, g)
      cells(Clip(a, Greater(a, 50.0)).frame(fullReq(g))(s), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL OR v <= 50.0 THEN $NDSQL ELSE v END AS v
      |FROM cells""".stripMargin),
    Lane("r11_mask", q((s, dir, g) =>
      cells(Mask(eventsRaster(dir, g), 5).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0 ELSE 5.0 END AS v FROM cells""".stripMargin),
    Lane("r12_maskbelow", q((s, dir, g) =>
      cells(MaskBelow(eventsRaster(dir, g), 100.0).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v < 100.0 THEN $NDSQL ELSE v END AS v FROM cells""".stripMargin),
    Lane("r13_step", q((s, dir, g) =>
      cells(Step(eventsRaster(dir, g), left = -1, right = 1, value = 100.0)
        .frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v WHEN v < 100.0 THEN -1.0
      | WHEN v = 100.0 THEN 0.0 ELSE 1.0 END AS v FROM cells""".stripMargin),
    Lane("r14_classify", q((s, dir, g) =>
      cells(Classify(eventsRaster(dir, g), Seq(50.0, 100.0, 150.0)).frame(fullReq(g))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 255.0
      | ELSE CAST((CASE WHEN v >= 50 THEN 1 ELSE 0 END) + (CASE WHEN v >= 100 THEN 1 ELSE 0 END)
      |  + (CASE WHEN v >= 150 THEN 1 ELSE 0 END) AS DOUBLE) END AS v FROM cells""".stripMargin),
    Lane("r15_reclassify", q((s, dir, g) =>
      cells(Reclassify(eventsRaster(dir, g, "cast(floor(value) as long) % 10", dtype = "int64"),
        Seq((0.0, 100.0), (5.0, 500.0)), select = false).frame(fullReq(g))(s), g)),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE CAST(floor(value) AS BIGINT) % 10 END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE WHEN v IS NULL THEN CAST(9223372036854775807 AS DOUBLE)
      | WHEN v = 0 THEN 100.0 WHEN v = 5 THEN 500.0 ELSE CAST(v AS DOUBLE) END AS v
      |FROM cells""".stripMargin),
    Lane("r16_group_shift", q((s, dir, g) => {
      val a = eventsRaster(dir, g)
      val grouped = Group(Seq(a, Shift(a, 2 * Hour)))
      cells(grouped.frame(fullReq(g, g.frames + 2))(s), g)
    }),
      s"""${cellsSql()}
      |, frames AS (SELECT t_idx AS t, cell_id, v FROM cells)
      |, grid AS (SELECT t, cell_id FROM (SELECT DISTINCT cell_id FROM frames),
      |   (SELECT unnest(range(6)) AS t))
      |SELECT g.t AS t_idx, g.cell_id,
      | CASE WHEN s.v IS NOT NULL AND s.v <> $NDSQL THEN s.v
      |      WHEN b.v IS NOT NULL AND b.v <> $NDSQL THEN b.v
      |      ELSE $NDSQL END AS v
      |FROM grid g
      |LEFT JOIN frames b ON b.cell_id = g.cell_id AND b.t = g.t
      |LEFT JOIN frames s ON s.cell_id = g.cell_id AND s.t = g.t - 2""".stripMargin),
    Lane("r17_reduce_max", q((s, dir, g) =>
      cells(Max(Seq(eventsRaster(dir, g), eventsRaster(dir, g, "250.0 - value")))
        .frame(fullReq(g))(s), g)),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE value END AS va,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE 250.0 - value END AS vb
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE
      | WHEN va = $NDSQL AND vb = $NDSQL THEN $NDSQL
      | WHEN va = $NDSQL THEN vb WHEN vb = $NDSQL THEN va
      | WHEN va > vb THEN va ELSE vb END AS v FROM cells""".stripMargin),
    Lane("r18_reduce_median", q((s, dir, g) =>
      cells(Reduce(Seq(eventsRaster(dir, g), eventsRaster(dir, g, "value + 10"),
        eventsRaster(dir, g, "value * 2")), "median").frame(fullReq(g))(s), g)
        .select(col("t_idx"), col("cell_id"), round(col("v"), 6).as("v"))),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS a,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value + 10 END AS b,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value * 2 END AS c
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE WHEN a IS NULL THEN $NDSQL
      | ELSE round(a + b + c - greatest(a, b, c) - least(a, b, c), 6) END AS v FROM cells""".stripMargin),
    Lane("r19_temporal_sum", q((s, dir, g) =>
      cells(TemporalSum(eventsRaster(dir, g, "value", "false")).frame(fullReq(g))(s), g)
        .select(col("cell_id"), round(col("v"), 3).as("v"))),
      s"""WITH cells AS (
      |  SELECT CAST(event_id // 4 AS BIGINT) AS cell_id, value AS v, event_id % 4 AS t
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT cell_id, round(sum(v ORDER BY t), 3) AS v FROM cells GROUP BY 1""".stripMargin),
    Lane("r20_temporal_agg", q((s, dir, g) =>
      cells(TemporalAggregate(eventsRaster(dir, g), Some("D"), "count")
        .frame(fullReq(g))(s), g).select(col("cell_id"), col("v"))),
      s"""${cellsSql()}
      |SELECT cell_id, CAST(count(CASE WHEN v <> $NDSQL THEN 1 END) AS DOUBLE) AS v
      |FROM cells GROUP BY 1""".stripMargin),
    Lane("r21_cumulative", q((s, dir, g) =>
      cells(Cumulative(eventsRaster(dir, g), "sum").frame(fullReq(g))(s), g)
        .select(col("t_idx"), col("cell_id"), round(col("v"), 3).as("v"))),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, round(sum(CASE WHEN v = $NDSQL THEN 0 ELSE v END)
      | OVER (PARTITION BY cell_id ORDER BY t_idx
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS v FROM cells""".stripMargin),
    Lane("r22_shift", q((s, dir, g) =>
      cells(Shift(eventsRaster(dir, g), Hour).frame(fullReq(g, g.frames + 1))(s), g)),
      s"""${cellsSql()}
      |SELECT t_idx + 1 AS t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r23_resample", q((s, dir, g) => {
      val slow = TableRasterSource(s"$dir/events.parquet", "event_id", "value",
        g.frames, g.w, g.h, "event_type = 'error'", 0L, 2 * Hour)
      val rreq = RasterRequest(Bbox(0, 0, g.w, g.h), "EPSG:28992", g.w, g.h,
        Some(Instant.ofEpochMilli(0)),
        Some(Instant.ofEpochMilli(2 * Hour * (g.frames - 1))))
      cells(Resample(slow, "h", "nearest").frame(rreq)(s), g)
    }),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS src_t, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE value END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT h.t AS t_idx, c.cell_id, c.v
      |FROM (SELECT unnest(range(7)) AS t) h
      |JOIN cells c ON c.src_t = h.t // 2""".stripMargin),
    Lane("r24_snap", q((s, dir, g) => {
      val a = eventsRaster(dir, g)
      val index = Shift(a, Hour / 3)
      cells(Snap(a, index).frame(fullReq(g, g.frames + 1))(s), g)
        .select((col("t_idx") - 0).as("t_idx"), col("cell_id"), col("v"))
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r00_memory_source", q((s, dir, g) => {
      // literal in-memory source resampled 2× (the §2.2 MemorySource path)
      val src = MemorySource(
        Seq(Array(1.0, 2.0, 3.0, 255.0), Array(5.0, 6.0, 7.0, 8.0)),
        2, 2, 255.0, "EPSG:28992", 1.0, 0.0, 2.0, 0L, Some(Hour), "float64")
      val rq = RasterRequest(Bbox(0, 0, 2, 2), "EPSG:28992", 4, 4,
        Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(Hour)))
      src.frame(rq)(s)
        .select((col("t") / Hour).cast("long").as("t_idx"),
          posexplode(col("values")).as(Seq("pos", "v")))
    }),
      // 2×2 source at 1 m cells resampled to a 4×4 half-meter grid: each
      // source cell covers a 2×2 output block; source nodata 255 → F8 max
      s"""WITH src(t_idx, y, x, v) AS (VALUES
        | (0, 0, 0, 1.0), (0, 0, 1, 2.0), (0, 1, 0, 3.0), (0, 1, 1, $NDSQL),
        | (1, 0, 0, 5.0), (1, 0, 1, 6.0), (1, 1, 0, 7.0), (1, 1, 1, 8.0)),
        |grid AS (SELECT t, p FROM (SELECT unnest(range(2)) AS t),
        |  (SELECT unnest(range(16)) AS p))
        |SELECT CAST(g.t AS BIGINT) AS t_idx, CAST(g.p AS INT) AS pos, s.v
        |FROM grid g JOIN src s ON s.t_idx = g.t
        |  AND s.x = (g.p % 4) // 2 AND s.y = (g.p // 4) // 2""".stripMargin),
    Lane("r32_sink_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      val a = Multiply(eventsRaster(dir, g), 2.0)
      val out = java.nio.file.Files.createTempDirectory("verify_sink").toString
      RasterParquetSink(a, out).write(fullReq(g))
      cells(RasterParquetSource(out).frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v * 2.0 END AS v
      |FROM cells""".stripMargin),
    Lane("r33_elemwise_suite", q((s, dir, g) => {
      val a = eventsRaster(dir, g)
      val b = eventsRaster(dir, g, "200.0 - value")
      // the seven branches are ALIGNED tile frames over one request:
      // join them tile-wise and explode once (cellsJoined) instead of
      // exploding each to ~#cells rows and equi-joining six times —
      // identical rows/values, ~#tiles-row joins
      def f(r: RasterBlock) = r.frame(fullReq(g))(s)
      QueryLib.cellsJoined(g,
          (f(Equal(a, b)), "eq"),
          (f(NotEqual(a, 100.0)), "ne"),
          (f(GreaterEqual(a, b)), "ge"),
          (f(LessEqual(a, 100.0)), "le"),
          (f(Invert(IsNoData(a))), "inv_nd"),
          (f(Exp(Divide(a, 100.0))), "expv"),
          (f(Log10(eventsRaster(dir, g, "value + 1"))), "l10"))
        .select(col("t_idx"), col("cell_id"), col("eq"), col("ne"), col("ge"),
          col("le"), col("inv_nd"), round(col("expv"), 6).as("expv"),
          round(col("l10"), 6).as("l10"))
    }),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id,
      | CASE WHEN v IS NULL THEN 0.0 WHEN v = 200.0 - v THEN 1.0 ELSE 0.0 END AS eq,
      | CASE WHEN v IS NULL THEN 1.0 WHEN v <> 100.0 THEN 1.0 ELSE 0.0 END AS ne,
      | CASE WHEN v IS NULL THEN 0.0 WHEN v >= 200.0 - v THEN 1.0 ELSE 0.0 END AS ge,
      | CASE WHEN v IS NULL THEN 0.0 WHEN v <= 100.0 THEN 1.0 ELSE 0.0 END AS le,
      | CASE WHEN v IS NULL THEN 0.0 ELSE 1.0 END AS inv_nd,
      | CASE WHEN v IS NULL THEN $NDSQL ELSE round(exp(v / 100.0), 6) END AS expv,
      | CASE WHEN v IS NULL THEN $NDSQL ELSE round(log10(v + 1), 6) END AS l10
      |FROM cells""".stripMargin),
    Lane("r25_dilate", q((s, dir, g) =>
      cells(Dilate(eventsRaster(dir, g, "cast(floor(value) as long) % 10", dtype = "int64"),
        Seq(5.0)).frame(fullReq(g))(s), g)),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE CAST(floor(value) AS BIGINT) % 10 END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events)),
      |xy AS (SELECT t_idx, cell_id, v, CAST(cell_id % 100 AS BIGINT) AS x,
      |  CAST(cell_id // 100 AS BIGINT) AS y FROM cells)
      |SELECT a.t_idx, a.cell_id,
      | CASE WHEN max(CASE WHEN b.v = 5 THEN 1 ELSE 0 END) = 1 THEN 5.0
      |      WHEN a.v IS NULL THEN CAST(9223372036854775807 AS DOUBLE)
      |      ELSE CAST(a.v AS DOUBLE) END AS v
      |FROM xy a LEFT JOIN xy b ON b.t_idx = a.t_idx
      |  AND b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      |GROUP BY a.t_idx, a.cell_id, a.v""".stripMargin),
    Lane("r26_movingmax", q((s, dir, g) =>
      cells(MovingMax(eventsRaster(dir, g), 3).frame(fullReq(g))(s), g)),
      s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events)),
      |xy AS (SELECT t_idx, cell_id, v, CAST(cell_id % 100 AS BIGINT) AS x,
      |  CAST(cell_id // 100 AS BIGINT) AS y FROM cells)
      |SELECT a.t_idx, a.cell_id, coalesce(max(b.v), $NDSQL) AS v
      |FROM xy a LEFT JOIN xy b ON b.t_idx = a.t_idx
      |  AND b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      |  AND b.v IS NOT NULL
      |GROUP BY a.t_idx, a.cell_id""".stripMargin),
    Lane("r27_hillshade", q((s, dir, g) =>
      cells(HillShade(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS v
      |  FROM events),
      |grid AS (SELECT t, cell_id FROM (SELECT unnest(range(4)) AS t),
      |  (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id)),
      |xy AS (SELECT g.t AS t_idx, g.cell_id, coalesce(c.v, 0.0) AS v,
      |  CAST(g.cell_id % 100 AS BIGINT) AS x, CAST(g.cell_id // 100 AS BIGINT) AS y
      |  FROM grid g LEFT JOIN cells c ON c.t_idx = g.t AND c.cell_id = g.cell_id),
      |grad AS (
      |  SELECT a.t_idx, a.cell_id,
      |   (sum(CASE WHEN b.y = a.y - 1 THEN (CASE WHEN b.x = a.x THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)
      |    - sum(CASE WHEN b.y = a.y + 1 THEN (CASE WHEN b.x = a.x THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)) AS gy,
      |   (sum(CASE WHEN b.x = a.x - 1 THEN (CASE WHEN b.y = a.y THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)
      |    - sum(CASE WHEN b.x = a.x + 1 THEN (CASE WHEN b.y = a.y THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)) AS gx
      |  FROM xy a LEFT JOIN xy b ON b.t_idx = a.t_idx
      |    AND b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      |    AND NOT (b.x = a.x AND b.y = a.y)
      |  GROUP BY a.t_idx, a.cell_id)
      |SELECT t_idx, cell_id,
      | floor(greatest(0.0, 255 * (sin(radians(45)) - cos(radians(45)) * 0.125
      |   * sqrt(gx*gx + gy*gy) * sin(atan2(gy, gx) - radians(315)))
      |   / sqrt(1 + 0.015625 * (gx*gx + gy*gy)))) AS v
      |FROM grad""".stripMargin),
    Lane("r47_slope", q((s, dir, g) =>
      cells(Slope(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS v
      |  FROM events),
      |grid AS (SELECT t, cell_id FROM (SELECT unnest(range(4)) AS t),
      |  (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id)),
      |xy AS (SELECT g.t AS t_idx, g.cell_id, coalesce(c.v, 0.0) AS v,
      |  CAST(g.cell_id % 100 AS BIGINT) AS x, CAST(g.cell_id // 100 AS BIGINT) AS y
      |  FROM grid g LEFT JOIN cells c ON c.t_idx = g.t AND c.cell_id = g.cell_id),
      |grad AS (
      |  SELECT a.t_idx, a.cell_id,
      |   (sum(CASE WHEN b.y = a.y - 1 THEN (CASE WHEN b.x = a.x THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)
      |    - sum(CASE WHEN b.y = a.y + 1 THEN (CASE WHEN b.x = a.x THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)) / 8.0 AS gy,
      |   (sum(CASE WHEN b.x = a.x - 1 THEN (CASE WHEN b.y = a.y THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)
      |    - sum(CASE WHEN b.x = a.x + 1 THEN (CASE WHEN b.y = a.y THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)) / 8.0 AS gx
      |  FROM xy a LEFT JOIN xy b ON b.t_idx = a.t_idx
      |    AND b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      |    AND NOT (b.x = a.x AND b.y = a.y)
      |  GROUP BY a.t_idx, a.cell_id)
      |SELECT t_idx, cell_id,
      | floor(10 * degrees(atan(sqrt(gx*gx + gy*gy))) + 0.5) AS v
      |FROM grad""".stripMargin),
    Lane("r48_aspect", q((s, dir, g) =>
      cells(Aspect(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS v
      |  FROM events),
      |grid AS (SELECT t, cell_id FROM (SELECT unnest(range(4)) AS t),
      |  (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id)),
      |xy AS (SELECT g.t AS t_idx, g.cell_id, coalesce(c.v, 0.0) AS v,
      |  CAST(g.cell_id % 100 AS BIGINT) AS x, CAST(g.cell_id // 100 AS BIGINT) AS y
      |  FROM grid g LEFT JOIN cells c ON c.t_idx = g.t AND c.cell_id = g.cell_id),
      |grad AS (
      |  SELECT a.t_idx, a.cell_id,
      |   (sum(CASE WHEN b.y = a.y - 1 THEN (CASE WHEN b.x = a.x THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)
      |    - sum(CASE WHEN b.y = a.y + 1 THEN (CASE WHEN b.x = a.x THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)) / 8.0 AS gy,
      |   (sum(CASE WHEN b.x = a.x - 1 THEN (CASE WHEN b.y = a.y THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)
      |    - sum(CASE WHEN b.x = a.x + 1 THEN (CASE WHEN b.y = a.y THEN 2.0 ELSE 1.0 END) * b.v ELSE 0 END)) / 8.0 AS gx
      |  FROM xy a LEFT JOIN xy b ON b.t_idx = a.t_idx
      |    AND b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      |    AND NOT (b.x = a.x AND b.y = a.y)
      |  GROUP BY a.t_idx, a.cell_id)
      |SELECT t_idx, cell_id,
      | CASE WHEN abs(gx) < 0.000001 AND abs(gy) < 0.000001 THEN -1.0
      |  ELSE floor(10 * (CASE WHEN degrees(atan2(gy, gx)) < 0
      |    THEN degrees(atan2(gy, gx)) + 360 ELSE degrees(atan2(gy, gx)) END) + 0.5)
      | END AS v
      |FROM grad""".stripMargin),
    Lane("r50_roughness", q((s, dir, g) =>
      // max−min window: pure order-independent arithmetic, no
      // quantization needed for engine parity
      cells(Roughness(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS v
      |  FROM events),
      |grid AS (SELECT t, cell_id FROM (SELECT unnest(range(4)) AS t),
      |  (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id)),
      |xy AS (SELECT g.t AS t_idx, g.cell_id, coalesce(c.v, 0.0) AS v,
      |  CAST(g.cell_id % 100 AS BIGINT) AS x, CAST(g.cell_id // 100 AS BIGINT) AS y
      |  FROM grid g LEFT JOIN cells c ON c.t_idx = g.t AND c.cell_id = g.cell_id),
      |offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
      |  (SELECT unnest([-1, 0, 1]) AS dy) WHERE NOT (dx = 0 AND dy = 0)),
      |nb AS (SELECT a.t_idx, a.cell_id, a.v AS cv, coalesce(b.v, 0.0) AS nv
      |  FROM xy a CROSS JOIN offs o
      |  LEFT JOIN xy b ON b.t_idx = a.t_idx
      |    AND b.x = a.x + o.dx AND b.y = a.y + o.dy)
      |SELECT t_idx, cell_id,
      | greatest(max(nv), max(cv)) - least(min(nv), min(cv)) AS v
      |FROM nb GROUP BY t_idx, cell_id""".stripMargin),
    Lane("r51_tpi", q((s, dir, g) =>
      cells(Tpi(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS v
      |  FROM events),
      |grid AS (SELECT t, cell_id FROM (SELECT unnest(range(4)) AS t),
      |  (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id)),
      |xy AS (SELECT g.t AS t_idx, g.cell_id, coalesce(c.v, 0.0) AS v,
      |  CAST(g.cell_id % 100 AS BIGINT) AS x, CAST(g.cell_id // 100 AS BIGINT) AS y
      |  FROM grid g LEFT JOIN cells c ON c.t_idx = g.t AND c.cell_id = g.cell_id),
      |offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
      |  (SELECT unnest([-1, 0, 1]) AS dy) WHERE NOT (dx = 0 AND dy = 0)),
      |nb AS (SELECT a.t_idx, a.cell_id, a.v AS cv, coalesce(b.v, 0.0) AS nv
      |  FROM xy a CROSS JOIN offs o
      |  LEFT JOIN xy b ON b.t_idx = a.t_idx
      |    AND b.x = a.x + o.dx AND b.y = a.y + o.dy)
      |SELECT t_idx, cell_id,
      | 8 * floor(max(cv) * 1000000.0 + 0.5)
      |   - sum(floor(nv * 1000000.0 + 0.5)) AS v
      |FROM nb GROUP BY t_idx, cell_id""".stripMargin),
    Lane("r52_tri", q((s, dir, g) =>
      cells(Tri(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS v
      |  FROM events),
      |grid AS (SELECT t, cell_id FROM (SELECT unnest(range(4)) AS t),
      |  (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id)),
      |xy AS (SELECT g.t AS t_idx, g.cell_id, coalesce(c.v, 0.0) AS v,
      |  CAST(g.cell_id % 100 AS BIGINT) AS x, CAST(g.cell_id // 100 AS BIGINT) AS y
      |  FROM grid g LEFT JOIN cells c ON c.t_idx = g.t AND c.cell_id = g.cell_id),
      |offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
      |  (SELECT unnest([-1, 0, 1]) AS dy) WHERE NOT (dx = 0 AND dy = 0)),
      |nb AS (SELECT a.t_idx, a.cell_id, a.v AS cv, coalesce(b.v, 0.0) AS nv
      |  FROM xy a CROSS JOIN offs o
      |  LEFT JOIN xy b ON b.t_idx = a.t_idx
      |    AND b.x = a.x + o.dx AND b.y = a.y + o.dy)
      |SELECT t_idx, cell_id,
      | sum(abs(floor(cv * 1000000.0 + 0.5)
      |   - floor(nv * 1000000.0 + 0.5))) AS v
      |FROM nb GROUP BY t_idx, cell_id""".stripMargin),
    Lane("r28_rasterize", q((s, dir, g) => {
      val feats = customerSquares(dir, g)
      val burned = Rasterize(feats, columnName = Some("c_acctbal"), dtypeName = "float64")
      cells(burned.frame(fullReq(g, 1))(s), g)
        .select(col("cell_id"), round(col("v"), 2).as("v"))
    }),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |grid AS (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id),
      |centers AS (SELECT cell_id, CAST(cell_id % 100 AS BIGINT) AS x,
      |  (SELECT h FROM params) - 1 - CAST(cell_id // 100 AS BIGINT) AS wy FROM grid),
      |squares AS (
      |  SELECT c_custkey AS fid, c_acctbal,
      |    CAST((c_custkey * 7) % 98 AS BIGINT) AS x0,
      |    CAST((c_custkey * 13) % ((SELECT h FROM params) - 2) AS BIGINT) AS y0
      |  FROM customer)
      |SELECT c.cell_id,
      | round(coalesce(arg_max(s.c_acctbal, s.fid), $NDSQL), 2) AS v
      |FROM centers c LEFT JOIN squares s
      |  ON c.x >= s.x0 AND c.x < s.x0 + 2 AND c.wy >= s.y0 AND c.wy < s.y0 + 2
      |GROUP BY c.cell_id""".stripMargin),
    Lane("r29_rasterize_wkt", q((s, dir, g) => {
      val r = RasterizeWKT("POLYGON ((10 10, 40 10, 40 30, 10 30, 10 10))", "EPSG:28992")
      cells(r.frame(fullReq(g, 1))(s), g).select(col("cell_id"), col("v"))
    }),
      s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |grid AS (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id),
      |centers AS (SELECT cell_id, CAST(cell_id % 100 AS BIGINT) AS x,
      |  (SELECT h FROM params) - 1 - CAST(cell_id // 100 AS BIGINT) AS wy FROM grid)
      |SELECT cell_id, CASE WHEN x + 0.5 > 10 AND x + 0.5 < 40
      |  AND wy + 0.5 > 10 AND wy + 0.5 < 30 THEN 1.0 ELSE 0.0 END AS v
      |FROM centers""".stripMargin),
    Lane("r30_smooth", q((s, dir, g) =>
      cells(Smooth(eventsRaster(dir, g), 2.0, fill = 0).frame(fullReq(g))(s), g)
        .select(col("t_idx"), col("cell_id"), round(col("v"), 4).as("v"))),
      // global separable Gaussian (σ = size/3 px, radius int(4σ+0.5),
      // zero-padded — fill = 0 and outside-extent is nodata→fill). Valid
      // as a GLOBAL convolution because the stencil halo covers the full
      // kernel radius, making the tiled evaluation seam-exact.
      // v2 is densified over the FULL w×h pixel grid (the last grid row may
      // be only partially covered by cells, e.g. 250 cells on a 100×3 grid):
      // horizontal-pass mass that spreads into cell-less pixels must still
      // feed the vertical pass, exactly as it does in the engine's frame.
      s"""${cellsSql()},
         |wts AS (SELECT t.j - 3 AS j,
         |  exp(-0.5 * (t.j - 3) * (t.j - 3) / ((2.0/3.0) * (2.0/3.0))) AS wt
         |  FROM range(0, 7) t(j)),
         |wn AS (SELECT j, wt / (SELECT SUM(wt) FROM wts) AS w FROM wts),
         |grid AS (SELECT unnest(range(
         |  (SELECT ((count(*) // 4 + 99) // 100) * 100 FROM events))) AS cell_id),
         |v2 AS (SELECT ts.t_idx, CAST(g.cell_id % 100 AS BIGINT) AS x,
         |  CAST(g.cell_id // 100 AS BIGINT) AS y,
         |  COALESCE(CASE WHEN c.v = $NDSQL THEN 0.0 ELSE c.v END, 0.0) AS v
         |  FROM grid g CROSS JOIN (SELECT DISTINCT t_idx FROM cells) ts
         |  LEFT JOIN cells c ON c.t_idx = ts.t_idx AND c.cell_id = g.cell_id),
         |hp AS (SELECT a.t_idx, a.y, a.x, SUM(w.w * b.v) AS v
         |  FROM v2 a JOIN wn w ON TRUE
         |  JOIN v2 b ON b.t_idx = a.t_idx AND b.y = a.y AND b.x = a.x + w.j
         |  GROUP BY 1, 2, 3),
         |vp AS (SELECT a.t_idx, a.y, a.x, SUM(w.w * b.v) AS v
         |  FROM hp a JOIN wn w ON TRUE
         |  JOIN hp b ON b.t_idx = a.t_idx AND b.x = a.x AND b.y = a.y + w.j
         |  GROUP BY 1, 2, 3)
         |SELECT t_idx, y * 100 + x AS cell_id, round(v, 4) AS v FROM vp
         |WHERE y * 100 + x < (SELECT count(*) // 4 FROM events)""".stripMargin),
    Lane("r31_place", q((s, dir, g) => {
      val stamped = Place(eventsRaster(dir, g), "EPSG:28992", (50.0, g.h / 2.0),
        Seq((25.0, g.h / 2.0), (75.0, g.h / 2.0)), "max")
      cells(stamped.frame(fullReq(g))(s), g)
        .select(col("t_idx"), col("cell_id"), round(col("v"), 4).as("v"))
    }),
      // the query's placements are pure x-translations (anchor 50, coords
      // 25/75, same y) merged with nodata-skipping max — expressible as
      // two shifted self-joins; empty sample set → nodata (max semantics)
      s"""${cellsSql()},
         |v2 AS (SELECT t_idx, CAST(cell_id % 100 AS BIGINT) AS x,
         |  CAST(cell_id // 100 AS BIGINT) AS y, v FROM cells WHERE v != $NDSQL)
         |SELECT g.t_idx, g.cell_id, round(
         |  CASE WHEN a.v IS NULL AND b.v IS NULL THEN $NDSQL
         |       WHEN a.v IS NULL THEN b.v
         |       WHEN b.v IS NULL THEN a.v
         |       ELSE greatest(a.v, b.v) END, 4) AS v
         |FROM (SELECT t_idx, cell_id, CAST(cell_id % 100 AS BIGINT) AS x,
         |      CAST(cell_id // 100 AS BIGINT) AS y FROM cells) g
         |LEFT JOIN v2 a ON a.t_idx = g.t_idx AND a.y = g.y AND a.x = g.x + 25
         |LEFT JOIN v2 b ON b.t_idx = g.t_idx AND b.y = g.y AND b.x = g.x - 25""".stripMargin),
    Lane("r37_cog_overview", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // frame 0 to a tiled GeoTIFF with a COG pyramid (floor-dim levels,
      // nearest top-left decimation), then a half-resolution request:
      // GeoTiffSource serves it from overview level 1 — the coarse grid
      // equals the level-1 grid, so each output pixel is exactly the
      // full-resolution sample at (2y, 2x). Oracle re-derives that
      // subsampling over the events reshape in SQL.
      val a = eventsRaster(dir, g)
      val r0 = RasterRequest(Bbox(0, 0, g.w, g.h), "EPSG:28992", g.w, g.h,
        Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(0)))
      val res = a.getData(r0)(s).get
      val out = java.nio.file.Files.createTempDirectory("verify_cog")
        .resolve("cog.tif").toString
      GeoTiff.write(out, res.values.head, g.w, g.h, Bbox(0, 0, g.w, g.h),
        28992, res.noDataValue, tileSize = 16)
      GeoTiff.appendOverviews(out, res.values.head, g.w, g.h,
        res.noDataValue, "float64", tileSize = 16, minDim = 16)
      val cw = g.w / 2; val ch = g.h / 2
      val creq = RasterRequest(Bbox(0, g.h - ch * 2.0, g.w, g.h),
        "EPSG:28992", cw, ch,
        Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(0)))
      val cres = GeoTiffSource(out).getData(creq)(s).get
      import s.implicits._
      cres.values.head.zipWithIndex.toSeq
        .map { case (v, i) => (i.toLong, v) }.toDF("coarse_id", "v")
    }),
      // COG half-resolution serving re-derived: coarse pixel (ry, rx) is the
      // full-resolution frame-0 sample at cell (2·ry)·100 + 2·rx (nearest
      // top-left decimation, level-1 grid == request grid); cells beyond the
      // complete-cell count are the nodata sentinel
      s"""${cellsSql()},
      |dims AS (SELECT ((COUNT(*) // 4 + 99) // 100) // 2 AS ch FROM events),
      |coarse AS (
      |  SELECT ry * 50 + rx AS coarse_id, (2 * ry) * 100 + 2 * rx AS src_id
      |  FROM (SELECT unnest(range(50)) AS rx),
      |       (SELECT unnest(range((SELECT ch FROM dims))) AS ry))
      |SELECT CAST(coarse_id AS BIGINT) AS coarse_id,
      |  COALESCE(c.v, $NDSQL) AS v
      |FROM coarse LEFT JOIN cells c ON c.cell_id = coarse.src_id AND c.t_idx = 0""".stripMargin),
    Lane("r38_ascii_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // all four frames through the ESRI ASCII grid codec: text
      // round-trip is value-exact (Double.toString shortest digits) and
      // the read-back must keep the numeric frame order
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_asc").toString
      AsciiGridSink(a, out).write(fullReq(g))
      cells(AsciiGridSource(out, 0L, Hour).frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r41_envi_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole 4-frame stack through ONE ENVI .dat/.hdr pair
      // (bands = frames, bsq little-endian float64 — bit-exact binary)
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_envi").toString
      EnviSink(a, s"$out/stack.dat").write(fullReq(g))
      cells(EnviSource(s"$out/stack.dat", 0L, Hour).frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r42_netcdf_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole 4-frame stack through ONE CF-convention NetCDF file
      // (CDF-2, time dimension = frames, spatial_ref WKT grid mapping);
      // the read-back time axis comes from the in-file CF time variable
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_nc").toString
      NetCdfSink(a, s"$out/stack.nc").write(fullReq(g))
      cells(NetCdfSource(s"$out/stack.nc").frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r43_netcdf_slice", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // temporal slice of the stack: only frames 1-2 are requested from
      // the file (frame instants resolved from the CF time variable)
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_ncs").toString
      NetCdfSink(a, s"$out/stack.nc").write(fullReq(g))
      val sliced = fullReq(g).copy(
        start = Some(java.time.Instant.ofEpochMilli(Hour)),
        stop = Some(java.time.Instant.ofEpochMilli(2 * Hour)))
      cells(NetCdfSource(s"$out/stack.nc").frame(sliced), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin),
    Lane("r44_zarr_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole 4-frame stack through ONE Zarr v2 group (time
      // dimension = frames, zlib chunks, spatial_ref grid mapping);
      // the read-back time axis comes from the CF time array
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_zarr").toString
      ZarrSink(a, s"$out/stack.zarr", chunkH = 7, chunkW = 5).write(fullReq(g))
      cells(ZarrSource(s"$out/stack.zarr").frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r55_zarr_v3", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole 4-frame stack through a Zarr v3 store (zarr.json
      // documents, zstd codec chain, c/-prefixed chunk keys) — the
      // dispatcher routes the directory by its root zarr.json
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_zarr3").toString
      ZarrSink(a, s"$out/stack.zarr", chunkH = 7, chunkW = 5,
        zarrVersion = 3).write(fullReq(g))
      cells(RasterFileSource(s"$out/stack.zarr").frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r58_zarr_sharded", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // Zarr v3 sharding_indexed: shard objects holding inner chunks
      // + a crc32c-protected (offset, nbytes) index footer — the
      // cloud-scale v3 layout; the read is positioned byte ranges off
      // the index, and a TEMPORAL slice proves the shard-pruning path.
      // The store is produced by the DSv2 DISTRIBUTED write lane
      // (r65's machinery): executor tasks, clustered+sorted by t,
      // each assemble and PUT whole frame shards; the driver commits
      // only the metadata JSON — the former ZarrSink path collected
      // every frame to the driver and wrote the store single-threaded
      // (guide §6 I/O: distribute the write) — read-back values are
      // identical (same F8 samples, layout-independent)
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_zarrsh").toString
      a.frame(fullReq(g))(s)
        .select(col("t"), col("ty"), col("tx"), col("values"))
        .write.format("graft-raster").mode("append")
        .option("width", g.w.toString).option("height", g.h.toString)
        .option("x0", "0").option("y0", "0").option("cell", "1")
        .option("projection", "EPSG:28992")
        .option("nodata", QueryLib.ND.toString)
        // small inner chunks keep several chunks per shard, so the
        // sharding_indexed read path (index footer + positioned inner
        // ranges) stays exercised
        .option("chunk", "8")
        .save(s"$out/stack.zarr")
      val src = RasterFileSource(s"$out/stack.zarr")
      val sliced = fullReq(g).copy(
        start = Some(java.time.Instant.ofEpochMilli(Hour)),
        stop = Some(java.time.Instant.ofEpochMilli(2 * Hour)))
      cells(src.frame(fullReq(g)), g)
        .unionAll(cells(src.frame(sliced), g)
          .withColumn("t_idx", col("t_idx") + lit(100L)))
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin),
    Lane("r45_zarr_slice", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // temporal slice: the chunk-pruned path decodes only frames 1-2's
      // chunk objects (RasterFileSource dispatches the bare directory)
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_zarrs").toString
      ZarrSink(a, s"$out/stack.zarr").write(fullReq(g))
      val sliced = fullReq(g).copy(
        start = Some(java.time.Instant.ofEpochMilli(Hour)),
        stop = Some(java.time.Instant.ofEpochMilli(2 * Hour)))
      cells(RasterFileSource(s"$out/stack.zarr").frame(sliced), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin),
    Lane("r46_hdf5_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole 4-frame stack through ONE NetCDF-4-shaped HDF5 file
      // (v0 superblock, chunked+deflate data variable, CF attrs); the
      // dispatcher routes the .nc by its HDF5 magic
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_h5").toString
      Hdf5Sink(a, s"$out/stack.nc", chunkRows = 7).write(fullReq(g))
      cells(RasterFileSource(s"$out/stack.nc").frame(fullReq(g)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r63_hdf5_idx", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the stack through BOTH HDF5 1.10 chunk indexes: an
      // Extensible Array with deliberately small creation parameters
      // (inline elements, direct data blocks, super blocks, paged
      // data blocks as the grid grows) and a v2 B-tree whose node
      // size forces one internal level at sf0.01+; the second leg
      // reads the EA file through a temporal slice — frame-pruned
      // positioned reads over the v4 index
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_h5idx").toString
      val res = a.getData(fullReq(g)).get
      val times = res.times.map(_.toEpochMilli)
      Hdf5Write.write(s"$out/ea.nc", res.values, g.w, g.h,
        fullReq(g).bbox, res.noDataValue, "EPSG:28992", times,
        "float64", chunkRows = math.max(2, g.h / 64), chunkIndex = "earray",
        eaIdxBlkElmts = 1, eaMinElmts = 2, eaSupMinPtrs = 2,
        eaPageBits = 2)
      Hdf5Write.write(s"$out/b2.nc", res.values, g.w, g.h,
        fullReq(g).bbox, res.noDataValue, "EPSG:28992", times,
        "float64", chunkRows = math.max(2, g.h / 64), chunkIndex = "btree2",
        b2NodeSize = 1024)
      val ea = RasterFileSource(s"$out/ea.nc")
      val b2 = RasterFileSource(s"$out/b2.nc")
      val sliced = fullReq(g).copy(
        start = Some(java.time.Instant.ofEpochMilli(Hour)),
        stop = Some(java.time.Instant.ofEpochMilli(2 * Hour)))
      cells(ea.frame(fullReq(g)), g)
        .unionAll(cells(ea.frame(sliced), g)
          .withColumn("t_idx", col("t_idx") + lit(100L)))
        .unionAll(cells(b2.frame(fullReq(g)), g)
          .withColumn("t_idx", col("t_idx") + lit(200L)))
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)
      |UNION ALL
      |SELECT t_idx + 200, cell_id, v FROM cells""".stripMargin),
    Lane("r39_xyz_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // frame 0 through the XYZ point-grid codec (3 numbers per cell —
      // one frame bounds the text size); the reader re-infers the grid
      // from the cell-center coordinates
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_xyz").toString
      XyzSink(a, out).write(fullReq(g, 1))
      cells(XyzSource(out, 0L, Hour, noDataArg = QueryLib.ND)
        .frame(fullReq(g, 1)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx = 0""".stripMargin),
    Lane("r49_gpkg_tiles", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // frame 0 through a GeoPackage tile pyramid (single-zoom 16-bit
      // PNG tiles, 65535 = nodata, sparse tiles skipped); 13-px tiles
      // force partial edge tiles on the 100-wide grid
      val a = eventsRaster(dir, g, "cast(floor(value) as bigint) % 30000",
        dtype = "uint16")
      val out = java.nio.file.Files.createTempDirectory("verify_gpkgt").toString
      GpkgRasterSink(a, s"$out/t.gpkg", tileSize = 13).write(fullReq(g, 1))
      cells(GpkgRasterSource(s"$out/t.gpkg").frame(fullReq(g, 1)), g)
    }),
      s"""${cellsSql(
        "CAST(floor(value) AS BIGINT) % 30000", "event_type = 'error'")}
      |SELECT t_idx, cell_id,
      |  CASE WHEN v = $NDSQL THEN 65535.0 ELSE v END AS v
      |FROM cells WHERE t_idx = 0""".stripMargin),
    Lane("r53_grib_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole 4-frame stack through GRIB2 (one message per frame,
      // templates 3.0/4.0/5.0, simple packing — exact over
      // integer-quantized values, bitmap rows = nodata); template 3.0
      // is geographic-only, so the sink remaps the pixel grid onto a
      // 0.05-deg graticule and the read-back request uses that extent
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_grib").toString
      val p = GribSink(a, s"$out/stack.grib2", degPerCell = gribDpc(g))
        .write(fullReq(g))
      val src = RasterFileSource(p)
      val back = RasterRequest(src.extent.get, "EPSG:4326", g.w, g.h,
        Some(java.time.Instant.ofEpochMilli(0)),
        Some(java.time.Instant.ofEpochMilli(Hour * (g.frames - 1))))
      cells(src.frame(back), g)
    }),
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r57_grib_complex", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole stack through GRIB2 COMPLEX packing with 2nd-order
      // spatial differencing (templates 5.3/7.3): general group
      // splitting, per-group references/widths, sign-magnitude
      // initial values + overall minimum — the packing real GFS/ECMWF
      // products use; exact over integer-quantized values
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_gribc").toString
      val p = GribSink(a, s"$out/stack.grib2", degPerCell = gribDpc(g),
        template = 3, sdOrder = 2).write(fullReq(g))
      val src = RasterFileSource(p)
      val back = RasterRequest(src.extent.get, "EPSG:4326", g.w, g.h,
        Some(java.time.Instant.ofEpochMilli(0)),
        Some(java.time.Instant.ofEpochMilli(Hour * (g.frames - 1))))
      cells(src.frame(back), g)
    }),
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r60_grib1_roundtrip", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // GRIB EDITION 1 (WMO FM 92-VIII — the ERA5/reanalysis
      // container): regular lat/lon GDS in millidegrees, simple
      // packing with an IBM hex-float reference value, bitmap rows
      // for nodata. Full-stack read-back plus a temporal slice
      // (fields 1-2 only — GRIB1 headers carry per-field byte ranges
      // for the same header-only pruning as edition 2)
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_grib1").toString
      val p = GribSink(a, s"$out/stack.grib", degPerCell = gribDpc(g),
        edition = 1).write(fullReq(g))
      val src = RasterFileSource(p)
      val back = RasterRequest(src.extent.get, "EPSG:4326", g.w, g.h,
        Some(java.time.Instant.ofEpochMilli(0)),
        Some(java.time.Instant.ofEpochMilli(Hour * (g.frames - 1))))
      val sliced = back.copy(
        start = Some(java.time.Instant.ofEpochMilli(Hour)),
        stop = Some(java.time.Instant.ofEpochMilli(2 * Hour)))
      cells(src.frame(back), g)
        .unionAll(cells(src.frame(sliced), g)
          .withColumn("t_idx", col("t_idx") + lit(100L)))
    }),
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin),
    Lane("r66_grib1_complex", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // GRIB1 SECOND-ORDER (complex) packing — the older-ECMWF
      // container shape: per-row groups behind a secondary bit-map,
      // per-group widths, first+second order streams. P2 is 16-bit,
      // so the fixture is the grid's TOP BAND of at most 655 rows
      // (65535 / 100 columns) — the full grid at correctness SF
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_g1so").toString
      val hCap = math.min(g.h, 65535 / g.w)
      val band = fullReq(g).copy(
        bbox = Bbox(0, g.h - hCap, g.w, g.h), height = hCap)
      val p = GribSink(a, s"$out/stack.grib", degPerCell = gribDpc(g),
        edition = 1, template = 2).write(band)
      val src = RasterFileSource(p)
      val back = RasterRequest(src.extent.get, "EPSG:4326", g.w, hCap,
        Some(java.time.Instant.ofEpochMilli(0)),
        Some(java.time.Instant.ofEpochMilli(Hour * (g.frames - 1))))
      cells(src.frame(back), g)
    }),
      // top band of min(h, 655) rows (the GRIB1 16-bit P2 cap at 100 cols)
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells
      |WHERE cell_id < (SELECT LEAST((((COUNT(*) + 3) // 4 + 99) // 100),
      |                              655) * 100 FROM events)""".stripMargin),
    Lane("r62_grib_png", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the whole stack through GRIB2 PNG packing (templates
      // 5.41/7.41 — NCEP MRMS's container): section 7 is a PNG
      // stream whose samples are the packed X values; exact over
      // integer-quantized values, bitmap rows for nodata
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_grib41").toString
      val p = GribSink(a, s"$out/stack.grib2", degPerCell = gribDpc(g),
        template = 41).write(fullReq(g))
      val src = RasterFileSource(p)
      val back = RasterRequest(src.extent.get, "EPSG:4326", g.w, g.h,
        Some(java.time.Instant.ofEpochMilli(0)),
        Some(java.time.Instant.ofEpochMilli(Hour * (g.frames - 1))))
      cells(src.frame(back), g)
    }),
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r59_dsv2_read", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the DataSource V2 connector (spark.read.format("graft-raster"))
      // over a complex-packed GRIB stack: metadata planned on the
      // driver, every data byte decoded in EXECUTOR partition readers
      // (one per frame) — the multi-file 100 TB raster path; tile
      // schema matches the engine's frame shape so the same reshape
      // applies
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_dsv2").toString
      val p = GribSink(a, s"$out/stack.grib2", degPerCell = gribDpc(g),
        template = 2).write(fullReq(g))
      val df = s.read.format("graft-raster").load(p)
        .select(col("t"), col("ty"), col("tx"), col("values"))
      cells(df, g)
    }),
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r61_dsv2_nc", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the connector's NetCDF dataset kind: per-frame partitions
      // planned off the CF header (time variable + 1-D coordinates
      // only), frame payloads decoded in executors via positioned
      // record reads; the union's second leg reads through a pushed
      // t-range that prunes whole partitions at planning time
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_dsv2nc").toString
      NetCdfSink(a, s"$out/stack.nc").write(fullReq(g))
      val df0 = s.read.format("graft-raster").load(s"$out/stack.nc")
        .select(col("t"), col("ty"), col("tx"), col("values"))
      cells(df0, g)
        .unionAll(cells(df0.filter(col("t") >= Hour && col("t") <= 2 * Hour), g)
          .withColumn("t_idx", col("t_idx") + lit(100L)))
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin),
    Lane("r64_dsv2_bbox", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // world-bbox AOI pushdown: the archive is two latitude BANDS of
      // the events grid written as separate NetCDF files; the `bbox`
      // read option resolves against each dataset's grid geometry at
      // planning time, pruning EVERY partition of the band that does
      // not intersect — the object-storage AOI case where a
      // continental query must not even open the other files
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_dsv2bb").toString
      val h1 = g.h / 2 // top band = global rows [0, h1)
      NetCdfSink(a, s"$out/top.nc").write(fullReq(g).copy(
        bbox = Bbox(0, g.h - h1, g.w, g.h), height = h1))
      NetCdfSink(a, s"$out/bot.nc").write(fullReq(g).copy(
        bbox = Bbox(0, 0, g.w, g.h - h1), height = g.h - h1))
      val df = s.read.format("graft-raster")
        .option("bbox", s"0,0,${g.w},${g.h - h1}") // bottom band only
        .load(out)
        .select(col("t"), col("ty"), col("tx"), col("values"))
      cells(df, g, rowOffset = h1)
    }),
      // grid height from the events table itself (h = ceil(ceil(n/4)/100),
      // top band = h//2 rows): only the bottom band's cells survive the bbox
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |WHERE cell_id >= (SELECT (((COUNT(*) + 3) // 4 + 99) // 100) // 2 * 100
      |                  FROM events)""".stripMargin),
    Lane("r68_dsv2_stream", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the STREAMING watcher drains a landed archive exactly once:
      // NetCDF stack -> readStream (AvailableNow) through the same
      // planner -> memory sink -> the standard cells compare
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_dsv2s").toString
      NetCdfSink(a, s"$out/stack.nc").write(fullReq(g))
      val name = s"r68_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q0 = s.readStream.format("graft-raster")
        .schema(graft.sources.GraftRasterTable.schema).load(out)
        .select(col("t"), col("ty"), col("tx"), col("values"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q0.awaitTermination()
      val drained = s.table(name).localCheckpoint()
      q0.stop()
      s.catalog.dropTempView(name)
      cells(drained, g)
    }),
      // streaming drain of the stack: all cells, exactly once
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r69_dsv2_pipeline", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the full streaming loop: NetCDF stack lands -> the watcher
      // source drains it (AvailableNow) -> the STREAMING Zarr write
      // shards each epoch's frames and extends the time axis at
      // commit -> the batch connector reads the result. Shard paths
      // derive from absolute t, so epoch replays are idempotent
      val a = eventsRaster(dir, g)
      val src = java.nio.file.Files.createTempDirectory("verify_pipe_src").toString
      val dst = java.nio.file.Files.createTempDirectory("verify_pipe_dst").toString + "/out.zarr"
      val ckpt = java.nio.file.Files.createTempDirectory("verify_pipe_ck").toString
      NetCdfSink(a, s"$src/stack.nc").write(fullReq(g))
      val q0 = s.readStream.format("graft-raster")
        .schema(graft.sources.GraftRasterTable.schema).load(src)
        .select(col("path"), col("t"), col("ty"), col("tx"), col("values"))
        .writeStream.outputMode("append").format("graft-raster")
        .option("width", g.w.toString).option("height", g.h.toString)
        .option("x0", "0").option("y0", "0").option("cell", "1")
        .option("projection", "EPSG:28992")
        .option("nodata", QueryLib.ND.toString)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q0.awaitTermination()
      q0.stop()
      cells(s.read.format("graft-raster").load(dst)
        .select(col("t"), col("ty"), col("tx"), col("values")), g)
    }),
      // watcher -> streaming Zarr write -> batch read: identical cells
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r67_dsv2_envfilter", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the SAME band archive selected by CATALYST predicates on the
      // connector's virtual tile-envelope columns: y1 <= band boundary
      // keeps exactly the bottom file's tiles (its topmost tile's
      // north edge IS the boundary, closed), the pushed box prunes at
      // planning with a one-cell pad, and the residual filter makes
      // the answer exact — no bespoke read option in sight
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_dsv2env").toString
      val h1 = g.h / 2
      NetCdfSink(a, s"$out/top.nc").write(fullReq(g).copy(
        bbox = Bbox(0, g.h - h1, g.w, g.h), height = h1))
      NetCdfSink(a, s"$out/bot.nc").write(fullReq(g).copy(
        bbox = Bbox(0, 0, g.w, g.h - h1), height = g.h - h1))
      val df = s.read.format("graft-raster").load(out)
        .filter(col("y1") <= (g.h - h1).toDouble)
        .select(col("t"), col("ty"), col("tx"), col("values"))
      cells(df, g, rowOffset = h1)
    }),
      // identical selection via the virtual-envelope Catalyst predicates
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |WHERE cell_id >= (SELECT (((COUNT(*) + 3) // 4 + 99) // 100) // 2 * 100
      |                  FROM events)""".stripMargin),
    Lane("r65_dsv2_write", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // the connector's WRITE path closes the archive round-trip:
      // events grid -> NetCDF -> DSv2 read (tile frames) ->
      // df.write.format("graft-raster") -> ONE Zarr v3 shard object
      // per frame written BY EXECUTOR TASKS (clustered+sorted by t,
      // driver commits only the metadata JSON) -> DSv2 read again
      val a = eventsRaster(dir, g)
      val out = java.nio.file.Files.createTempDirectory("verify_dsv2w").toString
      NetCdfSink(a, s"$out/stack.nc").write(fullReq(g))
      s.read.format("graft-raster").load(s"$out/stack.nc")
        .write.format("graft-raster").mode("append")
        .option("width", g.w.toString).option("height", g.h.toString)
        .option("x0", "0").option("y0", "0").option("cell", "1")
        .option("projection", "EPSG:28992")
        .option("nodata", QueryLib.ND.toString)
        .save(s"$out/out.zarr")
      cells(s.read.format("graft-raster").load(s"$out/out.zarr")
        .select(col("t"), col("ty"), col("tx"), col("values")), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin),
    Lane("r56_grib_slice", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // temporal slice: the field-pruned path decodes only frames 1-2's
      // bitmap+data byte ranges (valid times from section 1 + forecast)
      val a = eventsRaster(dir, g, "cast(floor(value) as double)")
      val out = java.nio.file.Files.createTempDirectory("verify_gribs").toString
      val p = GribSink(a, s"$out/stack.grib2", degPerCell = gribDpc(g))
        .write(fullReq(g))
      val src = RasterFileSource(p)
      val back = RasterRequest(src.extent.get, "EPSG:4326", g.w, g.h,
        Some(java.time.Instant.ofEpochMilli(Hour)),
        Some(java.time.Instant.ofEpochMilli(2 * Hour)))
      cells(src.frame(back), g)
    }),
      s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin),
    Lane("r54_vrt_mosaic", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // frame 0 split into two GeoTIFF half-tiles re-assembled through
      // a hand-written GDAL-style .vrt (SimpleSource + DstRect offsets)
      // — the foreign-XML interop loop the JSON manifest stand-in
      // could not close
      val a = eventsRaster(dir, g)
      val res = a.getData(fullReq(g, 1)).get
      val vals = res.values(0)
      val out = java.nio.file.Files.createTempDirectory("verify_vrt").toString
      val w = g.w; val h = g.h; val half = w / 2
      val left = Array.tabulate(half * h)(i =>
        vals((i / half) * w + i % half))
      val right = Array.tabulate((w - half) * h)(i =>
        vals((i / (w - half)) * w + half + i % (w - half)))
      GeoTiff.write(s"$out/left.tif", left, half, h,
        Bbox(0, 0, half, h), 28992, res.noDataValue, "float64")
      GeoTiff.write(s"$out/right.tif", right, w - half, h,
        Bbox(half, 0, w, h), 28992, res.noDataValue, "float64")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/mosaic.vrt"),
        s"""<VRTDataset rasterXSize="$w" rasterYSize="$h">
           |  <SRS>EPSG:28992</SRS>
           |  <GeoTransform>0, 1, 0, $h, 0, -1</GeoTransform>
           |  <VRTRasterBand dataType="Float64" band="1">
           |    <NoDataValue>${res.noDataValue}</NoDataValue>
           |    <SimpleSource>
           |      <SourceFilename relativeToVRT="1">left.tif</SourceFilename>
           |      <SourceBand>1</SourceBand>
           |      <SrcRect xOff="0" yOff="0" xSize="$half" ySize="$h"/>
           |      <DstRect xOff="0" yOff="0" xSize="$half" ySize="$h"/>
           |    </SimpleSource>
           |    <SimpleSource>
           |      <SourceFilename relativeToVRT="1">right.tif</SourceFilename>
           |      <SourceBand>1</SourceBand>
           |      <SrcRect xOff="0" yOff="0" xSize="${w - half}" ySize="$h"/>
           |      <DstRect xOff="$half" yOff="0" xSize="${w - half}" ySize="$h"/>
           |    </SimpleSource>
           |  </VRTRasterBand>
           |</VRTDataset>""".stripMargin)
      cells(RasterFileSource(s"$out/mosaic.vrt").frame(fullReq(g, 1)), g)
    }),
      s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx = 0""".stripMargin),
    Lane("r40_png_worldfile", q((s, dir, g) => {
      implicit val sp: SparkSession = s
      // a uint8 derivation of the events grid through the PNG + world
      // file codec: floor(value) mod 200 with errors at the uint8
      // sentinel 255 — lossless 8-bit gray round-trip
      val a = eventsRaster(dir, g, "cast(floor(value) as bigint) % 200",
        dtype = "uint8")
      val out = java.nio.file.Files.createTempDirectory("verify_png").toString
      PngSink(a, out).write(fullReq(g, 1))
      cells(PngSource(out, 0L, Hour, noDataArg = 255.0)
        .frame(fullReq(g, 1)), g)
    }),
      s"""${cellsSql(
        "CAST(floor(value) AS BIGINT) % 200", "event_type = 'error'")}
      |SELECT t_idx, cell_id,
      |  CASE WHEN v = $NDSQL THEN 255.0 ELSE v END AS v
      |FROM cells WHERE t_idx = 0""".stripMargin),
    // self-check oracles: the two operators DuckDB cannot reproduce get a
    // hard signal from engine-internal equivalences instead
    Lane("r34_place_modes", q((s, dir, g) => {
      // warp and group are physical strategies for the same semantics —
      // forced via modeHint, their results must agree cell-exactly
      val a = eventsRaster(dir, g)
      def place(hint: String) = Place(a, "EPSG:28992", (50.0, g.h / 2.0),
        Seq((25.0, g.h / 2.0), (75.0, g.h / 2.0)), "max", Some(hint))
      QueryLib.cellsJoined(g,
          (place("warp").frame(fullReq(g))(s), "vw"),
          (place("group").frame(fullReq(g))(s), "vg"))
        .agg(sum(when(col("vw") =!= col("vg"), 1).otherwise(0))
          .cast("long").as("n_diff"), count(lit(1)).as("n_cells"))
    }),
      s"""SELECT CAST(0 AS BIGINT) AS n_diff,
         | CAST((SELECT count(*) // 4 FROM events) * 4 AS BIGINT) AS n_cells""".stripMargin),
    Lane("r35_smooth_linear", q((s, dir, g) => {
      // smoothing is linear; scaling by 2 is exact in binary floating
      // point, so Smooth(2a) must equal 2*Smooth(a) bit-for-bit in BOTH
      // the exact stencil (sigma 2) and the zoom path (sigma 12)
      val a = eventsRaster(dir, g)
      def diff(sigma: Double): DataFrame = {
        val nd = lit(QueryLib.ND)
        QueryLib.cellsJoined(g,
            (Smooth(Multiply(a, 2.0), sigma).frame(fullReq(g))(s), "va"),
            (Smooth(a, sigma).frame(fullReq(g))(s), "vb"))
          .select(when(col("va") === col("vb") * 2 ||
            (col("va") === nd && col("vb") === nd), 0).otherwise(1).as("d"))
      }
      diff(2.0).unionAll(diff(12.0))
        .agg(sum(col("d")).cast("long").as("n_diff"),
          count(lit(1)).as("n_cells"))
    }),
      s"""SELECT CAST(0 AS BIGINT) AS n_diff,
         | CAST((SELECT count(*) // 4 FROM events) * 8 AS BIGINT) AS n_cells""".stripMargin),
    Lane("r36_utm_warp", q((s, dir, g) => {
      // the events grid served through a UTM zone-31 window: each request
      // cell center routes through the full cross-CRS chain (inverse
      // Krüger series to WGS84, then the RD polynomials). The oracle
      // recomputes that chain independently in SQL from the published
      // formulas — a hard cross-CRS warp oracle. Window = fixed UTM
      // literals whose inverse image lies inside the RD grid.
      val tile = TileLayout.TILE
      val (wq, hq) = (80, 20)
      val req = RasterRequest(Bbox(523410.0, 5313547.0, 523490.0, 5313567.0),
        "EPSG:32631", wq, hq,
        Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(0)))
      eventsRaster(dir, g).frame(req)(s)
        .select(col("ty"), col("tx"), posexplode(col("values")).as(Seq("pos", "v")))
        .withColumn("tw", least(lit(tile), lit(wq) - col("tx") * tile))
        .select(
          (col("ty") * tile + (col("pos") / col("tw")).cast("int")).cast("long").as("i"),
          (col("tx") * tile + col("pos") % col("tw")).cast("long").as("j"),
          round(col("v"), 6).as("v"))
    }),
      // the full cross-CRS chain recomputed from published formulas: the
      // UTM inverse is the 6th-order Krüger series with the β/δ coefficients
      // DERIVED IN SQL from n = f/(2−f) (Karney 2011 eq. 21-26), then the
      // Schreutelkamp & Strang van Hees WGS84→RD polynomials — fully
      // independent of the engine's Scala implementation
      s"""${cellsSql()},
      |par AS (SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h FROM events),
      |kn AS (SELECT 1.0/298.257223563 AS f),
      |ka AS (SELECT f/(2-f) AS n, sqrt(f*(2-f)) AS e FROM kn),
      |kb AS (SELECT n, e,
      |  6378137.0/(1+n)*(1 + n*n/4 + pow(n,4)/64 + pow(n,6)/256) AS A,
      |  n/2 - 2*pow(n,2)/3 + 37*pow(n,3)/96 - pow(n,4)/360 - 81*pow(n,5)/512 + 96199*pow(n,6)/604800 AS b1,
      |  pow(n,2)/48 + pow(n,3)/15 - 437*pow(n,4)/1440 + 46*pow(n,5)/105 - 1118711*pow(n,6)/3870720 AS b2,
      |  17*pow(n,3)/480 - 37*pow(n,4)/840 - 209*pow(n,5)/4480 + 5569*pow(n,6)/90720 AS b3,
      |  4397*pow(n,4)/161280 - 11*pow(n,5)/504 - 830251*pow(n,6)/7257600 AS b4,
      |  4583*pow(n,5)/161280 - 108847*pow(n,6)/3991680 AS b5,
      |  20648693*pow(n,6)/638668800 AS b6,
      |  2*n - 2*pow(n,2)/3 - 2*pow(n,3) + 116*pow(n,4)/45 + 26*pow(n,5)/45 - 2854*pow(n,6)/675 AS d1,
      |  7*pow(n,2)/3 - 8*pow(n,3)/5 - 227*pow(n,4)/45 + 2704*pow(n,5)/315 + 2323*pow(n,6)/945 AS d2,
      |  56*pow(n,3)/15 - 136*pow(n,4)/35 - 1262*pow(n,5)/105 + 73814*pow(n,6)/2835 AS d3,
      |  4279*pow(n,4)/630 - 332*pow(n,5)/35 - 399572*pow(n,6)/14175 AS d4,
      |  4174*pow(n,5)/315 - 144838*pow(n,6)/6237 AS d5,
      |  601676*pow(n,6)/22275 AS d6
      | FROM ka),
      |grid AS (SELECT CAST(ii.i AS BIGINT) AS i, CAST(jj.j AS BIGINT) AS j
      |  FROM range(0, 20) ii(i), range(0, 80) jj(j)),
      |ctr AS (SELECT i, j, 523410.0 + (j + 0.5) AS ue, 5313567.0 - (i + 0.5) AS un FROM grid),
      |s1 AS (SELECT i, j, b1, b2, b3, b4, b5, b6, d1, d2, d3, d4, d5, d6,
      |  un/(0.9996*A) AS xi, (ue - 500000)/(0.9996*A) AS eta FROM ctr, kb),
      |s2 AS (SELECT i, j, d1, d2, d3, d4, d5, d6,
      |  xi - (b1*sin(2*xi)*(exp(2*eta)+exp(-2*eta))/2 + b2*sin(4*xi)*(exp(4*eta)+exp(-4*eta))/2
      |      + b3*sin(6*xi)*(exp(6*eta)+exp(-6*eta))/2 + b4*sin(8*xi)*(exp(8*eta)+exp(-8*eta))/2
      |      + b5*sin(10*xi)*(exp(10*eta)+exp(-10*eta))/2 + b6*sin(12*xi)*(exp(12*eta)+exp(-12*eta))/2) AS xi2,
      |  eta - (b1*cos(2*xi)*(exp(2*eta)-exp(-2*eta))/2 + b2*cos(4*xi)*(exp(4*eta)-exp(-4*eta))/2
      |      + b3*cos(6*xi)*(exp(6*eta)-exp(-6*eta))/2 + b4*cos(8*xi)*(exp(8*eta)-exp(-8*eta))/2
      |      + b5*cos(10*xi)*(exp(10*eta)-exp(-10*eta))/2 + b6*cos(12*xi)*(exp(12*eta)-exp(-12*eta))/2) AS eta2
      |  FROM s1),
      |s3 AS (SELECT i, j, d1, d2, d3, d4, d5, d6,
      |  asin(sin(xi2)/((exp(eta2)+exp(-eta2))/2)) AS chi,
      |  atan2((exp(eta2)-exp(-eta2))/2, cos(xi2)) AS lam FROM s2),
      |s4 AS (SELECT i, j,
      |  degrees(chi + d1*sin(2*chi) + d2*sin(4*chi) + d3*sin(6*chi)
      |        + d4*sin(8*chi) + d5*sin(10*chi) + d6*sin(12*chi)) AS lat,
      |  3.0 + degrees(lam) AS lon FROM s3),
      |s5 AS (SELECT i, j, 0.36*(lat - 52.15517440) AS P, 0.36*(lon - 5.38720621) AS L FROM s4),
      |rd AS (SELECT i, j,
      |  155000 + 190094.945*L - 11832.228*P*L - 114.221*pow(P,2)*L - 32.391*pow(L,3)
      |    - 0.705*P - 2.340*pow(P,3)*L - 0.608*P*pow(L,3) - 0.008*pow(L,2)
      |    + 0.148*pow(P,2)*pow(L,3) AS x,
      |  463000 + 309056.544*P + 3638.893*pow(L,2) + 73.077*pow(P,2) - 157.984*P*pow(L,2)
      |    + 59.788*pow(P,3) + 0.433*L - 6.439*pow(P,2)*pow(L,2) - 0.032*P*L
      |    + 0.092*pow(L,4) - 0.054*P*pow(L,4) AS y
      |  FROM s5),
      |idx AS (SELECT i, j, CAST(floor(x) AS BIGINT) AS sj, CAST(floor(y) AS BIGINT) AS wy FROM rd)
      |SELECT t.i, t.j,
      |  round(CASE WHEN t.sj < 0 OR t.sj >= 100 OR t.wy < 0 OR t.wy >= (SELECT h FROM par)
      |    THEN $NDSQL ELSE COALESCE(c.v, $NDSQL) END, 6) AS v
      |FROM idx t LEFT JOIN cells c
      |  ON c.t_idx = 0 AND c.cell_id = ((SELECT h FROM par) - 1 - t.wy) * 100 + t.sj""".stripMargin)
  )
}
