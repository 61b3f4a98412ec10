package graft

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.raster._
import graft.geometry._
import graft.pipeline._

/** The driver-contract query inventory: one entry per implemented operator
  * from SURVEY §2 (+ the training-data pipeline operators), each expressed
  * through the graft library over the driver's parquet tables, with an
  * equivalent ANSI-SQL oracle for DuckDB.
  *
  * Conventions for hash-parity with the oracle:
  *  - every float output is rounded identically on both sides;
  *  - column names are aliased identically;
  *  - raster queries reshape the dense `event_id` of the events table into a
  *    4-frame grid (t = id%4, cell = id/4, 100 cells per row, 'error' rows
  *    are nodata) and compare per-cell rows, excluding the incomplete tail
  *    cell group.
  */
object QueryLib {

  val ND: Double = Double.MaxValue // float64 sentinel (dtype max)
  private val Hour = 3600000L

  /** Normalize an events-style `ts` column to TimestampType regardless of
    * the generator's parquet encoding: nanosecond timestamps read as raw
    * longs (spark.sql.legacy.parquet.nanosAsLong), micros without the UTC
    * flag read as TIMESTAMP_NTZ, or a plain TIMESTAMP. Under a UTC session
    * timezone the NTZ cast is wall-clock-exact, matching DuckDB's naive
    * reading of the same file. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      // integer division: double division of ~1.7e18 ns exceeds the 53-bit
      // mantissa and rounds the microsecond up on some rows
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    // input-size-derived shuffle parallelism (memoized per dir): a
    // session tuned for one data decade survives the next without
    // hand-set configs — see graft.Tuning
    Tuning.autoConfigure(s, dir)
    normalizeTs(Tables.read(s, s"$dir/$name.parquet"))
  }

  // ---------------------------------------------------------------- raster
  case class EventsGrid(n: Long, frames: Int, w: Int, h: Int) {
    def completeCells: Long = n / frames
  }

  // per-dir memos, each valid until the table it reads changes (32 dirs)
  private val grids = new SessionMemo[String, EventsGrid](Tables.MaxEntries)

  /** Grid constants derived from the events row count — memoized per dir so
    * a session of raster queries scans the table once, not once per query. */
  def eventsGrid(s: SparkSession, dir: String): EventsGrid =
    grids(s, dir, Seq(s"$dir/events.parquet")) {
      val n = tbl(s, dir, "events").count()
      val frames = 4
      val cells = (n + frames - 1) / frames
      // historical shape: 100 wide, one cell per event. Past ~4M cells
      // per frame that pins the grid 40000+ rows tall, which no
      // geographic GRIB graticule can express (rows × an even
      // millidegree pitch must stay on the globe — the sf30 soak hit
      // the codec's own guard), so the grid WIDENS instead: row-major
      // cell ids are shape-independent (cell_id = y*w + x = event
      // index), so every lane and oracle is invariant to w.
      val w0 = 100
      val h0 = (cells + w0 - 1) / w0
      val w = if (h0 <= 40000) w0
        else (((cells + 39999) / 40000 + 99) / 100 * 100).toInt
      EventsGrid(n, frames, w, ((cells + w - 1) / w).toInt)
    }

  private val pairs = new SessionMemo[String, DataFrame](Tables.MaxEntries,
    retain = _.localCheckpoint())

  /** The shared p06/p16 n-gram Jaccard pair frame (doc_id < 40, n=3),
    * memoized per dir and localCheckpointed so a bench/verify session
    * computes the shingle self-join once — p16's cluster pass then reads
    * the materialized pairs instead of re-running the join. */
  def jaccardPairFrame(s: SparkSession, dir: String): DataFrame =
    pairs(s, dir, Seq(s"$dir/documents.parquet")) {
      Dedup.jaccardPairs(
        tbl(s, dir, "documents").filter(col("doc_id") < 40), "doc_id", "text", 3)
    }

  def eventsRaster(dir: String, g: EventsGrid, valueExpr: String = "value",
      ndFilter: String = "event_type = 'error'", dtype: String = "float64"): TableRasterSource =
    TableRasterSource(s"$dir/events.parquet", "event_id", valueExpr,
      g.frames, g.w, g.h, ndFilter, 0L, Hour, dtype)

  def fullReq(g: EventsGrid, nFrames: Int = 0): RasterRequest = {
    val fr = if (nFrames > 0) nFrames else g.frames
    RasterRequest(Bbox(0, 0, g.w, g.h), "EPSG:28992", g.w, g.h,
      Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(Hour * (fr - 1))))
  }

  /** Explode a tile frame to (t_idx, cell_id, v) rows, keeping only
    * complete cell groups. `rowOffset` shifts local tile rows to GLOBAL
    * grid rows when the frame covers a horizontal band of the grid (the
    * banded-archive queries). */
  def cells(frame: DataFrame, g: EventsGrid, rowOffset: Int = 0): DataFrame = {
    val tile = TileLayout.TILE
    frame
      .select((col("t") / Hour).cast("long").as("t_idx"), col("ty"), col("tx"),
        posexplode(col("values")).as(Seq("pos", "v")))
      .withColumn("tw", least(lit(tile), lit(g.w) - col("tx") * tile))
      .withColumn("x", col("tx") * tile + col("pos") % col("tw"))
      .withColumn("y", col("ty") * tile + (col("pos") / col("tw")).cast("int")
        + lit(rowOffset))
      .withColumn("cell_id", (col("y").cast("long") * g.w + col("x")))
      .filter(col("cell_id") < g.completeCells)
      .select(col("t_idx"), col("cell_id"), col("v"))
  }

  /** Join several ALIGNED tile frames (same grid, same full-period
    * request → identical tile key sets and per-tile array layout) on the
    * tile key and explode ONCE to (t_idx, cell_id, <one column per
    * frame>). Result-identical to exploding each frame through [[cells]]
    * and equi-joining on (t_idx, cell_id) — same rows, same values — but
    * the join moves ~#tiles rows instead of ~#cells, and the posexplode
    * runs once instead of once per frame (the aligned arrays are read by
    * position). */
  def cellsJoined(g: EventsGrid, frames: (DataFrame, String)*): DataFrame = {
    require(frames.nonEmpty, "cellsJoined needs at least one frame")
    val tile = TileLayout.TILE
    val renamed = frames.zipWithIndex.map { case ((f, _), i) =>
      f.select(col("t"), col("ty"), col("tx"), col("values").as(s"__v$i"))
    }
    val joined = renamed.reduce(_.join(_, Seq("t", "ty", "tx")))
    val exploded = joined.select(
      (Seq(col("t"), col("ty"), col("tx")) ++
        frames.indices.tail.map(i => col(s"__v$i"))) :+
        posexplode(col("__v0")).as(Seq("pos", frames.head._2)): _*)
    val withCoords = exploded
      .withColumn("tw", least(lit(tile), lit(g.w) - col("tx") * tile))
      .withColumn("x", col("tx") * tile + col("pos") % col("tw"))
      .withColumn("y", col("ty") * tile + (col("pos") / col("tw")).cast("int"))
      .withColumn("cell_id", col("y").cast("long") * g.w + col("x"))
      .withColumn("t_idx", (col("t") / Hour).cast("long"))
      .filter(col("cell_id") < g.completeCells)
    frames.zipWithIndex.tail.foldLeft(withCoords) { case (df, ((_, n), i)) =>
      df.withColumn(n, element_at(col(s"__v$i"), col("pos") + 1))
    }.select(col("t_idx") +: col("cell_id") +: frames.map(f => col(f._2)): _*)
  }

  /** DuckDB CTE mirroring the events→cells reshape. `vexpr`/`ndexpr` are SQL
    * over the raw events row. */
  def cellsSql(vexpr: String = "value", ndcond: String = "event_type = 'error'"): String =
    s"""WITH cells AS (
       |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx,
       |         CAST(event_id // 4 AS BIGINT) AS cell_id,
       |         CASE WHEN $ndcond THEN 1.7976931348623157e308
       |              ELSE CAST(($vexpr) AS DOUBLE) END AS v
       |  FROM events
       |  WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))""".stripMargin

  val NDSQL = "1.7976931348623157e308"

  // ------------------------------------------------------------- geometry
  /** Feature squares synthesized from the customer table on the events
    * raster grid: side-2 squares at deterministic positions. */
  def customerSquares(dir: String, g: EventsGrid): TableGeometrySource = {
    val h = g.h
    TableGeometrySource(s"$dir/customer.parquet", "c_custkey",
      Seq("c_acctbal", "c_mktsegment",
        s"cast((c_custkey * 7) % ${g.w - 2} as int) as x0",
        s"cast((c_custkey * 13) % ${h - 2} as int) as y0"),
      geomWktExpr = Some(
        s"""concat('POLYGON ((', (c_custkey * 7) % ${g.w - 2}, ' ', (c_custkey * 13) % ${h - 2},
           |', ', (c_custkey * 7) % ${g.w - 2} + 2, ' ', (c_custkey * 13) % ${h - 2},
           |', ', (c_custkey * 7) % ${g.w - 2} + 2, ' ', (c_custkey * 13) % ${h - 2} + 2,
           |', ', (c_custkey * 7) % ${g.w - 2}, ' ', (c_custkey * 13) % ${h - 2} + 2,
           |', ', (c_custkey * 7) % ${g.w - 2}, ' ', (c_custkey * 13) % ${h - 2}, '))')"""
          .stripMargin.replaceAll("\n", "")))
  }

  /** SQL fragment: the same squares, as (fid, x0, y0) with 2×2 extent. */
  def customerSquaresSql(g: EventsGrid): String =
    s"""squares AS (
       |  SELECT c_custkey AS fid, c_acctbal,
       |         CAST((c_custkey * 7) % ${g.w - 2} AS BIGINT) AS x0,
       |         CAST((c_custkey * 13) % ${g.h - 2} AS BIGINT) AS y0
       |  FROM customer)""".stripMargin

  /** SQL fragment: world cell centers of frame-0 cells on the grid
    * (cx = x+0.5, cy = gridH - y - 0.5). */
  def cellCentersSql(g: EventsGrid): String =
    s"""centers AS (
       |  SELECT cell_id, t_idx, v,
       |         CAST(cell_id % ${g.w} AS BIGINT) AS x,
       |         CAST(cell_id // ${g.w} AS BIGINT) AS y
       |  FROM cells)""".stripMargin
}
