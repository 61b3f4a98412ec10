package graft

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.raster._
import graft.geometry._
import graft.pipeline._
import graft.streaming.EventStream
import QueryLib._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * One `queries` entry per implemented operator from SURVEY §2 (+ the
  * training-data pipeline operators); `oracleSql` gives the DuckDB
  * equivalent for the hash-match correctness gate. */
object SparkEntry {

  private val Hour = 3600000L

  /** Flagship query over the tables in `dir`: revenue per region per
    * month with a running total — joins, window agg, broadcast dims. */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val o = tbl(spark, dir, "orders")
    val c = tbl(spark, dir, "customer")
    val n = tbl(spark, dir, "nation")
    val r = tbl(spark, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .withColumn("running", round(sum(col("revenue"))
        .over(Window.partitionBy(col("r_name")).orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
  }

  // =======================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = relationalQueries ++
    temporalQueries ++ rasterQueries ++ zonalQueries ++ geometryQueries ++ pipelineQueries

  // ------------------------------------------------------- relational core
  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Money sums go through DECIMAL(18,2): float partial-aggregate order
    // differs between Spark and DuckDB, and a ulp can flip the 2-decimal
    // rounding. The decimal sum is exact (order-insensitive) on both sides.
    "q01_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("sum_price"),
          round(sum(col("l_discount").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    }),
    "q02_join_revenue" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
    }),
    "q03_broadcast_filter" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").filter(col("p_size") < 20)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"), count(lit(1)).as("n"))
    }),
    "q04_window_topn" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }),
    "q05_semi_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    }),
    "q06_anti_join" -> ((s, dir) => {
      val p = tbl(s, dir, "part"); val li = tbl(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_brand"))
    }),
    "q07_distinct_agg" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem"); val sup = tbl(s, dir, "supplier")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_sup"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),
    "q08_sort_limit" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),
    "q09_conditional_agg" -> ((s, dir) => {
      tbl(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          round(sum(when(col("o_orderstatus") === "O", col("o_totalprice"))
            .otherwise(0.0).cast("decimal(18,2)")), 2).cast("double").as("open_total"))
    }),
    "q10_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"))
    })
  )

  private def relationalOracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        | count(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q02_join_revenue" ->
      """SELECT n_name, CAST(round(sum(
        |  CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q03_broadcast_filter" ->
      """SELECT p_brand, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |  AS total, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size < 20 GROUP BY 1""".stripMargin,
    "q04_window_topn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        | SELECT o_custkey, o_orderkey, row_number() OVER
        |  (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        | FROM orders) WHERE rnk <= 3""".stripMargin,
    "q05_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY 1""".stripMargin,
    "q06_anti_join" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q07_distinct_agg" ->
      """SELECT s_nationkey, count(DISTINCT l_suppkey) AS n_sup,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1""".stripMargin,
    "q08_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""".stripMargin,
    "q09_conditional_agg" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(round(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END
        |  AS DECIMAL(18,2))), 2) AS DOUBLE) AS open_total
        |FROM orders GROUP BY 1""".stripMargin,
    "q10_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin
  )

  // ------------------------------------------------- temporal / streaming
  private def temporalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q11_stream_window" -> ((s, dir) => EventStream.batch(s, dir, "1 hour")),
    "q12_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("running", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("running"))
    }),
    "q14_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.batch(tbl(s, dir, "events"), 30)),
    "q15_asof_join" -> ((s, dir) => {
      val e = tbl(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      // right side unique per (key, time): keep the max orderkey per day
      val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val o1 = tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))
      AsOfJoin.backward(e, "user_id", "ts", o1, "o_custkey", "o_orderdate")
        .select(col("event_id"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),
    "q17_range_join" -> ((s, dir) => {
      // same-user neighbor count within ±12 h as a value-based RANGE
      // window: one shuffle on user_id, O(n log n) per user, zero pair
      // materialization. The former bucketed pair-join was quadratic on
      // a hot user (n events in one bucket → n² candidate rows on one
      // (user, bucket) key); the window frame slides over the sorted
      // timestamps instead, so a 10⁵-event user costs 10⁵ frame moves,
      // not 10¹⁰ pairs. count includes self → subtract 1.
      val W = 43200000000L // 12 h in micros
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-W, W)
      tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("n_near", count(lit(1)).over(w) - 1)
        .select(col("event_id"), col("n_near"))
    }),
    "q18_interval_join" -> ((s, dir) => {
      // TWO-TABLE point-in-interval join — the bucketed
      // interval-join-as-equi-join pattern q17's self-join rewrite
      // vacated, kept where it is genuinely the right plan (a RANGE
      // window cannot span two tables). Intervals are derived from
      // orders with deterministic integer-hour arithmetic shifted into
      // the events' 2024 window: start = 2024-01-01 + (orderkey % 720)h,
      // length = (1 + orderkey % 73)h, key = custkey % 150 (user range).
      val H = 3600000000L
      val base = 1704067200000000L // 2024-01-01T00:00:00Z micros
      val e = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
      val o = tbl(s, dir, "orders").select(
        (col("o_custkey") % 150).as("k"),
        (lit(base) + col("o_orderkey") % 720 * H).as("s_us"),
        (lit(base) + col("o_orderkey") % 720 * H +
          (lit(1L) + col("o_orderkey") % 73) * H).as("e_us"))
      IntervalJoin.countContaining(e, "event_id", "user_id", "us",
          o, "k", "s_us", "e_us", bucketUs = 24L * H)
        .select(col("event_id"), col("n_active"))
    }),
    "q13_asof_ffill" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("last_purchase",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .select(col("event_id"), round(coalesce(col("last_purchase"), lit(-1.0)), 4)
          .as("last_purchase"))
    })
  )

  private def temporalOracles: Map[String, String] = Map(
    "q11_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        | round(sum(value), 4) AS total FROM events GROUP BY 1, 2""".stripMargin,
    "q18_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |o AS (SELECT o_custkey % 150 AS k,
        |        1704067200000000 + (o_orderkey % 720) * 3600000000 AS s_us,
        |        1704067200000000 + (o_orderkey % 720) * 3600000000
        |          + (1 + o_orderkey % 73) * 3600000000 AS e_us
        |      FROM orders),
        |c AS (SELECT e.event_id, count(*) AS n_active
        |      FROM e JOIN o ON e.user_id = o.k
        |        AND e.us >= o.s_us AND e.us <= o.e_us
        |      GROUP BY 1)
        |SELECT e.event_id, CAST(coalesce(c.n_active, 0) AS BIGINT) AS n_active
        |FROM e LEFT JOIN c USING (event_id)""".stripMargin,
    "q17_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |c AS (SELECT a.event_id, count(*) AS n_near
        |      FROM e a JOIN e b ON a.user_id = b.user_id
        |        AND b.event_id <> a.event_id
        |        AND abs(b.us - a.us) <= 43200000000
        |      GROUP BY a.event_id)
        |SELECT e.event_id, CAST(coalesce(c.n_near, 0) AS BIGINT) AS n_near
        |FROM e LEFT JOIN c USING (event_id)""".stripMargin,
    "q12_running_sum" ->
      """SELECT event_id, user_id, round(sum(value) OVER
        | (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running FROM events""".stripMargin,
    "q15_asof_join" ->
      """WITH o1 AS (
        | SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |   ORDER BY o_orderkey DESC) AS rn
        | FROM orders QUALIFY rn = 1)
        |SELECT event_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM events ASOF LEFT JOIN o1
        | ON user_id = o_custkey AND ts >= o_orderdate""".stripMargin,
    "q14_sessionize" ->
      """WITH marked AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |   OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        | FROM marked)
        |SELECT user_id, sid, min(ts) AS session_start, count(*) AS n_events,
        | CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
        |FROM sess GROUP BY 1, 2""".stripMargin,
    "q13_asof_ffill" ->
      """SELECT event_id, round(coalesce(last_value(CASE WHEN event_type = 'purchase'
        | THEN value END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0), 4) AS last_purchase
        |FROM events""".stripMargin
  )

  // -------------------------------------------------------------- raster
  private def rasterQueries: Map[String, (SparkSession, String) => DataFrame] = {
    def q(f: (SparkSession, String, EventsGrid) => DataFrame)
        : (SparkSession, String) => DataFrame =
      (s, dir) => { val g = eventsGrid(s, dir); f(s, dir, g) }
    // GRIB graticules must fit the globe at every SF: the pitch scales
    // DOWN as the events grid grows (even millidegrees, the edition-1
    // writer requirement). Values and the per-cell oracle are pitch-
    // independent, so small-SF runs keep the historical 0.05.
    def gribDpc(g: EventsGrid): Double =
      math.max(2, math.min(50, 88000 / math.max(g.w, g.h)) / 2 * 2) / 1000.0
    Map(
      "r01_add" -> q((s, dir, g) =>
        cells(Add(eventsRaster(dir, g), 10.0).frame(fullReq(g))(s), g)),
      "r02_multiply_rasters" -> q((s, dir, g) =>
        cells(Multiply(eventsRaster(dir, g), eventsRaster(dir, g, "value * 0.5 + 1"))
          .frame(fullReq(g))(s), g)),
      "r03_divide" -> q((s, dir, g) =>
        cells(Divide(eventsRaster(dir, g), 7.0).frame(fullReq(g))(s), g)
          .select(col("t_idx"), col("cell_id"), round(col("v"), 6).as("v"))),
      "r04_power" -> q((s, dir, g) =>
        cells(Power(eventsRaster(dir, g), 2).frame(fullReq(g))(s), g)),
      "r05_greater" -> q((s, dir, g) =>
        cells(Greater(eventsRaster(dir, g), 100.0).frame(fullReq(g))(s), g)),
      "r06_logic" -> q((s, dir, g) => {
        val a = eventsRaster(dir, g)
        cells(And(Greater(a, 50.0), Less(a, 150.0)).frame(fullReq(g))(s), g)
      }),
      "r07_isdata" -> q((s, dir, g) =>
        cells(IsData(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r08_fillnodata" -> q((s, dir, g) => {
        val sparse = eventsRaster(dir, g, "value", "event_type <> 'purchase'")
        val dense = eventsRaster(dir, g, "value * 2", "event_type = 'error'")
        cells(FillNoData(Seq(sparse, dense)).frame(fullReq(g))(s), g)
      }),
      "r09_log" -> q((s, dir, g) =>
        cells(Log(eventsRaster(dir, g, "value + 1")).frame(fullReq(g))(s), g)
          .select(col("t_idx"), col("cell_id"), round(col("v"), 6).as("v"))),
      "r10_clip" -> q((s, dir, g) => {
        val a = eventsRaster(dir, g)
        cells(Clip(a, Greater(a, 50.0)).frame(fullReq(g))(s), g)
      }),
      "r11_mask" -> q((s, dir, g) =>
        cells(Mask(eventsRaster(dir, g), 5).frame(fullReq(g))(s), g)),
      "r12_maskbelow" -> q((s, dir, g) =>
        cells(MaskBelow(eventsRaster(dir, g), 100.0).frame(fullReq(g))(s), g)),
      "r13_step" -> q((s, dir, g) =>
        cells(Step(eventsRaster(dir, g), left = -1, right = 1, value = 100.0)
          .frame(fullReq(g))(s), g)),
      "r14_classify" -> q((s, dir, g) =>
        cells(Classify(eventsRaster(dir, g), Seq(50.0, 100.0, 150.0)).frame(fullReq(g))(s), g)),
      "r15_reclassify" -> q((s, dir, g) =>
        cells(Reclassify(eventsRaster(dir, g, "cast(floor(value) as long) % 10", dtype = "int64"),
          Seq((0.0, 100.0), (5.0, 500.0)), select = false).frame(fullReq(g))(s), g)),
      "r16_group_shift" -> q((s, dir, g) => {
        val a = eventsRaster(dir, g)
        val grouped = Group(Seq(a, Shift(a, 2 * Hour)))
        cells(grouped.frame(fullReq(g, g.frames + 2))(s), g)
      }),
      "r17_reduce_max" -> q((s, dir, g) =>
        cells(Max(Seq(eventsRaster(dir, g), eventsRaster(dir, g, "250.0 - value")))
          .frame(fullReq(g))(s), g)),
      "r18_reduce_median" -> q((s, dir, g) =>
        cells(Reduce(Seq(eventsRaster(dir, g), eventsRaster(dir, g, "value + 10"),
          eventsRaster(dir, g, "value * 2")), "median").frame(fullReq(g))(s), g)
          .select(col("t_idx"), col("cell_id"), round(col("v"), 6).as("v"))),
      "r19_temporal_sum" -> q((s, dir, g) =>
        cells(TemporalSum(eventsRaster(dir, g, "value", "false")).frame(fullReq(g))(s), g)
          .select(col("cell_id"), round(col("v"), 3).as("v"))),
      "r20_temporal_agg" -> q((s, dir, g) =>
        cells(TemporalAggregate(eventsRaster(dir, g), Some("D"), "count")
          .frame(fullReq(g))(s), g).select(col("cell_id"), col("v"))),
      "r21_cumulative" -> q((s, dir, g) =>
        cells(Cumulative(eventsRaster(dir, g), "sum").frame(fullReq(g))(s), g)
          .select(col("t_idx"), col("cell_id"), round(col("v"), 3).as("v"))),
      "r22_shift" -> q((s, dir, g) =>
        cells(Shift(eventsRaster(dir, g), Hour).frame(fullReq(g, g.frames + 1))(s), g)),
      "r23_resample" -> q((s, dir, g) => {
        val slow = TableRasterSource(s"$dir/events.parquet", "event_id", "value",
          g.frames, g.w, g.h, "event_type = 'error'", 0L, 2 * Hour)
        val rreq = RasterRequest(Bbox(0, 0, g.w, g.h), "EPSG:28992", g.w, g.h,
          Some(Instant.ofEpochMilli(0)),
          Some(Instant.ofEpochMilli(2 * Hour * (g.frames - 1))))
        cells(Resample(slow, "h", "nearest").frame(rreq)(s), g)
      }),
      "r24_snap" -> q((s, dir, g) => {
        val a = eventsRaster(dir, g)
        val index = Shift(a, Hour / 3)
        cells(Snap(a, index).frame(fullReq(g, g.frames + 1))(s), g)
          .select((col("t_idx") - 0).as("t_idx"), col("cell_id"), col("v"))
      }),
      "r00_memory_source" -> q((s, dir, g) => {
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
      "r32_sink_roundtrip" -> q((s, dir, g) => {
        implicit val sp: SparkSession = s
        val a = Multiply(eventsRaster(dir, g), 2.0)
        val out = java.nio.file.Files.createTempDirectory("verify_sink").toString
        RasterParquetSink(a, out).write(fullReq(g))
        cells(RasterParquetSource(out).frame(fullReq(g)), g)
      }),
      "r33_elemwise_suite" -> q((s, dir, g) => {
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
      "r25_dilate" -> q((s, dir, g) =>
        cells(Dilate(eventsRaster(dir, g, "cast(floor(value) as long) % 10", dtype = "int64"),
          Seq(5.0)).frame(fullReq(g))(s), g)),
      "r26_movingmax" -> q((s, dir, g) =>
        cells(MovingMax(eventsRaster(dir, g), 3).frame(fullReq(g))(s), g)),
      "r27_hillshade" -> q((s, dir, g) =>
        cells(HillShade(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r47_slope" -> q((s, dir, g) =>
        cells(Slope(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r48_aspect" -> q((s, dir, g) =>
        cells(Aspect(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r50_roughness" -> q((s, dir, g) =>
        // max−min window: pure order-independent arithmetic, no
        // quantization needed for engine parity
        cells(Roughness(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r51_tpi" -> q((s, dir, g) =>
        cells(Tpi(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r52_tri" -> q((s, dir, g) =>
        cells(Tri(eventsRaster(dir, g)).frame(fullReq(g))(s), g)),
      "r28_rasterize" -> q((s, dir, g) => {
        val feats = customerSquares(dir, g)
        val burned = Rasterize(feats, columnName = Some("c_acctbal"), dtypeName = "float64")
        cells(burned.frame(fullReq(g, 1))(s), g)
          .select(col("cell_id"), round(col("v"), 2).as("v"))
      }),
      "r29_rasterize_wkt" -> q((s, dir, g) => {
        val r = RasterizeWKT("POLYGON ((10 10, 40 10, 40 30, 10 30, 10 10))", "EPSG:28992")
        cells(r.frame(fullReq(g, 1))(s), g).select(col("cell_id"), col("v"))
      }),
      "r30_smooth" -> q((s, dir, g) =>
        cells(Smooth(eventsRaster(dir, g), 2.0, fill = 0).frame(fullReq(g))(s), g)
          .select(col("t_idx"), col("cell_id"), round(col("v"), 4).as("v"))),
      "r31_place" -> q((s, dir, g) => {
        val stamped = Place(eventsRaster(dir, g), "EPSG:28992", (50.0, g.h / 2.0),
          Seq((25.0, g.h / 2.0), (75.0, g.h / 2.0)), "max")
        cells(stamped.frame(fullReq(g))(s), g)
          .select(col("t_idx"), col("cell_id"), round(col("v"), 4).as("v"))
      }),
      "r37_cog_overview" -> q((s, dir, g) => {
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
      "r38_ascii_roundtrip" -> q((s, dir, g) => {
        implicit val sp: SparkSession = s
        // all four frames through the ESRI ASCII grid codec: text
        // round-trip is value-exact (Double.toString shortest digits) and
        // the read-back must keep the numeric frame order
        val a = eventsRaster(dir, g)
        val out = java.nio.file.Files.createTempDirectory("verify_asc").toString
        AsciiGridSink(a, out).write(fullReq(g))
        cells(AsciiGridSource(out, 0L, Hour).frame(fullReq(g)), g)
      }),
      "r41_envi_roundtrip" -> q((s, dir, g) => {
        implicit val sp: SparkSession = s
        // the whole 4-frame stack through ONE ENVI .dat/.hdr pair
        // (bands = frames, bsq little-endian float64 — bit-exact binary)
        val a = eventsRaster(dir, g)
        val out = java.nio.file.Files.createTempDirectory("verify_envi").toString
        EnviSink(a, s"$out/stack.dat").write(fullReq(g))
        cells(EnviSource(s"$out/stack.dat", 0L, Hour).frame(fullReq(g)), g)
      }),
      "r42_netcdf_roundtrip" -> q((s, dir, g) => {
        implicit val sp: SparkSession = s
        // the whole 4-frame stack through ONE CF-convention NetCDF file
        // (CDF-2, time dimension = frames, spatial_ref WKT grid mapping);
        // the read-back time axis comes from the in-file CF time variable
        val a = eventsRaster(dir, g)
        val out = java.nio.file.Files.createTempDirectory("verify_nc").toString
        NetCdfSink(a, s"$out/stack.nc").write(fullReq(g))
        cells(NetCdfSource(s"$out/stack.nc").frame(fullReq(g)), g)
      }),
      "r43_netcdf_slice" -> q((s, dir, g) => {
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
      "r44_zarr_roundtrip" -> q((s, dir, g) => {
        implicit val sp: SparkSession = s
        // the whole 4-frame stack through ONE Zarr v2 group (time
        // dimension = frames, zlib chunks, spatial_ref grid mapping);
        // the read-back time axis comes from the CF time array
        val a = eventsRaster(dir, g)
        val out = java.nio.file.Files.createTempDirectory("verify_zarr").toString
        ZarrSink(a, s"$out/stack.zarr", chunkH = 7, chunkW = 5).write(fullReq(g))
        cells(ZarrSource(s"$out/stack.zarr").frame(fullReq(g)), g)
      }),
      "r55_zarr_v3" -> q((s, dir, g) => {
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
      "r58_zarr_sharded" -> q((s, dir, g) => {
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
      "r45_zarr_slice" -> q((s, dir, g) => {
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
      "r46_hdf5_roundtrip" -> q((s, dir, g) => {
        implicit val sp: SparkSession = s
        // the whole 4-frame stack through ONE NetCDF-4-shaped HDF5 file
        // (v0 superblock, chunked+deflate data variable, CF attrs); the
        // dispatcher routes the .nc by its HDF5 magic
        val a = eventsRaster(dir, g)
        val out = java.nio.file.Files.createTempDirectory("verify_h5").toString
        Hdf5Sink(a, s"$out/stack.nc", chunkRows = 7).write(fullReq(g))
        cells(RasterFileSource(s"$out/stack.nc").frame(fullReq(g)), g)
      }),
      "r63_hdf5_idx" -> q((s, dir, g) => {
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
      "r39_xyz_roundtrip" -> q((s, dir, g) => {
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
      "r49_gpkg_tiles" -> q((s, dir, g) => {
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
      "r53_grib_roundtrip" -> q((s, dir, g) => {
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
      "r57_grib_complex" -> q((s, dir, g) => {
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
      "r60_grib1_roundtrip" -> q((s, dir, g) => {
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
      "r66_grib1_complex" -> q((s, dir, g) => {
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
      "r62_grib_png" -> q((s, dir, g) => {
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
      "r59_dsv2_read" -> q((s, dir, g) => {
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
      "r61_dsv2_nc" -> q((s, dir, g) => {
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
      "r64_dsv2_bbox" -> q((s, dir, g) => {
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
      "r68_dsv2_stream" -> q((s, dir, g) => {
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
      "r69_dsv2_pipeline" -> q((s, dir, g) => {
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
      "r67_dsv2_envfilter" -> q((s, dir, g) => {
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
      "r65_dsv2_write" -> q((s, dir, g) => {
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
      "r56_grib_slice" -> q((s, dir, g) => {
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
      "r54_vrt_mosaic" -> q((s, dir, g) => {
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
      "r40_png_worldfile" -> q((s, dir, g) => {
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
      // self-check oracles: the two operators DuckDB cannot reproduce get a
      // hard signal from engine-internal equivalences instead
      "r34_place_modes" -> q((s, dir, g) => {
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
      "r35_smooth_linear" -> q((s, dir, g) => {
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
      "r36_utm_warp" -> q((s, dir, g) => {
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
      })
    )
  }

  private def rasterOracles: Map[String, String] = Map(
    "r01_add" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v + 10.0 END AS v FROM cells""".stripMargin,
    "r02_multiply_rasters" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v * (v * 0.5 + 1) END AS v
      |FROM cells""".stripMargin,
    "r03_divide" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE round(v / 7.0, 6) END AS v
      |FROM cells""".stripMargin,
    "r04_power" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v * v END AS v FROM cells""".stripMargin,
    "r05_greater" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0
      | WHEN v > 100.0 THEN 1.0 ELSE 0.0 END AS v FROM cells""".stripMargin,
    "r06_logic" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0
      | WHEN v > 50.0 AND v < 150.0 THEN 1.0 ELSE 0.0 END AS v FROM cells""".stripMargin,
    "r07_isdata" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0 ELSE 1.0 END AS v FROM cells""".stripMargin,
    "r08_fillnodata" -> s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type <> 'purchase' THEN $NDSQL ELSE value END AS va,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE value * 2 END AS vb
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE WHEN vb <> $NDSQL THEN vb
      | WHEN va <> $NDSQL THEN va ELSE $NDSQL END AS v FROM cells""".stripMargin,
    "r09_log" -> s"""${cellsSql("value + 1")}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE round(ln(v), 6) END AS v
      |FROM cells""".stripMargin,
    "r10_clip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL OR v <= 50.0 THEN $NDSQL ELSE v END AS v
      |FROM cells""".stripMargin,
    "r11_mask" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 0.0 ELSE 5.0 END AS v FROM cells""".stripMargin,
    "r12_maskbelow" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v < 100.0 THEN $NDSQL ELSE v END AS v FROM cells""".stripMargin,
    "r13_step" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v WHEN v < 100.0 THEN -1.0
      | WHEN v = 100.0 THEN 0.0 ELSE 1.0 END AS v FROM cells""".stripMargin,
    "r14_classify" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN 255.0
      | ELSE CAST((CASE WHEN v >= 50 THEN 1 ELSE 0 END) + (CASE WHEN v >= 100 THEN 1 ELSE 0 END)
      |  + (CASE WHEN v >= 150 THEN 1 ELSE 0 END) AS DOUBLE) END AS v FROM cells""".stripMargin,
    "r15_reclassify" -> s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE CAST(floor(value) AS BIGINT) % 10 END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE WHEN v IS NULL THEN CAST(9223372036854775807 AS DOUBLE)
      | WHEN v = 0 THEN 100.0 WHEN v = 5 THEN 500.0 ELSE CAST(v AS DOUBLE) END AS v
      |FROM cells""".stripMargin,
    "r16_group_shift" -> s"""${cellsSql()}
      |, frames AS (SELECT t_idx AS t, cell_id, v FROM cells)
      |, grid AS (SELECT t, cell_id FROM (SELECT DISTINCT cell_id FROM frames),
      |   (SELECT unnest(range(6)) AS t))
      |SELECT g.t AS t_idx, g.cell_id,
      | CASE WHEN s.v IS NOT NULL AND s.v <> $NDSQL THEN s.v
      |      WHEN b.v IS NOT NULL AND b.v <> $NDSQL THEN b.v
      |      ELSE $NDSQL END AS v
      |FROM grid g
      |LEFT JOIN frames b ON b.cell_id = g.cell_id AND b.t = g.t
      |LEFT JOIN frames s ON s.cell_id = g.cell_id AND s.t = g.t - 2""".stripMargin,
    "r17_reduce_max" -> s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE value END AS va,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE 250.0 - value END AS vb
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE
      | WHEN va = $NDSQL AND vb = $NDSQL THEN $NDSQL
      | WHEN va = $NDSQL THEN vb WHEN vb = $NDSQL THEN va
      | WHEN va > vb THEN va ELSE vb END AS v FROM cells""".stripMargin,
    "r18_reduce_median" -> s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS a,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value + 10 END AS b,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value * 2 END AS c
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT t_idx, cell_id, CASE WHEN a IS NULL THEN $NDSQL
      | ELSE round(a + b + c - greatest(a, b, c) - least(a, b, c), 6) END AS v FROM cells""".stripMargin,
    "r19_temporal_sum" -> s"""WITH cells AS (
      |  SELECT CAST(event_id // 4 AS BIGINT) AS cell_id, value AS v, event_id % 4 AS t
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT cell_id, round(sum(v ORDER BY t), 3) AS v FROM cells GROUP BY 1""".stripMargin,
    "r20_temporal_agg" -> s"""${cellsSql()}
      |SELECT cell_id, CAST(count(CASE WHEN v <> $NDSQL THEN 1 END) AS DOUBLE) AS v
      |FROM cells GROUP BY 1""".stripMargin,
    "r21_cumulative" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, round(sum(CASE WHEN v = $NDSQL THEN 0 ELSE v END)
      | OVER (PARTITION BY cell_id ORDER BY t_idx
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS v FROM cells""".stripMargin,
    "r22_shift" -> s"""${cellsSql()}
      |SELECT t_idx + 1 AS t_idx, cell_id, v FROM cells""".stripMargin,
    "r23_resample" -> s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS src_t, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN $NDSQL ELSE value END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events))
      |SELECT h.t AS t_idx, c.cell_id, c.v
      |FROM (SELECT unnest(range(7)) AS t) h
      |JOIN cells c ON c.src_t = h.t // 2""".stripMargin,
    "r24_snap" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r00_memory_source" ->
      // 2×2 source at 1 m cells resampled to a 4×4 half-meter grid: each
      // source cell covers a 2×2 output block; source nodata 255 → F8 max
      s"""WITH src(t_idx, y, x, v) AS (VALUES
        | (0, 0, 0, 1.0), (0, 0, 1, 2.0), (0, 1, 0, 3.0), (0, 1, 1, $NDSQL),
        | (1, 0, 0, 5.0), (1, 0, 1, 6.0), (1, 1, 0, 7.0), (1, 1, 1, 8.0)),
        |grid AS (SELECT t, p FROM (SELECT unnest(range(2)) AS t),
        |  (SELECT unnest(range(16)) AS p))
        |SELECT CAST(g.t AS BIGINT) AS t_idx, CAST(g.p AS INT) AS pos, s.v
        |FROM grid g JOIN src s ON s.t_idx = g.t
        |  AND s.x = (g.p % 4) // 2 AND s.y = (g.p // 4) // 2""".stripMargin,
    "r32_sink_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, CASE WHEN v = $NDSQL THEN v ELSE v * 2.0 END AS v
      |FROM cells""".stripMargin,
    // COG half-resolution serving re-derived: coarse pixel (ry, rx) is the
    // full-resolution frame-0 sample at cell (2·ry)·100 + 2·rx (nearest
    // top-left decimation, level-1 grid == request grid); cells beyond the
    // complete-cell count are the nodata sentinel
    "r37_cog_overview" -> s"""${cellsSql()},
      |dims AS (SELECT ((COUNT(*) // 4 + 99) // 100) // 2 AS ch FROM events),
      |coarse AS (
      |  SELECT ry * 50 + rx AS coarse_id, (2 * ry) * 100 + 2 * rx AS src_id
      |  FROM (SELECT unnest(range(50)) AS rx),
      |       (SELECT unnest(range((SELECT ch FROM dims))) AS ry))
      |SELECT CAST(coarse_id AS BIGINT) AS coarse_id,
      |  COALESCE(c.v, $NDSQL) AS v
      |FROM coarse LEFT JOIN cells c ON c.cell_id = coarse.src_id AND c.t_idx = 0""".stripMargin,
    "r38_ascii_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r39_xyz_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx = 0""".stripMargin,
    "r41_envi_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r42_netcdf_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r53_grib_roundtrip" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r56_grib_slice" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin,
    "r57_grib_complex" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r59_dsv2_read" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r62_grib_png" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r60_grib1_roundtrip" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin,
    // top band of min(h, 655) rows (the GRIB1 16-bit P2 cap at 100 cols)
    "r66_grib1_complex" -> s"""${cellsSql("FLOOR(value)")}
      |SELECT t_idx, cell_id, v FROM cells
      |WHERE cell_id < (SELECT LEAST((((COUNT(*) + 3) // 4 + 99) // 100),
      |                              655) * 100 FROM events)""".stripMargin,
    "r61_dsv2_nc" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin,
    "r65_dsv2_write" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    // grid height from the events table itself (h = ceil(ceil(n/4)/100),
    // top band = h//2 rows): only the bottom band's cells survive the bbox
    "r64_dsv2_bbox" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |WHERE cell_id >= (SELECT (((COUNT(*) + 3) // 4 + 99) // 100) // 2 * 100
      |                  FROM events)""".stripMargin,
    // streaming drain of the stack: all cells, exactly once
    "r68_dsv2_stream" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    // watcher -> streaming Zarr write -> batch read: identical cells
    "r69_dsv2_pipeline" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    // identical selection via the virtual-envelope Catalyst predicates
    "r67_dsv2_envfilter" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |WHERE cell_id >= (SELECT (((COUNT(*) + 3) // 4 + 99) // 100) // 2 * 100
      |                  FROM events)""".stripMargin,
    "r54_vrt_mosaic" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx = 0""".stripMargin,
    "r43_netcdf_slice" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin,
    "r44_zarr_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r55_zarr_v3" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r58_zarr_sharded" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin,
    "r46_hdf5_roundtrip" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells""".stripMargin,
    "r63_hdf5_idx" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells
      |UNION ALL
      |SELECT t_idx + 100, cell_id, v FROM cells WHERE t_idx IN (1, 2)
      |UNION ALL
      |SELECT t_idx + 200, cell_id, v FROM cells""".stripMargin,
    "r45_zarr_slice" -> s"""${cellsSql()}
      |SELECT t_idx, cell_id, v FROM cells WHERE t_idx IN (1, 2)""".stripMargin,
    "r40_png_worldfile" -> s"""${cellsSql(
        "CAST(floor(value) AS BIGINT) % 200", "event_type = 'error'")}
      |SELECT t_idx, cell_id,
      |  CASE WHEN v = $NDSQL THEN 255.0 ELSE v END AS v
      |FROM cells WHERE t_idx = 0""".stripMargin,
    "r49_gpkg_tiles" -> s"""${cellsSql(
        "CAST(floor(value) AS BIGINT) % 30000", "event_type = 'error'")}
      |SELECT t_idx, cell_id,
      |  CASE WHEN v = $NDSQL THEN 65535.0 ELSE v END AS v
      |FROM cells WHERE t_idx = 0""".stripMargin,
    "r33_elemwise_suite" -> s"""WITH cells AS (
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
      |FROM cells""".stripMargin,
    "r25_dilate" -> s"""WITH cells AS (
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
      |GROUP BY a.t_idx, a.cell_id, a.v""".stripMargin,
    "r26_movingmax" -> s"""WITH cells AS (
      |  SELECT CAST(event_id % 4 AS BIGINT) AS t_idx, CAST(event_id // 4 AS BIGINT) AS cell_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events WHERE event_id // 4 < (SELECT COUNT(*) // 4 FROM events)),
      |xy AS (SELECT t_idx, cell_id, v, CAST(cell_id % 100 AS BIGINT) AS x,
      |  CAST(cell_id // 100 AS BIGINT) AS y FROM cells)
      |SELECT a.t_idx, a.cell_id, coalesce(max(b.v), $NDSQL) AS v
      |FROM xy a LEFT JOIN xy b ON b.t_idx = a.t_idx
      |  AND b.x BETWEEN a.x - 1 AND a.x + 1 AND b.y BETWEEN a.y - 1 AND a.y + 1
      |  AND b.v IS NOT NULL
      |GROUP BY a.t_idx, a.cell_id""".stripMargin,
    "r27_hillshade" -> s"""WITH params AS (
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
      |FROM grad""".stripMargin,
    "r50_roughness" -> s"""WITH params AS (
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
      |FROM nb GROUP BY t_idx, cell_id""".stripMargin,
    "r51_tpi" -> s"""WITH params AS (
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
      |FROM nb GROUP BY t_idx, cell_id""".stripMargin,
    "r52_tri" -> s"""WITH params AS (
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
      |FROM nb GROUP BY t_idx, cell_id""".stripMargin,
    "r47_slope" -> s"""WITH params AS (
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
      |FROM grad""".stripMargin,
    "r48_aspect" -> s"""WITH params AS (
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
      |FROM grad""".stripMargin,
    "r28_rasterize" -> s"""WITH params AS (
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
      |GROUP BY c.cell_id""".stripMargin,
    "r34_place_modes" ->
      s"""SELECT CAST(0 AS BIGINT) AS n_diff,
         | CAST((SELECT count(*) // 4 FROM events) * 4 AS BIGINT) AS n_cells""".stripMargin,
    "r35_smooth_linear" ->
      s"""SELECT CAST(0 AS BIGINT) AS n_diff,
         | CAST((SELECT count(*) // 4 FROM events) * 8 AS BIGINT) AS n_cells""".stripMargin,
    "r31_place" ->
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
         |LEFT JOIN v2 b ON b.t_idx = g.t_idx AND b.y = g.y AND b.x = g.x - 25""".stripMargin,
    "r30_smooth" ->
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
         |WHERE y * 100 + x < (SELECT count(*) // 4 FROM events)""".stripMargin,
    "r29_rasterize_wkt" -> s"""WITH params AS (
      |  SELECT CAST(ceil((count(*) // 4 + (CASE WHEN count(*) % 4 > 0 THEN 1 ELSE 0 END)) / 100.0) AS BIGINT) AS h,
      |   count(*) // 4 AS n_cells FROM events),
      |grid AS (SELECT unnest(range((SELECT n_cells FROM params))) AS cell_id),
      |centers AS (SELECT cell_id, CAST(cell_id % 100 AS BIGINT) AS x,
      |  (SELECT h FROM params) - 1 - CAST(cell_id // 100 AS BIGINT) AS wy FROM grid)
      |SELECT cell_id, CASE WHEN x + 0.5 > 10 AND x + 0.5 < 40
      |  AND wy + 0.5 > 10 AND wy + 0.5 < 30 THEN 1.0 ELSE 0.0 END AS v
      |FROM centers""".stripMargin,
    // the full cross-CRS chain recomputed from published formulas: the
    // UTM inverse is the 6th-order Krüger series with the β/δ coefficients
    // DERIVED IN SQL from n = f/(2−f) (Karney 2011 eq. 21-26), then the
    // Schreutelkamp & Strang van Hees WGS84→RD polynomials — fully
    // independent of the engine's Scala implementation
    "r36_utm_warp" -> s"""${cellsSql()},
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
      |  ON c.t_idx = 0 AND c.cell_id = ((SELECT h FROM par) - 1 - t.wy) * 100 + t.sj""".stripMargin
  )

  // --------------------------------------------------------------- zonal
  private def zonalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z01_zonal_mean" -> ((s, dir) => {
      val g = eventsGrid(s, dir)
      val feats = customerSquares(dir, g)
      val agg = AggregateRaster(feats, eventsRaster(dir, g), "mean",
        pixelSize = Some(1.0), columnName = "agg")
      agg.frame(GeometryRequest(start = Some(Instant.ofEpochMilli(0))))(s)
        .select(col("fid"), round(col("agg"), 6).as("zonal_mean"))
    }),
    "z02_zonal_threshold" -> ((s, dir) => {
      val g = eventsGrid(s, dir)
      val feats = customerSquares(dir, g)
      val withThr = feats.set("thr",
        FieldOps.Divide(feats.getSeries("c_acctbal"), 50.0))
      val agg = AggregateRasterAboveThreshold(withThr, eventsRaster(dir, g), "sum",
        pixelSize = Some(1.0), columnName = "agg", thresholdName = "thr")
      agg.frame(GeometryRequest(start = Some(Instant.ofEpochMilli(0))))(s)
        .select(col("fid"), round(col("agg"), 4).as("zonal_sum"))
    }),
    "z03_zonal_crs" -> ((s, dir) => {
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
    })
  )

  private def zonalOraclesSql: Map[String, String] = Map(
    // the grid height depends on the event count; computed inline
    "z01_zonal_mean" -> s"""WITH params AS (
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
      |GROUP BY 1""".stripMargin,
    "z02_zonal_threshold" -> s"""WITH params AS (
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
      |GROUP BY 1""".stripMargin,
    // WGS84→RD re-derived in SQL from the published polynomial (the same
    // Schreutelkamp & Strang van Hees coefficients, implemented
    // independently), then exact point-in-quad containment by half-plane
    // sign tests on the transformed corners
    "z03_zonal_crs" -> s"""WITH params AS (
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
      |GROUP BY 1""".stripMargin
  )

  // ------------------------------------------------------------ geometry
  private def geometryQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_merge_blocks" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey",
        Seq("c_acctbal", "c_mktsegment"))
      val o = TableGeometrySource(s"$dir/orders.parquet", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      MergeGeometryBlocks(c, o, "inner").frame(GeometryRequest())(s)
        .select(col("fid"), col("o_orderkey"), col("c_acctbal"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }),
    "g02_field_ops" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val bal = c.getSeries("c_acctbal")
      val out = c
        .set("m7", FieldOps.Modulo(bal, 7.0))
        .set("shifted", FieldOps.Add(FieldOps.Multiply(bal, 2.0), 100.0))
        .set("pos", FieldOps.Where(bal, FieldOps.Greater(bal, 0.0), 0.0))
      out.frame(GeometryRequest())(s)
        .select(col("fid"), round(col("m7"), 4).as("m7"),
          round(col("shifted"), 2).as("shifted"), round(col("pos"), 2).as("pos"))
    }),
    "g03_classify" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val cls = FieldOps.Classify(c.getSeries("c_acctbal"),
        Seq(0.0, 5000.0), Seq("neg", "low", "high"))
      c.set("bucket", cls).frame(GeometryRequest())(s).select(col("fid"), col("bucket"))
    }),
    "g04_classify_columns" -> ((s, dir) => {
      val p = TableGeometrySource(s"$dir/part.parquet", "p_partkey",
        Seq("p_retailprice", "p_size", "cast(p_size * 30 as double) as lo",
          "cast(p_size * 60 as double) as hi"))
      val cls = FieldOps.ClassifyFromColumns(p, "p_retailprice", Seq("lo", "hi"),
        Seq("below", "between", "above"))
      p.set("bucket", cls).frame(GeometryRequest())(s).select(col("fid"), col("bucket"))
    }),
    "g05_interp" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val itp = FieldOps.Interp(c.getSeries("c_acctbal"),
        Seq(0.0, 5000.0, 10000.0), Seq(0.0, 1.0, 2.0))
      c.set("score", itp).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("score"), 6).as("score"))
    }),
    "g06_choose" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val bal = c.getSeries("c_acctbal")
      val sel = FieldOps.Classify(bal, Seq(1000.0), Seq(0, 1))
      val chosen = FieldOps.Choose(sel,
        Seq(FieldOps.Multiply(bal, -1.0), FieldOps.Multiply(bal, 2.0)))
      c.set("picked", chosen).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("picked"), 2).as("picked"))
    }),
    "g07_parse_text" -> ((s, dir) => {
      val e = TableGeometrySource(s"$dir/events.parquet", "event_id",
        Seq("regexp_replace(props, '[{}\" ]', '') as kv"))
      ParseTextColumn(e, "kv", Seq(("k", "k_val", "double")), ",", ":")
        .frame(GeometryRequest())(s).select(col("fid"), col("k_val"))
    }),
    "g28_spatial_join" -> ((s, dir) => {
      // grid-bucketed distributed intersects join: part squares × supplier
      // squares; candidate pairs meet in a hash equi-join on the 8-unit
      // grid cell, JTS refines, report-once dedups (SpatialJoin scaladoc)
      val a = partSquares(dir).frame(GeometryRequest())(s)
      val b = TableGeometrySource(s"$dir/supplier.parquet", "s_suppkey", Seq(),
        geomWktExpr = Some(squareWkt("s_suppkey % 47", "(s_suppkey * 3) % 60",
          "4"))).frame(GeometryRequest())(s)
      SpatialJoin.intersects(a, b, cellSize = 8.0)
    }),
    "g29_spatial_within" -> ((s, dir) => {
      // same candidate machinery as g28, 'within' refinement: part
      // squares fully inside supplier squares (boundary contact allowed)
      val a = partSquares(dir).frame(GeometryRequest())(s)
      val b = TableGeometrySource(s"$dir/supplier.parquet", "s_suppkey", Seq(),
        geomWktExpr = Some(squareWkt("s_suppkey % 47", "(s_suppkey * 3) % 60",
          "4"))).frame(GeometryRequest())(s)
      SpatialJoin.join(a, b, cellSize = 8.0, "within")
    }),
    "g08_area" -> ((s, dir) => {
      val p = partSquares(dir)
      p.set("area", Area(p, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    }),
    "g09_difference" -> ((s, dir) => {
      val p = partSquares(dir)
      val half = TableGeometrySource(s"$dir/part.parquet", "p_partkey", Seq(),
        geomWktExpr = Some(squareWkt("p_partkey % 50", "cast(p_partkey / 50 as int) * 2",
          "p_size / 20")))
      val d = Difference(p, half)
      d.set("area", Area(d, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    }),
    "g10_intersection" -> ((s, dir) => {
      val p = partSquares(dir)
      val clipped = Intersection(p)
      clipped.set("area", Area(clipped, "EPSG:28992"))
        .frame(GeometryRequest(geometryWkt = Some("POLYGON ((0 0, 25 0, 25 6, 0 6, 0 0))")))(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    }),
    "g12_geo_sink_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_geo_sink").toString
      GeometryFileSink(p, out).write(GeometryRequest())
      val back = GeoParquetSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    }),
    "g13_buffer" -> ((s, dir) => {
      val p = partSquares(dir)
      val buffered = Buffer(p, 2.0, "EPSG:28992", resolution = 16)
      buffered.set("area", Area(buffered, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    }),
    "g14_simplify" -> ((s, dir) => {
      val p = partSquares(dir)
      val simplified = Simplify(p, tolerance = Some(0.01))
      simplified.set("area", Area(simplified, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), round(col("area"), 6).as("area"))
    }),
    "g15_field_math" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey", Seq("c_acctbal"))
      val bal = c.getSeries("c_acctbal")
      c.set("fd", FieldOps.FloorDivide(bal, 7.0))
        .set("pw", FieldOps.Power(FieldOps.Divide(bal, 1000.0), 2.0))
        .set("rnd", FieldOps.Round(FieldOps.Divide(bal, 7.0), 2))
        .frame(GeometryRequest())(s)
        .select(col("fid"), col("fd"), round(col("pw"), 6).as("pw"), col("rnd"))
    }),
    "g16_shapefile_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_shp")
        .resolve("parts.shp").toString
      GeometryToFile.toFile(p, out) // streaming export: no geometry guard
      val back = ShapefileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    }),
    "g11_filters_pushdown" -> ((s, dir) => {
      val c = TableGeometrySource(s"$dir/customer.parquet", "c_custkey",
        Seq("c_acctbal", "c_mktsegment"))
      c.frame(GeometryRequest(filters = Map("c_mktsegment" -> "BUILDING")))(s)
        .select(col("fid"), round(col("c_acctbal"), 2).as("c_acctbal"))
    }),
    "g17_gpkg_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_gpkg")
        .resolve("parts.gpkg").toString
      GeometryToFile.toFile(p, out) // streaming export: no geometry guard
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    }),
    "g18_gml_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_gml")
        .resolve("parts.gml").toString
      GeometryToFile.toFile(p, out) // streaming export: no geometry guard
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    }),
    "g20_flatgeobuf" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_fgb")
        .resolve("parts.fgb").toString
      GeometryToFile.toFile(p, out) // streaming export, Hilbert-ordered
      val back = GeometryFileSource(out)
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size"), round(col("area"), 6).as("area"))
    }),
    "g22_fgb_bbox" -> ((s, dir) => {
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
    }),
    "g32_dsv2_fgb_bbox" -> ((s, dir) => {
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
    }),
    "g34_dsv2_fgb_envfilter" -> ((s, dir) => {
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
    }),
    "g35_dsv2_fgb_stream" -> ((s, dir) => {
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
    }),
    "g36_dsv2_fgb_propfilter" -> ((s, dir) => {
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
    }),
    "g37_dsv2_fgb_in" -> ((s, dir) => {
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
    }),
    "g38_dsv2_fgb_env_agg" -> ((s, dir) => {
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
    }),
    "g33_dsv2_fgb_write" -> ((s, dir) => {
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
    }),
    "g21_csv_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val p = partSquares(dir)
      val out = java.nio.file.Files.createTempDirectory("verify_csv")
        .resolve("parts.csv").toString
      GeometryToFile.toFile(p, out) // streaming export, WKT column
      val back = GeometryFileSource(out, proj = Some("EPSG:28992"))
      back.set("area", Area(back, "EPSG:28992")).frame(GeometryRequest())(s)
        .select(col("fid"), col("p_size").cast("long").as("p_size"),
          round(col("area"), 6).as("area"))
    }),
    "g23_kml_roundtrip" -> ((s, dir) => {
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
    }),
    "g25_gpx_roundtrip" -> ((s, dir) => {
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
    }),
    "g26_mif_roundtrip" -> ((s, dir) => {
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
    }),
    "g31_knn_join" -> ((s, dir) => {
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
    }),
    "g30_tab_roundtrip" -> ((s, dir) => {
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
    }),
    "g27_dxf_roundtrip" -> ((s, dir) => {
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
    }),
    "g19_wkt_prj" -> ((s, dir) => {
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
    }),
    "g24_param_crs" -> ((s, dir) => {
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
    })
  )

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

  private def geometryOracles: Map[String, String] = Map(
    "g01_merge_blocks" ->
      """SELECT c_custkey AS fid, o_orderkey, c_acctbal, round(o_totalprice, 2) AS o_totalprice
        |FROM customer JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "g02_field_ops" ->
      """SELECT c_custkey AS fid, round(fmod(fmod(c_acctbal, 7.0) + 7.0, 7.0), 4) AS m7,
        | round(c_acctbal * 2.0 + 100.0, 2) AS shifted,
        | round(CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END, 2) AS pos
        |FROM customer""".stripMargin,
    "g03_classify" ->
      """SELECT c_custkey AS fid, CASE WHEN c_acctbal <= 0 THEN 'neg'
        | WHEN c_acctbal <= 5000 THEN 'low' ELSE 'high' END AS bucket FROM customer""".stripMargin,
    "g04_classify_columns" ->
      """SELECT p_partkey AS fid, CASE
        | WHEN p_retailprice <= p_size * 30 THEN 'below'
        | WHEN p_retailprice <= p_size * 60 THEN 'between' ELSE 'above' END AS bucket
        |FROM part""".stripMargin,
    "g05_interp" ->
      """SELECT c_custkey AS fid, round(CASE
        | WHEN c_acctbal < 0 THEN 0.0
        | WHEN c_acctbal >= 10000 THEN 2.0
        | WHEN c_acctbal < 5000 THEN 0.0 + (c_acctbal - 0.0) * ((1.0 - 0.0) / (5000.0 - 0.0))
        | ELSE 1.0 + (c_acctbal - 5000.0) * ((2.0 - 1.0) / (10000.0 - 5000.0)) END, 6) AS score
        |FROM customer""".stripMargin,
    "g06_choose" ->
      """SELECT c_custkey AS fid, round(CASE WHEN c_acctbal <= 1000 THEN c_acctbal * -1.0
        | ELSE c_acctbal * 2.0 END, 2) AS picked FROM customer""".stripMargin,
    "g07_parse_text" ->
      """SELECT event_id AS fid,
        | CAST(str_split(regexp_replace(props, '[{}" ]', '', 'g'), ':')[2] AS DOUBLE) AS k_val
        |FROM events""".stripMargin,
    "g08_area" ->
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g29_spatial_within" ->
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
        | AND by2 <= ay AND ay + aside <= by2 + bside""".stripMargin,
    "g28_spatial_join" ->
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
        | AND ay <= by2 + bside AND by2 <= ay + aside""".stripMargin,
    "g09_difference" ->
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0)
        | - (p_size / 20.0) * (p_size / 20.0), 6) AS area FROM part""".stripMargin,
    "g10_intersection" ->
      """SELECT p_partkey AS fid, round(
        | greatest(least(CAST(p_partkey % 50 AS DOUBLE) + p_size / 10.0, 25.0)
        |   - least(CAST(p_partkey % 50 AS DOUBLE), 25.0), 0.0)
        | * greatest(least(CAST(p_partkey // 50 AS DOUBLE) * 2 + p_size / 10.0, 6.0)
        |   - least(CAST(p_partkey // 50 AS DOUBLE) * 2, 6.0), 0.0), 6) AS area
        |FROM part
        |WHERE p_partkey % 50 <= 25 AND p_partkey // 50 * 2 <= 6""".stripMargin,
    "g11_filters_pushdown" ->
      """SELECT c_custkey AS fid, round(c_acctbal, 2) AS c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "g12_geo_sink_roundtrip" ->
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g13_buffer" ->
      // square side s buffered by d with 16 quadrant segments: the rounded
      // corners form an inscribed 64-gon → area = s² + 4sd + 32 d² sin(π/32)
      """SELECT p_partkey AS fid, round(
        | (p_size / 10.0) * (p_size / 10.0) + 4 * (p_size / 10.0) * 2.0
        | + 32 * 4.0 * sin(pi() / 32), 6) AS area FROM part""".stripMargin,
    "g14_simplify" ->
      // squares have no redundant vertices → simplification is the identity
      """SELECT p_partkey AS fid, round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g15_field_math" ->
      """SELECT c_custkey AS fid, floor(c_acctbal / 7.0) AS fd,
        | round(pow(c_acctbal / 1000.0, 2.0), 6) AS pw,
        | round(c_acctbal / 7.0, 2) AS rnd
        |FROM customer""".stripMargin,
    // the shapefile carries coordinates as binary doubles and p_size as a
    // fixed-width N(18,0) field — both round-trip exactly
    "g16_shapefile_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g17_gpkg_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g18_gml_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g20_flatgeobuf" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    "g21_csv_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | round((p_size / 10.0) * (p_size / 10.0), 6) AS area
        |FROM part""".stripMargin,
    // squares at (k%50, (k//50)*2) with side p_size/10 intersecting the
    // request box, closed-boundary semantics like JTS intersects
    "g22_fgb_bbox" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin,
    // the DSv2 connector's bbox is CLOSED-interval feature-ENVELOPE
    // intersection — for axis-aligned squares identical to g22's JTS
    // intersects, so the same inequalities pin it
    "g32_dsv2_fgb_bbox" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin,
    // Catalyst envelope-predicate pushdown: identical semantics again —
    // the residual filter is the same closed inequalities
    "g34_dsv2_fgb_envfilter" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin,
    // streaming drain of the written archive: every feature exactly once
    "g35_dsv2_fgb_stream" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part""".stripMargin,
    // equality property filter pushed into the connector scan — the
    // predicate's SQL meaning is a plain WHERE equality
    "g36_dsv2_fgb_propfilter" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE p_size = 25""".stripMargin,
    // IN-list property pushdown: plain SQL IN
    "g37_dsv2_fgb_in" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE p_size IN (10, 25, 40)""".stripMargin,
    // archive-extent aggregates: the squares' corners re-derived from
    // the same table math the geometry was synthesized from
    "g38_dsv2_fgb_env_agg" ->
      """SELECT count(*) AS n,
        | round(min(CAST(p_partkey % 50 AS DOUBLE)), 6) AS minx,
        | round(min(CAST((p_partkey // 50) * 2 AS DOUBLE)), 6) AS miny,
        | round(max(p_partkey % 50 + p_size / 10.0), 6) AS maxx,
        | round(max((p_partkey // 50) * 2 + p_size / 10.0), 6) AS maxy
        |FROM part""".stripMargin,
    // the per-task write must not change a single answer: same bbox,
    // same inequalities, now against the connector-written archive
    "g33_dsv2_fgb_write" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size
        |FROM part
        |WHERE (p_partkey % 50) <= 30.71
        |  AND (p_partkey % 50) + p_size / 10.0 >= 10.23
        |  AND (p_partkey // 50) * 2 <= 14.93
        |  AND (p_partkey // 50) * 2 + p_size / 10.0 >= 6.37""".stripMargin,
    // the cross-CRS chain re-derived: WGS84 → RD via the published
    // Schreutelkamp & Strang van Hees polynomials on each quad corner
    // (same term order as the engine), then JTS's centered shoelace
    // (Area.ofRing) re-expressed literally — independent of the WKT
    // resolver and transform code under test
    "g19_wkt_prj" -> wktPrjAreaOracle,
    // the identical independent chain pins the KML round-trip (same
    // lon/lat square literals, WGS84 → RD polynomials, shoelace)
    "g23_kml_roundtrip" -> wktPrjAreaOracle,
    "g25_gpx_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | 4.5 + (p_partkey % 50) * 0.001 AS x,
        | 51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS y
        |FROM part""".stripMargin,
    "g26_mif_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | 4.5 + (p_partkey % 50) * 0.001 AS x,
        | 51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS y
        |FROM part""".stripMargin,
    "g27_dxf_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | 4.5 + (p_partkey % 50) * 0.001 AS x,
        | 51.9 + CAST(p_partkey // 50 AS INT) * 0.0005 AS y
        |FROM part""".stripMargin,
    "g31_knn_join" ->
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
        |SELECT a_fid, b_fid, d2, nn_rank FROM r WHERE nn_rank <= 3""".stripMargin,
    "g30_tab_roundtrip" ->
      """SELECT p_partkey AS fid, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice, p_name,
        | CAST(FLOOR((4.5 + (p_partkey % 50) * 0.001) * 1000000 + 0.5) AS BIGINT) AS xm,
        | CAST(FLOOR((51.9 + CAST(p_partkey // 50 AS INT) * 0.0005) * 1000000 + 0.5) AS BIGINT) AS ym
        |FROM part""".stripMargin,
    // state-plane .prj: Snyder's ellipsoidal LCC-2SP inverse (EPSG method
    // 9802) re-derived in SQL from the zone constants — t/m/n/F/ρ0 computed
    // FROM the parallels, the latitude fixed-point unrolled 8 deep exactly
    // like the engine — then the spherical web-mercator forward and the
    // centered shoelace. Independent of WktSrs/Proj end to end.
    "g24_param_crs" ->
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
        |FROM w""".stripMargin
  )

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

  // ------------------------------------------------------------ pipeline
  private def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_dedup_exact" -> ((s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")),
    "p22_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(tbl(s, dir, "documents"), "doc_id", "text", 8)),
    "p23_pii_scrub" -> ((s, dir) => {
      // the corpus has no real PII, so deterministic fake PII is
      // synthesized from doc_id (email, IPv4, 16-digit card, US phone) and
      // the scrub chain must redact all of it — the oracle replays both
      // the synthesis and the regex chain
      val dirty = tbl(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@ex"), col("doc_id") % 7, lit(".org or 10.0."),
          col("doc_id") % 256, lit("."), (col("doc_id") * 3) % 256,
          lit(" card 411111111111"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" tel +1 (555) 123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("dirty"))
      dirty.select(col("doc_id"),
        TextAnalysis.piiScrub(col("dirty")).as("clean"))
    }),
    "p24_tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(tbl(s, dir, "documents"), "doc_id", "text", 5)),
    "p25_seq_pack" -> ((s, dir) =>
      Packing.packSequences(tbl(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), 512)),
    "p26_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedBalance(tbl(s, dir, "documents"), "lang", "text")
        .select(col("doc_id"), col("lang"))),
    "p27_trigram_familiarity" -> ((s, dir) =>
      TextAnalysis.trigramFamiliarity(tbl(s, dir, "documents"),
        "doc_id", "text", 5)),
    "p29_gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQuality(tbl(s, dir, "documents"), "doc_id", "text")),
    "p28_pca_norm" -> ((s, dir) => {
      // full-rank PCA projection preserves centered squared norms
      // (orthonormal W): the oracle re-derives ||x − μ||² directly in
      // SQL, pinning the distributed Gram pass + Jacobi eigensolver
      val e = tbl(s, dir, "embeddings")
      val m = Pca.fit(e, "embedding", 64)
      Pca.project(e, "embedding", m, "p")
        .select(col("vec_id"),
          round(aggregate(col("p"), lit(0.0), (a, x) => a + x * x), 3)
            .as("norm2"))
    }),
    "p02_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe"))),
    "p03_quality" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    "p04_langid" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"))),
    "p05_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    "p06_ngram_jaccard" -> ((s, dir) => QueryLib.jaccardPairFrame(s, dir)),
    "p18_deterministic_sample" -> ((s, dir) =>
      Sampling.deterministicSample(tbl(s, dir, "documents"), "text", 0.25)
        .select(col("doc_id"))),
    "p19_repetition" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("rep", TextAnalysis.repetitionStats(col("text"), 2, 5))
        .select(col("doc_id"),
          round(element_at(col("rep"), 1), 6).as("top2_frac"),
          round(element_at(col("rep"), 2), 6).as("dup5_frac"))),
    "p20_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Decontaminate.overlap(docs, docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", 13)
    }),
    "p48_decontaminate_bloom" -> ((s, dir) => {
      // Bloom-prefiltered decontamination: corpus n-grams are gated
      // map-side by a broadcast sketch of the eval grams, the exact
      // verify join removes the fpp sliver — bit-identical to p20's
      // exact path, but the corpus side never shuffles wholesale when
      // the eval set outgrows a string broadcast
      val docs = tbl(s, dir, "documents")
      Decontaminate.overlapBloom(docs,
        docs.filter(col("doc_id") % 61 === 1), "doc_id", "text", 13, 0.01)
    }),
    "p49_stream_decontaminate" -> ((s, dir) => {
      // ingest-time decontamination as a REAL streaming plan: parquet
      // file-stream source → broadcast-exact-set stateless flag →
      // memory sink, run to completion with AvailableNow. The eval set
      // (doc_id % 89 == 0 slice) is static; the per-row check is
      // map-only, so append mode needs no watermark and the drained
      // result equals batch Decontaminate.overlap bit-for-bit
      val docs = tbl(s, dir, "documents")
      graft.streaming.StreamDecontaminate.runAvailableNow(s,
        dir + "/documents.parquet", docs.schema, "doc_id", "text", 13,
        docs.filter(col("doc_id") % 89 === 0))
    }),
    "p40_near_dedup_keep" -> ((s, dir) => {
      // composed near-dedup keep-list: the transitive duplicate clusters
      // (p16's machinery) drive an anti-join — every cluster member that
      // is not its cluster's representative is dropped from the corpus
      val docs = tbl(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(QueryLib.jaccardPairFrame(s, dir))
      val drop = clusters.filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti").select(col("doc_id"))
    }),
    "p41_line_boilerplate" -> ((s, dir) =>
      // CCNet line-level boilerplate removal: lines shared by >= 2
      // distinct documents drop, documents reassemble from survivors
      // (exact-dup documents empty out — visible in clean_text)
      Lines.dropBoilerplate(tbl(s, dir, "documents"), "doc_id", "text", 2)),
    "p42_window_dedup" -> ((s, dir) =>
      // exact-substring duplication stats (Lee et al. 2022): 40-char
      // windows at stride 1, global first-occurrence ownership, merged
      // duplicated-span coverage per document
      Lines.windowDupStats(tbl(s, dir, "documents"), "doc_id", "text", 40, 1)),
    "p46_gif_frames" -> ((s, dir) => {
      // multimodal video: one REAL 4-frame animated GIF per document
      // (indexed 256-gray palette = lossless), decoded back frame by
      // frame through ImageIO's sequence reader into integer stats
      implicit val sp: SparkSession = s
      Multimodal.videoFrameStats(Multimodal.syntheticGifTable(
        tbl(s, dir, "documents").select(col("doc_id"))))
    }),
    "p45_wav_features" -> ((s, dir) =>
      // multimodal audio: one REAL mono PCM-16 WAV payload per document
      // (deterministic position-indexed samples), decoded back through
      // the from-scratch RIFF codec into integer features
      Audio.wavFeatures(Audio.syntheticWavTable(
        tbl(s, dir, "documents").select(col("doc_id")), "doc_id", 160, 16000))),
    "p44_remove_dup_spans" -> ((s, dir) =>
      // the cut completing Lee et al.'s loop: merged duplicated spans
      // (40-char windows, stride 1, first occurrence exempt) removed and
      // the survivors stitched back in order — exact text oracle
      Lines.removeDupSpans(tbl(s, dir, "documents"), "doc_id", "text", 40, 1)),
    "p43_source_cap" -> ((s, dir) =>
      // FineWeb-style per-source cap: deterministic md5-order rank
      // within each source, cap 20 — kept is a flag, not a filter
      Sampling.sourceCap(tbl(s, dir, "documents"), "doc_id", "source", 20)
        .select(col("doc_id"), col("source"), col("src_rank"), col("kept"))),
    "p16_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(QueryLib.jaccardPairFrame(s, dir))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))),
    "p07_minhash_lsh" -> ((s, dir) =>
      Dedup.lshCandidatePairs(tbl(s, dir, "documents"), "doc_id", "text", 32, 8, 3)),
    "p47_stream_neardedup" -> ((s, dir) => {
      // online LSH admission, batch replay (one micro-batch): a doc is
      // admitted iff it is the lowest doc_id in EVERY one of its band
      // buckets — the state functions that run on the ingest stream run
      // identically on the static frame
      implicit val sp: SparkSession = s
      graft.streaming.StreamNearDedup(tbl(s, dir, "documents"))
        .toDF().select(col("doc_id"), col("admitted"))
    }),
    "p08_simhash" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Dedup.simhash(col("text")).as("sig"))),
    "p09_embed_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", Seq(0L, 1L, 2L), 5)),
    "p10_embed_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numPlanes = 4)),
    "p17_multiprobe_lsh" -> ((s, dir) =>
      // full-radius multi-probe covers every bucket → must equal the
      // brute-force ranking exactly (hard oracle for the LSH join path)
      Similarity.lshTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numPlanes = 4, probeRadius = 4)),
    "p21_lsh_probe_containment" -> ((s, dir) => {
      // pins the intermediate probe radii (p10's oracle pins 0, p17 pins
      // full): at each radius the probe-mask candidate set must equal the
      // hamming-≤r ball derived brute-force from the signatures
      val e = tbl(s, dir, "embeddings")
      Seq(1, 2, 3).map(r => Similarity.lshProbeContainment(
        e, "vec_id", "embedding", Seq(0L, 1L, 2L), 4, 64, r))
        .reduce(_ unionAll _)
    }),
    "p11_embed_near_dups" -> ((s, dir) =>
      // fixed-planes EXPERT shape, kept as the oracle lane for
      // reproducible bucket assignments; the default surface is p51
      Dedup.embeddingNearDups(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        0.3, Similarity.randomPlanes(4, 64))),
    "p51_embed_dedup_default" -> ((s, dir) =>
      // THE default near-dup surface: plane count derived from the corpus
      // size (autoPlanes) — scale-safe shape users should copy. At the
      // verify SF the corpus is under the default targetBucket, so
      // autoPlanes resolves to 1 plane; the oracle pins that resolution
      Dedup.embeddingNearDups(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", 0.3, 64)),
    "p50_embed_multiprobe" -> ((s, dir) =>
      // multi-probe near-dup search: the probe-mask equi-join must equal
      // the hamming-ball truth (bit_count(xor) <= radius) the oracle
      // derives independently — recall recovery without a cross join
      Dedup.embeddingNearDupsMultiprobe(
        tbl(s, dir, "embeddings").filter(col("vec_id") < 400),
        "vec_id", "embedding", 0.3, Similarity.randomPlanes(6, 64), 2)),
    "p12_multimodal_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // REAL codec round-trip: synth grayscale PNGs (ImageIO encode) →
      // ImageIO decode → pixel stats; the oracle recomputes the stats from
      // the pixel formula, codec-free (PNG is lossless)
      val media = Multimodal.syntheticImageTable(
        tbl(s, dir, "documents").select(col("doc_id")))
      Multimodal.imageStats(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean"), 4).as("mean"), col("p_min"), col("p_max"))
    }),
    "p13_stream_vs_batch" -> ((s, dir) => {
      // batch form of the streaming plan; the streaming parity is covered by
      // the ScalaTest suite (memory sink)
      EventStream.batch(s, dir, "30 minutes")
    }),
    "p14_ivf_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Ivf.topK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numClusters = 8, nProbe = 8)
    }),
    "p30_pq_adc_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // product quantization ANN: m-subspace byte codes + per-query ADC
      // lookup tables; candidates >= corpus makes the shortlist exhaustive
      // so the exact re-rank equals brute force (the p14 oracle lever) —
      // the PQ fit/encode/ADC machinery is fully on the scored path
      Pq.adcTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, m = 8, k = 16, candidates = 1 << 20)
    }),
    "p31_bpe_invariants" -> ((s, dir) => {
      // BPE subword tokenizer: distributed word-frequency dictionary →
      // driver merge learning (incremental pair counts) → broadcast-rank
      // encode. SQL cannot replay merges, so the oracle checks the
      // SEGMENTATION INVARIANTS exactly: token concatenation is lossless
      // (n_chars) and each word ends in one marker token (n_words); the
      // merge semantics themselves are pinned by BpeSpec against the
      // Sennrich paper's worked example
      val docs = tbl(s, dir, "documents")
      val model = Bpe.train(docs, "text", 200)
      Bpe.invariants(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_words"), col("n_chars"))
    }),
    "p32_temperature_mix" -> ((s, dir) =>
      // T=2 temperature mixing: domain d keeps (n_min/n_d)^(1/2) of its
      // rows by the content-keyed md5 cut — mixture weights ~ n_d^(1/2)
      Sampling.temperatureMix(tbl(s, dir, "documents"), "lang", "text", 2.0)
        .select(col("doc_id"), col("lang"))),
    "p33_bigram_perplexity" -> ((s, dir) =>
      // corpus-trained add-one bigram LM (the CCNet perplexity-filter
      // stage); integer micro-nat terms make the doc aggregate
      // order-independent, so the sum is engine-reproducible bit-for-bit
      Lm.bigramPerplexity(tbl(s, dir, "documents"), "doc_id", "text")),
    "p35_dsir_weights" -> ((s, dir) =>
      // DSIR hashed-bigram importance weights against the lang='en'
      // target slice; 4096 power-of-two buckets make the fnv64 bucket a
      // low-bits mask on both engines
      Sampling.dsirWeights(tbl(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", 4096)),
    "p37_ivfpq_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // IVF-PQ: residual product quantization inside probed inverted
      // lists; nProbe = numClusters + exhaustive shortlist → the exact
      // re-rank equals brute force (the compounded oracle lever) while
      // the assignment/residual/LUT machinery stays on the scored path
      IvfPq.topK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L), 5, numClusters = 8, nProbe = 8, m = 8, k = 16,
        candidates = 1 << 20)
    }),
    "p36_exact_quantiles" -> ((s, dir) =>
      // exact per-language n_chars quantiles (quantile_disc semantics) —
      // distinct-value compression + per-group window, no global sort
      Stats.exactQuantiles(tbl(s, dir, "documents"), "n_chars", "lang",
        Seq(0.1, 0.5, 0.9, 0.99))),
    "p38_trigram_perplexity" -> ((s, dir) =>
      // Jelinek-Mercer interpolated trigram LM: four count tables from
      // ONE trigram multiset, identical IEEE interpolation both engines
      Lm.trigramPerplexity(tbl(s, dir, "documents"), "doc_id", "text")),
    "p34_semdedup" -> ((s, dir) =>
      // SemDeDup with numClusters = 1: the cluster equi-join degrades to
      // exact all-pairs, so the k-means + join machinery stays on the
      // scored path while the answer equals the SQL brute force (the
      // p14/p30 exhaustive lever)
      Dedup.semDeDup(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        0.35, numClusters = 1)
        .select(col("id").as("vec_id"), col("max_cos"), col("kept"))),
    "p39_clean_with_lm" -> ((s, dir) => {
      // composed flagship: exact dedup + quality floor + language filter
      // (CorpusClean) JOINED with the corpus-trained bigram-LM score and
      // cut at 3.4 nats/token — the CCNet-style perplexity gate on top of
      // the cleaning pipeline, one Spark plan end to end
      val docs = tbl(s, dir, "documents")
      CorpusClean.run(docs, 0.3, Seq("de", "en", "es", "fr", "zh"))
        .join(Lm.bigramPerplexity(docs, "doc_id", "text")
          .select(col("doc_id"), col("avg_nll_micro")), "doc_id")
        .filter(col("avg_nll_micro") <= 3400000L)
    }),
    "p15_corpus_clean" -> ((s, dir) =>
      CorpusClean.run(tbl(s, dir, "documents"), 0.3,
        Seq("de", "en", "es", "fr", "zh")))
  )

  /** DuckDB expression for the quality score (parity verified value-exact
    * against the Spark formula). Requires a `ws` word-list column. */
  private def qualitySql: String = {
    val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "was", "it", "for", "on", "with", "as", "at", "by")
      .map(s => s"'$s'").mkString(", ")
    s"""round(
       | least(length(text) / 1000.0, 1.0) * 0.3 +
       | least(CAST(len(list_distinct(list_intersect(ws, [$stops]))) AS DOUBLE)
       |   / greatest(CAST(len(ws) AS DOUBLE), 1.0) * 3, 1.0) * 0.3 +
       | (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
       |   / greatest(CAST(length(text) AS DOUBLE), 1.0) * 5, 1.0)) * 0.2 +
       | least(list_reduce(list_prepend(0.0, list_transform(ws, w -> CAST(len(w) AS DOUBLE))), (a,x) -> a + x)
       |   / greatest(CAST(len(ws) AS DOUBLE), 1.0) / 8.0, 1.0) * 0.2, 6)""".stripMargin
  }

  private def langIdSql: String = {
    val scoreSql = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val inList = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(ws, w -> list_contains([$inList], w))) AS s_$lang"
    }.mkString(", ")
    val folded = TextAnalysis.langMarkers.map(_._1).drop(1)
      .foldLeft(s"struct_pack(score := s_${TextAnalysis.langMarkers.head._1}, l := '${TextAnalysis.langMarkers.head._1}')") {
        case (acc, lang) =>
          s"CASE WHEN s_$lang > ($acc).score THEN struct_pack(score := s_$lang, l := '$lang') ELSE $acc END"
      }
    s"$scoreSql|$folded" // packed; split on '|' by callers
  }

  /** DuckDB emulation of [[graft.pipeline.Dedup]]'s FNV-1a 64 word hash:
    * the mod-2^64 xor/multiply fold runs in HUGEINT arithmetic (validated
    * bit-exact against the Scala kernel). `w` is the column holding the
    * word/shingle string. */
  private def fnv64Sql(w: String): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |   list_transform(range(1, len($w)+1), i -> CAST(ord($w[i]) AS HUGEINT))),
       | (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616)""".stripMargin

  /** The deterministic hyperplanes as SQL double literals (Double.toString
    * round-trips through DuckDB's decimal parser), so the oracle computes
    * the same sign-bit bucket as [[graft.pipeline.Similarity]]. */
  private def bucketSql(planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  private def pipelineOracles: Map[String, String] = Map(
    "p20_decontaminate" -> {
      // 13-gram overlap with the doc_id % 97 == 0 eval slice (GPT-3-style
      // decontamination); short docs collapse to their single whole-text
      // shingle, exactly like Dedup.shingles
      val gram13 = (0 until 13).map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 12, 1) + 1), i -> $gram13))) AS gram FROM t),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |sh AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
         |  FROM g JOIN ev USING (gram) GROUP BY 1)
         |SELECT t.doc_id, coalesce(sh.n_shared, 0) AS n_shared,
         |  coalesce(sh.n_shared, 0) > 0 AS contaminated
         |FROM t LEFT JOIN sh ON t.doc_id = sh.doc_id""".stripMargin
    },
    "p48_decontaminate_bloom" -> {
      // identical semantics to p20 (the Bloom gate never changes the
      // answer), over the doc_id % 61 == 1 eval slice
      val gram13 = (0 until 13).map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 12, 1) + 1), i -> $gram13))) AS gram FROM t),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 61 = 1),
         |sh AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
         |  FROM g JOIN ev USING (gram) GROUP BY 1)
         |SELECT t.doc_id, coalesce(sh.n_shared, 0) AS n_shared,
         |  coalesce(sh.n_shared, 0) > 0 AS contaminated
         |FROM t LEFT JOIN sh ON t.doc_id = sh.doc_id""".stripMargin
    },
    "p49_stream_decontaminate" -> {
      // identical semantics to p20 (the streaming flag counts the same
      // distinct shared grams), over the doc_id % 89 == 0 eval slice
      val gram13 = (0 until 13).map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 12, 1) + 1), i -> $gram13))) AS gram FROM t),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0),
         |sh AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
         |  FROM g JOIN ev USING (gram) GROUP BY 1)
         |SELECT t.doc_id, coalesce(sh.n_shared, 0) AS n_shared,
         |  coalesce(sh.n_shared, 0) > 0 AS contaminated
         |FROM t LEFT JOIN sh ON t.doc_id = sh.doc_id""".stripMargin
    },
    "p19_repetition" ->
      // Gopher-style repetition filters: top-bigram char fraction and
      // duplicate-5-gram char fraction over the normalized word join
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |base AS (SELECT doc_id, ws, len(array_to_string(ws, ' ')) AS total FROM t),
        |g2c AS (SELECT doc_id, g, count(*) AS c, any_value(total) AS total FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS g, total FROM base) GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, c * len(g)::DOUBLE / total AS frac,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM g2c),
        |g5c AS (SELECT doc_id, g, count(*) AS c, any_value(total) AS total FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
        |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) AS g, total
        |  FROM base WHERE len(ws) >= 5) GROUP BY doc_id, g),
        |dup5 AS (SELECT doc_id,
        |  SUM(CASE WHEN c > 1 THEN c * len(g) ELSE 0 END)::DOUBLE / any_value(total) AS frac
        |  FROM g5c GROUP BY doc_id)
        |SELECT b.doc_id, round(coalesce(t2.frac, 0), 6) AS top2_frac,
        |  round(coalesce(d5.frac, 0), 6) AS dup5_frac
        |FROM base b
        |LEFT JOIN (SELECT doc_id, frac FROM top2 WHERE rn = 1) t2 ON b.doc_id = t2.doc_id
        |LEFT JOIN dup5 d5 ON b.doc_id = d5.doc_id""".stripMargin,
    "p07_minhash_lsh" ->
      // full re-derivation of the MinHash+banding path: fnv64 shingle hash
      // mod 2^31-1, 32 affine min-hashes, 8 bands of 4 rows; candidate
      // pairs are docs sharing any band's slice (band-content equality ≡
      // the engine's xxhash64 band-bucket join, which is collision-free at
      // any realistic corpus size)
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   range(1, greatest(len(ws) - 2, 1) + 1),
         |   i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shs FROM t),
         |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
         |hsu AS (SELECT doc_id, ${fnv64Sql("s")} AS u FROM shx),
         |-- floorMod on the SIGNED 64-bit hash, mirroring the engine's
         |-- java.lang.Math.floorMod(fnv64(sh), P): 2^64 mod (2^31-1) = 4,
         |-- so folding the unsigned value would drift by 4 whenever the
         |-- hash's top bit is set
         |hs AS (SELECT doc_id, CAST(
         |  ((CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
         |     ELSE u END) % 2147483647 + 2147483647) % 2147483647
         |  AS BIGINT) AS h FROM hsu),
         |sig AS (SELECT doc_id, k.k, MIN(((2*k.k+1)*h + 31*k.k+7) % 2147483647) AS mh
         |  FROM hs, range(0,32) k(k) GROUP BY 1,2),
         |sigl AS (SELECT doc_id, list(mh ORDER BY k) AS sg FROM sig GROUP BY 1),
         |banded AS (SELECT doc_id, b.b, sg[b.b*4+1:b.b*4+4] AS sl FROM sigl, range(0,8) b(b))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id""".stripMargin,
    "p47_stream_neardedup" ->
      // the p07 signature/banding re-derivation, then: admitted = the
      // doc is the bucket MINIMUM in every band (band-content equality
      // ≡ the engine's xxhash64 buckets, collision-free at this scale)
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |   range(1, greatest(len(ws) - 2, 1) + 1),
         |   i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shs FROM t),
         |shx AS (SELECT doc_id, unnest(shs) AS s FROM sh),
         |hsu AS (SELECT doc_id, ${fnv64Sql("s")} AS u FROM shx),
         |hs AS (SELECT doc_id, CAST(
         |  ((CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
         |     ELSE u END) % 2147483647 + 2147483647) % 2147483647
         |  AS BIGINT) AS h FROM hsu),
         |sig AS (SELECT doc_id, k.k, MIN(((2*k.k+1)*h + 31*k.k+7) % 2147483647) AS mh
         |  FROM hs, range(0,32) k(k) GROUP BY 1,2),
         |sigl AS (SELECT doc_id, list(mh ORDER BY k) AS sg FROM sig GROUP BY 1),
         |banded AS (SELECT doc_id, b.b, sg[b.b*4+1:b.b*4+4] AS sl FROM sigl, range(0,8) b(b)),
         |wins AS (SELECT b, sl, MIN(doc_id) AS w FROM banded GROUP BY 1, 2)
         |SELECT banded.doc_id, bool_and(banded.doc_id = wins.w) AS admitted
         |FROM banded JOIN wins ON banded.b = wins.b AND banded.sl = wins.sl
         |GROUP BY 1""".stripMargin,
    "p08_simhash" ->
      // per-word fnv64, per-bit occurrence-weighted majority vote, signed
      // 64-bit reassembly — mirrors Dedup.simhash exactly
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |wd AS (SELECT doc_id, unnest(ws) AS w FROM t),
         |h AS (SELECT doc_id, ${fnv64Sql("w")} AS h FROM wd),
         |bits AS (SELECT doc_id, r.bit,
         |  SUM(CASE WHEN (h // (CAST(1 AS HUGEINT) << CAST(r.bit AS INTEGER))) % 2 = 1
         |    THEN 1 ELSE -1 END) AS s
         |  FROM h, range(0,64) r(bit) GROUP BY 1,2),
         |sig0 AS (SELECT doc_id AS sid,
         |  SUM(CASE WHEN s > 0 THEN (CAST(1 AS HUGEINT) << CAST(bit AS INTEGER))
         |    ELSE CAST(0 AS HUGEINT) END) AS u FROM bits GROUP BY 1)
         |SELECT t.doc_id, CAST(CASE WHEN coalesce(u, 0) >= 9223372036854775808
         |  THEN u - 18446744073709551616 ELSE coalesce(u, 0) END AS BIGINT) AS sig
         |FROM t LEFT JOIN sig0 ON t.doc_id = sig0.sid""".stripMargin,
    "p12_multimodal_features" ->
      // closed-form pixel stats of the synthetic grayscale PNGs — checks
      // the engine's ImageIO encode→decode round-trip without DuckDB
      // needing a codec (PNG is lossless)
      """WITH dims AS (SELECT doc_id, doc_id % 64 + 16 AS width,
        |  doc_id % 48 + 16 AS height FROM documents),
        |px AS (SELECT doc_id, width, height,
        |  (doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
        |  FROM dims, range(0, 80) x(x), range(0, 64) y(y)
        |  WHERE x.x < width AND y.y < height)
        |SELECT doc_id, width, height, 1 AS channels, round(AVG(v), 4) AS mean,
        |  MIN(v) AS p_min, MAX(v) AS p_max
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    "p11_embed_near_dups" ->
      // hyperplane bucket from the same deterministic planes (embedded as
      // double literals) + cosine threshold — the p09 list_cosine precedent
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(4, 64))} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin,
    "p51_embed_dedup_default" ->
      // the default surface derives planes = autoPlanes(count(*)); with
      // the verify corpus under the default targetBucket (2000) that is
      // exactly 1 plane — the oracle re-derives that plane's buckets
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(1, 64))} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin,
    "p50_embed_multiprobe" ->
      // the hamming-ball TRUTH (bit_count of the signature XOR), with no
      // probe masks involved — completeness AND soundness of the probe
      // enumeration in one hash compare
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 400),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(6, 64))} AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.bucket::BIGINT, b.bucket::BIGINT)) <= 2
         |  AND list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin,
    "p01_dedup_exact" ->
      "SELECT min(doc_id) AS rep_id, count(*) AS n_copies FROM documents GROUP BY text",
    // chunk-level first-occurrence dedup re-derived: same 8-word windows,
    // same (doc_id, chunk_idx) global order
    "p22_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |  array_to_string(w[(CAST(i AS BIGINT)*8+1):(CAST(i AS BIGINT)*8+8)], ' ') AS chunk
        |  FROM d, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)),
        |r AS (SELECT doc_id, chunk,
        |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS total_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks
        |FROM r GROUP BY doc_id""".stripMargin,
    "p03_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         | FROM documents)
         |SELECT doc_id, $qualitySql AS quality FROM t""".stripMargin,
    "p14_ivf_topk" ->
      // nProbe = numClusters probes exhaustively → exact == brute force
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "p30_pq_adc_topk" ->
      // exhaustive ADC shortlist + exact re-rank == brute force
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "p31_bpe_invariants" ->
      // the word layer recomputed independently: counts and character
      // totals must match the BPE token stream's invariants exactly
      """WITH t AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   w -> len(w) > 0) AS ws
        | FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        | CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |   AS BIGINT) AS n_chars
        |FROM t""".stripMargin,
    "p32_temperature_mix" ->
      // per-domain cut re-derived: rate = (mn/cnt)^(1-1/T) with T=2; the
      // smallest domain (rate 1.0, 9-hex cut) keeps every row explicitly
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |thr AS (SELECT lang, cnt, mn,
        |  CAST(floor(pow(CAST(mn AS DOUBLE) / cnt, 0.5)
        |    * 4294967296.0) AS BIGINT) AS cut
        | FROM c, m),
        |thr2 AS (SELECT lang, cut,
        |  lpad(lower(hex(cut)), 8, '0') AS t FROM thr)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN thr2 ON d.lang = thr2.lang
        |WHERE thr2.cut >= 4294967296 OR substr(md5(d.text), 1, 8) < thr2.t""".stripMargin,
    "p33_bigram_perplexity" ->
      // full model replay: same BOS-prepended word layer, same add-one
      // bigram smoother, same integer micro-nat terms; the average stays
      // integer (floor of an IEEE division of identical integers) —
      // round()ed floats would diverge on 7th-digit ties
      """WITH t AS (SELECT doc_id,
        | list_prepend('<s>', list_filter(string_split_regex(lower(text),
        |   '[^a-z0-9]+'), w -> len(w) > 0)) AS ws
        | FROM documents),
        |bg AS (SELECT doc_id, unnest(list_zip(list_slice(ws, 1, len(ws)-1),
        |   list_slice(ws, 2, len(ws)))) AS p
        | FROM t WHERE len(ws) >= 2),
        |bg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1,
        |   struct_extract(p, 2) AS w2 FROM bg),
        |g AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg2 GROUP BY 1,2,3),
        |mb AS (SELECT w1, w2, sum(cnt) AS cb FROM g GROUP BY 1,2),
        |mc AS (SELECT w1, sum(cb) AS cu FROM mb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS vv FROM mb),
        |terms AS (SELECT g.doc_id, g.cnt,
        |   CAST(floor(ln((CAST(mb.cb AS DOUBLE) + 1.0) /
        |     (CAST(mc.cu AS DOUBLE) + CAST(v.vv AS DOUBLE)))
        |     * 1000000.0) AS BIGINT) AS tm
        | FROM g JOIN mb USING (w1, w2) JOIN mc USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(-sum(cnt * tm) AS BIGINT) AS nll_micro,
        |  CAST(floor(CAST(-sum(cnt * tm) AS DOUBLE) /
        |    CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS avg_nll_micro
        |FROM terms GROUP BY 1""".stripMargin,
    "p35_dsir_weights" ->
      // full replay: same word layer, same fnv64 bucket mask, same
      // add-one smoothed log-ratio in integer micro-nats
      s"""WITH t AS (SELECT doc_id, lang,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |   w -> len(w) > 0) AS ws
         | FROM documents),
         |bg AS (SELECT doc_id, lang,
         |   unnest(list_zip(list_slice(ws, 1, len(ws)-1),
         |     list_slice(ws, 2, len(ws)))) AS p
         | FROM t WHERE len(ws) >= 2),
         |bg2 AS (SELECT doc_id, lang,
         |   struct_extract(p, 1) || ' ' || struct_extract(p, 2) AS s FROM bg),
         |bk AS (SELECT doc_id, lang,
         |   CAST(${fnv64Sql("s")} % 4096 AS BIGINT) AS b FROM bg2),
         |g AS (SELECT doc_id, lang, b, count(*) AS cnt FROM bk GROUP BY 1,2,3),
         |rbt AS (SELECT b, sum(cnt) AS rb FROM g GROUP BY 1),
         |tbt AS (SELECT b, sum(cnt) AS tb FROM g WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT (SELECT sum(rb) FROM rbt) AS tr,
         |   (SELECT coalesce(sum(tb), 0) FROM tbt) AS tt),
         |terms AS (SELECT g.doc_id, g.cnt,
         |   CAST(floor(ln(
         |     (CAST(coalesce(tbt.tb, 0) + 1 AS DOUBLE)
         |       * CAST(tot.tr + 4096 AS DOUBLE)) /
         |     (CAST(rbt.rb + 1 AS DOUBLE)
         |       * CAST(tot.tt + 4096 AS DOUBLE)))
         |     * 1000000.0) AS BIGINT) AS tm
         | FROM g JOIN rbt USING (b) LEFT JOIN tbt USING (b) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |  CAST(sum(cnt * tm) AS BIGINT) AS logw_micro,
         |  CAST(floor(CAST(sum(cnt * tm) AS DOUBLE) /
         |    CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS avg_logw_micro
         |FROM terms GROUP BY 1""".stripMargin,
    "p37_ivfpq_topk" ->
      // exhaustive probes + exhaustive shortlist → exact == brute force
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "p36_exact_quantiles" ->
      // DuckDB's own exact quantile_disc as the oracle (list form +
      // parallel unnest); rank rule max(1, ceil(q*n)) on both engines
      """WITH t AS (SELECT lang,
        |  [0.1, 0.5, 0.9, 0.99] AS ql,
        |  quantile_disc(n_chars, [0.1, 0.5, 0.9, 0.99]) AS vl
        | FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT lang, unnest(ql) AS q, unnest(vl) AS value FROM t""".stripMargin,
    "p38_trigram_perplexity" ->
      // full replay of the interpolated model as ONE WINDOW PASS over the
      // trigram positions (count() OVER per n-gram slice) — the naive
      // 6-way CTE join form made DuckDB's inlining planner explode; the
      // windowed form computes identical counts in under a second.
      // Addition order mirrors the engine's left-associative interpolation
      """WITH t AS (SELECT doc_id,
        | list_prepend('<s>', list_prepend('<s>',
        |   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |     w -> len(w) > 0))) AS ws
        | FROM documents),
        |tg AS (SELECT doc_id, unnest(list_zip(
        |   list_slice(ws, 1, len(ws)-2), list_slice(ws, 2, len(ws)-1),
        |   list_slice(ws, 3, len(ws)))) AS p
        | FROM t WHERE len(ws) >= 3),
        |tg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1,
        |   struct_extract(p, 2) AS w2, struct_extract(p, 3) AS w3 FROM tg),
        |w AS (SELECT doc_id,
        |  count(*) OVER (PARTITION BY w1, w2, w3) AS c3,
        |  count(*) OVER (PARTITION BY w1, w2) AS c2ctx,
        |  count(*) OVER (PARTITION BY w2, w3) AS cbg,
        |  count(*) OVER (PARTITION BY w2) AS c1ctx,
        |  count(*) OVER (PARTITION BY w3) AS c1,
        |  count(*) OVER () AS n
        | FROM tg2),
        |terms AS (SELECT doc_id, CAST(floor(ln(
        |    0.5 * (CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE))
        |  + 0.3 * (CAST(cbg AS DOUBLE) / CAST(c1ctx AS DOUBLE))
        |  + 0.15 * (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
        |  + 0.05 / CAST((SELECT count(DISTINCT w3) FROM tg2) AS DOUBLE))
        |  * 1000000.0) AS BIGINT) AS tm
        | FROM w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(-sum(tm) AS BIGINT) AS nll_micro,
        |  CAST(floor(CAST(-sum(tm) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_nll_micro
        |FROM terms GROUP BY 1""".stripMargin,
    "p34_semdedup" ->
      // all-pairs replay of the numClusters = 1 degenerate case: kept ⇔
      // no smaller-id neighbour at/above the cosine threshold
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT b.vec_id AS id, max(list_cosine_similarity(a.v, b.v)) AS mc
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id GROUP BY 1)
        |SELECT e.vec_id, round(m.mc, 6) AS max_cos,
        |  (m.mc IS NULL OR m.mc < 0.35) AS kept
        |FROM e LEFT JOIN m ON e.vec_id = m.id""".stripMargin,
    "p39_clean_with_lm" -> {
      val parts = langIdSql.split("\\|")
      val cleanSql = s"""WITH t AS (SELECT doc_id, text,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws,
         | row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         | FROM documents),
         |scored AS (SELECT doc_id, text, ws, rn, ${parts(0)},
         | $qualitySql AS quality,
         | CASE WHEN length(trim(text)) = 0 THEN 0
         |  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
         | FROM t)
         |SELECT doc_id, (${parts(1)}).l AS lang_guess, n_tokens, quality
         |FROM scored WHERE rn = 1 AND quality >= 0.3
         | AND (${parts(1)}).l IN ('de', 'en', 'es', 'fr', 'zh')""".stripMargin
      val pplSql = """WITH t AS (SELECT doc_id,
        | list_prepend('<s>', list_filter(string_split_regex(lower(text),
        |   '[^a-z0-9]+'), w -> len(w) > 0)) AS ws
        | FROM documents),
        |bg AS (SELECT doc_id, unnest(list_zip(list_slice(ws, 1, len(ws)-1),
        |   list_slice(ws, 2, len(ws)))) AS p
        | FROM t WHERE len(ws) >= 2),
        |bg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1,
        |   struct_extract(p, 2) AS w2 FROM bg),
        |g AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM bg2 GROUP BY 1,2,3),
        |mb AS (SELECT w1, w2, sum(cnt) AS cb FROM g GROUP BY 1,2),
        |mc AS (SELECT w1, sum(cb) AS cu FROM mb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS vv FROM mb),
        |terms AS (SELECT g.doc_id, g.cnt,
        |   CAST(floor(ln((CAST(mb.cb AS DOUBLE) + 1.0) /
        |     (CAST(mc.cu AS DOUBLE) + CAST(v.vv AS DOUBLE)))
        |     * 1000000.0) AS BIGINT) AS tm
        | FROM g JOIN mb USING (w1, w2) JOIN mc USING (w1) CROSS JOIN v)
        |SELECT doc_id,
        |  CAST(floor(CAST(-sum(cnt * tm) AS DOUBLE) /
        |    CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS avg_nll_micro
        |FROM terms GROUP BY 1""".stripMargin
      s"""WITH clean AS ($cleanSql),
         |ppl AS ($pplSql)
         |SELECT c.doc_id, c.lang_guess, c.n_tokens, c.quality,
         |  p.avg_nll_micro
         |FROM clean c JOIN ppl p USING (doc_id)
         |WHERE p.avg_nll_micro <= 3400000""".stripMargin
    },
    "p15_corpus_clean" -> {
      val parts = langIdSql.split("\\|")
      s"""WITH t AS (SELECT doc_id, text,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws,
         | row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         | FROM documents),
         |scored AS (SELECT doc_id, text, ws, rn, ${parts(0)},
         | $qualitySql AS quality,
         | CASE WHEN length(trim(text)) = 0 THEN 0
         |  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
         | FROM t)
         |SELECT doc_id, (${parts(1)}).l AS lang_guess, n_tokens, quality
         |FROM scored WHERE rn = 1 AND quality >= 0.3
         | AND (${parts(1)}).l IN ('de', 'en', 'es', 'fr', 'zh')""".stripMargin
    },
    "p23_pii_scrub" -> {
      // generate the regexp_replace chain from the SAME pattern table the
      // kernel folds over — order and pattern text provably identical
      val scrubbed = graft.pipeline.TextAnalysis.piiPatterns
        .foldLeft("dirty") { case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '$pat', '$repl', 'g')"
        }
      s"""WITH dirty AS (SELECT doc_id,
         | text || ' contact user' || doc_id || '@ex' || (doc_id % 7)
         |  || '.org or 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
         |  || ' card 411111111111' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |  || ' tel +1 (555) 123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |  AS dirty
         | FROM documents)
         |SELECT doc_id, $scrubbed AS clean FROM dirty""".stripMargin
    },
    "p24_tfidf_topk" ->
      """WITH w AS (SELECT doc_id,
        | unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   x -> len(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, tf, df,
        |  round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfx USING (term), n),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 5""".stripMargin,
    "p25_seq_pack" ->
      // exclusive-prefix cumsum over the id-ordered token stream, windows
      // of 512; DuckDB widens SUM(BIGINT) to HUGEINT → explicit casts
      """WITH t AS (SELECT doc_id,
        | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        | CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        | FROM t)
        |SELECT doc_id, n_tokens, tok_start,
        | tok_start // 512 AS first_seq,
        | CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
        |  ELSE tok_start // 512 END AS last_seq,
        | CASE WHEN n_tokens > 0
        |  THEN (tok_start + n_tokens - 1) // 512 - tok_start // 512 + 1
        |  ELSE CAST(0 AS BIGINT) END AS n_seqs
        |FROM c""".stripMargin,
    "p26_stratified_sample" ->
      // per-stratum 2^32 hash cut re-derived from the counts; the smallest
      // stratum (rate 1.0, 9-hex-digit cut) keeps every row explicitly
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |thr AS (SELECT lang, cnt, mn,
        |  lpad(lower(hex(CAST(floor(CAST(mn AS DOUBLE) / cnt * 4294967296.0)
        |    AS BIGINT))), 8, '0') AS t
        | FROM c, m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE thr.cnt = thr.mn OR substr(md5(d.text), 1, 8) < thr.t""".stripMargin,
    "p27_trigram_familiarity" ->
      // char trigrams of lower(text); familiarity = fraction occurring
      // >= 5 times corpus-wide — integer counts + one IEEE division only
      """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |   range(1, CASE WHEN length(lt) >= 3 THEN length(lt) - 1 ELSE 1 END),
        |   i -> substr(lt, CAST(i AS INTEGER), 3))) AS tg
        | FROM t),
        |dfx AS (SELECT tg, count(*) AS c FROM g GROUP BY 1),
        |j AS (SELECT doc_id, CASE WHEN c >= 5 THEN 1 ELSE 0 END AS common
        | FROM g JOIN dfx USING (tg))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        | CAST(sum(common) AS BIGINT) AS n_common,
        | round(CAST(sum(common) AS DOUBLE) / count(*), 6) AS familiarity
        |FROM j GROUP BY 1""".stripMargin,
    "p29_gopher_quality" ->
      // Gopher-style shape statistics: integer counts + single divisions,
      // gate evaluated on the ROUNDED values in both engines
      """WITH t AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |   w -> len(w) > 0) AS ws,
        | lower(text) AS lt
        | FROM documents),
        |s AS (SELECT doc_id,
        | CAST(len(ws) AS BIGINT) AS n_words,
        | CASE WHEN len(ws) > 0 THEN round(CAST(list_sum(list_transform(ws,
        |   w -> CAST(len(w) AS BIGINT))) AS DOUBLE) / len(ws), 6) END AS mean_word_len,
        | CASE WHEN len(ws) > 0 THEN round(CAST(len(list_distinct(ws)) AS DOUBLE)
        |   / len(ws), 6) END AS frac_unique,
        | CASE WHEN length(lt) > 0 THEN round(
        |   CAST(length(regexp_replace(lt, '[a-z0-9\s]', '', 'g')) AS DOUBLE)
        |   / length(lt), 6) END AS symbol_frac
        | FROM t)
        |SELECT doc_id, n_words, mean_word_len, frac_unique, symbol_frac,
        | (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND frac_unique >= 0.2) AS passes
        |FROM s""".stripMargin,
    "p28_pca_norm" ->
      // centered squared norm per vector — what an orthonormal full-rank
      // projection must preserve (to Jacobi orthogonality error ~1e-13,
      // absorbed by the 3-decimal rounding)
      """WITH comp AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
        |mu AS (SELECT i, avg(v) AS m FROM comp GROUP BY 1),
        |cn AS (SELECT vec_id, sum((v - m) * (v - m)) AS n2
        | FROM comp JOIN mu USING (i) GROUP BY 1)
        |SELECT vec_id, round(n2, 3) AS norm2 FROM cn""".stripMargin,
    "p02_token_count" ->
      """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        | ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin,
    "p04_langid" -> {
      // argmax with 'later wins on >' exactly like the Spark fold
      val scoreSql = TextAnalysis.langMarkers.map { case (lang, markers) =>
        val inList = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(ws, w -> list_contains([$inList], w))) AS s_$lang"
      }.mkString(", ")
      val folded = TextAnalysis.langMarkers.map(_._1).drop(1)
        .foldLeft(s"struct_pack(score := s_${TextAnalysis.langMarkers.head._1}, l := '${TextAnalysis.langMarkers.head._1}')") {
          case (acc, lang) =>
            s"CASE WHEN s_$lang > ($acc).score THEN struct_pack(score := s_$lang, l := '$lang') ELSE $acc END"
        }
      s"""WITH t AS (SELECT doc_id,
         | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
         | FROM documents),
         |scored AS (SELECT doc_id, $scoreSql FROM t)
         |SELECT doc_id, ($folded).l AS lang_guess FROM scored""".stripMargin
    },
    "p05_fingerprint" ->
      """SELECT doc_id, list_reduce(
        | list_prepend(CAST(0 AS BIGINT), list_transform(
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0),
        |  w -> CAST(len(w) * 7 + ord(w[1]) AS BIGINT))),
        | (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
        |FROM documents""".stripMargin,
    "p18_deterministic_sample" ->
      s"""SELECT doc_id FROM documents
         |WHERE substr(md5(text), 1, 8) < '${graft.pipeline.Sampling.thresholdHex(0.25)}'""".stripMargin,
    "p41_line_boilerplate" ->
      """WITH lines AS (
        |  SELECT doc_id, unnest(range(1, len(parts) + 1)) AS pos,
        |         unnest(parts) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
        |        FROM documents)),
        |counts AS (
        |  SELECT line, count(DISTINCT doc_id) AS ndocs
        |  FROM lines GROUP BY line),
        |m AS (SELECT l.doc_id, l.pos, l.line, c.ndocs
        |      FROM lines l JOIN counts c USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN ndocs < 2 THEN line END,
        |    chr(10) ORDER BY pos), '') AS clean_text,
        |  count(CASE WHEN ndocs < 2 THEN 1 END) AS n_kept,
        |  count(CASE WHEN ndocs >= 2 THEN 1 END) AS n_removed
        |FROM m GROUP BY doc_id""".stripMargin,
    "p42_window_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, p AS pos, md5(substr(text, p + 1, 40)) AS h
        |  FROM documents,
        |       unnest(range(0, greatest(length(text) - 39, 0))) AS t(p)),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |      FROM w),
        |dup AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        |f AS (SELECT doc_id, pos,
        |        max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM dup),
        |i AS (SELECT doc_id, pos,
        |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |            THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM f),
        |s AS (SELECT doc_id, island, max(pos) + 40 - min(pos) AS len,
        |        count(*) AS nw
        |      FROM i GROUP BY doc_id, island),
        |pd AS (SELECT doc_id, sum(len) AS dup_chars, sum(nw) AS n_dup
        |       FROM s GROUP BY doc_id),
        |nw AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(nw.n_windows, 0) AS n_windows,
        |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(pd.dup_chars, 0) AS BIGINT) AS dup_chars
        |FROM documents d
        |LEFT JOIN nw USING (doc_id) LEFT JOIN pd USING (doc_id)""".stripMargin,
    "p46_gif_frames" ->
      """WITH g AS (SELECT doc_id, doc_id % 16 + 8 AS w, doc_id % 12 + 8 AS h
        |           FROM documents),
        |p AS (SELECT doc_id, w, h, f,
        |        sum((doc_id * 31 + x * 7 + y * 13 + f * 17) % 256) AS ps
        |      FROM g, unnest(range(0, 4)) AS tf(f),
        |           unnest(range(0, w)) AS tx(x),
        |           unnest(range(0, h)) AS ty(y)
        |      GROUP BY doc_id, w, h, f)
        |SELECT doc_id, CAST(f AS INT) AS frame, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(ps AS BIGINT) AS pix_sum,
        |  CAST(w * h AS BIGINT) AS n_pix
        |FROM p""".stripMargin,
    "p45_wav_features" ->
      """WITH s AS (SELECT doc_id, unnest(range(0, 160)) AS i FROM documents),
        |v AS (SELECT doc_id,
        |        ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS smp
        |      FROM s)
        |SELECT doc_id, count(*) AS n_samples,
        |  CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(smp)) AS BIGINT) AS peak,
        |  CAST(count(*) * 1000 // 16000 AS BIGINT) AS duration_ms
        |FROM v GROUP BY doc_id""".stripMargin,
    "p44_remove_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, p AS pos, md5(substr(text, p + 1, 40)) AS h
        |  FROM documents,
        |       unnest(range(0, greatest(length(text) - 39, 0))) AS t(p)),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |      FROM w),
        |dup AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        |f AS (SELECT doc_id, pos,
        |        max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM dup),
        |i AS (SELECT doc_id, pos,
        |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |            THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM f),
        |isl AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 40 AS e
        |        FROM i GROUP BY doc_id, island),
        |bef AS (SELECT doc_id,
        |          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
        |          s AS ge
        |        FROM isl),
        |tl AS (SELECT isl.doc_id, max(isl.e) AS gs,
        |         CAST(max(length(d.text)) AS BIGINT) AS ge
        |       FROM isl JOIN documents d USING (doc_id) GROUP BY isl.doc_id),
        |gaps AS (SELECT doc_id, gs, ge FROM bef
        |         UNION ALL SELECT doc_id, gs, ge FROM tl),
        |segs AS (SELECT g.doc_id, g.gs,
        |           substr(d.text, CAST(g.gs AS INT) + 1,
        |             CAST(g.ge - g.gs AS INT)) AS seg
        |         FROM gaps g JOIN documents d USING (doc_id)
        |         WHERE g.ge > g.gs),
        |st AS (SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS ct
        |       FROM segs GROUP BY doc_id),
        |hd AS (SELECT DISTINCT doc_id FROM isl)
        |SELECT d.doc_id,
        |  coalesce(st.ct,
        |    CASE WHEN hd.doc_id IS NOT NULL THEN '' ELSE d.text END)
        |    AS clean_text,
        |  CAST(length(d.text) - length(coalesce(st.ct,
        |    CASE WHEN hd.doc_id IS NOT NULL THEN '' ELSE d.text END))
        |    AS BIGINT) AS removed_chars
        |FROM documents d LEFT JOIN st USING (doc_id)
        |LEFT JOIN hd USING (doc_id)""".stripMargin,
    "p43_source_cap" ->
      """SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS src_rank,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20 AS kept
        |FROM documents""".stripMargin,
    "p40_near_dedup_keep" ->
      // p16's recursive closure + anti-join: keep representatives and
      // everything outside any cluster
      """WITH RECURSIVE d AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        | FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 1) + 1),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s FROM d),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE len(list_intersect(a.s, b.s)) > 0),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, rep) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT e.src, w.rep FROM edges e JOIN walk w ON w.id = e.dst),
        |clusters AS (SELECT id AS doc_id, min(rep) AS rep_id FROM walk GROUP BY 1)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> rep_id)""".stripMargin,
    "p16_dup_clusters" ->
      // transitive closure of the >=0.5-Jaccard pairs via recursive CTE;
      // rep = min reachable id (the same fixpoint min-label propagation
      // computes distributively)
      """WITH RECURSIVE d AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        | FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 1) + 1),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s FROM d),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE len(list_intersect(a.s, b.s)) > 0),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, rep) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT e.src, w.rep FROM edges e JOIN walk w ON w.id = e.dst)
        |SELECT id AS doc_id, min(rep) AS rep_id FROM walk GROUP BY 1""".stripMargin,
    "p06_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id,
        | list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> len(w) > 0) AS ws
        | FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 1) + 1),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS s FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |  / greatest(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) > 0""".stripMargin,
    "p09_embed_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "p10_embed_lsh_topk" ->
      // radius-0 LSH: candidates share the exact hyperplane bucket — the
      // planes embed as double literals (the p11 precedent), so DuckDB
      // re-derives the bucket join and the in-bucket cosine ranking
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, ${bucketSql(Similarity.randomPlanes(4, 64))} AS bucket FROM e),
         |scored AS (
         | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
         | FROM sig q JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         | WHERE q.vec_id IN (0, 1, 2)),
         |ranked AS (SELECT *, row_number() OVER
         | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
         |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "p21_lsh_probe_containment" ->
      """SELECT CAST(r AS BIGINT) AS radius, CAST(0 AS BIGINT) AS n_missing,
        | CAST(0 AS BIGINT) AS n_extra
        |FROM (VALUES (1), (2), (3)) AS t(r)""".stripMargin,
    "p17_multiprobe_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
        | FROM e q JOIN e c ON c.vec_id <> q.vec_id
        | WHERE q.vec_id IN (0, 1, 2)),
        |ranked AS (SELECT *, row_number() OVER
        | (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank FROM scored)
        |SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "p13_stream_vs_batch" ->
      """SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type,
        | count(*) AS n, round(sum(value), 4) AS total FROM events GROUP BY 1, 2""".stripMargin
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose kernels (xxhash64,
    * JVM-seeded hyperplanes, binary payload kernels) an external engine
    * cannot reproduce → driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    relationalOracles ++ temporalOracles ++ rasterOracles ++ zonalOraclesSql ++
      geometryOracles ++ pipelineOracles
}
