package graft
package contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.streaming.EventStream
import QueryLib._

/** The relational and temporal lanes (q): joins, aggregates, windows,
  * as-of and interval joins over the TPC-H-style tables and the events
  * stream, each with its DuckDB oracle. */
object Relational {
  val lanes: Seq[Lane] = Seq(
    // Money sums go through DECIMAL(18,2): float partial-aggregate order
    // differs between Spark and DuckDB, and a ulp can flip the 2-decimal
    // rounding. The decimal sum is exact (order-insensitive) on both sides.
    Lane("q01_pricing_summary", (s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("sum_price"),
          round(sum(col("l_discount").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        | count(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin),
    Lane("q02_join_revenue", (s, dir) => {
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val n = tbl(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
    },
      """SELECT n_name, CAST(round(sum(
        |  CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin),
    Lane("q03_broadcast_filter", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").filter(col("p_size") < 20)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"), count(lit(1)).as("n"))
    },
      """SELECT p_brand, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |  AS total, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size < 20 GROUP BY 1""".stripMargin),
    Lane("q04_window_topn", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    },
      """SELECT o_custkey, o_orderkey, rnk FROM (
        | SELECT o_custkey, o_orderkey, row_number() OVER
        |  (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        | FROM orders) WHERE rnk <= 3""".stripMargin),
    Lane("q05_semi_join", (s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY 1""".stripMargin),
    Lane("q06_anti_join", (s, dir) => {
      val p = tbl(s, dir, "part"); val li = tbl(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_brand"))
    },
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin),
    Lane("q07_distinct_agg", (s, dir) => {
      val li = tbl(s, dir, "lineitem"); val sup = tbl(s, dir, "supplier")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_sup"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },
      """SELECT s_nationkey, count(DISTINCT l_suppkey) AS n_sup,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1""".stripMargin),
    Lane("q08_sort_limit", (s, dir) => {
      tbl(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""".stripMargin),
    Lane("q09_conditional_agg", (s, dir) => {
      tbl(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          round(sum(when(col("o_orderstatus") === "O", col("o_totalprice"))
            .otherwise(0.0).cast("decimal(18,2)")), 2).cast("double").as("open_total"))
    },
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(round(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END
        |  AS DECIMAL(18,2))), 2) AS DOUBLE) AS open_total
        |FROM orders GROUP BY 1""".stripMargin),
    Lane("q10_grouping_sets", (s, dir) => {
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"))
    },
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),
    // ----------------------------------------------- temporal / streaming
    Lane("q11_stream_window", (s, dir) => EventStream.batch(s, dir, "1 hour"),
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        | round(sum(value), 4) AS total FROM events GROUP BY 1, 2""".stripMargin),
    Lane("q12_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("running", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("running"))
    },
      """SELECT event_id, user_id, round(sum(value) OVER
        | (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running FROM events""".stripMargin),
    Lane("q14_sessionize", (s, dir) =>
      graft.streaming.Sessionize.batch(tbl(s, dir, "events"), 30),
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
        |FROM sess GROUP BY 1, 2""".stripMargin),
    Lane("q15_asof_join", (s, dir) => {
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
    },
      """WITH o1 AS (
        | SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |   ORDER BY o_orderkey DESC) AS rn
        | FROM orders QUALIFY rn = 1)
        |SELECT event_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM events ASOF LEFT JOIN o1
        | ON user_id = o_custkey AND ts >= o_orderdate""".stripMargin),
    Lane("q17_range_join", (s, dir) => {
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
    },
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |c AS (SELECT a.event_id, count(*) AS n_near
        |      FROM e a JOIN e b ON a.user_id = b.user_id
        |        AND b.event_id <> a.event_id
        |        AND abs(b.us - a.us) <= 43200000000
        |      GROUP BY a.event_id)
        |SELECT e.event_id, CAST(coalesce(c.n_near, 0) AS BIGINT) AS n_near
        |FROM e LEFT JOIN c USING (event_id)""".stripMargin),
    Lane("q18_interval_join", (s, dir) => {
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
    },
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
        |FROM e LEFT JOIN c USING (event_id)""".stripMargin),
    Lane("q13_asof_ffill", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("last_purchase",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .select(col("event_id"), round(coalesce(col("last_purchase"), lit(-1.0)), 4)
          .as("last_purchase"))
    },
      """SELECT event_id, round(coalesce(last_value(CASE WHEN event_type = 'purchase'
        | THEN value END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0), 4) AS last_purchase
        |FROM events""".stripMargin)
  )
}
