package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.contract.{Geometry, Lane, Pipeline, Raster, Relational, Zonal}
import QueryLib.tbl

/** Driver contract (SURVEY §7). `entry` is the flagship query. `lanes` is
  * the registry of every driver lane: one record of its query and its
  * DuckDB oracle, one file per family under `graft/contract/`. `queries`
  * and `oracleSql` are name-keyed views of it for the drivers. */
object SparkEntry {

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

  /** Every lane, in registry order: families q, r, z, g, p. */
  val lanes: Seq[Lane] = Relational.lanes ++ Raster.lanes ++ Zonal.lanes ++
    Geometry.lanes ++ Pipeline.lanes

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    lanes.map(l => l.name -> l.build).toMap

  val oracleSql: Map[String, String] = lanes.map(l => l.name -> l.oracle).toMap
}
