package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.ofRows` and `LogicalRDD.fromDataset` are `private[sql]`, and no
  * public API builds a DataFrame from an `RDD[InternalRow]` without
  * converting every row; this shim is the library's only file in Spark's
  * packages (`SparkInternalsPinSpec`), so a Spark upgrade has one file to
  * check. */
object LeafFrames {

  /** A DataFrame whose plan is one `LogicalRDD` over `rows`, with `frame`'s
    * output attributes, the partitioning and ordering of its executed plan,
    * and its statistics. `rows` must be `frame`'s executed rows
    * (`frame.queryExecution.toRdd`, copied). */
  def over(rows: RDD[InternalRow], frame: DataFrame): DataFrame = {
    val ds = frame.asInstanceOf[ClassicDataset[Row]]
    ClassicDataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
