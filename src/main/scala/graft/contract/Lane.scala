package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver lane: `build` lowers its query over the tables in a scale
  * directory, and `oracle` is the DuckDB SQL over the same parquet tables
  * that `tools/check_oracle.py` hash-matches the result against. The first
  * letter of `name` is the lane's family: q, r, z, g or p. */
final case class Lane(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)
