package graft

import org.apache.spark.sql.SparkSession

/** How every entry point and the test suite make their SparkSession. */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A session on `master` (default `SPARK_GRAFT_MASTER`, else
    * `local[cpus]`) with `cpus` shuffle partitions, the UTC session zone,
    * parquet nanos read as longs, no NTZ inference and no UI.
    * `SPARK_GRAFT_MASTER=local-cluster[4,8,4096]` runs the same code on
    * separate executor JVMs, which need this build's classes. */
  def local(cpus: Int = envCpus,
      master: Option[String] = sys.env.get("SPARK_GRAFT_MASTER")): SparkSession = {
    val m = master.getOrElse(s"local[$cpus]")
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    if (m.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath",
        sys.props.getOrElse("java.class.path", ""))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
