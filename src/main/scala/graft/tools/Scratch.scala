package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc probe template (not on any query or bench path): build the
  * pipeline under study through the public API in the body, then
  *
  *   runMain graft.tools.Scratch [sfDir]
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = graft.Sessions.local()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"SCRATCH $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    time("rows")(spark.read.parquet(s"$dir/events.parquet").count())
    spark.stop()
  }
}
