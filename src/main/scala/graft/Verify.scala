package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each lane's result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local debugging only; the driver passes two):
    // comma-separated lane names — dump and list just those
    val lanes = Lanes.select(args.lift(2))
    // SPARK_GRAFT_MASTER=local-cluster[4,8,4096] runs the SAME contract
    // multi-JVM (separate executor processes) to flush single-JVM
    // assumptions — broadcast thresholds, lineage, task-commit races
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    lanes.foreach { lane =>
      try lane.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${lane.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${lane.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = lanes.map(l => s"${q(l.name)}: ${q(l.oracle)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
