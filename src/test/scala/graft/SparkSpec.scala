package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    // explicit master and cpus: the suites keep their parallelism
    // whatever SPARK_GRAFT_CPUS/SPARK_GRAFT_MASTER the shell sets
    val s = Sessions.local(cpus = 4, master = Some("local[4]"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
}
