package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
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

  /** `body`'s result, the Spark jobs it started and the shuffle bytes its
    * tasks wrote, counted from a drained listener bus on both sides. */
  def sparkWork[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) shuffle.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val res = body
      org.apache.spark.TestBus.drain(sc)
      (res, jobs.get, shuffle.get)
    } finally sc.removeSparkListener(listener)
  }
}
