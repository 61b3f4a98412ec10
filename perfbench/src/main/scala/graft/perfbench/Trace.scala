package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run: one `SparkListener` for jobs,
  * stages and task metrics, one `QueryExecutionListener` for the Catalyst
  * phases of each action. Callers take a [[Trace.Counts]] snapshot before
  * and after a span and subtract; [[Trace.drain]] first waits until the
  * listener bus has delivered every event of the finished span. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(Trace.NumFields)(new AtomicLong)
  private def add(f: Int, v: Long): Unit = c(f).addAndGet(v)
  private def max(f: Int, v: Long): Unit = c(f).accumulateAndGet(v, math.max)

  override def onJobStart(e: SparkListenerJobStart): Unit = add(Trace.Jobs, 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Trace.Stages, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Trace.Tasks, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(Trace.TaskCpuNs, m.executorCpuTime)
      add(Trace.TaskRunMs, m.executorRunTime)
      add(Trace.GcMs, m.jvmGCTime)
      add(Trace.ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      add(Trace.SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(Trace.InputBytes, m.inputMetrics.bytesRead)
      max(Trace.PeakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    add(Trace.AnalysisMs, ms("analysis"))
    add(Trace.OptimizeMs, ms("optimization"))
    add(Trace.PlanMs, ms("planning"))
    add(Trace.ActionNs, durationNs)
    lastPlan = qe.sparkPlan
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Physical plan (before AQE) of the latest successful action. */
  @volatile var lastPlan: SparkPlan = _

  def counts: Trace.Counts = new Trace.Counts(c.map(_.get))
  def resetPeak(): Unit = c(Trace.PeakExecMem).set(0)

  def install(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.asInstanceOf[classic.SparkSession].listenerManager.register(this)
    this
  }

  def uninstall(spark: SparkSession): Unit = {
    Trace.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.asInstanceOf[classic.SparkSession].listenerManager.unregister(this)
  }
}

object Trace {
  // counter slots
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskCpuNs = 3; val TaskRunMs = 4
  val GcMs = 5; val ShuffleWriteBytes = 6; val SpillBytes = 7; val InputBytes = 8
  val PeakExecMem = 9; val AnalysisMs = 10; val OptimizeMs = 11; val PlanMs = 12
  val ActionNs = 13
  val NumFields = 14

  /** Counter values at one instant; `-` gives the work of a span. The peak
    * is not a sum, so a span's peak is the later snapshot's (callers reset
    * it at the span start). */
  final class Counts(val v: Array[Long]) {
    def apply(f: Int): Long = v(f)
    def -(o: Counts): Counts = new Counts(v.indices.map { i =>
      if (i == PeakExecMem) v(i) else v(i) - o.v(i)
    }.toArray)
  }

  /** Wait until the listener bus has delivered every posted event, so a
    * snapshot taken after an action includes all of that action's tasks. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
