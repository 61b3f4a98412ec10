package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import graft.SparkEntry
import graft.perfbench.Main.{M, Opts, Outcome}

/** The `geo_batch` and `pipelines` workloads: whole-grid Block DAGs and
  * DataFrame pipelines from `SparkEntry.queries`, each lane lowered and then
  * materialized in full by a `noop` write of every column.
  *
  * A run is: a warmup (a correctness pass that writes each lane's result as
  * parquet for the DuckDB oracle check, then [[WarmRounds]] rounds of the
  * timed action; it fills the JIT and `FrameCache`), then timed passes,
  * each over every lane in a seeded order, until the run's seconds are
  * spent. The traced run replaces the timed passes with an untraced, a
  * traced and another untraced pass, all in one lane order, so the trace
  * can report its overhead.
  */
object Lanes {

  /** A fixed slice of the 111 r/g/z lanes, chosen from one traced pass of
    * every lane at this scale: the slice whose shares of lane time per
    * family (r, g, z) and layer (lowering, planning, execution) come
    * closest to the full set's, within about 5 s of lanes per pass. The
    * full set does not fit the per-run time budget. */
  val GeoBatch: Seq[String] = Seq(
    "g02_field_ops", "g04_classify_columns", "g06_choose", "g07_parse_text",
    "g33_dsv2_fgb_write", "g34_dsv2_fgb_envfilter", "g36_dsv2_fgb_propfilter",
    "r05_greater", "r09_log", "r10_clip", "r24_snap", "r31_place", "r39_xyz_roundtrip",
    "r58_zarr_sharded", "r68_dsv2_stream", "z02_zonal_threshold")

  /** The same for the 68 p/q lanes. */
  val Pipelines: Seq[String] = Seq(
    "p01_dedup_exact", "p03_quality", "p06_ngram_jaccard", "p10_embed_lsh_topk",
    "p16_dup_clusters", "p18_deterministic_sample", "p19_repetition", "p34_semdedup",
    "p38_trigram_perplexity", "p43_source_cap", "p45_wav_features",
    "q03_broadcast_filter", "q10_grouping_sets", "q12_running_sum")

  val Families: Seq[String] = Seq("r", "g", "z", "p", "q")

  /** Untimed rounds of every lane after the correctness pass. */
  val WarmRounds = 2

  private def lower(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(spark: SparkSession, o: Opts, lanes: Seq[String]): Outcome = {
    val dir = o.data.resolve("sf0.01").toString
    val rnd = new scala.util.Random(o.seed)
    val results = o.out.resolve("results")
    // warmup, lanes side by side on all cores: the correctness pass, whose
    // parquet results run.py checks, then more rounds of the timed action
    // until the JIT has seen each lane a few times; any failure aborts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def onAll(f: String => Unit): Unit =
      rnd.shuffle(lanes).map(name => pool.submit(() => { f(name); name })).foreach(_.get())
    try {
      onAll(name => lower(spark, dir, name).write.mode("overwrite")
        .parquet(results.resolve(name).toString))
      for (_ <- 1 to WarmRounds) onAll(name => materialize(lower(spark, dir, name)))
    } finally pool.shutdown()
    Files.writeString(results.resolve("oracle_sql.json"),
      JsonOut(lanes.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    val setupS = Main.uptimeS
    Main.log("warmup done")

    val times = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
    val execs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var failed = 0L
    /** One lane, lowered and materialized; a failure is counted, never timed. */
    def timedLane(name: String)(body: => Unit): Unit = {
      execs(name) += 1
      val t0 = System.nanoTime()
      try { body; times.getOrElseUpdate(name, ArrayBuffer()) += seconds(t0) }
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] lane $name failed: $e")
      }
    }
    /** Every lane once, in `order`; returns the pass's wall seconds and
      * lanes done. */
    def pass(order: Seq[String] = rnd.shuffle(lanes)): (Double, Int) = {
      val t0 = System.nanoTime()
      val failed0 = failed
      for (name <- order) timedLane(name)(materialize(lower(spark, dir, name)))
      (seconds(t0), lanes.size - (failed - failed0).toInt)
    }

    def extra = Map("lane_execs" -> execs.toMap)
    if (!o.trace) {
      val (t0, cpu0) = (System.nanoTime(), Main.cpuS)
      val passes = ArrayBuffer[(Double, Int)]()
      while (passes.isEmpty || seconds(t0) < o.seconds) passes += pass()
      val (wall, cpu) = (seconds(t0), Main.cpuS - cpu0)
      Main.log(s"timed passes done: ${passes.mkString(", ")}")
      val done = times.values.map(_.size).sum
      return Outcome(Seq(
        "setup_s" -> M(setupS, "s"),
        // per pass, as the JIT is still settling and passes are whole
        "ops_per_s" -> M(Main.quantile(passes.toSeq.map { case (s, n) => n / s }, 0.5), "1/s"),
        "cpu_ms_per_op" -> M(cpu * 1e3 / done, "ms")),
        execs.values.sum, failed, extra)
    }

    // all three passes in one order: a lane's time depends on what ran
    // before it (FrameCache entries, persisted frames)
    val order = rnd.shuffle(lanes)
    val (before, _) = pass(order)
    // lanes write their files (codec round trips, sinks) under the JVM temp
    // dir and never delete them, so its growth is what a lane wrote
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val trace = new Trace().install(spark)
    val fam = Families.map(f => f -> new FamilySums).toMap
    val cache0 = (graft.raster.FrameCache.hitCount.get, graft.raster.FrameCache.missCount.get)
    val t0 = System.nanoTime()
    for (name <- order) {
      val sums = fam(name.take(1))
      trace.resetPeak()
      val c0 = trace.counts
      val disk0 = diskBytes(tmp)
      timedLane(name) {
        val l0 = System.nanoTime()
        val df = lower(spark, dir, name)
        val lowerS = seconds(l0)
        Trace.drain(spark)
        val c1 = trace.counts
        val a0 = System.nanoTime()
        materialize(df)
        val actionS = seconds(a0)
        Trace.drain(spark)
        val c2 = trace.counts
        val act = c2 - c1
        val planS = (act(Trace.AnalysisMs) + act(Trace.OptimizeMs) + act(Trace.PlanMs)) / 1e3
        val timedPlan = trace.lastPlan
        require(udfCount(timedPlan) >= udfCount(df.queryExecution.sparkPlan),
          s"$name: the timed plan dropped a ScalaUDF of the declared result")
        sums.add(lowerS, (c1 - c0)(Trace.Jobs), planS, actionS - planS, c2 - c0,
          diskBytes(tmp) - disk0)
      }
    }
    val tracedS = seconds(t0)
    trace.uninstall(spark)
    // untraced passes on both sides, so the JIT's settling does not count
    // as tracing overhead
    val untracedS = (before + pass(order)._1) / 2
    val hits = graft.raster.FrameCache.hitCount.get - cache0._1
    val misses = graft.raster.FrameCache.missCount.get - cache0._2
    val spans = fam.values.map(f => f.lower + f.plan + f.exec).sum
    val layers = Families.flatMap(f => fam(f).metrics(f)) ++ Main.cacheMetrics(hits, misses) ++ Seq(
      "trace.overhead_pct" -> M((tracedS / untracedS - 1) * 100, "%"),
      "trace.span_coverage" -> M(spans / untracedS, "ratio"))
    Outcome(layers, execs.values.sum, failed, extra)
  }

  /** This workload's per-layer metrics, all zero: the value reported on the
    * workloads that run no lane of a family. */
  def layerZeros: Seq[(String, M)] = Families.flatMap(f => new FamilySums().metrics(f))

  /** Per-family sums of one traced pass. */
  private final class FamilySums {
    var lower, plan, exec = 0.0
    var sideJobs, written = 0L
    var c = new Trace.Counts(Array.fill(Trace.NumFields)(0L))
    def add(lowerS: Double, side: Long, planS: Double, execS: Double, d: Trace.Counts,
        bytes: Long): Unit = {
      lower += lowerS; plan += planS; exec += execS; sideJobs += side; written += bytes
      c = new Trace.Counts(c.v.indices.map { i =>
        if (i == Trace.PeakExecMem) math.max(c.v(i), d.v(i)) else c.v(i) + d.v(i)
      }.toArray)
    }
    def metrics(f: String): Seq[(String, M)] = {
      val mb = 1048576.0
      Seq(
        s"$f.lower_s" -> M(lower, "s"),
        s"$f.side_jobs" -> M(sideJobs.toDouble, "count"),
        s"$f.plan_s" -> M(plan, "s"),
        s"$f.exec_s" -> M(exec, "s"),
        s"$f.task_cpu_s" -> M(c(Trace.TaskCpuNs) / 1e9, "s"),
        s"$f.task_run_s" -> M(c(Trace.TaskRunMs) / 1e3, "s"),
        s"$f.jobs" -> M(c(Trace.Jobs).toDouble, "count"),
        s"$f.stages" -> M(c(Trace.Stages).toDouble, "count"),
        s"$f.tasks" -> M(c(Trace.Tasks).toDouble, "count"),
        s"$f.shuffle_write_mb" -> M(c(Trace.ShuffleWriteBytes) / mb, "MB"),
        s"$f.spill_mb" -> M(c(Trace.SpillBytes) / mb, "MB"),
        s"$f.io_input_mb" -> M(c(Trace.InputBytes) / mb, "MB"),
        s"$f.io_output_mb" -> M(written / mb, "MB"),
        s"$f.gc_s" -> M(c(Trace.GcMs) / 1e3, "s"),
        s"$f.peak_exec_mem_mb" -> M(c(Trace.PeakExecMem) / mb, "MB"))
    }
  }

  private def diskBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** ScalaUDF expressions anywhere in a physical plan, subqueries included. */
  def udfCount(p: SparkPlan): Int =
    p.collectWithSubqueries { case n =>
      n.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum
    }.sum

  /** For every lane: the plan of the timed `noop` write keeps every
    * ScalaUDF of the declared result. `.count()` is the negative control:
    * it must lose UDFs on the lanes where Catalyst prunes whole joins. */
  def planSelfTest(spark: SparkSession, o: Opts): Outcome = {
    val dir = o.data.resolve("sf0.01").toString
    val trace = new Trace().install(spark)
    var failed = 0L
    val countPruned = ArrayBuffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = lower(spark, dir, name)
      val full = udfCount(df.queryExecution.sparkPlan)
      materialize(df)
      Trace.drain(spark)
      val noop = udfCount(trace.lastPlan)
      df.count()
      Trace.drain(spark)
      if (udfCount(trace.lastPlan) < full) countPruned += name
      if (noop < full) {
        failed += 1
        System.err.println(s"[perfbench] $name: noop plan has $noop of $full ScalaUDFs")
      }
    }
    trace.uninstall(spark)
    println(s"[perfbench] lanes whose .count() plan drops ScalaUDFs: ${countPruned.mkString(",")}")
    Outcome(Nil, SparkEntry.queries.size, failed, Map("count_pruned" -> countPruned.toSeq))
  }
}
