package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` builds this project, launches
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  *
  * and reads the record it writes to `DIR/jvm.json`. The record holds every
  * metric (name, value, unit), the operation counts, and for the lane
  * workloads the per-lane parquet results that `run.py` checks against the
  * DuckDB oracle. `--inject-fault` corrupts one output after the run so the
  * self-test can confirm the correctness checks catch it.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, out: Path, injectFault: Boolean)

  /** One metric as printed: value plus unit. */
  final case class M(value: Double, unit: String)

  /** What a workload hands back: metrics plus the operation tally. */
  final case class Outcome(metrics: Seq[(String, M)], attempted: Long, failed: Long,
      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.out)
    val spark = session(o.out)
    log("session ready")
    val out =
      try o.workload match {
        case "tiles" => Tiles.run(spark, o)
        case "geo_batch" => Lanes.run(spark, o, Lanes.GeoBatch)
        case "pipelines" => Lanes.run(spark, o, Lanes.Pipelines)
        case "selftest-plans" => Lanes.planSelfTest(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      } finally spark.stop()
    val host = if (o.trace) Seq(
      "host.calib_st_s" -> M(Calibration.singleThread(), "s"),
      "host.calib_mt_s" -> M(Calibration.allCores(), "s")) else Nil
    // every traced record names every per-layer metric; a layer the
    // workload does not exercise reads zero
    val zeros = if (o.trace) (Lanes.layerZeros ++ Tiles.LayerZeros)
      .filterNot(z => out.metrics.exists(_._1 == z._1)) else Nil
    val metrics = (out.metrics ++ zeros ++ host).map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit)
    }
    val rec = Map("attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.toMap) ++ out.extra
    Files.writeString(o.out.resolve("jvm.json"), JsonOut(rec))
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("data")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, args.contains("--inject-fault"))
  }

  /** `local[4]`, loopback only, with every scratch directory inside `out`. */
  def session(out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A progress line in the JVM log, stamped with the JVM uptime. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] $uptimeS%.2f s: $msg")

  /** Seconds since the JVM started: set-up time includes JVM start. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The `FrameCache` figures of a span, from its hit and miss counts. */
  def cacheMetrics(hits: Long, misses: Long): Seq[(String, M)] = Seq(
    "raster.framecache_hit_ratio" -> M(if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses), "ratio"),
    "raster.framecache_misses" -> M(misses.toDouble, "count"))

  /** CPU seconds this JVM (driver and local executors) has used, less the
    * JIT compiler's: compilation is still settling this early in a JVM's
    * life and would otherwise make the figure depend on its progress. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9 -
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
}

/** The single-thread and all-core LCG loops of `graft.Bench`: a fixed
  * CPU-only workload whose time measures the host, not the engine. */
object Calibration {
  private def loop(seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    x
  }
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private def minOf(n: Int)(body: => Unit): Double = {
    body // JIT warm
    (1 to n).map(_ => timed(body)).min
  }
  @volatile private var sink = 0L

  def singleThread(): Double = minOf(2) { sink ^= loop(0x9E3779B97F4A7C15L) }

  def allCores(): Double = minOf(2) {
    val ts = (0 until Runtime.getRuntime.availableProcessors()).map { k =>
      new Thread(() => { val r = loop(0x9E3779B97F4A7C15L + k); synchronized { sink ^= r } })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }
}

/** Minimal JSON writer for the record (numbers keep every digit). */
object JsonOut {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite metric $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }
}
