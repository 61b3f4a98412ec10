package graft

import org.apache.spark.sql.SparkSession

/** Input-size-derived shuffle parallelism, wired into the engine's
  * table entry points (`QueryLib.tbl` and the block sources' planning)
  * so a session needs NO hand-set `spark.sql.shuffle.partitions` to
  * survive a data-decade change.
  *
  * The mechanism is Spark's own: Adaptive Query Execution coalesces
  * shuffle partitions DOWN from
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` to the
  * advisory partition size using REAL runtime shuffle bytes — but it
  * can never scale UP past the initial number, so an initial count
  * sized for laptop data quietly serializes a 10×-bigger input into
  * 10×-bigger per-task hash state that spills (the round-9 soak
  * measured 25–34% of sf10 wall-clock lost to exactly this). The
  * policy therefore raises ONLY the initial number, proportional to
  * the bytes the query will scan, and leaves the final partition
  * counts to AQE: small stages still coalesce to a handful of tasks,
  * big stages get enough reducers that per-task state stays constant
  * across input decades.
  *
  * Scale story: at 100 TB the same formula asks for (100 TB × 3) /
  * 64 MB ≈ 5 M initial partitions, clamped to [[MaxInitial]] — the
  * operating range real clusters run (shuffle-file fan-out per map
  * task is the only cost of a generous initial count under AQE).
  *
  * An explicitly configured `initialPartitionNum` is never lowered.
  *
  * Kept without an off switch: on `local[4]` the policy raises the count
  * only above ~85 MiB of input (`ceil(bytes * 3 / 64 MiB) > 4`), and the
  * largest test scale, sf0.1, is 17 MB, so the test suite, `Verify` and
  * perfbench run identically with or without it; it stays for the sf10
  * win measured above.
  */
object Tuning {

  /** AQE's advisory partition size default (64 MB): the byte budget one
    * reduce task should see after coalescing. */
  val AdvisoryBytes: Long = 64L << 20

  /** Shuffle-byte expansion over columnar input. Calibrated by a
    * partition-count sweep at sf10 (local[32], 1.6 GB input; fresh JVM
    * per point): the spill-bound lane (p11 embedding near-dups,
    * 105 s / 48 GB heap at 32 partitions) saturates its FULL win
    * already at 64 partitions (68 s / 15.6 GB) — more buys nothing —
    * while every extra partition charges CPU-bound many-stage lanes a
    * measured ~27 ms fixed cost (p07 MinHash: 11.4 s at 32 → 19.8 s at
    * 400). 3× (≈ snappy decompression) lands the sf10 point at
    * the measured joint optimum and keeps the count ∝ bytes for the
    * decades above (under-provision cannot be repaired at runtime;
    * over-provision is pure per-partition overhead). */
  val ExpansionFactor: Int = 3

  /** Ceiling on the initial partition count this policy will request.
    * High enough for the ~100 TB operating point after clamping; low
    * enough that map-side shuffle-file fan-out stays sane. */
  val MaxInitial: Int = 262144

  /** The policy formula: one initial shuffle partition per
    * [[AdvisoryBytes]] of EXPANDED input, never below the session's
    * parallelism (every core gets work even on tiny inputs), never
    * above [[MaxInitial]]. */
  def initialShufflePartitions(inputBytes: Long, parallelism: Int): Int = {
    val want = math.ceil(
      inputBytes.toDouble * ExpansionFactor / AdvisoryBytes).toLong
    math.min(math.max(want, parallelism.toLong), MaxInitial.toLong).toInt
  }

  /** Total bytes of the parquet input at `path` — one table (a
    * `.parquet` file or part-file store) or a DIRECTORY of tables. One
    * listing; the number only steers parallelism, so staleness is
    * harmless. */
  def inputBytes(path: String): Long = {
    import graft.io.FileIO
    if (!FileIO.exists(path)) return 0L
    if (FileIO.isDirectory(path) && !path.toLowerCase.endsWith(".parquet"))
      FileIO.list(path)
        .filter(_.toLowerCase.endsWith(".parquet")).map(treeBytes).sum
    else treeBytes(path)
  }

  /** Recursive byte total of a file or directory tree (dot/underscore
    * names skipped) — dataset sizing for directory-shaped stores. */
  def treeBytes(p: String): Long = {
    import graft.io.FileIO
    if (FileIO.isDirectory(p))
      FileIO.list(p).filter(f => !FileIO.name(f).startsWith(".") &&
        !FileIO.name(f).startsWith("_")).map(treeBytes).sum
    else FileIO.size(p)
  }

  /** Per-session applied-dir memo. */
  private val applied = new PerSession(
    () => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())

  private def firstSight(spark: SparkSession, key: String): Boolean =
    applied(spark).add(key)

  /** Apply the policy for queries over the tables at `dir` (memoized
    * per (session, dir); called from the engine's table entry points).
    * Raises — never lowers — the AQE initial partition count, and
    * leaves `spark.sql.shuffle.partitions` itself untouched so
    * non-adaptive paths keep the user's setting. */
  def autoConfigure(spark: SparkSession, dir: String): Unit =
    autoConfigureBytes(spark, dir, inputBytes(dir))

  /** [[autoConfigure]] with caller-supplied input bytes — the DSv2
    * connectors pass their own archive listings (fgb parts, raster
    * datasets) whose data files are not `.parquet`. `bytes` is
    * by-name: not evaluated when AQE is off or the key is already
    * applied. */
  def autoConfigureBytes(spark: SparkSession, key: String,
      bytes: => Long): Unit = {
    // An explicitly disabled AQE is a user decision about plan behavior
    // for the whole session — the policy must not override it (the
    // initial-partition knob is inert without AQE anyway).
    if (spark.conf.getOption("spark.sql.adaptive.enabled").contains("false"))
      return
    if (!firstSight(spark, key)) return
    val n = initialShufflePartitions(bytes,
      spark.sparkContext.defaultParallelism)
    val cur = spark.conf
      .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(_.toInt)
      .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    if (n > cur) {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        n.toString)
    }
  }
}
