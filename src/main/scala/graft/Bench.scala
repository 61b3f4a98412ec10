package graft
object Bench {
  /** Fixed pure-CPU calibration workload — no I/O, no Spark, no code
    * under test. Identical across rounds by construction, so its time
    * measures the HOST, not the repo: cross-round per-query comparisons
    * should be read against the calibration ratio (the r7 adjudication
    * found identical code varying ×1.4-1.8 between recording windows on
    * this shared host). Min of three runs after a JIT warm pass. */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= (x >>> 33)
        i += 1
      }
      if (x == 42L) print("") // keep the loop observable (defeat DCE)
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT warm
    Seq(once(), once(), once()).min
  }

  /** Parallel calibration: the SAME LCG mix on every core at once.
    * Single-threaded calibration normalizes CPU-frequency drift but is
    * blind to MULTI-CORE contention — exactly what poisoned the r8
    * recording window (×1.8-3.0 per-query outliers that vanished on
    * re-run). Reported as `calibration_mt` (seconds for ONE thread's
    * loop while all cores run); cross-round comparisons should divide
    * by whichever calibration correlates with the drift. */
  private def calibrateMt(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until cores).map { k =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + k
          var i = 0
          while (i < 200000000) {
            x = x * 6364136223846793005L + 1442695040888963407L
            x ^= (x >>> 33)
            i += 1
          }
          if (x == 42L) print("")
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    Seq(once(), once()).min
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    // optional subset run (regex on lane names) — the scale soaks bench
    // one lane family (e.g. '^p') at a synthetic SF without paying for
    // the whole suite
    val names =
      Lanes.select(filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")).map(_.name)
    val calibration = calibrate()
    val calibrationMt = calibrateMt()
    println(s"""{"bench_calibration_sec":$calibration,"bench_calibration_mt_sec":$calibrationMt}""")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // the warmup's duration is reported separately so readers can see
    // both the per-session and the per-query cost
    val warm0 = System.nanoTime()
    val (_, warmupPeakMb) = Lanes.withHeapPeak(Lanes.warmup(spark, sfDir))
    val warmupSec = (System.nanoTime() - warm0) / 1e9
    // Each query runs TWICE and reports the min: single-run timings on a
    // shared host are contention-contaminated (r4's recorded bench had
    // 30-90x outliers on sub-second plans), and min-of-two is the cheapest
    // noise-immune estimator. The two samples are DECORRELATED: the full
    // query list runs as pass 1 then again as pass 2, so a query's samples
    // land minutes apart and one host-contention window can no longer
    // poison both (r5's recording had exactly that failure — both
    // back-to-back samples of p12/r15 inside one slow window). A query
    // that throws is recorded with an "err" marker instead of a fake
    // timing — a broken query must not look like a fast one.
    def runPass(pass: Int): Map[String, (Either[String, Double], Long)] =
      names.map { name =>
        val ((ts, err), peak) =
          Lanes.withHeapPeak(Lanes.time(1)(Lanes.run(spark, sfDir, name)))
        val r = err.toLeft(ts.head)
        println(s"""{"bench_pass":$pass,"query":"$name","sec":${
          r.fold(_ => "\"err\"", _.toString)}}""")
        name -> (r, peak)
      }.toMap
    val pass1 = runPass(1)
    val pass2 = runPass(2)
    val mainPeakMb = (pass1.values ++ pass2.values).map(_._2).maxOption.getOrElse(0L)
    // One short line per query as it completes: each survives log-tail
    // truncation on its own, so per-query timings are machine-readable.
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = names.map { name =>
      val ((r1, peak1), (r2, peak2)) = (pass1(name), pass2(name))
      val sec = (r1, r2) match {
        case (Right(a), Right(b)) => math.min(a, b)
        case (Right(a), Left(_))  => a   // flaky second run: keep the timing
        case (Left(_), Right(b))  => b
        case (Left(e), Left(_))   => errs(name) = e; -1.0
      }
      val errField = errs.get(name).map(e => s""","err":"$e"""").getOrElse("")
      println(s"""{"bench_query":"$name","sec":$sec,"peak_heap_mb":${
        math.max(peak1, peak2)}$errField}""")
      name -> sec
    }.to(scala.collection.immutable.ListMap)
    // steady-state lane: the top-10 slowest queries re-run 10× in one
    // session. min-of-last-5 separates plan cost from JIT transients and
    // host-contention windows, so cross-round sub-second comparisons stop
    // depending on window calibration (r9 saw ST calibration swing ±18%
    // between two same-hour windows). Reported as its own JSON line.
    // Queries that errored in the main pass carry sec = -1 and are
    // excluded up front; a rep that throws INSIDE the lane marks the
    // query errored (-1 in the steady map) instead of letting its fast
    // failure path masquerade as a legitimate steady time.
    val top10 = results.filter(_._2 >= 0).toSeq.sortBy(-_._2).take(10)
    val steady = top10.map { case (name, _) =>
      val ((ts, errOpt), peak) =
        Lanes.withHeapPeak(Lanes.time(10)(Lanes.run(spark, sfDir, name)))
      (name, if (errOpt.isDefined) -1.0 else ts.takeRight(5).min, peak)
    }
    val steadyPeakMb = steady.map(_._3).maxOption.getOrElse(0L)
    val steadyJson = steady.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"steady","unit":"sec","reps_per_query":10,"estimator":"min_of_last_5","calibration":$calibration,"calibration_mt":$calibrationMt,"main_peak_mb":$mainPeakMb,"steady_peak_mb":$steadyPeakMb,"queries":$steadyJson,"sf":"$sfDir"}""")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errs.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val wall = (System.nanoTime() - wall0) / 1e9
    // frame-cache observability: full-suite misses ≈ distinct source-frame
    // variants; a much larger number means the LRU is thrashing
    val fcHits = graft.raster.FrameCache.hitCount.get()
    val fcMisses = graft.raster.FrameCache.missCount.get()
    // peak heap over the whole run ("would one executor of this size
    // cope"): the max of the per-lane peaks
    val peakHeapMb =
      math.max(warmupPeakMb, math.max(mainPeakMb, steadyPeakMb))
    val summary = s""""metric":"total","value":$total,"unit":"sec","total_timed":$total,"calibration":$calibration,"calibration_mt":$calibrationMt,"reshape_warmup":$warmupSec,"wall":$wall,"runs_per_query":2,"decorrelated_passes":true,"frame_cache_hits":$fcHits,"frame_cache_misses":$fcMisses,"peak_heap_mb":$peakHeapMb,"warmup_peak_mb":$warmupPeakMb,"n_queries":${results.size},"n_errors":${errs.size},"sf":"$sfDir""""
    // the durable record: the compact summary plus the per-query and
    // error maps, for readers whose log tail lost the bench_query lines
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      s"""{$summary,"queries":$qs,"errors":$errJson}""")
    catch { case _: Exception => } // read-only cwd must not fail the bench
    spark.stop()
    // LAST stdout line: the compact summary (no per-query map), so a
    // short log tail always ends with one complete JSON object
    println(s"{$summary}")
  }
}
