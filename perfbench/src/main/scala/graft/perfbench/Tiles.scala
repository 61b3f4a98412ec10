package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.QueryLib
import graft.core.BlockRegistry
import graft.raster.{Add, Bbox, Classify, FrameCache, HillShade, Multiply, RasterBlock, RasterRequest}
import graft.service.WmsServer
import graft.perfbench.Main.{M, Opts, Outcome}

/** The `tiles` workload: a closed loop of client threads sending GetMap
  * (and some GetFeatureInfo) requests to an in-process `WmsServer` on
  * loopback, over three serialized views of the sf0.1 events raster.
  *
  * Requests are seeded 32×32-cell native-CRS windows, half from a small hot
  * set and half new "pan" windows, so the pan windows outnumber the
  * 32-entry `FrameCache`. Every response is checked after the timed loop:
  * a tile against the same window cut from the full-grid render of its view
  * (fixed vmin/vmax, so colours do not depend on the tile's own range), a
  * GetFeatureInfo value against the cell read straight from events.parquet.
  * `Smooth` is left out: its request margin is smaller than its Gaussian
  * radius by design, so its tiles differ from the full grid near the edge.
  */
object Tiles {
  val Clients = 4
  val Win = 32
  val HotWindows = 4
  private val Block = 2 * HotWindows
  private val T0 = Instant.ofEpochMilli(0)

  /** A view as served: the block, its JSON, and its fixed styling. */
  final case class View(block: RasterBlock, style: String, vmin: Double, vmax: Double) {
    val json: String = block.toJson
  }

  /** GetMap of `view` over the window at (x, y), or a GetFeatureInfo of
    * pixel (i, j) in it when `info`. */
  final case class Req(view: Int, x: Int, y: Int, info: Boolean, i: Int, j: Int)

  final case class Resp(req: Req, ms: Double, status: Int, body: Array[Byte])

  /** Per-layer metrics of this workload, all zero: the value reported on
    * the lane workloads, which exercise none of these layers. */
  val LayerZeros: Seq[(String, M)] = Seq(
    "core.fromjson_ms" -> "ms", "raster.lower_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "exec.collect_ms" -> "ms", "exec.jobs_per_req" -> "count", "exec.tasks_per_req" -> "count",
    "exec.shuffle_kb_per_req" -> "KB", "service.request_ms" -> "ms",
    "service.p50_1c_ms" -> "ms", "service.p50_4c_ms" -> "ms",
    "service.queue_ms" -> "ms", "exec.busy_ratio" -> "ratio").map { case (k, u) => k -> M(0, u) }

  def views(dir: String, g: QueryLib.EventsGrid): Seq[View] = {
    val raw = QueryLib.eventsRaster(dir, g)
    Seq(
      View(raw, "viridis", 0, 600),
      View(Classify(Add(Multiply(raw, 2.0), 10.0), Seq(250.0, 500.0, 750.0, 1000.0)),
        "terrain", 0, 4),
      View(HillShade(raw), "gray", 0, 255))
  }

  /** The seeded request sequence; request `k` depends only on (seed, k).
    * Each block of 8 requests alternates the hot windows with 4 new pan
    * windows, one of the 8 (rotating) is a GetFeatureInfo, and the GetMaps
    * rotate over the views: every run has the same mix and order of kinds,
    * and the seed moves only the window positions. */
  final class Sequence(seed: Long, g: QueryLib.EventsGrid, nViews: Int) {
    private def window(r: scala.util.Random) = (r.nextInt(g.w - Win + 1), r.nextInt(g.h - Win + 1))
    val hot: IndexedSeq[(Int, Int)] = {
      val r = new scala.util.Random(seed)
      IndexedSeq.fill(HotWindows)(window(r))
    }
    def apply(k: Long): Req = {
      val r = new scala.util.Random(seed * 1000003L + k)
      val pos = (k % Block).toInt
      val (x, y) = if (pos % 2 == 0) hot(pos / 2) else window(r)
      val info = pos == (k / Block % Block).toInt
      Req(if (info) 0 else (k % nViews).toInt, x, y, info, r.nextInt(Win), r.nextInt(Win))
    }
  }

  /** The engine request behind a GetMap of the window at (x, y). */
  private def window(x: Int, y: Int): RasterRequest =
    RasterRequest(Bbox(x, y, x + Win, y + Win), "EPSG:28992", Win, Win, Some(T0), Some(T0))

  private def url(port: Int, v: View, q: Req): String = {
    val bbox = s"${q.x},${q.y},${q.x + Win},${q.y + Win}"
    val common = s"layers=${URLEncoder.encode(v.json, "UTF-8")}&bbox=$bbox&width=$Win&height=$Win" +
      s"&projection=EPSG:28992&time=$T0"
    if (q.info) s"http://127.0.0.1:$port/wms?request=GetFeatureInfo&$common&i=${q.i}&j=${q.j}"
    else s"http://127.0.0.1:$port/wms?request=GetMap&$common&styles=${v.style}&vmin=${v.vmin}&vmax=${v.vmax}"
  }

  private def fetch(port: Int, vs: Seq[View], q: Req): Resp = {
    val t0 = System.nanoTime()
    val c = URI.create(url(port, vs(q.view), q)).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status == 200) c.getInputStream else c.getErrorStream
      val body = try in.readAllBytes() finally in.close()
      Resp(q, (System.nanoTime() - t0) / 1e6, status, body)
    } finally c.disconnect()
  }

  /** The responses of a closed loop, its wall seconds, and its rate in
    * responses per second: each client's responses over the time to its
    * last answer, summed, so the ragged end of the loop (clients finishing
    * their last request past the deadline) does not count. */
  final case class Run(resps: Seq[Resp], wall: Double, rate: Double)

  /** A closed loop: `clients` threads each send their next request only
    * when the previous one has answered, until `seconds` have passed. */
  private def loop(port: Int, vs: Seq[View], seq: Sequence, next: AtomicLong,
      clients: Int, seconds: Double)(each: Resp => Unit = _ => ()): Run = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val served = Array.fill(clients)(ArrayBuffer[Resp]())
    val lastS = new Array[Double](clients)
    val threads = (0 until clients).map { c =>
      new Thread(() => while (System.nanoTime() < deadline) {
        val r = fetch(port, vs, seq(next.getAndIncrement()))
        each(r)
        served(c) += r
        lastS(c) = (System.nanoTime() - t0) / 1e9
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Run(served.toSeq.flatten, (System.nanoTime() - t0) / 1e9,
      served.indices.map(c => served(c).size / lastS(c)).sum)
  }

  def run(spark: SparkSession, o: Opts): Outcome = {
    implicit val s: SparkSession = spark
    val dir = o.data.resolve("sf0.1").toString
    val g = QueryLib.eventsGrid(spark, dir)
    val vs = views(dir, g)
    val seq = new Sequence(o.seed, g, vs.size)
    Main.log("data registered")
    val server = new WmsServer(spark, 0, Seq(o.data.toString)).start()
    try {
      val port = server.boundPort
      // warmup: every hot window of every view, in-process on all cores
      // (the same FrameCache keys the server will use), then one request of
      // each kind through HTTP; a failed warmup aborts the run
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Clients)
      try {
        val jobs = for (v <- vs; (x, y) <- seq.hot) yield pool.submit(() => v.block.getData(window(x, y)))
        jobs.foreach(_.get())
      } finally pool.shutdown()
      for (q <- vs.indices.map(v => Req(v, seq.hot(v)._1, seq.hot(v)._2, false, 0, 0)) :+
          Req(0, seq.hot(0)._1, seq.hot(0)._2, true, 1, 2)) {
        val r = fetch(port, vs, q)
        require(r.status == 200, s"warmup request failed: ${new String(r.body, "UTF-8")}")
      }
      val setupS = Main.uptimeS
      Main.log(s"warmup done; FrameCache misses ${FrameCache.missCount.get}")
      val next = new AtomicLong()
      if (!o.trace) {
        val cpu0 = Main.cpuS
        val run = loop(port, vs, seq, next, Clients, o.seconds)()
        val resps = run.resps
        val cpu = Main.cpuS - cpu0
        Main.log(s"timed loop done: ${resps.size} requests; FrameCache misses ${FrameCache.missCount.get}")
        val ok = check(spark, o, dir, g, vs, resps)
        Main.log("responses checked")
        val done = ok.count(identity)
        Outcome(Seq(
          "setup_s" -> M(setupS, "s"),
          // correct responses only
          "ops_per_s" -> M(run.rate * done / resps.size, "1/s"),
          "cpu_ms_per_op" -> M(cpu * 1e3 / resps.size, "ms")), resps.size, resps.size - done)
      } else traced(spark, o, dir, g, vs, seq, next, port)
    } finally server.stop()
  }

  /** The traced run, four phases of the run's seconds each: a traced
    * 1-client phase that attributes listener counts to each request and
    * replays it in-process, and a traced 4-client phase, between two
    * untraced 4-client phases that give the tracing overhead. */
  private def traced(spark: SparkSession, o: Opts, dir: String, g: QueryLib.EventsGrid,
      vs: Seq[View], seq: Sequence, next: AtomicLong, port: Int): Outcome = {
    implicit val s: SparkSession = spark
    val phase = o.seconds.toDouble
    val untraced = loop(port, vs, seq, next, Clients, phase)()
    val trace = new Trace().install(spark)
    val hit0 = FrameCache.hitCount.get
    val miss0 = FrameCache.missCount.get
    val per = ArrayBuffer[Map[String, Double]]()
    var last = trace.counts
    var lastMiss = miss0
    // the replays' own jobs and cache lookups belong to no request
    var replayHits, replayMisses = 0L
    val single = loop(port, vs, seq, next, 1, phase) { r =>
      Trace.drain(spark)
      val missed = FrameCache.missCount.get > lastMiss
      val request = counts(trace.counts - last)
      val (h0, m0) = (FrameCache.hitCount.get, FrameCache.missCount.get)
      per += request ++ replay(vs, r, missed)
      replayHits += FrameCache.hitCount.get - h0
      replayMisses += FrameCache.missCount.get - m0
      Trace.drain(spark)
      last = trace.counts
      lastMiss = FrameCache.missCount.get
    }.resps
    val busy0 = trace.counts
    val multi = loop(port, vs, seq, next, Clients, phase)()
    Trace.drain(spark)
    val busy = trace.counts - busy0
    trace.uninstall(spark)
    val hits = FrameCache.hitCount.get - hit0 - replayHits
    val misses = FrameCache.missCount.get - miss0 - replayMisses
    val after = loop(port, vs, seq, next, Clients, phase)()
    val all = untraced.resps ++ single ++ multi.resps ++ after.resps
    val ok = check(spark, o, dir, g, vs, all)
    def med(k: String): Double = {
      val xs = per.flatMap(_.get(k)).toSeq
      if (xs.isEmpty) 0.0 else Main.quantile(xs, 0.5)
    }
    val good = all.zip(ok).collect { case (r, true) => r }.toSet
    def p50(rs: Seq[Resp]) = Main.quantile(rs.filter(good).map(_.ms), 0.5)
    val uRate = (untraced.rate + after.rate) / 2
    val layers = Seq(
      "core.fromjson_ms" -> M(med("fromjson"), "ms"),
      "raster.lower_ms" -> M(med("lower"), "ms"),
      "catalyst.analysis_ms" -> M(med("analysis"), "ms"),
      "catalyst.optimize_ms" -> M(med("optimize"), "ms"),
      "catalyst.plan_ms" -> M(med("plan"), "ms"),
      "exec.collect_ms" -> M(med("collect"), "ms"),
      "exec.jobs_per_req" -> M(med("jobs"), "count"),
      "exec.tasks_per_req" -> M(med("tasks"), "count"),
      "exec.shuffle_kb_per_req" -> M(med("shuffle_kb"), "KB"),
      "service.request_ms" -> M(med("service"), "ms"),
      "service.p50_1c_ms" -> M(p50(single), "ms"),
      "service.p50_4c_ms" -> M(p50(multi.resps), "ms"),
      "service.queue_ms" -> M(p50(multi.resps) - p50(single), "ms"),
      "exec.busy_ratio" -> M(busy(Trace.TaskRunMs) / 1e3 / (multi.wall * Clients), "ratio"),
      "trace.overhead_pct" -> M((uRate / multi.rate - 1) * 100, "%"),
      "trace.span_coverage" -> M(med("coverage"), "ratio")) ++ Main.cacheMetrics(hits, misses)
    Outcome(layers, all.size, ok.count(!_))
  }

  /** Listener counts of one 1-client request (nothing else was in flight). */
  private def counts(d: Trace.Counts): Map[String, Double] = Map(
    "analysis" -> d(Trace.AnalysisMs).toDouble, "optimize" -> d(Trace.OptimizeMs).toDouble,
    "plan" -> d(Trace.PlanMs).toDouble, "collect" -> d(Trace.ActionNs) / 1e6,
    "jobs" -> d(Trace.Jobs).toDouble, "tasks" -> d(Trace.Tasks).toDouble,
    "shuffle_kb" -> d(Trace.ShuffleWriteBytes) / 1024.0)

  /** An in-process replay of a GetMap after it was served: `fromJson`, then
    * what the server's `frame(req)` and `getData` did. When the request
    * missed the FrameCache, the server's `frame` built the frame, so the
    * replay times `frame` with the cache switched off (a lookup would only
    * hit the entry the request made); nothing else is in flight in the
    * 1-client phase, so no request sees the switch. When it hit, the
    * replay's `getData` runs the same cached path, and the service time is
    * the round trip minus that `getData`. */
  private def replay(vs: Seq[View], r: Resp, missed: Boolean)(
      implicit spark: SparkSession): Map[String, Double] =
    if (r.req.info || r.status != 200) Map.empty else {
      val t0 = System.nanoTime()
      val b = BlockRegistry.fromJson(vs(r.req.view).json).asInstanceOf[RasterBlock]
      val fromJson = (System.nanoTime() - t0) / 1e6
      val req = window(r.req.x, r.req.y)
      if (missed) {
        spark.conf.set("spark.graft.frameCache", "false")
        val lower = try {
          val t1 = System.nanoTime()
          b.frame(req)
          (System.nanoTime() - t1) / 1e6
        } finally spark.conf.unset("spark.graft.frameCache")
        Map("fromjson" -> fromJson, "lower" -> lower)
      } else {
        val t1 = System.nanoTime()
        b.getData(req)
        val getData = (System.nanoTime() - t1) / 1e6
        Map("fromjson" -> fromJson, "service" -> (r.ms - getData),
          "coverage" -> (fromJson + getData) / r.ms)
      }
    }

  /** Check every response; `true` where the output is right. */
  private def check(spark: SparkSession, o: Opts, dir: String, g: QueryLib.EventsGrid,
      vs: Seq[View], resps: Seq[Resp]): Seq[Boolean] = {
    implicit val s: SparkSession = spark
    val full = vs.map(_.block.getData(RasterRequest(Bbox(0, 0, g.w, g.h), "EPSG:28992",
      g.w, g.h, Some(T0), Some(T0))).get)
    val events = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id", "event_type = 'error' OR value IS NULL", "value").collect()
      .map(r => r.getLong(0) -> (if (r.getBoolean(1)) None else Some(r.getDouble(2)))).toMap
    val firstMap = resps.indexWhere(r => !r.req.info && r.status == 200)
    resps.zipWithIndex.map { case (r, k) =>
      r.status == 200 && {
        val q = r.req
        if (q.info) {
          // frame 0, row 0 at the top: cell = row * w + col, event = 4 * cell + frame
          val cell = (g.h - q.y - Win + q.j).toLong * g.w + (q.x + q.i)
          val want = events(g.frames * cell)
          val got = "\"value\":([^,}]+)".r.findFirstMatchIn(new String(r.body, "UTF-8"))
            .map(_.group(1)).filter(_ != "null").map(_.toDouble)
          got == want
        } else {
          val v = vs(q.view)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.body))
          val f = full(q.view)
          val span = math.max(v.vmax - v.vmin, 1e-12)
          img != null && img.getWidth == Win && img.getHeight == Win &&
            (0 until Win).forall { row =>
              (0 until Win).forall { col =>
                val x = f.values.head((g.h - q.y - Win + row) * g.w + q.x + col)
                val want = if (x == f.noDataValue) 0 else WmsServer.rampColor(v.style, (x - v.vmin) / span)
                val got = img.getRGB(col, row)
                val corrupt = o.injectFault && k == firstMap && row == 0 && col == 0
                (if (corrupt) got ^ 0x00010101 else got) == want
              }
            }
        }
      }
    }
  }
}
