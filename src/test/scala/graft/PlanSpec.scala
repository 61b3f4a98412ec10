package graft

/** Plan-quality regression checks: the properties the 100 TB design relies
  * on must be visible in the physical plans (SURVEY §4), not assumed. */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("attribute filters and column pruning reach the parquet scan") {
    val p = plan("g11_filters_pushdown")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(c_mktsegment,BUILDING)"))
    val q = plan("q03_broadcast_filter")
    assert(q.contains("LessThan(p_size,20)"))
    // column pruning: lineitem scan reads only the 2 needed columns
    assert(q.contains("ReadSchema: struct<l_partkey:bigint,l_extendedprice:double>"))
  }

  test("lowering a lane again starts no Spark job: table schemas are " +
      "read once per session, and the filter still reaches the scan") {
    for (name <- Seq("q03_broadcast_filter", "g02_field_ops")) {
      SparkEntry.queries(name)(spark, dir)
      assert(sparkWork(SparkEntry.queries(name)(spark, dir))._2 == 0, name)
    }
    assert(plan("q03_broadcast_filter")
      .matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(p_size,20\\).*"))
    val part = s"$dir/part.parquet"
    assert(Tables.read(spark, part).schema == spark.read.parquet(part).schema)
  }

  test("small dimensions broadcast in join queries") {
    val p = plan("q02_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("zonal statistics never falls back to a nested-loop spatial join") {
    val p = plan("z01_zonal_mean")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("elementwise raster math stays inside whole-stage codegen") {
    // AQE hides codegen spans until execution, so check the executed plan
    val df = SparkEntry.queries("r01_add")(spark, dir)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd spans in the plan string
    assert(ep.contains("*("))
    // and the per-cell nodata kernel is a lambda (HOF), not a UDF
    assert(plan("r01_add").contains("lambdafunction"))
  }

  test("n-gram Jaccard pairs is an inverted-index equi-join, never cartesian") {
    // the operator itself, not the memoized p06 frame (which explains as a
    // checkpoint scan once QueryLib.jaccardPairFrame has materialized it)
    import org.apache.spark.sql.functions.col
    val p = graft.pipeline.Dedup.jaccardPairs(
        QueryLib.tbl(spark, dir, "documents").filter(col("doc_id") < 40),
        "doc_id", "text", 3)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the self-join on the shingle key is a hash equi-join
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  /** The formatted plan of `df`. */
  private def explain(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("cross-CRS table-raster request gathers tiles via broadcast join") {
    import graft.raster._
    import java.time.Instant
    import spark.implicits._
    // two native tiles across (256 + 44 columns), one frame
    val (w, h) = (300, 4)
    val path = java.nio.file.Files.createTempDirectory("plan_wide")
      .resolve("events.parquet").toString
    (0 until w * h).map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
      .write.parquet(path)
    val src = TableRasterSource(path, "event_id", "value", 1, w, h)
    val t0 = Some(Instant.ofEpochMilli(0))
    val native = src.frame(RasterRequest(Bbox(0, 0, w, h), "EPSG:28992", w, h, t0, t0))
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:3857", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:3857", w, h)
    // one output tile across the whole grid samples both native tiles
    val warp = WarpStage.plan(
      RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:3857", w / 2, h, t0, t0), "EPSG:28992", w, h)
    assert(!warp.mapOnly, "the request must span native tiles")
    // the gather the FrameCache entry is built from, over the cached
    // native frame (a one-node leaf, so every join below is the gather's)
    val p = explain(WarpStage.frame(warp, src.noDataValue, Seq(0L), native))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("map-only cross-CRS table-raster request plans no join and no exchange") {
    import graft.raster._
    import java.time.Instant
    val g = QueryLib.eventsGrid(spark, dir)
    val src = QueryLib.eventsRaster(dir, g)
    val (x1, y1) = Proj.transform("EPSG:28992", "EPSG:3857", 0, 0)
    val (x2, y2) = Proj.transform("EPSG:28992", "EPSG:3857", g.w, g.h)
    val req = RasterRequest(Bbox(x1, y1, x2, y2), "EPSG:3857", g.w, g.h,
      Some(Instant.ofEpochMilli(0)), Some(Instant.ofEpochMilli(3600000L)))
    // every output tile samples the one native tile of the sf0.001 grid
    assert(WarpStage.plan(req, src.projection, g.w, g.h).mapOnly)
    val p = explain(src.frame(req)(spark))
    assert(!p.contains("Join") && !p.contains("CartesianProduct") && !p.contains("Exchange"), p)
    assert(p.contains(s"Scan ExistingRDD ${src.graphName}"), p)
  }

  test("sessionization stays within one exchange per stage chain") {
    // one shuffle on user_id feeds both window passes and the aggregate
    val p = plan("q14_sessionize")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(!p.contains("CartesianProduct"))
    assert(exchanges <= 4, s"unexpected exchange count:\n$p")
  }

  test("LSH similarity avoids the corpus cross join") {
    val p = plan("p11_embed_near_dups")
    assert(!p.contains("CartesianProduct"))
  }

  test("Place warp mode gathers source tiles via broadcast equi-join") {
    import graft.raster._
    import org.apache.spark.sql.functions.col
    val g = QueryLib.eventsGrid(spark, dir)
    val src = QueryLib.eventsRaster(dir, g)
    val stamped = Place(src, "EPSG:28992", (50.0, g.h / 2.0),
      Seq((25.0, g.h / 2.0), (75.0, g.h / 2.0)), "max", Some("warp"))
    val df = stamped.frame(QueryLib.fullReq(g))(spark)
    val p = explain(df)
    assert(p.contains("BroadcastHashJoin"))
    // the tile-mapping build is a Spark job: an intended count-only
    // broadcast product of the coordinates frame with the output-tile
    // frame (no pixel columns, no driver loop) — exactly one such node;
    // the PIXEL gather itself must stay a broadcast hash equi-join
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1)
    assert(!p.contains("CartesianProduct"))
    // and no driver materialization (the old path ran getData +
    // parallelize): the pixels come from one scan of the cached native
    // frame's RDD, named after the source Block, and no local relation
    // carries pixels (the coordinates' LocalTableScan holds the Block's
    // literal placements)
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec}
    val leaves = df.queryExecution.sparkPlan.collectLeaves()
    assert(leaves.collect { case s: RDDScanExec => s.rdd.name } == Seq(src.graphName))
    assert(!leaves.exists {
      case l: LocalTableScanExec => l.output.exists(_.name == "values")
      case _ => false
    })
  }

  test("chunk dedup is one explode + one hash exchange on the chunk key") {
    val p = plan("p22_chunk_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the first-occurrence window partitions by chunk → exactly one
    // hashpartitioning exchange on [chunk] before the window sort
    assert(p.contains("hashpartitioning(chunk"))
    assert(p.contains("Generate explode") || p.contains("Generate"))
  }

  test("hot-bucket capped LSH joins stay equi-joins") {
    import graft.pipeline.Dedup
    import org.apache.spark.sql.functions.col
    val docs = QueryLib.tbl(spark, dir, "documents")
    val p = Dedup.lshCandidatePairs(docs, "doc_id", "text", 16, 4,
        maxBucket = Some(50)).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sequence packing never uses a global single-partition window") {
    val p = plan("p25_seq_pack")
    // the cumsum window partitions by the id-range bucket (two-level
    // prefix sum); an empty partition spec would serialize the corpus
    // through one task at 100 TB
    assert(p.contains("hashpartitioning(_b"), p.linesIterator.filter(
      _.contains("partitioning")).mkString("\n"))
    assert(!p.contains("SinglePartition"))
    // offsets join back as a broadcast (O(buckets) rows)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("stratified balancing is a broadcast join against the cut table") {
    val p = plan("p26_stratified_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("temperature mixing is a broadcast join against the cut table") {
    val p = plan("p32_temperature_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("PQ ADC scan broadcasts the query side; no sort-merge anywhere") {
    val p = plan("p30_pq_adc_topk")
    // the corpus-side scan joins the broadcast-tiny query/LUT frame — the
    // same shape as brute-force top-k; candidate + final ranking are
    // per-query windows, never a corpus-wide global sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("BPE invariants run as one projection over the encoded map") {
    val p = plan("p31_bpe_invariants")
    // encode is a stateless per-row kernel: no join, no shuffle beyond the
    // source scan in the SCORING path (training ran at plan-build time)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("Exchange SinglePartition"))
  }

  test("trigram familiarity: broadcast-kernel fast path, equi-join fallback") {
    val p = plan("p27_trigram_familiarity")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // fast path scores in one map — no shuffle join in the scoring plan
    assert(!p.contains("SortMergeJoin"))
    // the fallback (forced via broadcastLimit = 0) stays an equi-join over
    // the exploded trigrams
    import graft.pipeline.TextAnalysis
    val docs = QueryLib.tbl(spark, dir, "documents")
    val qe = TextAnalysis.trigramFamiliarity(docs, "doc_id", "text", 5,
      broadcastLimit = 0).queryExecution
    val pj = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(pj.contains("Generate") && !pj.contains("CartesianProduct") &&
      !pj.contains("BroadcastNestedLoopJoin"))
    // the model join's BOTH inputs are pre-aggregated frames — one row per
    // (doc, trigram) / per trigram, never one row per corpus position
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val join = qe.optimizedPlan.collectFirst { case j: Join => j }.get
    assert(join.left.collect { case a: Aggregate => a }.nonEmpty)
    assert(join.right.collect { case a: Aggregate => a }.nonEmpty)
  }

  test("DSIR scoring joins the corpus against BROADCAST models only") {
    // the bucket models are <= `buckets` rows by construction (the
    // paper's point): the scoring join must broadcast them, never
    // shuffle the corpus against a model
    val p = plan("p35_dsir_weights")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
    // the only nested-loop join allowed is the 1-row totals cross join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("LM scoring joins the instance stream against an AGGREGATED " +
      "model table; the probe side carries NO pre-aggregate") {
    // r17 shape (replaces the former "pre-aggregates before every model
    // join" pin, whose design changed): the per-doc (doc, n-gram)
    // pre-aggregate's only consumer was the scoring join, and it bought
    // a corpus-sized multi-column exchange for a within-doc
    // duplicate-rate compression. The pinned invariants are now:
    //   - the MODEL side of the scoring join is an aggregate, or the
    //     local checkpoint of one (the n-gram count table is
    //     checkpointed before its windows), and never a join
    //     (positions-vs-positions),
    //   - the PROBE side is the raw instance stream (a reappearing
    //     pre-aggregate = the removed corpus exchange sneaking back),
    //   - nothing goes cartesian (the 1-row totals broadcast is a BNLJ
    //     by design).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    def aggregated(p: LogicalPlan) =
      p.collect { case a: Aggregate => a; case r: LogicalRDD => r }.nonEmpty
    for ((q, keys) <- Seq("p33_bigram_perplexity" -> Set("w1", "w2"),
        "p38_trigram_perplexity" -> Set("w1", "w2", "w3"))) {
      val qe = SparkEntry.queries(q)(spark, dir).queryExecution
      // the scoring join is the one on the n-gram keys, wherever the
      // optimizer's collect order puts it
      val scoring = qe.optimizedPlan.collect {
        case j: Join if j.condition.exists(_.references.map(_.name).toSet == keys) => j
      } match {
        case Seq(j) => j
        case js => fail(s"$q: ${js.size} joins on the n-gram keys $keys, want 1")
      }
      val (modelSide, probeSide) =
        if (aggregated(scoring.right)) (scoring.right, scoring.left)
        else (scoring.left, scoring.right)
      assert(aggregated(modelSide) && modelSide.collect { case j: Join => j }.isEmpty,
        s"$q: scoring join must take an aggregated model table")
      assert(!aggregated(probeSide),
        s"$q: probe side must stay the instance stream (no per-doc " +
          "pre-aggregate exchange)")
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    assert(!plan("p39_clean_with_lm").contains("CartesianProduct"))
  }

  test("line/window dedup joins are equi-joins with no forced broadcast") {
    // the line- and window-hash frequency tables are web-scale by
    // construction: the code must not HINT a broadcast (Catalyst may
    // still pick one from tiny sf0.001 stats — that is size-based and
    // reverses at scale), and no join may degrade to cartesian
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (q <- Seq("p41_line_boilerplate", "p42_window_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), q)
      val hints = SparkEntry.queries(q)(spark, dir)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$q carries a join hint")
    }
    // p42's window generation is pure built-ins (codegen), no UDF
    assert(!plan("p42_window_dedup").contains("BatchEvalPython"))
  }

  test("kNN join is a cell equi-join with per-left windows only") {
    val p = plan("g31_knn_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the rank is a per-a_fid window, never a global sort
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("time-range neighbor count is a RANGE window, no self-join at all") {
    val p = plan("q17_range_join")
    // the pair-materializing bucket join is gone: no join operator of
    // any kind may appear — the whole query is scan → window
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    // one hash shuffle on user_id, never a global sort on one task
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("two-table interval join is a (key, bucket) equi-join, no cartesian") {
    val p = plan("q18_interval_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000)) // the bounded explode
  }

  test("stream near-dedup is bucket-keyed state + doc reduce, no join") {
    val p = plan("p47_stream_neardedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"), p.take(2000))
    // the batch lowering of flatMapGroupsWithState + the doc reduce:
    // two MapGroups over hash exchanges, nothing else
    assert("MapGroups".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("sourceCap is one shuffle on the source key, no global sort") {
    val p = plan("p43_source_cap")
    assert(p.contains("hashpartitioning(source"), p)
    // a SinglePartition window would serialize the corpus on one task
    assert(!p.contains("SinglePartition"), p)
  }

  test("shuffle parallelism scales with input size through AQE's " +
      "initial partition count, never down, with an off switch") {
    // the formula: floor at the session parallelism, ∝ bytes above it,
    // hard cap — the 100 TB point lands ON the cap, not above it
    assert(Tuning.initialShufflePartitions(0L, 32) == 32)
    assert(Tuning.initialShufflePartitions(17L << 20, 32) == 32) // sf0.1
    val sf10 = Tuning.initialShufflePartitions(1600L << 20, 32)
    assert(sf10 >= 40 && sf10 <= 128, sf10) // ~50: the measured joint optimum
    assert(Tuning.initialShufflePartitions(100L << 40, 1000) ==
      Tuning.MaxInitial)
    // monotone in bytes
    assert(Tuning.initialShufflePartitions(10L << 30, 32) >= sf10)
    // autoConfigure: raises the AQE initial count for a big-enough dir
    // (memoized per (session, dir)) and leaves shuffle.partitions alone
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val big = java.nio.file.Files.createTempDirectory("tune_big").toString
    // SPARSE 3 GB file (metadata length is all the policy reads):
    // 3 GB * 3x expansion / 64 MB advisory = 144 initial
    val raf = new java.io.RandomAccessFile(s"$big/t.parquet", "rw")
    try raf.setLength(3L << 30) finally raf.close()
    try {
      Tuning.autoConfigure(spark, big)
      val n = spark.conf
        .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
      assert(n == Tuning.initialShufflePartitions(3L << 30,
        spark.sparkContext.defaultParallelism), n)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf
        .get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
      // a small dir NEVER lowers an already-raised count
      Tuning.autoConfigure(spark, dir)
      assert(spark.conf
        .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .toInt >= n)
      // and AQE actually coalesces a small shuffle back down: the
      // executed plan carries AQEShuffleRead with few partitions
      val df = QueryLib.tbl(spark, dir, "customer")
        .groupBy("c_mktsegment").count()
      df.collect()
      val ep = df.queryExecution.executedPlan.toString
      assert(ep.contains("AQEShuffleRead"), ep.take(1500))
    } finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
  }

  test("connector scans feed the same tuning policy with their own " +
      "archive bytes (non-parquet data files)") {
    try {
      // the connectors call autoConfigureBytes with listing-derived
      // sizes; pin the by-name contract + the raise directly
      Tuning.autoConfigureBytes(spark, "plan-spec-archive", 10L << 30)
      val n = spark.conf
        .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
      assert(n == Tuning.initialShufflePartitions(10L << 30,
        spark.sparkContext.defaultParallelism), n)
      // memoized: a second call with different bytes is a no-op
      Tuning.autoConfigureBytes(spark, "plan-spec-archive", 100L << 30)
      assert(spark.conf
        .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .toInt == n)
      // zarr stores are directories: treeBytes sums the tree
      val d = java.nio.file.Files.createTempDirectory("tb").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$d/c/0"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/c/0/0"),
        new Array[Byte](1024))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/zarr.json"),
        new Array[Byte](64))
      assert(Tuning.treeBytes(d) == 1088L)
    } finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
  }

  test("tuning memo is per SESSION OBJECT: two sessions in one JVM " +
      "each get configured; an explicit AQE-off is never overridden") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    Tuning.autoConfigureBytes(s1, "memo-key-archive", 10L << 30)
    Tuning.autoConfigureBytes(s2, "memo-key-archive", 10L << 30)
    val want = Tuning.initialShufflePartitions(10L << 30,
      spark.sparkContext.defaultParallelism).toString
    assert(s1.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == want)
    assert(s2.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == want)
    // disabling AQE is a user decision about PLAN BEHAVIOR for the whole
    // session — the policy must not silently flip it back on
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.adaptive.enabled", "false")
    Tuning.autoConfigureBytes(s3, "memo-key-archive", 10L << 30)
    assert(s3.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(s3.conf.getOption(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum").isEmpty)
  }

  test("single-file sink funnel width follows the input size estimate") {
    import graft.geometry.SinkFunnel
    // a laptop-scale export funnels through ONE lane (no exchange, no
    // range-sampling job); ×100 the bytes saturates the parallelism
    assert(SinkFunnel.width(BigInt(0), 32) == 1)
    assert(SinkFunnel.width(BigInt(1L << 20), 32) == 1)
    assert(SinkFunnel.width(BigInt(400L << 20), 32) == 32)
    // Catalyst's unknown-stats default (huge) lands on full width
    assert(SinkFunnel.width(BigInt(Long.MaxValue) * 4, 32) == 32)
    assert(SinkFunnel.width(BigInt(40L << 20), 32) == 11) // proportional
    // plan shape: a small frame gets Coalesce(1), not an Exchange
    import spark.implicits._
    val small = Seq((1L, "a"), (2L, "b")).toDF("fid", "x")
    val p = SinkFunnel.ordered(small, org.apache.spark.sql.functions.col("fid"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Coalesce") && !p.contains("rangepartitioning"),
      p.take(800))
    // iteration order is still globally fid-ascending
    val got = SinkFunnel.ordered(small.repartition(3),
      org.apache.spark.sql.functions.col("fid"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }
}
