package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.{Lanes, SparkEntry}

/** Profiling entry point: named lanes in isolation, the full-suite sweep
  * at a larger scale, and the generator of that scale's tables.
  *
  *   runMain graft.tools.Prof lanes <sfDir> <reps> <explainDir|NONE> <q1,q2,...>
  *   runMain graft.tools.Prof sweep <sfDir>
  *   runMain graft.tools.Prof gen <outDir> [copies] [neardup]
  *
  * `lanes` times `reps` runs of each named lane after the shared warmup
  * (fresh-JVM comparable) and optionally dumps `.explain("formatted")` to
  * `<explainDir>/<name>.txt`. `sweep` runs every lane once (filtered by
  * the `SPARK_GRAFT_BENCH_FILTER` regex) and also records each lane's
  * live heap after a `System.gc()`, outside the timed window. Both print
  * one line per lane with the bench's per-lane fields (`bench_query`,
  * `sec`, `peak_heap_mb`, `err` on failure), which
  * `tools/compare_sweeps.py` diffs. `gen` builds sf1 from sf0.1 (see
  * [[gen]]).
  */
object Prof {
  private def laneLine(name: String, ts: Seq[Double], err: Option[String],
      peakMb: Long, extra: String): String = {
    val sec = if (err.isDefined || ts.isEmpty) -1.0 else ts.min
    val errField = err.map(e => s""","err":"$e"""").getOrElse("")
    s"""{"bench_query":"$name","sec":$sec,"peak_heap_mb":$peakMb$extra$errField}"""
  }

  def lanes(spark: SparkSession, sfDir: String, reps: Int, explainDir: String,
      names: Seq[String]): Unit = {
    Lanes.warmup(spark, sfDir)
    for (name <- names) {
      if (explainDir != "NONE") {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.createDirectories(Paths.get(explainDir))
        Files.writeString(Paths.get(explainDir, s"$name.txt"), plan)
      }
      spark.sparkContext.setJobDescription(s"prof:$name")
      val ((ts, err), peak) =
        Lanes.withHeapPeak(Lanes.time(reps)(Lanes.run(spark, sfDir, name)))
      println(laneLine(name, ts, err, peak,
        ts.map(t => f"$t%.3f").mkString(""","reps":[""", ",", "]")))
    }
  }

  def sweep(spark: SparkSession, sfDir: String): Unit = {
    val names =
      Lanes.select(filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")).map(_.name)
    Lanes.warmup(spark, sfDir)
    val results = names.map { name =>
      val ((ts, err), peak) =
        Lanes.withHeapPeak(Lanes.time(1)(Lanes.run(spark, sfDir, name)))
      // live set (post-GC used heap): under a generational collector the
      // peak tracks the -Xmx neighborhood, the live set compares across
      // heap ceilings
      System.gc()
      val rt = Runtime.getRuntime
      val live = (rt.totalMemory - rt.freeMemory) >> 20
      println(laneLine(name, ts, err, peak, s""","live_heap_mb":$live"""))
      (ts.sum, err, peak)
    }
    println(s"""{"sweep_total_sec":${results.map(_._1).sum},"n_queries":${
      names.size},"n_errors":${results.count(_._2.isDefined)},"max_query_peak_heap_mb":${
      results.map(_._3).maxOption.getOrElse(0L)},"heap_max_mb":${
      Runtime.getRuntime.maxMemory >> 20},"sf":"$sfDir"}""")
  }

  /** Union of `copies` key-shifted replicas: each column in `shifts`
    * gains k * (base max + 1) in copy k, so replicated keys stay
    * unique and FK joins land inside their own replica. */
  private def replicate(df: DataFrame, shifts: Map[String, Long],
      copies: Int): DataFrame =
    (0 until copies).map { k =>
      shifts.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(k * off))
      }
    }.reduce(_ unionAll _)

  /** Builds sf1 tables at `outDir` as the union of `copies` key-shifted
    * copies of `srcDir`. Foreign keys shift consistently
    * (orders.o_custkey moves with customer.c_custkey, lineitem's three
    * FKs with their dimensions), dimension lookups (region/nation) stay
    * single-copy, and the events/documents/embeddings streams densify in
    * place (same time window and text/vector space, `copies`× the rows:
    * the realistic scale-up for window joins and dedup). */
  def gen(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int, perturbDocs: Boolean): Unit = {
    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def off(t: String, key: String): Long =
      rd(t).agg(max(col(key))).head().getLong(0) + 1L
    val oCust = off("customer", "c_custkey")
    val oSupp = off("supplier", "s_suppkey")
    val oPart = off("part", "p_partkey")
    val oOrd = off("orders", "o_orderkey")
    val plan: Seq[(String, Map[String, Long])] = Seq(
      "region" -> Map.empty, "nation" -> Map.empty,
      "customer" -> Map("c_custkey" -> oCust),
      "supplier" -> Map("s_suppkey" -> oSupp),
      "part" -> Map("p_partkey" -> oPart),
      "orders" -> Map("o_orderkey" -> oOrd, "o_custkey" -> oCust),
      "lineitem" -> Map("l_orderkey" -> oOrd, "l_partkey" -> oPart,
        "l_suppkey" -> oSupp),
      "events" -> Map("event_id" -> off("events", "event_id")),
      "documents" -> Map("doc_id" -> off("documents", "doc_id")),
      "embeddings" -> Map("vec_id" -> off("embeddings", "vec_id")))
    for ((t, shifts) <- plan) {
      val out =
        if (shifts.isEmpty) rd(t) // dimension lookups stay single-copy
        else if (t == "documents" && perturbDocs) {
          // near-dup-REALISTIC replication: copy 0 is the base corpus,
          // copy k > 0 drops every (k+4)th word — deterministic true
          // near-duplicates, so MinHash/SimHash/stream-admission lanes
          // see a realistic dup/near-dup mix instead of byte-exact
          // clones
          val o = off("documents", "doc_id")
          (0 until copies).map { k =>
            val shifted = rd(t)
              .withColumn("doc_id", col("doc_id") + lit(k * o))
            if (k == 0) shifted
            else shifted.withColumn("text", expr(
              s"array_join(filter(split(text, ' '), " +
                s"(w, i) -> i % ${k + 4} != 0), ' ')"))
          }.reduce(_ unionAll _)
        } else replicate(rd(t), shifts, copies)
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"""{"prof_gen":"$t","rows":${
        spark.read.parquet(s"$outDir/$t.parquet").count()}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: lanes <sfDir> <reps> <explainDir|NONE> <q1,q2,...> | " +
      "sweep <sfDir> | gen <outDir> [copies] [neardup]"
    val spark = graft.Sessions.local()
    try {
      args.toList match {
        case "lanes" :: sfDir :: reps :: explainDir :: names :: Nil =>
          lanes(spark, sfDir, reps.toInt, explainDir,
            Lanes.select(Some(names)).map(_.name))
        case "sweep" :: sfDir :: Nil => sweep(spark, sfDir)
        case "gen" :: out :: rest =>
          val copies = rest.headOption.filter(_ != "neardup").map(_.toInt).getOrElse(10)
          gen(spark, "/root/testdata/sf0.1", out, copies,
            perturbDocs = rest.contains("neardup"))
        case other => sys.error(s"$usage (got ${other.mkString(" ")})")
      }
    } finally spark.stop()
  }
}
