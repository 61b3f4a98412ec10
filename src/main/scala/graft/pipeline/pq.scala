package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding search at corpus scale (Jégou,
  * Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
  * Search", IEEE TPAMI 33(1)): split each `dim`-vector into `m`
  * subspaces, k-means each subspace to `k ≤ 256` codes, store ONE BYTE
  * per subspace — m bytes per vector instead of 4·dim floats (a 16-48×
  * footprint cut at typical settings), with queries scored against the
  * codes via asymmetric distance computation (ADC): a per-query m×k
  * lookup table of partial squared distances, summed by table lookup per
  * candidate.
  *
  * The 100 TB story: `fit` is Lloyd iterations where ALL m subspaces
  * share one scan and one (subspace, code, dimension)-keyed map-side-
  * combined aggregation per step (m·k·dim/m = k·dim doubles to the
  * driver); `encode` is a stateless per-row kernel; `adcTopK` broadcasts
  * the queries' lookup tables (m·k doubles each) and scans CODES — the
  * float vectors are only touched again for the exact re-rank of the
  * per-query candidate shortlist. With `candidates >= corpus` the
  * shortlist is everything and the result equals brute force exactly
  * (the oracle's lever, same as IVF's exhaustive-probe mode).
  *
  * Everything is deterministic: id-ordered init, fixed iteration count,
  * ties broken by code index.
  */
object Pq {

  /** `codebooks(sub)(code)` is the sub-centroid (length dim/m). */
  case class Model(m: Int, k: Int, dim: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
  }

  private[pipeline] def subDist2(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = v(off + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Codes of one vector under the model: nearest sub-centroid per
    * subspace (ties → lowest code). */
  private def encodeVec(model: Model)(v: Seq[Double]): Array[Byte] = {
    val arr = v.toArray
    Array.tabulate(model.m) { sub =>
      val off = sub * model.subDim
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < model.codebooks(sub).length) {
        val d = subDist2(arr, off, model.codebooks(sub)(c))
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best.toByte
    }
  }

  /** Deterministic per-subspace k-means: init = the k lowest-id vectors'
    * sub-vectors, then `iters` Lloyd steps. One scan per step covers all
    * m subspaces, aggregated in-task into m×k×(dim/m) running sums +
    * m×k counts (treeAggregate): no posexplode of every vector into
    * n·dim shuffled rows, no per-step exchange — only m·k·(dim/m + 1)
    * doubles per partition cross the network (guide §2.3 aggregate-
    * before-you-shuffle), and each Lloyd step is exactly one job. */
  def fit(df: DataFrame, idCol: String, vecCol: String, m: Int,
      k: Int = 256, iters: Int = 3): Model = {
    require(m >= 1 && k >= 1 && k <= 256, "need 1 <= k <= 256 (one byte/code)")
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val base = df.select(col(idCol).as("id"), vecD.as("v")).cache()
    try {
      val seed = base.orderBy(col("id")).limit(k)
        .collect().map(_.getSeq[Double](1).toArray)
      require(seed.nonEmpty, "empty corpus")
      val dim = seed(0).length
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val sd = dim / m
      var books: Array[Array[Array[Double]]] = Array.tabulate(m) { sub =>
        Array.tabulate(math.min(k, seed.length)) { c =>
          java.util.Arrays.copyOfRange(seed(c), sub * sd, (sub + 1) * sd)
        }
      }
      val vecs = base.select(col("v")).rdd.map(_.getSeq[Double](0).toArray)
      for (_ <- 1 to iters) {
        val model = Model(m, k, dim, books)
        val (sums, counts) = vecs.treeAggregate(
          (Array.fill(m, k, sd)(0.0), Array.fill(m, k)(0L)))(
          seqOp = { case (acc @ (s, n), v) =>
            var sub = 0
            while (sub < m) {
              // nearest sub-centroid, ties → lowest code (encodeVec's rule)
              val off = sub * sd
              val cb = model.codebooks(sub)
              var best = 0; var bd = Double.MaxValue; var c = 0
              while (c < cb.length) {
                val d = subDist2(v, off, cb(c))
                if (d < bd) { bd = d; best = c }
                c += 1
              }
              n(sub)(best) += 1
              val sc = s(sub)(best)
              var d = 0
              while (d < sd) { sc(d) += v(off + d); d += 1 }
              sub += 1
            }
            acc
          },
          combOp = { case (a @ (sa, na), (sb2, nb)) =>
            var sub = 0
            while (sub < m) {
              var c = 0
              while (c < k) {
                na(sub)(c) += nb(sub)(c)
                val s1 = sa(sub)(c); val s2 = sb2(sub)(c)
                var d = 0
                while (d < sd) { s1(d) += s2(d); d += 1 }
                c += 1
              }
              sub += 1
            }
            a
          })
        books = Array.tabulate(m) { sub =>
          Array.tabulate(books(sub).length) { c =>
            if (counts(sub)(c) > 0) sums(sub)(c).map(_ / counts(sub)(c))
            else books(sub)(c) // empty code keeps its centroid
          }
        }
      }
      Model(m, k, dim, books)
    } finally base.unpersist(false)
  }

  /** Corpus frame with a `codes` BinaryType column (m bytes per vector). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame = {
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val codesUdf = udf(encodeVec(model) _)
    df.select(col(idCol).as("id"), vecD.as("v"))
      .withColumn("codes", codesUdf(col("v")))
  }

  /** Top-k cosine neighbours per query: PQ-ADC candidate generation (the
    * `candidates`-deep shortlist per query is scored from CODES via the
    * query's lookup table — no corpus float math), then exact cosine
    * re-rank of the shortlist. `candidates >= corpus size` makes the
    * result EQUAL brute force (every candidate survives to the exact
    * stage); small `candidates` is the scale path. */
  def adcTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], topK: Int, m: Int = 8, k: Int = 16,
      candidates: Int = 100, iters: Int = 3): DataFrame = {
    require(candidates >= topK, "candidates must be >= topK")
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val model = fit(df, idCol, vecCol, m, k, iters)
    val corpus = encode(df, idCol, vecCol, model)
      .select(col("id").as("cand_id"), col("v").as("cv"), col("codes"))
    val vecD = transform(col(vecCol), x => x.cast("double"))
    // per-query ADC lookup table: lut(sub*k + code) = ||q_sub - c||²
    val lutUdf = udf { (q: Seq[Double]) =>
      val arr = q.toArray
      val lut = new Array[Double](model.m * model.k)
      var sub = 0
      while (sub < model.m) {
        var c = 0
        while (c < model.codebooks(sub).length) {
          lut(sub * model.k + c) =
            subDist2(arr, sub * model.subDim, model.codebooks(sub)(c))
          c += 1
        }
        sub += 1
      }
      lut
    }
    val queries = df.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), vecD.as("qv"))
      .withColumn("lut", lutUdf(col("qv")))
    val kk = model.k
    val adcUdf = udf { (codes: Array[Byte], lut: Array[Double]) =>
      var s = 0.0; var sub = 0
      while (sub < codes.length) {
        s += lut(sub * kk + (codes(sub) & 0xFF))
        sub += 1
      }
      s
    }
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("adc", adcUdf(col("codes"), col("lut")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("cand_id").asc)
    val shortlist = scored.withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= candidates)
    val exact = shortlist.select(col("query_id"), col("cand_id"),
      round(Dedup.cosine(col("qv"), col("cv")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }
}

/** IVF-PQ composition (the FAISS `IVFPQ` index design, after Jégou et
  * al. 2011 §IV): an IVF coarse quantizer partitions the corpus into
  * inverted lists, and product quantization encodes each vector's
  * RESIDUAL against its list's centroid — residuals concentrate near
  * zero, so the same byte budget quantizes them far more precisely than
  * raw vectors. Queries probe the `nProbe` nearest lists and score each
  * list's codes against a PER-LIST ADC lookup table built from the
  * query's residual to that list's centroid.
  *
  * The 100 TB shape: the corpus is touched by (a) one assignment +
  * residual map, (b) the shared PQ fit/encode passes, and (c) a shuffle
  * EQUI-JOIN on the cluster id against the exploded (query, probed
  * cluster, LUT) broadcast — never a corpus×queries product (tighter
  * than flat `Pq.adcTopK`, whose candidate scan is the whole corpus).
  * `nProbe = numClusters` with `candidates >= corpus` makes the exact
  * re-rank equal brute force — the compounded oracle lever.
  */
object IvfPq {

  def topK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], topK: Int, numClusters: Int = 8, nProbe: Int = 2,
      m: Int = 8, k: Int = 16, candidates: Int = 100, iters: Int = 3)
      (implicit spark: SparkSession): DataFrame = {
    require(candidates >= topK, "candidates must be >= topK")
    graft.functions.GraftFunctions.register(spark)
    val centroids = Ivf.fit(df, idCol, vecCol, numClusters, iters)
    val bcCent = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf(Ivf.nearest(centroids) _)
    val residUdf = udf { (v: Array[Double], cl: Int) =>
      val cc = bcCent.value(cl)
      Array.tabulate(v.length)(i => v(i) - cc(i))
    }
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val assigned = df.select(col(idCol).as("id"), vecD.as("v"))
      .withColumn("cluster", assignUdf(col("v")))
      .withColumn("res", residUdf(col("v"), col("cluster")))
    // PQ model over residuals (shared across lists, the standard design)
    val model = Pq.fit(assigned.select(col("id"), col("res")),
      "id", "res", m, k, iters)
    val corpus = Pq.encode(assigned.select(col("id"), col("res")),
      "id", "res", model)
      .select(col("id").as("cand_id"), col("codes"))
      .join(assigned.select(col("id").as("cand_id"), col("cluster"),
        col("v").as("cv")), Seq("cand_id"))
    val probesUdf = udf { (qv: Seq[Double]) =>
      val arr = qv.toArray
      bcCent.value.zipWithIndex
        .map { case (c, i) => (Ivf.dist2(arr, c), i) }
        .sortBy(_._1).take(nProbe).map(_._2)
    }
    // per-(query, probed list) LUT over the query's residual to THAT
    // list's centroid
    val lutUdf = udf { (qv: Array[Double], cl: Int) =>
      val cc = bcCent.value(cl)
      val arr = Array.tabulate(qv.length)(i => qv(i) - cc(i))
      val lut = new Array[Double](model.m * model.k)
      var sub = 0
      while (sub < model.m) {
        var c = 0
        while (c < model.codebooks(sub).length) {
          lut(sub * model.k + c) =
            Pq.subDist2(arr, sub * model.subDim, model.codebooks(sub)(c))
          c += 1
        }
        sub += 1
      }
      lut
    }
    val queries = df.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), vecD.as("qv"))
      .withColumn("cluster", explode(probesUdf(col("qv"))))
      .withColumn("lut", lutUdf(col("qv"), col("cluster")))
    val kk = model.k
    val adcUdf = udf { (codes: Array[Byte], lut: Array[Double]) =>
      var s = 0.0; var sub = 0
      while (sub < codes.length) {
        s += lut(sub * kk + (codes(sub) & 0xFF))
        sub += 1
      }
      s
    }
    val scored = corpus.join(broadcast(queries), Seq("cluster"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("adc", adcUdf(col("codes"), col("lut")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("cand_id").asc)
    val shortlist = scored.withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= candidates)
    val exact = shortlist.select(col("query_id"), col("cand_id"),
      round(Dedup.cosine(col("qv"), col("cv")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }
}
