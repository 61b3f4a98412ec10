package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (a broadcast join of the query set
  * against the corpus — one scan, no shuffle of the corpus). Scale path:
  * random-hyperplane LSH bucketing, turning the similarity search into an
  * equi-join on bucket signatures.
  */
object Similarity {

  /** Deterministic random hyperplanes (fixed seed — reproducible across
    * sessions and engines). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of a vector against the hyperplanes. Runs as a
    * per-row primitive kernel with the same sequential left-to-right dot
    * accumulation as the equivalent aggregate/zip_with expression, so the
    * produced signatures are bit-identical to the HOF form (which is
    * interpreted and slower). */
  def hyperplaneSignature(vec: Column, planes: Seq[Array[Double]]): Column = {
    val ps = planes.toArray
    val f = udf { (v: Array[Double]) =>
      var sig = 0L
      var i = 0
      while (i < ps.length) {
        val p = ps(i)
        var dot = 0.0
        var j = 0
        val n = math.min(v.length, p.length)
        while (j < n) { dot += v(j) * p(j); j += 1 }
        if (dot >= 0) sig |= 1L << i
        i += 1
      }
      sig
    }
    f(transform(vec, x => x.cast("double")))
  }

  /** Brute-force cosine top-k for each query id. The query side is tiny →
    * broadcast; the corpus is scanned once; per-query ranking is a window
    * over the query id partition. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // compute in double precision regardless of the storage element type
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val corpus = df.select(col(idCol).as("cand_id"), vecD.as("cv"))
    val queries = df.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), vecD.as("qv"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Dedup.cosine(col("qv"), col("cv")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /** LSH-bucketed ANN: candidates share a hyperplane bucket with the query
    * (equi-join), then exact cosine ranking within the bucket. Trades recall
    * for eliminating the corpus×queries product — the 100 TB path.
    *
    * `probeRadius` enables multi-probe: each query also probes the buckets
    * whose signature differs in up to that many sign bits (near-boundary
    * vectors land there), recovering recall at the cost of
    * C(numPlanes, ≤radius) extra equi-join rows per query — still no
    * cross join. radius = numPlanes probes every bucket and makes the
    * search exact (the p17 oracle asserts equivalence with brute force). */
  /** The candidate stage of the LSH search: (query_id, qv, cand_id, v)
    * pairs whose bucket signatures differ in at most `probeRadius` sign
    * bits, produced by the probe-mask equi-join (never a cross join).
    * Exposed so the probe enumeration can be pinned against a brute-force
    * hamming-distance derivation (the p21 containment check). */
  def lshCandidates(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], numPlanes: Int = 12, dim: Int = 64,
      probeRadius: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    require(probeRadius == 0 || numPlanes <= 24,
      "multi-probe with numPlanes > 24 would enumerate too many probe masks")
    val planes = randomPlanes(numPlanes, dim)
    val sig = hyperplaneSignature(col(vecCol), planes)
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("v"), sig.as("bucket"))
    // C(numPlanes, <= radius) masks, built from bit combinations — never a
    // 2^numPlanes walk (radius 0 is the single exact bucket)
    val masks: Seq[Long] = (0 to probeRadius).flatMap(r =>
      (0 until numPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val queries = keyed.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(transform(typedLit(masks), m => col("bucket").bitwiseXOR(m)))
          .as("bucket"))
    keyed.join(broadcast(queries), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("id").as("cand_id"), col("v"))
  }

  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, numPlanes: Int = 12, dim: Int = 64,
      probeRadius: Int = 0): DataFrame = {
    val scored = lshCandidates(df, idCol, vecCol, queryIds, numPlanes, dim,
        probeRadius)
      .select(col("query_id"), col("cand_id"),
        round(Dedup.cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
  }

  /** Soundness + completeness check of the multi-probe enumeration at one
    * radius: the candidate pairs produced by the probe-mask equi-join must
    * EQUAL the pairs whose signatures differ in ≤ radius bits (derived
    * brute-force from the signatures, no probe masks involved). Returns one
    * row (radius, n_missing, n_extra) — (r, 0, 0) when the mask enumeration
    * is exactly the hamming ball. */
  def lshProbeContainment(df: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], numPlanes: Int, dim: Int,
      probeRadius: Int): DataFrame = {
    val planes = randomPlanes(numPlanes, dim)
    val sig = hyperplaneSignature(col(vecCol), planes)
    val keyed = df.select(col(idCol).as("id"), sig.as("bucket"))
    val queries = keyed.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("query_id"), col("bucket").as("qb"))
    // truth: per-pair hamming distance over the full corpus — a broadcast
    // of the (tiny) query side, one corpus scan
    val truth = keyed.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("query_id"))
      .filter(bit_count(col("bucket").bitwiseXOR(col("qb"))) <= probeRadius)
      .select(col("query_id"), col("id").as("cand_id"))
    val cand = lshCandidates(df, idCol, vecCol, queryIds, numPlanes, dim,
        probeRadius)
      .select(col("query_id"), col("cand_id"))
    truth.withColumn("side", lit(1L))
      .unionAll(cand.withColumn("side", lit(2L)))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("side")).as("s"))
      .agg(lit(probeRadius).cast("long").as("radius"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("s") === 2L, 1L).otherwise(0L)).as("n_extra"))
  }
}
