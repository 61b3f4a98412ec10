package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** PCA over an embedding column — the dimension-reduction step a
  * training-data pipeline runs before ANN indexing or clustering at
  * 100 TB (project 768-d vectors to 64-d once, then every downstream
  * similarity pass is ~12× cheaper).
  *
  * Plan shape: ONE distributed pass accumulates the d-vector sum and the
  * d×d Gram matrix (`treeAggregate` — map-side combine, then a log-depth
  * combine tree; nothing row-sized ever reaches the driver). The d×d
  * covariance eigendecomposition runs on the driver (d is the embedding
  * width, never the corpus size) with a cyclic Jacobi sweep, and the d×k
  * projection matrix broadcasts back — O(d²) driver state, one narrow
  * map to project. No shuffle anywhere.
  *
  * Combine order across partitions is associative-but-not-exact for
  * floats, so eigenvectors are deterministic only to ~1e-12 — callers
  * that need cross-engine reproducibility should round projected values
  * (the oracle query rounds to 3 decimals).
  */
object Pca {

  /** Symmetric eigendecomposition of `a` (d×d, row-major) via cyclic
    * Jacobi: returns (eigenvalues desc, eigenvectors as columns), each
    * eigenvector sign-normalized so its largest-|component| is positive. */
  def symEigen(a: Array[Double], d: Int): (Array[Double], Array[Double]) = {
    val m = a.clone()
    val v = new Array[Double](d * d)
    var i = 0
    while (i < d) { v(i * d + i) = 1.0; i += 1 }
    var sweep = 0
    var off = offDiag(m, d)
    while (off > 1e-14 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p * d + q)
          if (math.abs(apq) > 1e-300) {
            val app = m(p * d + p); val aqq = m(q * d + q)
            val theta = 0.5 * math.atan2(2 * apq, aqq - app)
            val c = math.cos(theta); val s = math.sin(theta)
            var k = 0
            while (k < d) {
              val mkp = m(k * d + p); val mkq = m(k * d + q)
              m(k * d + p) = c * mkp - s * mkq
              m(k * d + q) = s * mkp + c * mkq
              k += 1
            }
            k = 0
            while (k < d) {
              val mpk = m(p * d + k); val mqk = m(q * d + k)
              m(p * d + k) = c * mpk - s * mqk
              m(q * d + k) = s * mpk + c * mqk
              val vkp = v(k * d + p); val vkq = v(k * d + q)
              v(k * d + p) = c * vkp - s * vkq
              v(k * d + q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(m, d)
      sweep += 1
    }
    // sort eigenpairs by eigenvalue descending; sign-normalize columns
    val order = (0 until d).sortBy(j => -m(j * d + j))
    val vals = order.map(j => m(j * d + j)).toArray
    val vecs = new Array[Double](d * d)
    var jj = 0
    while (jj < d) {
      val src = order(jj)
      var best = 0; var bestAbs = -1.0
      var k = 0
      while (k < d) {
        val x = math.abs(v(k * d + src))
        if (x > bestAbs) { bestAbs = x; best = k }
        k += 1
      }
      val sign = if (v(best * d + src) < 0) -1.0 else 1.0
      k = 0
      while (k < d) { vecs(k * d + jj) = sign * v(k * d + src); k += 1 }
      jj += 1
    }
    (vals, vecs)
  }

  private def offDiag(m: Array[Double], d: Int): Double = {
    var s = 0.0; var p = 0
    while (p < d) {
      var q = p + 1
      while (q < d) { s += m(p * d + q) * m(p * d + q); q += 1 }
      p += 1
    }
    s
  }

  /** Fitted model: mean vector, projection matrix (d×k, column j =
    * eigenvector j), explained variances (top-k eigenvalues). */
  case class Model(mean: Array[Double], components: Array[Double],
      d: Int, k: Int, variance: Array[Double])

  /** One distributed pass → PCA model with `k` components. */
  def fit(df: DataFrame, vecCol: String, k: Int): Model = {
    val d = df.select(size(col(vecCol))).head().getInt(0)
    require(k >= 1 && k <= d, s"k=$k outside 1..$d")
    val rows = df.select(col(vecCol)).where(col(vecCol).isNotNull)
      .rdd.map(_.getSeq[Float](0))
    // acc = [n, sum_0..d-1, gram_00..gram_dd] — one array, map-side combined
    val zero = new Array[Double](1 + d + d * d)
    val acc = rows.treeAggregate(zero)(
      seqOp = (a, x) => {
        a(0) += 1
        var i = 0
        while (i < d) {
          val xi = x(i).toDouble
          a(1 + i) += xi
          var j = i
          while (j < d) { a(1 + d + i * d + j) += xi * x(j).toDouble; j += 1 }
          i += 1
        }
        a
      },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
    val n = acc(0)
    require(n > 1, "PCA needs at least 2 vectors")
    val mean = Array.tabulate(d)(i => acc(1 + i) / n)
    val cov = new Array[Double](d * d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = acc(1 + d + i * d + j) / n - mean(i) * mean(j)
        cov(i * d + j) = c; cov(j * d + i) = c
        j += 1
      }
      i += 1
    }
    val (vals, vecs) = symEigen(cov, d)
    val comp = new Array[Double](d * k)
    i = 0
    while (i < d) {
      var j = 0
      while (j < k) { comp(i * k + j) = vecs(i * d + j); j += 1 }
      i += 1
    }
    Model(mean, comp, d, k, vals.take(k))
  }

  /** Project the embedding column onto the model's components: adds
    * `outCol` = Array[Double](k), one narrow map over a broadcast d×k
    * matrix. */
  def project(df: DataFrame, vecCol: String, model: Model,
      outCol: String = "pca"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val proj = udf { (x: Array[Float]) =>
      val m = bc.value
      val out = new Array[Double](m.k)
      var j = 0
      while (j < m.k) {
        var s = 0.0
        var i = 0
        while (i < m.d) {
          s += (x(i).toDouble - m.mean(i)) * m.components(i * m.k + j)
          i += 1
        }
        out(j) = s
        j += 1
      }
      out
    }
    df.withColumn(outCol, proj(col(vecCol)))
  }

  /** Fit + project in one call. */
  def fitProject(df: DataFrame, vecCol: String, k: Int,
      outCol: String = "pca"): DataFrame =
    project(df, vecCol, fit(df, vecCol, k), outCol)
}
