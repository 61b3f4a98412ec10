package graft.geometry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed spatial (intersects) join of two geometry frames — the
  * classic scale-geo operator the reference delegates to geopandas on a
  * single partition (dask_geomodeling has no distributed sjoin block;
  * its zonal path in geometry/aggregate.py is raster-specific).
  *
  * Shape: each geometry's envelope explodes onto a fixed grid of
  * `cellSize` cells; candidate pairs MEET in a hash equi-join on the
  * cell id (never a cross join); a JTS `intersects` refines; and each
  * surviving pair is emitted exactly ONCE — at the cell containing the
  * min corner of the envelope intersection (the standard report-once
  * rule) — so no global dedup pass follows the join. At 100 TB this is
  * one explode per side + one shuffle on the cell key.
  *
  * Skew hardening (real data is metro-dense): a cheap map-side-combined
  * stats pass counts rows per (cell, side) over a cells-only projection
  * (re-running the envelope UDF rather than checkpointing the exploded
  * frames, so the returned plan stays lazy and lineage-replayable on a
  * real cluster). Cells whose population exceeds `saltAbove` on
  * either side are SALTED — the right side hashes each row into one of
  * `saltFactor` sub-keys, the left side replicates its rows in those
  * cells across all sub-keys — so the join stays an equi-join on
  * (cell, salt) and one hot cell spreads over `saltFactor` tasks
  * instead of quadratically dominating one. A cell whose population
  * exceeds `maxCellRows` on either side fails LOUDLY (mirror of the
  * LSH `capBuckets` guard, but failure rather than drop: dropping
  * spatial pairs would be silent wrong answers) — lower `cellSize`
  * so the dense area spreads over more cells. `cellSize` also trades
  * explode fan-out against candidate precision; a geometry whose
  * envelope covers more than `maxCellsPerGeom` cells fails loudly
  * (raise the cell size) instead of silently exploding the plan.
  */
object SpatialJoin {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.geometry.SpatialJoin")

  /** Two full 32-bit halves: injective for cell indices in
    * [-2^31, 2^31) — indices outside fail loudly in the explode. */
  private def cellId(cx: Long, cy: Long): Long =
    (cx << 32) | (cy & 0xFFFFFFFFL)

  /** The (2·rings+1)² cell ids around cell (cx, cy), dx-major; fails with
    * `overflow` when a ring cell leaves the 32-bit grid. */
  private def ringAround(cx: Long, cy: Long, rings: Int)(
      overflow: => String): Array[Long] = {
    require(cx - rings >= Int.MinValue && cx + rings <= Int.MaxValue &&
      cy - rings >= Int.MinValue && cy + rings <= Int.MaxValue, overflow)
    val out = new Array[Long]((2 * rings + 1) * (2 * rings + 1))
    var i = 0
    var dx = -rings
    while (dx <= rings) {
      var dy = -rings
      while (dy <= rings) {
        out(i) = cellId(cx + dx, cy + dy); i += 1; dy += 1
      }
      dx += 1
    }
    out
  }

  /** Pairs (a_fid, b_fid) whose geometries intersect (boundary contact
    * counts, JTS semantics). Inputs are geometry frames (`fid` +
    * `geometry` WKB). */
  def intersects(left: DataFrame, right: DataFrame, cellSize: Double,
      maxCellsPerGeom: Int = 4096, saltAbove: Int = 100000,
      saltFactor: Int = 16, maxCellRows: Long = 10000000L,
      skewGuard: Boolean = true): DataFrame =
    join(left, right, cellSize, "intersects", maxCellsPerGeom,
      saltAbove, saltFactor, maxCellRows, skewGuard)

  /** Stats pass shared by join() and nearestWithin(): per-(cell, side)
    * populations, map-side combined, so output is one row per populated
    * cell and only cells ABOVE `saltAbove` reach the driver (bounded by
    * a loud 2^16 cap). Fails loudly when any cell exceeds `maxCellRows`
    * on either side. The inputs are cells-only projections — the pass
    * re-runs the envelope/centroid UDF rather than materializing the
    * exploded frames, deliberately: a localCheckpoint here would be
    * executor-local and non-replayable (an executor loss between
    * materialization and the join kills the query on a real cluster),
    * while one extra map-side scan of the geometry column is cheap,
    * partition-parallel, and keeps the returned plan fully lazy and
    * lineage-replayable. */
  private def hotCells(lCells: DataFrame, rCells: DataFrame,
      saltAbove: Int, maxCellRows: Long): Set[Long] =
    hotCellsFromCounts(
      lCells.select(col("cell"), lit(0).as("_side"))
        .unionAll(rCells.select(col("cell"), lit(1).as("_side")))
        .groupBy("cell", "_side").agg(count(lit(1)).as("_n")),
      saltAbove, maxCellRows)

  /** Threshold + collect stage of the stats pass over pre-aggregated
    * per-(cell, side) populations (`cell`, `_side`, `_n`). */
  private def hotCellsFromCounts(popCounts: DataFrame,
      saltAbove: Int, maxCellRows: Long): Set[Long] = {
    val counts = popCounts.filter(col("_n") > saltAbove)
    val maxHotCells = 1 << 16
    val hotRows = counts.limit(maxHotCells + 1).collect()
    require(hotRows.length <= maxHotCells,
      s"more than $maxHotCells grid cells exceed saltAbove=$saltAbove: " +
        "lower cellSize (or raise saltAbove)")
    hotRows.find(_.getLong(2) > maxCellRows).foreach { row =>
      throw new IllegalArgumentException(
        s"spatial join cell ${row.getLong(0)} holds ${row.getLong(2)} rows " +
          s"on side ${row.getInt(1)} (> maxCellRows=$maxCellRows): lower " +
          "cellSize so the dense area spreads over more cells")
    }
    hotRows.map(_.getLong(0)).toSet
  }

  /** Equi-join on `cell`, salting the cells in `hotSet`: each right row
    * lands in exactly ONE salt (hash of `rightHash`), left rows in hot
    * cells replicate across all `saltFactor` salts — every in-cell pair
    * still meets exactly once and the join stays an equi-join on
    * (cell, _salt), so one hot cell spreads over saltFactor tasks. */
  private def saltedCellJoin(l: DataFrame, r: DataFrame,
      rightHash: org.apache.spark.sql.Column, hotSet: Set[Long],
      saltFactor: Int): DataFrame =
    if (hotSet.isEmpty) l.join(r, "cell")
    else {
      log.warn(s"spatial join: salting ${hotSet.size} hot cells " +
        s"across $saltFactor sub-keys")
      val bc = l.sparkSession.sparkContext.broadcast(hotSet)
      val isHot = udf { (c: Long) => bc.value.contains(c) }
      val salts = array((0 until saltFactor).map(i => lit(i.toLong)): _*)
      val rS = r.withColumn("_salt",
        when(isHot(col("cell")),
          pmod(xxhash64(rightHash), lit(saltFactor.toLong)))
          .otherwise(lit(0L)))
      val lS = l.withColumn("_salt",
        explode(when(isHot(col("cell")), salts)
          .otherwise(array(lit(0L)))))
      lS.join(rS, Seq("cell", "_salt")).drop("_salt")
    }

  /** Grid-bucketed join under a JTS predicate: "intersects",
    * "within" (left within right) or "contains" (left contains right).
    * All three imply envelope intersection, so the same candidate
    * generation + report-once rule applies; only the refinement
    * predicate changes. */
  def join(left: DataFrame, right: DataFrame, cellSize: Double,
      predicate: String, maxCellsPerGeom: Int = 4096,
      saltAbove: Int = 100000, saltFactor: Int = 16,
      maxCellRows: Long = 10000000L, skewGuard: Boolean = true): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    require(Seq("intersects", "within", "contains").contains(predicate),
      s"unknown predicate '$predicate' (intersects, within, contains)")
    require(saltFactor >= 2, "saltFactor must be at least 2")
    require(saltAbove > 0 && saltAbove <= maxCellRows,
      "need 0 < saltAbove <= maxCellRows")
    val cellsUdf = udf { (wkb: Array[Byte]) =>
      val e = GeomFunctions.readWkbCached(wkb).getEnvelopeInternal
      val cx0 = math.floor(e.getMinX / cellSize).toLong
      val cx1 = math.floor(e.getMaxX / cellSize).toLong
      val cy0 = math.floor(e.getMinY / cellSize).toLong
      val cy1 = math.floor(e.getMaxY / cellSize).toLong
      require(cx0 >= Int.MinValue && cx1 <= Int.MaxValue &&
        cy0 >= Int.MinValue && cy1 <= Int.MaxValue,
        s"envelope cell indices ($cx0..$cx1, $cy0..$cy1) exceed the " +
          "32-bit cell grid: raise cellSize")
      val n = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
      require(n <= maxCellsPerGeom,
        s"geometry envelope covers $n grid cells (> $maxCellsPerGeom): " +
          "raise cellSize")
      (for (cx <- cx0 to cx1; cy <- cy0 to cy1)
        yield cellId(cx, cy)).toArray
    }
    val l = left.select(col("fid").as("a_fid"),
        col("geometry").as("a_geom"))
      .withColumn("cell", explode(cellsUdf(col("a_geom"))))
    val r = right.select(col("fid").as("b_fid"),
        col("geometry").as("b_geom"))
      .withColumn("cell", explode(cellsUdf(col("b_geom"))))
    // skewGuard=false skips the eager stats job entirely — for callers
    // that only need the (unsalted) plan, or whose data is known uniform
    val hotSet =
      if (!skewGuard) Set.empty[Long]
      else hotCells(
        left.select(explode(cellsUdf(col("geometry"))).as("cell")),
        right.select(explode(cellsUdf(col("geometry"))).as("cell")),
        saltAbove, maxCellRows)

    val refine = udf { (aw: Array[Byte], bw: Array[Byte], cell: Long) =>
      // 2-entry parse memo: the pair predicate alternates two geometries
      val a = GeomFunctions.readWkbCached(aw)
      val b = GeomFunctions.readWkbCached(bw)
      val ea = a.getEnvelopeInternal; val eb = b.getEnvelopeInternal
      if (!ea.intersects(eb)) false
      else {
        // report-once: only the cell holding the envelope-intersection
        // min corner emits the pair
        val ix = math.max(ea.getMinX, eb.getMinX)
        val iy = math.max(ea.getMinY, eb.getMinY)
        cellId(math.floor(ix / cellSize).toLong,
          math.floor(iy / cellSize).toLong) == cell && (predicate match {
          case "within"   => a.within(b)
          case "contains" => a.contains(b)
          case _          => a.intersects(b)
        })
      }
    }

    saltedCellJoin(l, r, col("b_fid"), hotSet, saltFactor)
      .filter(refine(col("a_geom"), col("b_geom"), col("cell")))
      .select(col("a_fid"), col("b_fid"))
  }

  /** Distance-bounded k-nearest-neighbour join by CENTROID distance:
    * for each left feature, the `k` nearest right features within
    * `maxDist`, ranked by (squared distance, b_fid) — the bound is what
    * keeps the search single-pass and skew-safe at scale (unbounded kNN
    * over a dense region degenerates; real pipelines want the radius
    * anyway). Output: (a_fid, b_fid, d2, nn_rank).
    *
    * Shape: the right side lands in ONE grid cell per feature; the left
    * side explodes to the (2R+1)² cells within R = ceil(maxDist/
    * cellSize) rings, so every in-range pair meets EXACTLY once in a
    * hash equi-join on the cell — no dedup pass, no cross join. The
    * per-left ranking is a window partitioned by a_fid (state bounded
    * by one feature's candidate list). Squared distance avoids sqrt:
    * identical IEEE multiply/add on identical inputs is bit-exact
    * across engines, which is what the oracle relies on.
    *
    * Skew hardening mirrors join(): a metro-dense right cell would
    * otherwise concentrate the candidates of all (2R+1)² covering left
    * rows on one cell key (the refinement runs AFTER the join, so the
    * blowup happens before any filter). The same stats pass salts hot
    * cells — right hashed by b_fid, ring-exploded left replicated
    * across salts — and fails loudly above `maxCellRows`. */
  def nearestWithin(left: DataFrame, right: DataFrame, k: Int,
      maxDist: Double, cellSize: Double,
      maxCellsPerGeom: Int = 4096, saltAbove: Int = 100000,
      saltFactor: Int = 16, maxCellRows: Long = 10000000L,
      skewGuard: Boolean = true): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(maxDist > 0 && cellSize > 0, "maxDist and cellSize must be positive")
    require(saltFactor >= 2, "saltFactor must be at least 2")
    require(saltAbove > 0 && saltAbove <= maxCellRows,
      "need 0 < saltAbove <= maxCellRows")
    val rings = math.ceil(maxDist / cellSize).toInt
    require((2L * rings + 1) * (2L * rings + 1) <= maxCellsPerGeom,
      s"maxDist/$cellSize needs ${2 * rings + 1}² cells per left feature " +
        s"(> $maxCellsPerGeom): raise cellSize")
    def centroids(df: DataFrame, fid: String, x: String, y: String) =
      df.select(col("fid").as(fid),
        GeomFunctions.stCentroidX(col("geometry")).as(x),
        GeomFunctions.stCentroidY(col("geometry")).as(y))
    val cellOf = udf { (x: Double, y: Double) =>
      val cx = math.floor(x / cellSize).toLong
      val cy = math.floor(y / cellSize).toLong
      require(cx >= Int.MinValue && cx <= Int.MaxValue &&
        cy >= Int.MinValue && cy <= Int.MaxValue,
        s"coordinates ($x, $y) exceed the 32-bit cell grid: raise cellSize")
      cellId(cx, cy)
    }
    val ringCells = udf { (x: Double, y: Double) =>
      ringAround(math.floor(x / cellSize).toLong,
        math.floor(y / cellSize).toLong, rings)(
        s"coordinates ($x, $y) exceed the 32-bit cell grid: raise cellSize")
    }
    val l = centroids(left, "a_fid", "ax", "ay")
      .withColumn("cell", explode(ringCells(col("ax"), col("ay"))))
    val r = centroids(right, "b_fid", "bx", "by")
      .withColumn("cell", cellOf(col("bx"), col("by")))
    // Stats pass in CENTER-cell space (guide §2 skew / §2.3 aggregate
    // before you explode): counting the ring-exploded left would replay
    // the (2R+1)² explode over every row; instead count rows per center
    // cell (ONE cell per feature, map-side combined) and derive each
    // ring cell's population by summing the (2R+1)² offset-shifted
    // center counts — identical integers (the offset set is symmetric,
    // so Σ_o centerCount(cell − o) IS the ring-exploded count), with the
    // explode over the aggregated cell table only. Still a cells-only
    // recompute, never a checkpoint — the lineage-replayability decision
    // documented on hotCells stands.
    val hotSet =
      if (!skewGuard) Set.empty[Long]
      else {
        val shiftCells = udf { (c: Long) =>
          val (cx, cy) = (c >> 32, c.toInt.toLong)
          ringAround(cx, cy, rings)(s"cell ($cx, $cy) ± $rings rings " +
            "exceeds the 32-bit cell grid: raise cellSize")
        }
        val lCounts = centroids(left, "a_fid", "ax", "ay")
          .select(cellOf(col("ax"), col("ay")).as("cell"))
          .groupBy("cell").agg(count(lit(1)).as("_c"))
          .select(explode(shiftCells(col("cell"))).as("cell"), col("_c"))
          .groupBy("cell").agg(sum(col("_c")).as("_n"))
          .select(col("cell"), lit(0).as("_side"), col("_n"))
        val rCounts = r.select("cell")
          .groupBy("cell").agg(count(lit(1)).as("_n"))
          .select(col("cell"), lit(1).as("_side"), col("_n"))
        hotCellsFromCounts(lCounts.unionAll(rCounts), saltAbove, maxCellRows)
      }
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val pairs = saltedCellJoin(l, r, col("b_fid"), hotSet, saltFactor)
      .select(col("a_fid"), col("b_fid"), d2.as("d2"))
      .filter(col("d2") <= lit(maxDist * maxDist))
    pairs.withColumn("nn_rank",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("a_fid")).orderBy(col("d2"), col("b_fid")))
          .cast("long"))
      .filter(col("nn_rank") <= k)
  }
}
