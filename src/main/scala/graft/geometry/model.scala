package graft.geometry

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Block

/** Feature-table Block family, after the reference GeometryBlock
  * (dask_geomodeling/geometry/base.py:10-96).
  *
  * Physical format: a DataFrame with a `fid` LongType index column (the
  * load-bearing feature id — merges and column set/get align on it,
  * geometry/base.py:246-250), an optional WKB `geometry` BinaryType column,
  * and property columns. CRS is plan metadata. The dynamic `columns` set of
  * the reference maps to the declared schema.
  */
case class GeometryRequest(
    mode: String = "intersects", // intersects | centroid | extent
    geometryWkt: Option[String] = None, // filter geometry (WKT, in `projection`)
    projection: String = "EPSG:28992",
    limit: Option[Int] = None,
    minSize: Option[Double] = None,
    filters: Map[String, Any] = Map.empty,
    start: Option[Instant] = None,
    stop: Option[Instant] = None
)

trait GeometryBlock extends Block {
  /** Known property columns (names only, like the reference's `columns`). */
  def columns: Set[String]
  def projection: String = "EPSG:28992"
  /** Lower to a DataFrame with at least `fid` plus `columns`. */
  def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame

  /** `frame` with geometries converted to the request CRS (the reference's
    * sources reproject their output, geometry/sources.py:88-95). */
  final def frameInRequestCrs(req: GeometryRequest)
      (implicit spark: SparkSession): DataFrame = {
    val df = frame(req)
    val from = graft.raster.Proj.normalize(projection)
    val to = graft.raster.Proj.normalize(req.projection)
    if (from == to || !df.columns.contains("geometry")) df
    else df.withColumn("geometry",
      GeomFunctions.stTransform(col("geometry"), lit(from), lit(to)))
  }

  /** Collect features into driver memory — the `get_data` of the
    * single-request API. An explicit request limit truncates; without one
    * the reference's global geometry-limit guard raises instead of pulling
    * an unbounded result into one process (geometry/sources.py:148-157).
    * The distributed `frame` plan is unguarded by design. */
  final def getFeatures(req: GeometryRequest)
      (implicit spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val df = frameInRequestCrs(req)
    req.limit match {
      case Some(_) => df.collect().toSeq // frame already applied the limit
      case None =>
        val cap = graft.raster.RequestGuards.geometryLimit
        val rows = df.limit(cap + 1).collect()
        if (rows.length > cap) throw new RuntimeException(
          s"The amount of returned geometries exceeded the maximum of $cap geometries.")
        rows.toSeq
    }
  }

  /** `mode="extent"` response (geometry/base.py:32-40): combined bbox of
    * the matching features in the request CRS, None when empty. */
  final def getExtent(req: GeometryRequest)
      (implicit spark: SparkSession): Option[(Double, Double, Double, Double)] = {
    val df = frameInRequestCrs(req.copy(mode = "extent"))
    if (!df.columns.contains("geometry")) return None
    val r = df.agg(
      min(GeomFunctions.stEnvMinX(col("geometry"))), min(GeomFunctions.stEnvMinY(col("geometry"))),
      max(GeomFunctions.stEnvMaxX(col("geometry"))), max(GeomFunctions.stEnvMaxY(col("geometry")))
    ).head()
    if (r.isNullAt(0)) None
    else Some((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  def getSeries(name: String): GetSeriesBlock = GetSeriesBlock(this, name)
  def set(name: String, series: SeriesBlock): SetSeriesBlock =
    SetSeriesBlock(this, name, series)
}

/** A single column as a first-class lazy value (geometry/base.py:99-199).
  * A SeriesBlock composes a Column expression over its root GeometryBlock's
  * frame; pandas missing-value semantics map to SQL NULL. */
trait SeriesBlock extends Block {
  /** The GeometryBlock this series is rooted in. */
  def root: GeometryBlock
  /** The column expression over the root's frame. */
  def column(df: DataFrame): Column
}

object SeriesBlock {
  /** Column of a series-or-scalar operand. */
  def colOf(op: Any, df: DataFrame): Column = op match {
    case s: SeriesBlock => s.column(df)
    case v: Int         => lit(v)
    case v: Long        => lit(v)
    case v: Double      => lit(v)
    case v: Boolean     => lit(v)
    case v: String      => lit(v)
    case other => throw new IllegalArgumentException(s"operand $other not allowed")
  }
  def rootOf(ops: Seq[Any]): GeometryBlock =
    ops.collectFirst { case s: SeriesBlock => s.root }
      .getOrElse(throw new IllegalArgumentException("need at least one series operand"))
}

/** Project one column out of a feature table (geometry/base.py:202-237). */
case class GetSeriesBlock(source: GeometryBlock, name: String) extends SeriesBlock {
  require(source.columns.contains(name), s"column '$name' not present")
  override def root: GeometryBlock = source
  override def column(df: DataFrame): Column = col(name)
}

/** Add (or replace) a column, aligned by fid (geometry/base.py:240-300). */
case class SetSeriesBlock(source: GeometryBlock, name: String, series: Any)
    extends GeometryBlock {
  override def columns: Set[String] = source.columns + name
  override def projection: String = source.projection
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val df = source.frame(req)
    df.withColumn(name, SeriesBlock.colOf(series, df))
  }
}

/** Feature source over a parquet table: `fid` comes from `fidExpr`, property
  * columns from the table schema, and an optional geometry from a WKT SQL
  * expression (the cluster-scale analogue of the reference's
  * GeometryFileSource, geometry/sources.py:18-159 — attribute filters and
  * limit push down into the scan). */
case class TableGeometrySource(
    path: String,
    fidExpr: String,
    columnNames: Seq[String],
    geomWktExpr: Option[String] = None,
    proj: String = "EPSG:28992"
) extends GeometryBlock with graft.core.FileSource {
  def url: String = path
  override def columns: Set[String] =
    columnNames.map(c => c.split("(?i)\\s+as\\s+").last.trim).toSet ++
      (if (geomWktExpr.isDefined) Set("geometry") else Set.empty)
  override def projection: String = proj

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    // input-size-derived shuffle parallelism (memoized; see graft.Tuning)
    graft.Tuning.autoConfigure(spark, path)
    var df = graft.Tables.read(spark, path)
    df = df.select((expr(fidExpr).cast("long").as("fid") +:
      columnNames.map(c => expr(c))) ++
      geomWktExpr.map(g => GeomFunctions.stGeomFromWkt(expr(g)).as("geometry")).toSeq: _*)
    // attribute equality filters push down to the parquet scan
    req.filters.foreach { case (k, v) => df = df.filter(col(k) === lit(v)) }
    // spatial predicate: bbox prefilter (sargable) + exact JTS predicate
    (req.geometryWkt, geomWktExpr) match {
      case (Some(wkt), Some(_)) =>
        val mode = if (req.mode == "centroid") "centroid" else "intersects"
        df = df.filter(GeomFunctions.stFilter(col("geometry"), lit(wkt), lit(mode)))
      case _ =>
    }
    req.minSize.foreach { ms =>
      if (geomWktExpr.isDefined)
        df = df.filter(GeomFunctions.stSizeAtLeast(col("geometry"), lit(ms)))
    }
    req.limit.foreach { n => df = df.limit(n) }
    df
  }
}

/** One-row literal geometry source (geometry/sources.py:162-257). */
case class GeometryWKTSource(wkt: String, proj: String) extends GeometryBlock {
  override def columns: Set[String] = Set("geometry")
  override def projection: String = proj
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0L, wkt)).toDF("fid", "wkt")
      .select(col("fid"), GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"))
  }
}
