package graft.raster

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Json

/** Raster sinks, after `dask_geomodeling/raster/sinks.py`.
  *
  * The reference writes per-request GeoTIFF tiles named by request hash and
  * merges them with a VRT manifest (sinks.py:18-141). GDAL is not available
  * on the JVM, so the cluster-native equivalent is a *partitioned parquet
  * tile store* + a JSON manifest carrying the grid georeferencing — the
  * same pattern (tiles + metadata-only merge), expressed as `df.write`
  * with Spark's committer replacing the tile/merge dance.
  */
case class RasterParquetSink(source: RasterBlock, url: String) {

  /** Evaluate one request and write its tiles; returns the manifest path. */
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    val frame = source.frame(req)
    frame.write.mode(SaveMode.Overwrite).parquet(s"$url/tiles")
    val manifest = Map(
      "type" -> "graft-raster-v1",
      "projection" -> req.projection,
      "bbox" -> Seq(req.bbox.x1, req.bbox.y1, req.bbox.x2, req.bbox.y2),
      "width" -> req.width, "height" -> req.height,
      "tile" -> TileLayout.TILE,
      "dtype" -> source.dtype.name,
      "noDataValue" -> source.noDataValue,
      "times" -> source.timesIn(req.start, req.stop).map(_.toEpochMilli),
      "timeDeltaMs" -> source.timeDeltaMs)
    val path = Paths.get(url.stripPrefix("file:"), "manifest.json")
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json.render(manifest))
    path.toString
  }
}

/** Re-open a written raster store as a RasterBlock. */
case class RasterParquetSource(url: String) extends RasterBlock with graft.core.FileSource {
  private lazy val manifest: Map[String, Any] = {
    val txt = Files.readString(Paths.get(url.stripPrefix("file:"), "manifest.json"))
    Json.parse(txt).asInstanceOf[Map[String, Any]]
  }
  private def num(k: String): Double = manifest(k).toString.toDouble
  private lazy val times: Seq[Long] =
    manifest("times").asInstanceOf[List[Any]].map(_.toString.toDouble.toLong)

  override def dtype: DType = DType.byName(manifest("dtype").toString)
  override def noDataValue: Double = num("noDataValue")
  override def projection: String = manifest("projection").toString
  override def temporal: Boolean = times.size > 1
  override def timeDeltaMs: Option[Long] = manifest.get("timeDeltaMs").flatMap {
    case null => None
    case Some(v) => Some(v.toString.toDouble.toLong)
    case v => Some(v.toString.toDouble.toLong)
  }
  override def extent: Option[Bbox] = {
    val b = manifest("bbox").asInstanceOf[List[Any]].map(_.toString.toDouble)
    Some(Bbox(b(0), b(1), b(2), b(3)))
  }
  override def period: Option[(java.time.Instant, java.time.Instant)] =
    if (times.isEmpty) None
    else Some((java.time.Instant.ofEpochMilli(times.min),
      java.time.Instant.ofEpochMilli(times.max)))
  override def allTimes: Seq[java.time.Instant] =
    times.sorted.map(java.time.Instant.ofEpochMilli)

  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val e = extent.get
    require(req.bbox == e && req.width == num("width").toInt &&
      req.height == num("height").toInt,
      "RasterParquetSource serves the stored grid only")
    val wanted = timesIn(req.start, req.stop).map(_.toEpochMilli)
    graft.Tables.read(spark, s"$url/tiles").filter(col("t").isin(wanted: _*))
  }
}

/** Export utility, after `to_file` (sinks.py:144-204): derives the
  * bbox/size/time defaults from the source metadata and writes the store.
  * Tiling parallelism is native (the tile DataFrame partitions). */
object RasterToFile {
  def toFile(source: RasterBlock, url: String, cellSize: Option[Double] = None)
      (implicit spark: SparkSession): String = {
    val e = source.extent.getOrElse(
      throw new IllegalArgumentException("source has no extent"))
    val ps = cellSize.orElse(source.cellSize).getOrElse(
      throw new IllegalArgumentException("cell size required"))
    val w = math.max(1, math.round(e.width / ps).toInt)
    val h = math.max(1, math.round(e.height / ps).toInt)
    val (start, stop) = source.period.getOrElse(
      throw new IllegalArgumentException("source is empty"))
    val req = RasterRequest(e, source.projection, w, h, Some(start), Some(stop))
    RasterParquetSink(source, url).write(req)
  }
}

/** API-compat tiler, after `RasterTiler` (raster/parallelize.py:13-125).
  * In the reference this splits a request into ≤tile_size sub-requests for
  * dask parallelism; the Spark engine's native tile partitioning already
  * provides exactly that, so the block is a validated passthrough. */
case class RasterTiler(source: RasterBlock, tileSize: Int) extends BaseSingleRaster {
  require(tileSize >= 1, "tileSize must be positive")
  override def store: RasterBlock = source
}
