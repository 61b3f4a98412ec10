package graft.geometry

import org.apache.spark.sql.DataFrame

/** One single-file vector format, as the reference reaches them through
  * OGR by url (`GeometryFileSource`, geometry/sources.py:18-159;
  * `GeometryFileSink`, geometry/sinks.py:46-216): the extensions it writes
  * and reads, reader-only `aliases`, its reader `(url, layer, proj)` (the
  * format's own CRS default applies when `proj` is None) and its streaming
  * writer `(frame, proj, path)`, which exports any total with driver memory
  * bounded by one Spark partition.
  *
  * [[VectorFormat.all]] is the one table that maps a vector extension to a
  * codec: the source, `to_file`, the per-request tile sink, `mergeFiles`
  * and the `.zip` bundle search all read it. */
final case class VectorFormat(extensions: Seq[String], aliases: Seq[String],
    read: (String, Option[String], Option[String]) => GeometryBlock,
    write: (DataFrame, String, String) => String) {
  /** The first extension without its dot: the `GeometryFileSink` format
    * string and the tile file suffix. */
  def name: String = extensions.head.drop(1)
}

object VectorFormat {

  private val Rd = "EPSG:28992"
  private val Wgs84 = "EPSG:4326"

  /** OGC KML 2.2 §5.2: a kmz is a zip whose main document is doc.kml. */
  private def writeKmz(df: DataFrame, proj: String, path: String): String = {
    val tmp = java.nio.file.Files.createTempFile("graft_kmz", ".kml")
    try {
      KmlSink.writeStream(df, proj, tmp.toString)(df.sparkSession)
      ZipVector.writeSingle(path, "doc.kml", tmp.toString)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Every format, in the order a `.zip` bundle is searched for its
    * dataset (the shapefile first). */
  val all: Seq[VectorFormat] = Seq(
    VectorFormat(Seq(".shp"), Nil,
      (u, _, p) => ShapefileSource(u, p.getOrElse(Rd)),
      (df, p, out) => ShapefileSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".gpkg"), Nil,
      (u, layer, _) => GeoPackageSource(u, layer),
      (df, p, out) => GeoPackageSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".geojson", ".json"), Seq(".ndjson"),
      (u, _, p) => GeoJsonSource(u, p.getOrElse(Wgs84)),
      (df, p, out) => GeoJsonSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".gml"), Nil,
      (u, _, p) => GmlSource(u, p.getOrElse(Rd)),
      (df, p, out) => GmlSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".fgb"), Nil,
      (u, _, p) => FlatGeobufSource(u, p.getOrElse(Rd)),
      (df, p, out) => FlatGeobufSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".csv"), Nil,
      (u, _, p) => CsvWktSource(u, p.getOrElse(Wgs84)),
      (df, p, out) => CsvWktSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".kml"), Nil,
      (u, _, _) => KmlSource(u),
      (df, p, out) => KmlSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".kmz"), Nil,
      (u, _, _) => KmlSource(ZipVector.primaryFile(u, Seq(".kml"))),
      writeKmz),
    VectorFormat(Seq(".gpx"), Nil,
      (u, layer, _) => GpxSource(u, layer.getOrElse("waypoints")),
      (df, p, out) => GpxSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".mif"), Nil,
      (u, _, p) => MifSource(u, p.getOrElse("")),
      (df, p, out) => MifSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".tab"), Nil,
      (u, _, p) => TabSource(u, p.getOrElse("")),
      (df, p, out) => TabSink.writeStream(df, p, out)(df.sparkSession)),
    VectorFormat(Seq(".dxf"), Nil,
      (u, _, p) => DxfSource(u, p.getOrElse("")),
      (df, p, out) => DxfSink.writeStream(df, p, out)(df.sparkSession)))

  /** Every extension a reader accepts, in [[all]]'s order. */
  val readable: Seq[String] = all.flatMap(f => f.extensions ++ f.aliases)

  private def endsWithAny(path: String, exts: Seq[String]): Boolean = {
    val lower = path.toLowerCase
    exts.exists(lower.endsWith)
  }

  /** The format that reads `url`, aliases included. */
  def forInput(url: String): Option[VectorFormat] =
    all.find(f => endsWithAny(url, f.extensions ++ f.aliases))

  /** The format an export to `path` writes. */
  def forOutput(path: String): Option[VectorFormat] =
    all.find(f => endsWithAny(path, f.extensions))

  /** The format whose [[VectorFormat.name]] is `format`. */
  def named(format: String): Option[VectorFormat] = all.find(_.name == format)

  /** The block reading `url`: a `.zip` bundle reads the dataset inside it;
    * a url no format names is a GeoParquet store. */
  def open(url: String, layer: Option[String], proj: Option[String]): GeometryBlock =
    if (url.toLowerCase.endsWith(".zip"))
      open(ZipVector.primaryFile(url, readable), layer, proj)
    else forInput(url).fold[GeometryBlock](GeoParquetSource(url, proj.getOrElse(Rd)))(
      _.read(url, layer, proj))
}
