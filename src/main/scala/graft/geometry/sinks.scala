package graft.geometry

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Feature sinks, after `dask_geomodeling/geometry/sinks.py`.
  *
  * The reference writes shp/gpkg/geojson tiles named by request hash and
  * appends them into one file (sinks.py:46-216). On Spark the natural
  * formats are partitioned GeoParquet-style parquet (WKT geometry + bbox
  * columns for pushdown) and newline-delimited GeoJSON via the JSON writer;
  * the tile/merge dance is the committer's job.
  */
/** The single-file sinks' driver-funnel ordering. `toLocalIterator`
  * runs ONE sequential job per partition of its input, so the funnel
  * pins the partition count to the session parallelism instead of
  * inheriting the shuffle setting — the input-proportional tuning
  * policy (graft.Tuning) can push that into the hundreds, which would
  * turn every single-file export into hundreds of sequential job
  * waves. `repartitionByRange` + `sortWithinPartitions` iterates in
  * the same global order as `orderBy`. */
object SinkFunnel {
  /** Estimated bytes one funnel lane should carry. Sized so a
    * laptop-scale export (a few MB) funnels through ONE lane — the
    * range-sampling job plus exchange that a full-width funnel adds is
    * pure overhead there — while anything ×100 bigger saturates the
    * session parallelism. */
  val BytesPerLane: Long = 4L << 20

  /** Funnel width for an input whose optimizer size estimate is
    * `bytes`: one lane per [[BytesPerLane]], clamped to [1, session
    * parallelism]. Over-estimates (Catalyst's unknown-stats default is
    * Long.MaxValue-ish) just land on full width — today's behavior. */
  def width(bytes: BigInt, parallelism: Int): Int =
    (bytes / BytesPerLane + 1).min(BigInt(math.max(parallelism, 1)))
      .max(BigInt(1)).toInt

  def ordered(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val n = width(df.queryExecution.optimizedPlan.stats.sizeInBytes,
      df.sparkSession.sparkContext.defaultParallelism)
    if (n <= 1)
      // single lane: coalesce is a narrow dependency (no exchange, no
      // range-sampling job) and a one-partition sort IS globally ordered
      df.coalesce(1).sortWithinPartitions(cols: _*)
    else df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
  }
}

case class GeometryFileSink(source: GeometryBlock, url: String,
    format: String = "geoparquet", fields: Option[Seq[String]] = None) {
  require(Set("geoparquet", "geojson", "shp", "gpkg", "gml", "fgb", "csv",
    "kml", "gpx", "mif", "dxf", "tab").contains(format), s"unsupported format $format")

  def write(req: GeometryRequest)(implicit spark: SparkSession): String = {
    // single-file OGR-style formats follow the reference's tile contract:
    // one <requesthash>.<ext> file per request into the directory, merged
    // later by mergeFiles (sinks.py:116-169)
    if (Set("shp", "gpkg", "gml", "fgb", "csv", "kml", "gpx", "mif",
        "dxf", "tab").contains(format)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(url))
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(req.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      val out = s"$url/$hash.$format"
      val src = fields match {
        case Some(cols) => ProjectedGeometryBlock(source, cols.toSet + "geometry")
        case None       => source
      }
      format match {
        case "shp"  => ShapefileSink.write(src, out, req)
        case "gpkg" => GeoPackageSink.write(src, out, req)
        case "gml"  => GmlSink.write(src, out, req)
        // the newer codecs only have the streaming writers — strictly
        // more capable than the guarded tile write
        case "fgb"  => FlatGeobufSink.writeStream(src.frame(req), src.projection, out)
        case "csv"  => CsvWktSink.writeStream(src.frame(req), src.projection, out)
        case "gpx"  => GpxSink.writeStream(src.frame(req), src.projection, out)
        case "mif"  => MifSink.writeStream(src.frame(req), src.projection, out)
        case "dxf"  => DxfSink.writeStream(src.frame(req), src.projection, out)
        case "tab"  => TabSink.writeStream(src.frame(req), src.projection, out)
        case _      => KmlSink.writeStream(src.frame(req), src.projection, out)
      }
      return out
    }
    val df = source.frame(req)
    val cols = fields.getOrElse(df.columns.toSeq.filterNot(_ == "geometry"))
    format match {
      case "geoparquet" =>
        df.select(
          (col("fid") +: cols.filterNot(_ == "fid").map(col)) :+
            GeomFunctions.stAsWkt(col("geometry")).as("geometry_wkt") :+
            GeomFunctions.stEnvMinX(col("geometry")).as("bbox_minx") :+
            GeomFunctions.stEnvMinY(col("geometry")).as("bbox_miny") :+
            GeomFunctions.stEnvMaxX(col("geometry")).as("bbox_maxx") :+
            GeomFunctions.stEnvMaxY(col("geometry")).as("bbox_maxy"): _*)
          .write.mode(SaveMode.Overwrite).parquet(url)
      case "geojson" =>
        // newline-delimited RFC 7946 Features (a GeoJSON text sequence):
        // real nested coordinate arrays, reprojected to EPSG:4326 like the
        // reference's OGR GeoJSON path (sinks.py:160-163)
        val from = graft.raster.Proj.normalize(source.projection)
        val wgs = if (from == "EPSG:4326") col("geometry")
          else GeomFunctions.stTransform(col("geometry"), lit(from), lit("EPSG:4326"))
        val geomJson = udf { (wkb: Array[Byte]) =>
          if (wkb == null) "null" else GeoJson.toGeoJson(GeomFunctions.readWkb(wkb))
        }
        val propCols = cols.filterNot(_ == "fid")
        val propsJson =
          if (propCols.isEmpty) lit("{}")
          else to_json(struct(propCols.map(col): _*))
        df.withColumn("geometry", wgs)
          .select(concat(
            lit("""{"type":"Feature","id":"""), col("fid"),
            lit(""","properties":"""), coalesce(propsJson, lit("{}")),
            lit(""","geometry":"""), geomJson(col("geometry")),
            lit("}")).as("value"))
          .write.mode(SaveMode.Overwrite).text(url)
    }
    url
  }
}

/** Driver-side adapter handing a pre-built frame to the single-file sinks
  * (mergeFiles only; the frame rides outside the product so token/serde
  * see just the schema). */
case class MergedFrameBlock(cols: Set[String], proj: String)(
    @transient val df: DataFrame) extends GeometryBlock {
  override def columns: Set[String] = cols
  override def projection: String = proj
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = df
}

/** Column-projected view of a block (the sink's `fields` subset). */
case class ProjectedGeometryBlock(source: GeometryBlock, keep: Set[String])
    extends GeometryBlock {
  override def columns: Set[String] = source.columns intersect keep
  override def projection: String = source.projection
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val df = source.frame(req)
    val cols = df.columns.filter(c => c == "fid" || keep.contains(c))
    df.select(cols.map(col).toIndexedSeq: _*)
  }
}

object GeometryFileSink {
  /** Merge the per-request tile files this sink wrote into one file, like
    * the reference's `GeometryFileSink.merge_files` (sinks.py:172-216):
    * every `.<ext>` file under `path` is read back through the codec and
    * appended into `target`; optionally removes the sources. */
  def mergeFiles(path: String, target: String, removeSource: Boolean = false)
      (implicit spark: SparkSession): String = {
    // the reference's merge_files raises IOError on an existing target
    // (sinks.py:180) — never silently overwrite a previous export
    if (new java.io.File(target).exists()) throw new java.io.IOException(
      s"Target '$target' already exists")
    val ext = target.substring(target.lastIndexOf('.') + 1).toLowerCase
    val parts = Option(new java.io.File(path).listFiles).toSeq.flatten
      .filter(_.getName.toLowerCase.endsWith("." + ext)).sortBy(_.getName)
    require(parts.nonEmpty, s"no .$ext files under $path to merge")
    val sources = parts.map(f => GeometryFileSource(f.getAbsolutePath))
    val frames = sources.map(_.frame(GeometryRequest()))
    val merged = frames.reduce(_ unionByName _)
    // streaming append: the merged union is written through the codec's
    // toLocalIterator path, so totals far beyond the per-request geometry
    // guard export with bounded driver memory (reference merge_files
    // appends tile-by-tile through one OGR handle the same way)
    val proj = sources.head.projection
    ext match {
      case "shp"  => ShapefileSink.writeStream(merged, proj, target)
      case "gpkg" => GeoPackageSink.writeStream(merged, proj, target)
      case "gml"  => GmlSink.writeStream(merged, proj, target)
      case "fgb"  => FlatGeobufSink.writeStream(merged, proj, target)
      case "csv"  => CsvWktSink.writeStream(merged, proj, target)
      case "kml"  => KmlSink.writeStream(merged, proj, target)
      case "gpx"  => GpxSink.writeStream(merged, proj, target)
      case "mif"  => MifSink.writeStream(merged, proj, target)
      case "dxf"  => DxfSink.writeStream(merged, proj, target)
      case "tab"  => TabSink.writeStream(merged, proj, target)
      case "geojson" | "json" => GeoJsonSink.writeStream(merged, proj, target)
      case other  => throw new IllegalArgumentException(
        s"mergeFiles supports shp/gpkg/gml/fgb/csv/kml/gpx/mif/dxf/tab/geojson targets, not .$other")
    }
    if (removeSource) parts.foreach(_.delete())
    target
  }
}

/** Re-open a written feature store. */
case class GeoParquetSource(url: String, proj: String = "EPSG:28992")
    extends GeometryBlock with graft.core.FileSource {
  /** Plan-time schema read from the parquet footer of one part file, like
    * the reference source declares its real columns
    * (geometry/sources.py:44-56) — so `getSeries` on a reopened store
    * validates without a full scan. Carrier columns (geometry_wkt, bbox_*)
    * collapse back into 'geometry'. */
  override lazy val columns: Set[String] = {
    val carriers = Set("fid", "geometry_wkt",
      "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
    // scheme-aware listing (FileIO), matching every other codec: a
    // hdfs://-/s3a://-qualified store probes its footer through the
    // same positioned path the data read uses
    val part =
      (if (graft.io.FileIO.exists(url) && graft.io.FileIO.isDirectory(url))
        graft.io.FileIO.list(url) else Seq.empty)
        .filter(_.endsWith(".parquet")).sorted.headOption
    part match {
      case None => Set("geometry")
      case Some(f) =>
        val conf = org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration)
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf)
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val schema = rdr.getFileMetaData.getSchema
          val names = (0 until schema.getFieldCount)
            .map(schema.getFieldName).toSet
          (names -- carriers) + "geometry"
        } finally rdr.close()
    }
  }
  override def projection: String = proj
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    var df = graft.Tables.read(spark, url)
      .withColumn("geometry", GeomFunctions.stGeomFromWkt(col("geometry_wkt")))
      .drop("geometry_wkt")
    // bbox columns give sargable pushdown before the exact predicate
    req.geometryWkt.foreach { wkt =>
      val e = GeomFunctions.readWkt(wkt).getEnvelopeInternal
      df = df.filter(col("bbox_maxx") >= e.getMinX && col("bbox_minx") <= e.getMaxX &&
        col("bbox_maxy") >= e.getMinY && col("bbox_miny") <= e.getMaxY)
      df = df.filter(GeomFunctions.stFilter(col("geometry"), lit(wkt),
        lit(if (req.mode == "centroid") "centroid" else "intersects")))
    }
    req.filters.foreach { case (k, v) => df = df.filter(col(k) === lit(v)) }
    req.limit.foreach(n => df = df.limit(n))
    df
  }
}

/** Export utility, after the geometry `to_file` (sinks.py:224-284):
  * centroid-mode request for exactly-once feature assignment, then the
  * partitioned write (tiling is native partitioning). */
object GeometryToFile {
  def toFile(source: GeometryBlock, url: String, format: String = "geoparquet",
      fields: Option[Seq[String]] = None)(implicit spark: SparkSession): String = {
    val lower = url.toLowerCase
    // single-file OGR-style formats dispatch on extension, like the
    // reference's to_file — exported through the codecs' STREAMING writers,
    // so totals beyond the per-request geometry guard work (the reference
    // achieves the same with GeometryTiler tiles + merge_files,
    // sinks.py:224-284); everything else goes through the partitioned sink
    def frame = {
      val df = source.frame(GeometryRequest(mode = "centroid"))
      fields match {
        case Some(cols) =>
          val keep = df.columns.filter(c =>
            c == "fid" || c == "geometry" || cols.contains(c))
          df.select(keep.map(col).toIndexedSeq: _*)
        case None => df
      }
    }
    if (lower.endsWith(".shp"))
      ShapefileSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".gpkg"))
      GeoPackageSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".gml"))
      GmlSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".fgb"))
      FlatGeobufSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".csv"))
      CsvWktSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".kml"))
      KmlSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".gpx"))
      GpxSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".mif"))
      MifSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".dxf"))
      DxfSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".tab"))
      TabSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".geojson") || lower.endsWith(".json"))
      GeoJsonSink.writeStream(frame, source.projection, url)
    else if (lower.endsWith(".kmz")) {
      // OGC KML 2.2 §5.2: a kmz is a zip whose main document is doc.kml
      val tmp = java.nio.file.Files.createTempFile("graft_kmz", ".kml")
      try {
        KmlSink.writeStream(frame, source.projection, tmp.toString)
        ZipVector.writeSingle(url, "doc.kml", tmp.toString)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
    else GeometryFileSink(source, url, format, fields)
      .write(GeometryRequest(mode = "centroid"))
  }
}

/** Re-open newline-GeoJSON features written by GeometryFileSink (the
  * reference reads any OGR vector format, geometry/sources.py:18-159).
  * Feature lines carry RFC 7946 geometry objects (EPSG:4326, as the sink
  * writes) — legacy WKT-string geometry lines still parse. Property types
  * are sampled from the head of each part file; feature parsing itself is
  * a narrow executor-side map over the distributed text scan. */
case class GeoJsonSource(url: String, proj: String = "EPSG:4326",
    fullSchema: Boolean = false) extends GeometryBlock with graft.core.FileSource {

  private def typeName(v: Any): String = v match {
    case _: Long | _: Int => "long"
    case _: Double        => "double"
    case _: Boolean       => "boolean"
    case _                => "string"
  }

  /** Widen on conflict: long+double rows → double, any other type mix →
    * string (the only cast every value survives). A previous long must NOT
    * be overwritten by e.g. boolean — earlier "1" values would then cast to
    * true. */
  private def widen(prev: Option[String], t: String): String = prev match {
    case None                          => t
    case Some(p) if p == t             => p
    case Some("long") if t == "double" => "double"
    case Some("double") if t == "long" => "double"
    case Some(_)                       => "string"
  }

  /** (name, spark type) per property. Default: unioned over the leading
    * feature lines of every part file (features may carry sparse
    * properties; a property first appearing past the sample depth is served
    * as null by plan-time schema but present rows still parse).
    * `fullSchema = true` replaces the head sample with a DISTRIBUTED
    * key-type union over every feature line (one Spark text scan, keys
    * sorted for determinism) — late-appearing properties reach the plan
    * schema at the cost of a schema-inference job, like Spark's own JSON
    * source without a sampled schema. */
  @transient private lazy val fields: Seq[(String, String)] =
    if (fullSchema) fullFields else sampledFields

  /** A single file whose head is a JSON object declaring
    * `"type": "FeatureCollection"` is the standard RFC 7946 document every
    * OGR/QGIS export produces (possibly pretty-printed — NOT one feature
    * per line). Such a document cannot be split safely, so it parses as a
    * bounded single-file codec on the driver — the same contract as the
    * other single-file exchange formats; the cluster-scale layout remains
    * newline features / geoparquet. */
  @transient private lazy val fcFeatures: Option[Seq[Map[String, Any]]] = {
    if (!graft.io.FileIO.exists(url) || graft.io.FileIO.isDirectory(url)) None
    else {
      val in = graft.io.FileIO.openStream(url)
      val head = try new String(in.readNBytes(4096), "UTF-8") finally in.close()
      val looksFc = head.dropWhile(_.isWhitespace).startsWith("{") &&
        """"type"\s*:\s*"FeatureCollection"""".r.findFirstIn(head).isDefined
      if (!looksFc) None
      else {
        val doc = graft.core.Json.parse(graft.io.FileIO.readString(url))
          .asInstanceOf[Map[String, Any]]
        Some(doc.getOrElse("features", Seq.empty) match {
          case s: Seq[_] => s.collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }
          case _ => Seq.empty
        })
      }
    }
  }

  /** Legacy `crs` member (OGR still writes it): CRS84/4326 urns stay
    * WGS84; an EPSG urn/code overrides `proj`; anything else fails loudly
    * rather than mislabeling coordinates. */
  @transient private lazy val fcCrs: Option[String] = fcFeatures.flatMap { _ =>
    val doc = graft.core.Json.parse(graft.io.FileIO.readString(url))
      .asInstanceOf[Map[String, Any]]
    doc.get("crs").collect { case m: Map[_, _] =>
      val name = m.asInstanceOf[Map[String, Any]].get("properties")
        .collect { case p: Map[_, _] =>
          p.asInstanceOf[Map[String, Any]].getOrElse("name", "").toString }
        .getOrElse("")
      if (name.contains("CRS84") || name.endsWith(":4326")) "EPSG:4326"
      else """(?i)EPSG:+(\d+)""".r.findFirstMatchIn(name) match {
        case Some(mm) => s"EPSG:${mm.group(1)}"
        case None => throw new IllegalArgumentException(
          s"$url: unsupported GeoJSON crs '$name'")
      }
    }
  }

  @transient private lazy val sampledFields: Seq[(String, String)] = {
    val SampleLines = 100
    val typed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def noteProps(obj: Map[String, Any]): Unit =
      obj.get("properties").foreach {
        case p: Map[_, _] => p.asInstanceOf[Map[String, Any]].foreach {
          case (k, v) => typed(k) = widen(typed.get(k), typeName(v))
        }
        case _ =>
      }
    fcFeatures match {
      case Some(feats) => feats.foreach(noteProps) // full doc already parsed
      case None =>
        // a lone file is its own (ndjson) part; directories list part files
        val parts: Seq[String] =
          if (!graft.io.FileIO.isDirectory(url)) Seq(url)
          else graft.io.FileIO.list(url)
            .filter(p => graft.io.FileIO.name(p).startsWith("part-")).sorted
        parts.foreach { f =>
          val src = scala.io.Source.fromInputStream(
            graft.io.FileIO.openStream(f), "UTF-8")
          try src.getLines().filter(_.trim.nonEmpty).take(SampleLines)
            .foreach { line => noteProps(
              graft.core.Json.parse(line).asInstanceOf[Map[String, Any]]) }
          finally src.close()
        }
    }
    typed.toSeq
  }

  @transient private lazy val fullFields: Seq[(String, String)] = fcFeatures match {
    case Some(feats) =>
      // A FeatureCollection document is already fully parsed (bounded
      // single-file codec) — the "distributed line scan" would line-split a
      // possibly pretty-printed JSON document and either throw or drop every
      // property. Union key types over the in-memory features instead.
      val typed = scala.collection.mutable.LinkedHashMap.empty[String, String]
      feats.foreach(_.get("properties").foreach {
        case p: Map[_, _] => p.asInstanceOf[Map[String, Any]].foreach {
          case (k, v) => typed(k) = widen(typed.get(k), typeName(v))
        }
        case _ =>
      })
      typed.toSeq.sortBy(_._1)
    case None => fullFieldsLineScan
  }

  private def fullFieldsLineScan: Seq[(String, String)] = {
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, collect_set, explode, length, trim, udf}
    val keyTypes = udf { (line: String) =>
      graft.core.Json.parse(line).asInstanceOf[Map[String, Any]]
        .get("properties") match {
        case Some(p: Map[_, _]) =>
          p.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> typeName(v) }
        case _ => Map.empty[String, String]
      }
    }
    spark.read.text(url)
      .filter(length(trim(col("value"))) > 0)
      .select(explode(keyTypes(col("value"))).as(Seq("k", "t")))
      .groupBy(col("k")).agg(collect_set(col("t")).as("ts"))
      .collect()
      .map { r =>
        val ts = r.getSeq[String](1)
        r.getString(0) -> ts.foldLeft(Option.empty[String])(
          (acc, t) => Some(widen(acc, t))).get
      }
      .sortBy(_._1).toSeq
  }

  override lazy val columns: Set[String] = fields.map(_._1).toSet + "geometry"
  override def projection: String = fcCrs.getOrElse(proj)

  /** One parsed feature object → (fid, wkb, attrs); `fallbackFid` is the
    * OGR-style sequential FID for FeatureCollection features without an
    * `id` member (line mode keeps -1: lines have no stable position). */
  private def featureTuple(obj: Map[String, Any], fallbackFid: Long)
      : (Long, Array[Byte], Map[String, String]) = {
    val fid = obj.get("id").orElse(obj.get("fid")) match {
      case Some(l: Long) => l
      case Some(i: Int)  => i.toLong
      case Some(d: Double) => d.toLong
      case Some(s: String) => s.toLongOption.getOrElse(fallbackFid)
      case _ => fallbackFid
    }
    val g = obj.get("geometry").map(GeoJson.fromGeoJson).orNull
    val attrs = obj.get("properties") match {
      case Some(p: Map[_, _]) => p.asInstanceOf[Map[String, Any]].collect {
        case (k, v) if v != null => k -> v.toString
      }
      case _ => Map.empty[String, String]
    }
    (fid, if (g == null) null else GeomFunctions.writeWkb(g), attrs)
  }

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    val parse = udf { (line: String) =>
      featureTuple(graft.core.Json.parse(line)
        .asInstanceOf[Map[String, Any]], -1L)
    }
    var df = fcFeatures match {
      case Some(feats) =>
        import spark.implicits._
        feats.zipWithIndex
          .map { case (obj, i) => featureTuple(obj, i.toLong) }
          .toDF("_1", "_2", "_3").select(
            (Seq(col("_1").as("fid"), col("_2").as("geometry")) ++
              fields.map { case (n, t) => col("_3")(n).cast(t).as(n) }): _*)
      case None =>
        spark.read.text(url)
          .filter(length(trim(col("value"))) > 0)
          .select(parse(col("value")).as("f"))
          .select((Seq(col("f._1").as("fid"), col("f._2").as("geometry")) ++
            fields.map { case (n, t) => col("f._3")(n).cast(t).as(n) }): _*)
    }
    req.geometryWkt.foreach { wkt =>
      df = df.filter(GeomFunctions.stFilter(col("geometry"), lit(wkt),
        lit(if (req.mode == "centroid") "centroid" else "intersects")))
    }
    req.filters.foreach { case (k, v) => df = df.filter(col(k) === lit(v)) }
    req.limit.foreach(n => df = df.limit(n))
    df
  }
}

/** Streaming single-file RFC 7946 FeatureCollection export — the document
  * shape OGR/QGIS produce and consume (`ogr2ogr -f GeoJSON`). Reprojects
  * to EPSG:4326 like the reference's OGR GeoJSON path (sinks.py:160-163);
  * properties keep their JSON types; one fid-ordered `toLocalIterator`
  * pass, driver memory bounded by one Spark partition. */
object GeoJsonSink {

  def writeStream(df0: DataFrame, proj: String, path: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"),
      "GeoJSON export needs a geometry column")
    val attrCols = df0.columns.filterNot(c => c == "geometry" || c == "fid").toSeq
    val fidIdx = df0.columns.indexOf("fid")
    val geomIdx = df0.columns.indexOf("geometry")
    val from = graft.raster.Proj.normalize(proj)
    val ordered = if (fidIdx >= 0) SinkFunnel.ordered(df0, col("fid")) else df0
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path), "UTF-8"))
    try {
      val layer = new java.io.File(path).getName
        .replaceAll("(?i)\\.(geo)?json$", "")
      w.write(s"""{\n"type": "FeatureCollection",\n"name": ${
        graft.core.Json.render(layer)},\n"features": [\n""")
      val it = ordered.toLocalIterator()
      var first = true
      while (it.hasNext) {
        val r = it.next()
        val fid = if (fidIdx >= 0 && !r.isNullAt(fidIdx))
          Gml.fidValue(r.get(fidIdx)) else -1L
        val wkb = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          r.get(geomIdx).asInstanceOf[Array[Byte]] else null
        val g0 = if (wkb == null) null else GeomFunctions.readWkb(wkb)
        val g = if (g0 == null || from == "EPSG:4326") g0 else {
          val c = g0.copy()
          c.apply(new org.locationtech.jts.geom.CoordinateFilter {
            override def filter(cc: org.locationtech.jts.geom.Coordinate): Unit = {
              val (nx, ny) = graft.raster.Proj.transform(from, "EPSG:4326", cc.x, cc.y)
              cc.x = nx; cc.y = ny
            }
          })
          c
        }
        val props: Map[String, Any] = attrCols.flatMap { c =>
          val i = df0.columns.indexOf(c)
          if (r.isNullAt(i)) None
          else Some(c -> (r.get(i) match {
            case ts: java.sql.Timestamp => ts.toInstant.toString
            case v @ (_: Long | _: Int | _: Double | _: Float | _: Boolean) => v
            case other => other.toString
          }))
        }.toMap
        if (!first) w.write(",\n")
        first = false
        w.write(s"""{ "type": "Feature", "id": $fid, "properties": ${
          graft.core.Json.render(props)}, "geometry": ${
          if (g == null) "null" else GeoJson.toGeoJson(g)} }""")
      }
      w.write("\n]\n}\n")
    } finally w.close()
    path
  }
}

/** API-compat tiler, after `GeometryTiler` (geometry/parallelize.py:18-109):
  * the reference splits centroid-mode requests into tiles for dask
  * parallelism and exactly-once feature assignment; Spark's partitioning
  * already provides both (a feature row lives in exactly one partition), so
  * the block is a validated passthrough. */
case class GeometryTiler(source: GeometryBlock, size: Double, proj: String)
    extends GeometryBlock {
  require(size > 0, "size must be positive")
  override def columns: Set[String] = source.columns
  override def projection: String = source.projection
  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame =
    source.frame(req)
}
