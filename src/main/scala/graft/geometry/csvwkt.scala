package graft.geometry

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV-with-WKT-geometry codec — the `.csv` branch of the reference's
  * OGR-backed `GeometryFileSource`/`to_file` (geometry/sources.py:18-159;
  * OGR's CSV driver reads a `WKT` column as the feature geometry). The
  * reader is fully distributed (Spark's csv source + a WKT-parse column);
  * the writer is the standard streaming single-file export.
  */
object CsvWkt {

  /** Geometry column: OGR convention `WKT` first, then common aliases. */
  val GeometryNames: Seq[String] = Seq("wkt", "geometry", "geom", "the_geom")

  /** Header names from the file's first line (driver-side peek — same
    * pattern as the shapefile's dbf header read). Minimal RFC 4180:
    * quoted fields may contain commas and doubled quotes. */
  def headerOf(path: String): Seq[String] = {
    val src = scala.io.Source.fromInputStream(
      graft.io.FileIO.openStream(path), "UTF-8")
    try {
      val line = src.getLines().nextOption().getOrElse("")
      splitLine(line)
    } finally src.close()
  }

  def splitLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  def quote(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}

/** Distributed CSV reader: schema by Spark's csv inference, geometry from
  * the WKT column, fid from an integral `fid` column (else row order). */
case class CsvWktSource(url: String, proj: String = "EPSG:4326",
    geometryColumn: Option[String] = None) extends GeometryBlock {

  // fail fast: CSV carries no CRS metadata, so the caller's proj IS the
  // declaration — validate it at construction like the sibling sources
  require(graft.raster.Proj.supported(proj),
    s"csv source $url: unsupported SRS '$proj'")

  @transient private lazy val header: Seq[String] = CsvWkt.headerOf(url)

  private def geomCol: Option[String] = geometryColumn.orElse(
    CsvWkt.GeometryNames.flatMap(n => header.find(_.equalsIgnoreCase(n))).headOption)

  override lazy val columns: Set[String] =
    header.filterNot(c => geomCol.contains(c)).toSet + "geometry" + "fid"

  override def projection: String = proj

  override def frame(req: GeometryRequest)(implicit spark: SparkSession): DataFrame = {
    // RFC 4180 doubled-quote escapes (univocity defaults to backslash);
    // multiLine so quoted embedded newlines (which the sink emits) don't
    // split one record into broken rows on read-back
    val df0 = graft.Tables.read(spark, url, "csv", Map("header" -> "true",
      "escape" -> "\"", "multiLine" -> "true"))
    val gc = geomCol
    val hasFid = df0.schema.fields.exists(f => f.name == "fid" &&
      (f.dataType == LongType || f.dataType == IntegerType))
    val withFid =
      if (hasFid) df0.withColumn("fid", col("fid").cast(LongType))
      else {
        // OGR-style sequential fids in file order (deterministic)
        val rdd = df0.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
        spark.createDataFrame(rdd, StructType(
          StructField("fid", LongType, nullable = false) +: df0.schema.fields.toIndexedSeq))
      }
    var df = gc match {
      case Some(g) =>
        withFid.withColumn("geometry",
          when(col(g).isNull || trim(col(g)) === "", lit(null))
            .otherwise(GeomFunctions.stGeomFromWkt(col(g).cast(StringType))))
          .drop(g)
      case None => withFid.withColumn("geometry", lit(null).cast(BinaryType))
    }
    req.filters.foreach { case (k, v) => df = df.filter(col(k) === lit(v)) }
    req.geometryWkt.foreach { wkt =>
      df = df.filter(GeomFunctions.stFilter(col("geometry"), lit(wkt),
        lit(if (req.mode == "centroid") "centroid" else "intersects")))
    }
    req.minSize.foreach(ms =>
      df = df.filter(GeomFunctions.stSizeAtLeast(col("geometry"), lit(ms))))
    req.limit.foreach(n => df = df.limit(n))
    df
  }
}

/** Streaming single-file CSV export: fid first, then attrs, geometry last
  * as a `WKT` column (the OGR layout). One fid-ordered `toLocalIterator`
  * append — driver memory bounded by one Spark partition. */
object CsvWktSink {

  def writeStream(df0: DataFrame, proj: String, path: String)
      (implicit spark: SparkSession): String = {
    require(df0.columns.contains("geometry"), "csv export needs a geometry column")
    val attrCols = df0.columns.filter(c => c != "geometry" && c != "fid").toSeq
    val hasFid = df0.columns.contains("fid")
    val ordered = if (hasFid) SinkFunnel.ordered(df0, col("fid")) else df0
    val geomIdx = ordered.columns.indexOf("geometry")
    val fidIdx = ordered.columns.indexOf("fid")
    val attrIdx = attrCols.map(ordered.columns.indexOf(_))
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path), "UTF-8"))
    try {
      w.write((Seq("fid") ++ attrCols ++ Seq("WKT")).map(CsvWkt.quote).mkString(","))
      w.write("\n")
      val it = ordered.toLocalIterator()
      var i = 0L
      while (it.hasNext) {
        val r = it.next()
        val fid =
          if (fidIdx >= 0 && !r.isNullAt(fidIdx)) Gml.fidValue(r.get(fidIdx)) else i
        val wkb = if (geomIdx >= 0 && !r.isNullAt(geomIdx))
          r.get(geomIdx).asInstanceOf[Array[Byte]] else null
        val wkt = if (wkb == null) "" else GeomFunctions.readWkb(wkb).toText
        val vals = attrIdx.map { ai =>
          if (r.isNullAt(ai)) ""
          else r.get(ai) match {
            case ts: java.sql.Timestamp => ts.toInstant.toString
            case other => other.toString
          }
        }
        w.write((Seq(fid.toString) ++ vals.map(CsvWkt.quote) ++ Seq(CsvWkt.quote(wkt)))
          .mkString(","))
        w.write("\n")
        i += 1
      }
    } finally w.close()
    path
  }
}
