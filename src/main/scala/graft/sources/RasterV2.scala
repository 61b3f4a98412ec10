package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.raster.{GeoTiff, Grib, Hdf5, NetCdf, TileLayout, Zarr}

/** DataSource V2 connector `graft-raster`: EXECUTOR-side decode of the
  * cloud-scale raster formats (GRIB editions 1/2, GeoTIFF, NetCDF,
  * HDF5 and Zarr v2/v3 — the codecs with pure-JVM frame APIs). The
  * block API (`RasterFileSource`)
  * decodes a file on the driver and broadcasts — right for one mosaic
  * tile, wrong for a directory of 10,000 GFS files. This connector
  * plans ONE InputPartition PER (file, frame): metadata (headers only)
  * is read at planning time on the driver, every data byte is decoded
  * in the executors, so a 100 TB archive scales with the cluster, not
  * the driver.
  *
  * Schema: (path string, t long epoch-ms, ty int, tx int, values
  * array<double>) — the engine's tile-frame shape (TileLayout.TILE)
  * plus the source path, so downstream reshapes match `RasterFrames`.
  *
  * Pushdown: temporal predicates on `t` (=, <, <=, >, >=) prune whole
  * (file, frame) partitions at planning time — the DSv2 rendering of
  * the codecs' field/chunk pruning (`.explain` shows the pushed range;
  * unreferenced frames never open their byte ranges). Spatial
  * predicates on `ty`/`tx` (same operators) prune the tile iteration
  * in every reader AND reach the byte level where the format is
  * independently addressable: Zarr opens only the intersecting chunk
  * objects, HDF5 reads only the intersecting chunks, GeoTIFF decodes
  * only the intersecting strips/tiles — an AOI read of a continental
  * archive pays for its area, not the archive's. GRIB fields and
  * classic-NetCDF records are single contiguous payloads, so their
  * window pruning is emission-only (documented per reader).
  *
  * Usage: `spark.read.format("graft-raster").load(paths...)` — each
  * path a .grib/.grib2 file, a .tif, a .nc/.h5 container (NetCDF-4
  * routed to the HDF5 codec by magic bytes), a Zarr store directory,
  * or a directory scanned (non-recursively) for any of those. Unknown
  * layouts fail loudly by name.
  */
class GraftRasterSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-raster"
  // true so the WRITE path presents the frame's own schema (the write
  // contract is the five tile columns; the virtual x0/y0/x1/y1 read
  // columns are not write inputs)
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftRasterTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftRasterTable(GraftRasterTable.resolvePaths(properties),
      Option(schema))
}

object GraftRasterTable {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("ty", IntegerType, nullable = false),
    StructField("tx", IntegerType, nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    // virtual per-TILE world envelope (dataset CRS): west/south/east/
    // north pixel edges, LAST so positional consumers of the original
    // five columns stay valid. Their purpose is Catalyst AOI pushdown —
    // >=/<= predicates on them resolve to the same per-dataset tile
    // window as option("bbox") — plus provenance on read
    StructField("x0", DoubleType, nullable = false),
    StructField("y0", DoubleType, nullable = false),
    StructField("x1", DoubleType, nullable = false),
    StructField("y1", DoubleType, nullable = false),
    // declared SRS provenance (dataset metadata; null when undeclared)
    StructField("crs", StringType, nullable = true)))

  /** The virtual envelope column names. */
  val EnvCols: Set[String] = Set("x0", "y0", "x1", "y1")

  /** `load(...)` paths arrive as the `paths` JSON list (multi) or the
    * `path` entry (single). */
  def resolvePaths(properties: JMap[String, String]): Seq[String] = {
    val m = properties.asScala
    val multi = m.get("paths").map { js =>
      graft.core.Json.parse(js) match {
        case l: List[_] => l.map(_.toString)
        case other => throw new IllegalArgumentException(
          s"graft-raster: bad paths option '$other'")
      }
    }.getOrElse(Nil)
    val single = m.get("path").toSeq
    val all = (multi ++ single).distinct
    require(all.nonEmpty, "graft-raster: no path given")
    all
  }

  /** The kinds this connector reads, of those [[graft.raster.RasterFormat]]
    * names. */
  private val Kinds = Set("grib", "tif", "nc", "h5", "zarr")

  private def kind(p: String): Option[String] =
    graft.raster.RasterFormat.kindOf(p).filter(Kinds)

  /** Kind of ONE concrete dataset path — the streaming replay planner,
    * which plans from the OFFSET's recorded path set rather than a
    * fresh listing, so a committed-but-unfinished batch replays exactly
    * the datasets its offset promised. A path that vanished since the
    * offset was recorded fails LOUDLY (exact replay needs committed
    * inputs to stay available), never silently drops. */
  def kindOf(p: String): String = {
    require(graft.io.FileIO.exists(p),
      s"graft-raster: dataset $p named by the stream offset no longer " +
        "exists — exact replay requires committed inputs to stay available")
    kind(p).getOrElse(throw new IllegalArgumentException(
      if (graft.io.FileIO.isDirectory(p))
        s"graft-raster: offset dataset $p is a directory but not a Zarr store"
      else s"graft-raster: offset dataset $p matches no supported raster format"))
  }

  /** Expand user paths to concrete (kind, path) datasets. A plain
    * directory expands one level to its GRIB/GeoTIFF/NetCDF/HDF5 files
    * and Zarr stores. */
  def datasets(paths: Seq[String]): Seq[(String, String)] =
    datasets(paths, lenient = false)

  /** `lenient = true` (the STREAMING watch case) lets a directory be
    * empty — parts may not have landed yet. */
  def datasets(paths: Seq[String], lenient: Boolean): Seq[(String, String)] = paths.flatMap { s =>
    import graft.io.FileIO
    require(FileIO.exists(s), s"graft-raster: $s does not exist")
    kind(s).map(k => Seq((k, s))).getOrElse {
      require(FileIO.isDirectory(s),
        s"graft-raster: $s is not a .grib/.grib2/.tif/.nc/.h5 file or Zarr " +
          "store (supported: GRIB 1/2, GeoTIFF, NetCDF, HDF5, Zarr v2/v3)")
      val found = FileIO.list(s).flatMap(f => kind(f).map((_, f))).sortBy(_._2)
      require(lenient || found.nonEmpty,
        s"graft-raster: directory $s holds no GRIB files, GeoTIFFs, " +
          "NetCDF/HDF5 files or Zarr stores")
      found
    }
  }
}

class GraftRasterTable(paths: Seq[String],
    provided: Option[StructType] = None) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-raster(${paths.mkString(",")})"
  override def schema(): StructType =
    provided.getOrElse(GraftRasterTable.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** `df.write.format("graft-raster").options(...).mode("append")
    * .save(dir)` — tile frames to a sharded Zarr v3 store, one
    * executor task per frame shard (see [[GraftRasterWrite]]). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.length == 1,
      s"graft-raster write: exactly one target directory (got $paths)")
    new GraftWriteBuilder(
      GraftRasterWrite.config(paths.head,
        info.options().asCaseSensitiveMap().asScala.toMap),
      info.schema())
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // input-size-derived shuffle parallelism for downstream stages —
    // the same policy the parquet entry points get (graft.Tuning);
    // archive size from file/store metadata only (no header decodes)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      graft.Tuning.autoConfigureBytes(s, paths.mkString(","),
        GraftRasterTable.datasets(paths, lenient = true)
          .map(d => graft.Tuning.treeBytes(d._2)).sum)
    }
    new GraftScanBuilder(paths,
      Option(options.get("time_first")).map(_.toLong).getOrElse(0L),
      Option(options.get("time_delta")).map(_.toLong).getOrElse(3600000L),
      Option(options.get("bbox")).map { s =>
        val parts = s.split(",").map(_.trim.toDouble)
        require(parts.length == 4,
          s"graft-raster: bbox option must be 'x0,y0,x1,y1' (got '$s')")
        (parts(0), parts(1), parts(2), parts(3))
      })
  }
}

/** Pushed tile-coordinate window, half-open bounds resolved at read
  * time against each dataset's tile grid. */
case class TileWindow(tyMin: Int, tyMax: Int, txMin: Int, txMax: Int) {
  def isAll: Boolean = tyMin == Int.MinValue && tyMax == Int.MaxValue &&
    txMin == Int.MinValue && txMax == Int.MaxValue
  def intersect(o: TileWindow): TileWindow =
    if (isAll) o else if (o.isAll) this
    else TileWindow(math.max(tyMin, o.tyMin), math.min(tyMax, o.tyMax),
      math.max(txMin, o.txMin), math.min(txMax, o.txMax))
}
object TileWindow {
  val All = TileWindow(Int.MinValue, Int.MaxValue,
    Int.MinValue, Int.MaxValue)

  /** Empty sentinel (no tile survives). */
  val Empty = TileWindow(1, 0, 1, 0)

  /** Resolve a WORLD bbox (x0, y0, x1, y1 — west, south, east, north
    * in the dataset's CRS) against one dataset's grid geometry
    * (`originX`/`originY` = west/NORTH edge, top row first, square
    * cells) to the window of tiles whose pixel rectangles overlap the
    * bbox with POSITIVE area — edge-touching tiles are excluded, so
    * two band files that share a boundary line resolve disjointly. */
  def fromBbox(x0: Double, y0: Double, x1: Double, y1: Double,
      originX: Double, originY: Double, cell: Double,
      w: Int, h: Int): TileWindow = {
    require(cell > 0, s"fromBbox: non-positive cell size $cell")
    if (x1 <= x0 || y1 <= y0) return Empty
    // a sliver below 1e-6 of a cell is boundary noise, not overlap:
    // without it, inexact pitches (0.05 deg) make edge-sharing band
    // files "overlap" by one float-rounding row
    val eps = 1e-6 * cell
    // pixel column c spans [originX + c*cell, originX + (c+1)*cell]
    var cLo = math.floor((x0 - originX) / cell).toInt
    if (originX + (cLo + 1).toDouble * cell <= x0 + eps) cLo += 1
    var cHi = math.floor((x1 - originX) / cell).toInt
    if (originX + cHi.toDouble * cell >= x1 - eps) cHi -= 1
    // pixel row r spans world y [originY - (r+1)*cell, originY - r*cell]
    var rLo = math.floor((originY - y1) / cell).toInt
    if (originY - (rLo + 1).toDouble * cell >= y1 - eps) rLo += 1
    var rHi = math.floor((originY - y0) / cell).toInt
    if (originY - rHi.toDouble * cell <= y0 + eps) rHi -= 1
    cLo = math.max(0, cLo); cHi = math.min(w - 1, cHi)
    rLo = math.max(0, rLo); rHi = math.min(h - 1, rHi)
    if (cLo > cHi || rLo > rHi) Empty
    else TileWindow(rLo / TileLayout.TILE, rHi / TileLayout.TILE,
      cLo / TileLayout.TILE, cHi / TileLayout.TILE)
  }
}

class GraftScanBuilder(paths: Seq[String], timeFirst: Long, timeDelta: Long,
    bbox: Option[(Double, Double, Double, Double)] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var tMin = Long.MinValue
  private var tMax = Long.MaxValue
  private var win = TileWindow.All
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GraftRasterTable.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // world box accumulated from envelope-column predicates; resolved
  // per dataset PADDED by one cell (see GraftScan.dsWindow) so closed
  // predicates never lose an edge-touching tile to the option bbox's
  // strict-overlap rule — every filter stays residual, so the pad
  // costs a boundary tile of decode, never a wrong row
  private var fx0 = -Double.MaxValue
  private var fy0 = -Double.MaxValue
  private var fx1 = Double.MaxValue
  private var fy1 = Double.MaxValue

  private var tSet: Option[Set[Long]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val spatial = Set("ty", "tx")
    val envX = Set("x0", "x1"); val envY = Set("y0", "y1")
    val (accepted, residual) = filters.partition {
      case org.apache.spark.sql.sources.In("t", vs) =>
        vs.forall(_.isInstanceOf[java.lang.Long])
      case EqualTo("t", _: Long) => true
      case GreaterThanOrEqual("t", _: Long) => true
      case LessThanOrEqual("t", _: Long) => true
      case GreaterThan("t", _: Long) => true
      case LessThan("t", _: Long) => true
      case EqualTo(c, _: Int) if spatial(c) => true
      case GreaterThanOrEqual(c, _: Int) if spatial(c) => true
      case LessThanOrEqual(c, _: Int) if spatial(c) => true
      case GreaterThan(c, _: Int) if spatial(c) => true
      case LessThan(c, _: Int) if spatial(c) => true
      // envelope predicates: any bound on x0/x1 (y0/y1) implies the
      // same bound on the tile's x-range (x0 <= x1), so each maps to a
      // superset world-box edge — exactness comes from the residual
      case GreaterThanOrEqual(c, _: Double) if envX(c) || envY(c) => true
      case GreaterThan(c, _: Double) if envX(c) || envY(c) => true
      case LessThanOrEqual(c, _: Double) if envX(c) || envY(c) => true
      case LessThan(c, _: Double) if envX(c) || envY(c) => true
      case _ => false
    }
    accepted.foreach {
      case org.apache.spark.sql.sources.In("t", vs) =>
        // a static time list (synoptic hours, a dimension join's values)
        // prunes to EXACT instants, not just the [min, max] clamp
        val keep = vs.collect { case l: java.lang.Long => l.longValue }.toSet
        tSet = Some(tSet.fold(keep)(_ intersect keep))
      case EqualTo("t", v: Long) =>
        tMin = math.max(tMin, v); tMax = math.min(tMax, v)
      case GreaterThanOrEqual("t", v: Long) => tMin = math.max(tMin, v)
      case LessThanOrEqual("t", v: Long)    => tMax = math.min(tMax, v)
      case GreaterThan("t", v: Long) => tMin = math.max(tMin, v + 1)
      case LessThan("t", v: Long)    => tMax = math.min(tMax, v - 1)
      case EqualTo("ty", v: Int) => win = win.copy(
        tyMin = math.max(win.tyMin, v), tyMax = math.min(win.tyMax, v))
      case GreaterThanOrEqual("ty", v: Int) =>
        win = win.copy(tyMin = math.max(win.tyMin, v))
      case LessThanOrEqual("ty", v: Int) =>
        win = win.copy(tyMax = math.min(win.tyMax, v))
      case GreaterThan("ty", v: Int) =>
        win = win.copy(tyMin = math.max(win.tyMin, v + 1))
      case LessThan("ty", v: Int) =>
        win = win.copy(tyMax = math.min(win.tyMax, v - 1))
      case EqualTo("tx", v: Int) => win = win.copy(
        txMin = math.max(win.txMin, v), txMax = math.min(win.txMax, v))
      case GreaterThanOrEqual("tx", v: Int) =>
        win = win.copy(txMin = math.max(win.txMin, v))
      case LessThanOrEqual("tx", v: Int) =>
        win = win.copy(txMax = math.min(win.txMax, v))
      case GreaterThan("tx", v: Int) =>
        win = win.copy(txMin = math.max(win.txMin, v + 1))
      case LessThan("tx", v: Int) =>
        win = win.copy(txMax = math.min(win.txMax, v - 1))
      case GreaterThanOrEqual(c, v: Double) if c == "x0" || c == "x1" =>
        fx0 = math.max(fx0, v)
      case GreaterThan(c, v: Double) if c == "x0" || c == "x1" =>
        fx0 = math.max(fx0, v)
      case LessThanOrEqual(c, v: Double) if c == "x0" || c == "x1" =>
        fx1 = math.min(fx1, v)
      case LessThan(c, v: Double) if c == "x0" || c == "x1" =>
        fx1 = math.min(fx1, v)
      case GreaterThanOrEqual(c, v: Double) if c == "y0" || c == "y1" =>
        fy0 = math.max(fy0, v)
      case GreaterThan(c, v: Double) if c == "y0" || c == "y1" =>
        fy0 = math.max(fy0, v)
      case LessThanOrEqual(c, v: Double) if c == "y0" || c == "y1" =>
        fy1 = math.min(fy1, v)
      case LessThan(c, v: Double) if c == "y0" || c == "y1" =>
        fy1 = math.min(fy1, v)
      case _ =>
    }
    pushed = accepted
    // pushed filters are fully enforced (partition pruning for t, tile
    // iteration + chunk/segment-pruned decode for ty/tx), but returning
    // them as residual is harmless and keeps semantics obvious
    residual ++ accepted
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COMPLETE pushdown of ungrouped COUNT(*) / MIN(t) / MAX(t): the
    * answers are pure planning metadata (tile geometry and frame
    * times), so a "how many tiles / what time range" query over a
    * 100k-file archive costs its header reads, not a 30M-row scan. */
  private var aggSpec: Option[Seq[String]] = None
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = aggKinds(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    aggKinds(agg) match {
      case some @ Some(_) => aggSpec = some; true
      case None => false
    }
  private def aggKinds(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[String]] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    def isT(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case nr: NamedReference => nr.fieldNames.sameElements(Array("t"))
        case _ => false
      }
    if (agg.groupByExpressions().nonEmpty) return None
    val kinds = agg.aggregateExpressions().map {
      case _: CountStar => "count"
      case m: Min if isT(m.column) => "min_t"
      case m: Max if isT(m.column) => "max_t"
      case _ => return None
    }
    if (kinds.isEmpty) None else Some(kinds.toSeq)
  }

  override def build(): Scan = {
    val filterBox =
      if (fx0 == -Double.MaxValue && fy0 == -Double.MaxValue &&
        fx1 == Double.MaxValue && fy1 == Double.MaxValue) None
      else Some((fx0, fy0, fx1, fy1))
    val base = new GraftScan(paths, tMin, tMax, required, timeFirst,
      timeDelta, win, bbox, filterBox, tSet)
    aggSpec match {
      case Some(kinds) => new GraftAggScan(base, kinds)
      case None => base
    }
  }
}

/** COMPLETE aggregate scan: one partition, one row, values computed
  * from the base scan's planned metadata (the same pass statistics
  * estimation uses). */
class GraftAggScan(base: GraftScan, kinds: Seq[String])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    kinds.zipWithIndex.map { case (k, i) =>
      StructField(s"agg_$i", LongType, nullable = k != "count")
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-raster complete agg [${kinds.mkString(",")}] over " +
      base.description()

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = base.planInputPartitions()
    val rows = base.plannedRowCount(parts)
    val ts = parts.flatMap {
      case p: GraftFramePartition => Seq(p.tMs)
      case p: GraftTifPartition => p.times.toSeq
      case _ => Nil
    }
    val values: Array[Any] = kinds.map {
      case "count" => rows
      case "min_t" => if (ts.isEmpty) null else ts.min
      case "max_t" => if (ts.isEmpty) null else ts.max
    }.toArray
    Array(GraftAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition)
          : PartitionReader[InternalRow] = {
        val vs = partition.asInstanceOf[GraftAggPartition].values
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = { val r = !done; done = true; r }
          override def get(): InternalRow = new GenericInternalRow(vs)
          override def close(): Unit = ()
        }
      }
    }
}

case class GraftAggPartition(values: Array[Any]) extends InputPartition

/** One frame of one dataset — everything the executor needs. For GRIB
  * the planned [[Grib.Field]] (all byte coordinates) rides along, so
  * the reader seeks straight to its bitmap + data ranges instead of
  * re-scanning the file's section heads per partition (which would be
  * O(frames²) per file across an archive's readers). */
case class GraftFramePartition(kind: String, path: String, frameIdx: Int,
    tMs: Long, w: Int, h: Int, gribField: Grib.Field = null,
    dsWin: TileWindow = TileWindow.All,
    originX: Double = 0.0, originY: Double = 0.0, cell: Double = 0.0,
    crs: String = null)
    extends InputPartition

/** One GeoTIFF FILE (all surviving bands): bands share one decode, so
  * the partition unit is the file — parallelism comes from the archive
  * having many files, which is the multi-file scale case anyway. */
case class GraftTifPartition(path: String, frames: Array[Int],
    times: Array[Long], w: Int, h: Int,
    dsWin: TileWindow = TileWindow.All,
    originX: Double = 0.0, originY: Double = 0.0, cell: Double = 0.0,
    crs: String = null)
    extends InputPartition

object GraftScan {
  /** Bounded planning fan-out: enough to hide per-file metadata latency
    * (the object-storage case this connector exists for), small enough
    * not to stampede a driver-side connection pool. Overridable via
    * -Dgraft.raster.planParallelism (1 = the serial baseline). */
  def PlanParallelism: Int = {
    val p = Integer.getInteger("graft.raster.planParallelism", 32).intValue()
    require(p >= 1, s"graft.raster.planParallelism must be >= 1 (got $p)")
    p
  }
}

class GraftScan(paths: Seq[String], tMin: Long, tMax: Long,
    required: StructType, timeFirst: Long, timeDelta: Long,
    win: TileWindow = TileWindow.All,
    bbox: Option[(Double, Double, Double, Double)] = None,
    filterBox: Option[(Double, Double, Double, Double)] = None,
    tSet: Option[Set[Long]] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** RUNTIME (DPP-style) filtering on `path` and `t`: a selective join
    * against a file list or a time dimension prunes whole (file,
    * frame) partitions at execution start. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns surviving pruning: DPP resolves these against the
    // scan's (pruned) output and fails on absent names
    Seq("path", "t").filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray[org.apache.spark.sql.connector.expressions.NamedReference]

  @volatile private var runtimePaths: Option[Set[String]] = None
  @volatile private var runtimeTs: Option[Set[Long]] = None
  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    filters.foreach {
      case org.apache.spark.sql.sources.In("path", vs) =>
        val keep = vs.map(String.valueOf(_)).toSet
        runtimePaths = Some(runtimePaths.fold(keep)(_ intersect keep))
      case org.apache.spark.sql.sources.EqualTo("path", v) =>
        val keep = Set(String.valueOf(v))
        runtimePaths = Some(runtimePaths.fold(keep)(_ intersect keep))
      case org.apache.spark.sql.sources.In("t", vs) =>
        val keep = vs.collect { case l: java.lang.Long => l.longValue }.toSet
        runtimeTs = Some(runtimeTs.fold(keep)(_ intersect keep))
      case org.apache.spark.sql.sources.EqualTo("t", v: java.lang.Long) =>
        val keep = Set(v.longValue)
        runtimeTs = Some(runtimeTs.fold(keep)(_ intersect keep))
      case _ => () // unsupported runtime filters are advisory
    }

  private def runtimeKeep(p: InputPartition): Boolean = p match {
    case fp: GraftFramePartition =>
      runtimePaths.forall(_.contains(fp.path)) &&
        runtimeTs.forall(_.contains(fp.tMs))
    case tp: GraftTifPartition =>
      runtimePaths.forall(_.contains(tp.path)) &&
        runtimeTs.forall(ts => tp.times.exists(ts.contains))
    case _ => true
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Per-dataset windows resolved from `bbox` at planning time, for
    * the explain output ("<path> -> pruned" / tile window). Planning
    * runs on a pool, so entries collect in a concurrent queue and
    * render sorted (deterministic explain text). */
  private val resolvedEntries =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def resolvedDesc: String = {
    import scala.jdk.CollectionConverters._
    resolvedEntries.asScala.toSeq.distinct.sorted.map("; " + _).mkString
  }
  override def description(): String =
    s"graft-raster pushed t in [$tMin, $tMax], " +
      tSet.map(ts => s"t in {${ts.toSeq.sorted.mkString(",")}}, ")
        .getOrElse("") +
      (if (win.isAll) "" else s"tiles ty [${win.tyMin}, ${win.tyMax}] " +
        s"tx [${win.txMin}, ${win.txMax}], ") +
      bbox.map { case (x0, y0, x1, y1) =>
        s"bbox [$x0, $y0, $x1, $y1]" }.toSeq.mkString +
      filterBox.map { case (x0, y0, x1, y1) =>
        s"${if (bbox.isDefined) " ∩ " else ""}env filters [$x0, $y0, $x1, $y1]"
      }.toSeq.mkString +
      (if (bbox.isDefined || filterBox.isDefined) s"$resolvedDesc, " else "") +
      s"columns [${required.fieldNames.mkString(",")}]"

  /** Plan one dataset: reads ONLY headers/metadata (GRIB section heads,
    * Zarr JSON + coordinate arrays, TIFF IFD tag tables) — no data
    * payload bytes. */
  /** The pushed world bbox resolved against ONE dataset's grid
    * geometry; `None` = the dataset does not intersect (all its
    * partitions are pruned at planning). */
  private def dsWindow(p: String, originX: Double, originY: Double,
      cell: Double, w: Int, h: Int): Option[TileWindow] = {
    if (bbox.isEmpty && filterBox.isEmpty) return Some(TileWindow.All)
    // option bbox: strict positive-area overlap (the documented
    // contract). Filter-derived box: PADDED one cell each side before
    // resolving — closed predicates keep edge-touching tiles, and the
    // residual filter above the scan restores exactness
    val optWin = bbox.map { case (x0, y0, x1, y1) =>
      TileWindow.fromBbox(x0, y0, x1, y1, originX, originY, cell, w, h)
    }.getOrElse(TileWindow.All)
    val filtWin = filterBox.map { case (x0, y0, x1, y1) =>
      TileWindow.fromBbox(x0 - cell, y0 - cell, x1 + cell, y1 + cell,
        originX, originY, cell, w, h)
    }.getOrElse(TileWindow.All)
    val dw = optWin.intersect(filtWin)
    val eff = dw.intersect(win)
    if (TileBounds.resolve(eff, w, h).nonEmpty) {
      resolvedEntries.add(s"${graft.io.FileIO.name(p)} -> ty " +
        s"[${dw.tyMin}, ${dw.tyMax}] tx [${dw.txMin}, ${dw.txMax}]")
      Some(dw)
    } else {
      resolvedEntries.add(s"${graft.io.FileIO.name(p)} -> pruned")
      None
    }
  }

  private def planDataset(kind: String, p: String): Seq[InputPartition] =
    kind match {
      case "grib" =>
        val ch = graft.io.PositionedReader.open(p)
        try {
          val m = Grib.readMeta(ch, p)
          dsWindow(p, m.originX, m.originY, m.cellSize, m.w, m.h).toSeq
            .flatMap { dw =>
              m.timesMs.zipWithIndex.collect {
                case (t, i) if t >= tMin && t <= tMax &&
                    tSet.forall(_.contains(t)) =>
                  GraftFramePartition("grib", p, i, t, m.w, m.h,
                    m.fields(i), dw, m.originX, m.originY, m.cellSize,
                    m.projection)
              }
            }
        } finally ch.close()
      case "zarr" =>
        val m = Zarr.readMeta(p)
        dsWindow(p, m.originX, m.originY, m.cellSize, m.w, m.h).toSeq
          .flatMap { dw =>
            m.timesMs.zipWithIndex.collect {
              case (t, i) if t >= tMin && t <= tMax &&
                  tSet.forall(_.contains(t)) =>
                GraftFramePartition("zarr", p, i, t, m.w, m.h, null, dw,
                  m.originX, m.originY, m.cellSize, m.projection)
            }
          }
      case "nc" | "h5" =>
        // header + 1-D coordinate arrays only; per-frame partitions on
        // the codecs' positioned-read APIs (readFrames seeks straight
        // to the selected frame's records/chunks)
        val ch = graft.io.PositionedReader.open(p)
        try {
          val (times, w, h, ox, oy, cell, crs) =
            if (kind == "nc") {
              val m = NetCdf.readMeta(ch, p)
              (m.timesMs, m.w, m.h, m.originX, m.originY, m.cellSize,
                m.projection)
            } else {
              val m = Hdf5.readMeta(ch, p)
              (m.timesMs, m.w, m.h, m.originX, m.originY, m.cellSize,
                m.projection)
            }
          dsWindow(p, ox, oy, cell, w, h).toSeq.flatMap { dw =>
            times.zipWithIndex.collect {
              case (t, i) if t >= tMin && t <= tMax &&
                  tSet.forall(_.contains(t)) =>
                GraftFramePartition(kind, p, i, t, w, h, null, dw,
                  ox, oy, cell, crs)
            }
          }
        } finally ch.close()
      case "tif" =>
        // GeoTIFF has no embedded time axis — bands map to the
        // time_first/time_delta options, the RasterFileSource convention
        val m = GeoTiff.readMeta(p)
        val cell = (m.bbox.x2 - m.bbox.x1) / m.w
        dsWindow(p, m.bbox.x1, m.bbox.y2, cell, m.w, m.h).toSeq.flatMap {
          dw =>
            val sel = (0 until m.bandCount)
              .map(i => (i, timeFirst + i * timeDelta))
              .filter { case (_, t) => t >= tMin && t <= tMax &&
                tSet.forall(_.contains(t)) }
            if (sel.isEmpty) Nil
            else Seq(GraftTifPartition(p, sel.map(_._1).toArray,
              sel.map(_._2).toArray, m.w, m.h, dw,
              m.bbox.x1, m.bbox.y2, cell,
              if (m.epsg > 0) s"EPSG:${m.epsg}" else null))
        }
      case k => throw new IllegalArgumentException(
        s"graft-raster: unknown dataset kind $k for $p")
    }

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimePaths.isEmpty && runtimeTs.isEmpty) plannedParts
    else plannedParts.filter(runtimeKeep)

  /** Planning-time statistics for Catalyst: planned tile-row count and
    * payload bytes (post temporal/bbox/window pruning) — a sharply
    * pruned AOI read sizes like the AOI, not the archive, so joins
    * against it can broadcast. Shares the memoized planning pass. */
  /** Exact planned tile-row count of a partition set (shared by
    * statistics and the complete-aggregate scan). */
  private[sources] def plannedRowCount(parts: Array[InputPartition]): Long =
    parts.foldLeft(0L) {
      case (r, p: GraftFramePartition) =>
        r + TileBounds.resolve(win.intersect(p.dsWin), p.w, p.h).count
      case (r, p: GraftTifPartition) =>
        r + TileBounds.resolve(win.intersect(p.dsWin), p.w, p.h).count.toLong *
          p.frames.length
      case (r, _) => r
    }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    def tileBytes(w: Int, h: Int, dsWin: TileWindow): (Long, Long) = {
      val tb = TileBounds.resolve(win.intersect(dsWin), w, h)
      if (!tb.nonEmpty) return (0L, 0L)
      val sumW = (tb.txLo to tb.txHi).map(TileLayout.tileW(w, _).toLong).sum
      val sumH = (tb.tyLo to tb.tyHi).map(TileLayout.tileH(h, _).toLong).sum
      (tb.count.toLong, sumW * sumH * 8L)
    }
    val (rows, bytes) = plannedParts.foldLeft((0L, 0L)) {
      case ((r, b), p: GraftFramePartition) =>
        val (tr, tb) = tileBytes(p.w, p.h, p.dsWin); (r + tr, b + tb)
      case ((r, b), p: GraftTifPartition) =>
        val (tr, tb) = tileBytes(p.w, p.h, p.dsWin)
        (r + tr * p.frames.length, b + tb * p.frames.length)
      case (acc, _) => acc
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  private lazy val plannedParts: Array[InputPartition] = {
    // header reads are independent per dataset and latency-bound (on
    // object storage each is 1-2 round trips): a 100k-file archive
    // planned serially is minutes of driver RTTs before the first task.
    // A bounded pool overlaps them; partition order stays deterministic
    // (futures are collected in dataset order). Planning still reads
    // only header/metadata bytes — pinned by the corrupt-data spec.
    val ds = GraftRasterTable.datasets(paths)
    val par = math.min(GraftScan.PlanParallelism, ds.length)
    if (par <= 1) ds.flatMap { case (k, p) => planDataset(k, p) }.toArray
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par,
        (r: Runnable) => {
          val t = new Thread(r, "graft-raster-plan")
          t.setDaemon(true); t
        })
      try {
        val futs = ds.map { case (k, p) =>
          pool.submit(new java.util.concurrent.Callable[Seq[InputPartition]] {
            override def call(): Seq[InputPartition] = planDataset(k, p)
          })
        }
        futs.flatMap { f =>
          try f.get()
          catch {
            // unwrap so the codecs' loud messages surface unchanged
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }.toArray
      } finally pool.shutdownNow()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.fieldNames, win)

  /** STREAMING read: watch the archive for new dataset files (GRIB,
    * GeoTIFF, NetCDF/HDF5, Zarr store directories) — each micro-batch
    * plans exactly the datasets that appeared since the last offset,
    * through the same planner (temporal/bbox/envelope pushdown, pooled
    * metadata reads). The offset is the SET of processed dataset paths;
    * files must be published atomically (temp-name + rename). The
    * operational-feed case: a forecast cycle lands, the stream emits
    * its frames once. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftRasterMicroBatchStream(this)

  /** Current concrete (kind, path) datasets of the watched paths. */
  private[sources] def listNow(): Seq[(String, String)] =
    GraftRasterTable.datasets(paths, lenient = true)

  private[sources] def planOne(kind: String, p: String): Seq[InputPartition] =
    planDataset(kind, p)
  private[sources] def requiredCols: Array[String] = required.fieldNames
  private[sources] def pushedWin: TileWindow = win
}

/** Streaming offset for the raster watcher: the set of processed
  * dataset paths, JSON-encoded (same exact-replay contract as
  * [[GraftFgbOffset]]). */
case class GraftRasterOffset(paths: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    paths.toSeq.sorted.map(f => "\"" + f.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\"").mkString("[", ",", "]")
}

object GraftRasterOffset {
  def fromJson(j: String): GraftRasterOffset =
    graft.core.Json.parse(j) match {
      case l: List[_] => GraftRasterOffset(l.map(_.toString).toSet)
      case other => throw new IllegalArgumentException(
        s"graft-raster: bad stream offset '$other'")
    }
}

class GraftRasterMicroBatchStream(scan: GraftScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftRasterOffset(Set.empty)
  override def latestOffset(): Offset =
    GraftRasterOffset(scan.listNow().map(_._2).toSet)
  override def deserializeOffset(json: String): Offset =
    GraftRasterOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Plans directly from the OFFSET's path set (kind re-inferred from
    * each path), NOT from a fresh listing: on restart-replay of a
    * committed-but-unfinished batch, a dataset deleted since the offset
    * was recorded fails loudly instead of being silently dropped —
    * the same exact-replay contract as [[GraftFgbMicroBatchStream]]. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftRasterOffset].paths
    val s1 = end.asInstanceOf[GraftRasterOffset].paths
    (s1 -- s0).toSeq.sorted
      .flatMap(p => scan.planOne(GraftRasterTable.kindOf(p), p)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(scan.requiredCols, scan.pushedWin)
}

class GraftReaderFactory(columns: Array[String], win: TileWindow)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: GraftFramePartition => new GraftPartitionReader(p, columns, win)
      case p: GraftTifPartition   => new GraftTifReader(p, columns, win)
      case other => throw new IllegalArgumentException(
        s"graft-raster: unknown partition $other")
    }
}

/** Resolved tile iteration bounds for one dataset's grid. */
private[sources] case class TileBounds(tyLo: Int, tyHi: Int, txLo: Int,
    txHi: Int) {
  def count: Int = math.max(0, tyHi - tyLo + 1) * math.max(0, txHi - txLo + 1)
  def nonEmpty: Boolean = tyHi >= tyLo && txHi >= txLo
  /** Half-open pixel window (y0, y1, x0, x1) on a w x h grid. */
  def pixelWindow(w: Int, h: Int): (Int, Int, Int, Int) =
    (tyLo * TileLayout.TILE, math.min(h, (tyHi + 1) * TileLayout.TILE),
      txLo * TileLayout.TILE, math.min(w, (txHi + 1) * TileLayout.TILE))
}

private[sources] object TileBounds {
  def resolve(win: TileWindow, w: Int, h: Int): TileBounds = {
    val nTx = TileLayout.tilesX(w)
    val nTy = (TileLayout.numTiles(w, h) + nTx - 1) / nTx
    TileBounds(math.max(0, win.tyMin), math.min(nTy - 1, win.tyMax),
      math.max(0, win.txMin), math.min(nTx - 1, win.txMax))
  }
}

/** Executor-side GeoTIFF reader: one decode serves every surviving
  * band; tiles stream out per (band, tile). The decode is BAND-PRUNED:
  * only the frames the pushed time filter kept are materialized — a
  * time-sliced read of a wide band stack pays for its slice, not the
  * file's band count (and never touches the pruned bands' samples). */
class GraftTifReader(p: GraftTifPartition, columns: Array[String],
    win0: TileWindow) extends PartitionReader[InternalRow] {
  private val win = win0.intersect(p.dsWin)
  private val tb = TileBounds.resolve(win, p.w, p.h)
  /** (bands of the decoded region, region width, col0, row0). With a
    * pushed tile window only the intersecting strips/tiles of the file
    * are read and decoded (`readWindowPx`); otherwise the full frame. */
  private lazy val region: (Seq[Array[Double]], Int, Int, Int) =
    if (win.isAll) (GeoTiff.read(p.path, p.frames.toSeq).bands, p.w, 0, 0)
    else {
      val (y0, y1, x0, x1) = tb.pixelWindow(p.w, p.h)
      val (t, col0, row0) = GeoTiff.readWindowPx(p.path, p.frames.toSeq,
        y0, y1, x0, x1)
      (t.bands, t.w, col0, row0)
    }
  private val nTxb = math.max(0, tb.txHi - tb.txLo + 1)
  private val total = tb.count * p.frames.length
  private var i = -1
  private val pathU = UTF8String.fromString(p.path)

  override def next(): Boolean = { i += 1; i < total }

  override def get(): InternalRow = {
    val f = i / tb.count
    val tile = i % tb.count
    val ty = tb.tyLo + tile / nTxb
    val tx = tb.txLo + tile % nTxb
    new GenericInternalRow(columns.map[Any] {
      case "path" => pathU
      case "t"    => p.times(f)
      case "ty"   => ty
      case "tx"   => tx
      case "crs" =>
        if (p.crs == null) null else UTF8String.fromString(p.crs)
      case "x0" => p.originX + tx.toLong * TileLayout.TILE * p.cell
      case "x1" => p.originX +
        math.min(p.w.toLong, (tx + 1).toLong * TileLayout.TILE) * p.cell
      case "y1" => p.originY - ty.toLong * TileLayout.TILE * p.cell
      case "y0" => p.originY -
        math.min(p.h.toLong, (ty + 1).toLong * TileLayout.TILE) * p.cell
      case "values" =>
        // the pruned decode returns exactly p.frames' bands, in order
        val (bands, rw, col0, row0) = region
        val frame = bands(f)
        val tw = TileLayout.tileW(p.w, tx)
        val th = TileLayout.tileH(p.h, ty)
        val out = new Array[Double](tw * th)
        var r = 0
        while (r < th) {
          System.arraycopy(frame,
            (ty * TileLayout.TILE + r - row0) * rw +
              tx * TileLayout.TILE - col0, out, r * tw, tw)
          r += 1
        }
        ArrayData.toArrayData(out)
      case other => throw new IllegalArgumentException(
        s"graft-raster: unknown column $other")
    })
  }

  override def close(): Unit = ()
}

/** Executor-side: decode ONE frame (only its byte ranges — GRIB fields
  * and Zarr chunks are independently addressable) and emit its tiles.
  * Column pruning reaches the payload: when `values` is not required
  * (a count, a time listing), NO data byte of the file is read — only
  * the per-frame tile geometry from the planned metadata. */
class GraftPartitionReader(p: GraftFramePartition, columns: Array[String],
    win0: TileWindow) extends PartitionReader[InternalRow] {

  private val win = win0.intersect(p.dsWin)
  private val tb = TileBounds.resolve(win, p.w, p.h)

  private lazy val frame: Array[Double] = p.kind match {
    case "grib" =>
      val ch = graft.io.PositionedReader.open(p.path)
      // the planned Field carries every byte coordinate: no metadata
      // re-scan, straight to this frame's bitmap + data ranges.
      // A pushed tile window prunes EMISSION only: the field payload
      // is one bit-packed stream, not independently addressable
      try Grib.decode(ch, p.gribField, Double.MaxValue)
      finally ch.close()
    case "nc" | "h5" =>
      // header metadata is re-read per partition (small, and the Meta
      // types carry parse state that does not serialize); readFrames
      // then seeks only this frame's records/chunks — and, for HDF5,
      // only the chunks intersecting the pushed tile window
      val ch = graft.io.PositionedReader.open(p.path)
      try {
        if (p.kind == "nc") {
          // classic NetCDF frames are one contiguous record each:
          // window pruning is emission-only, as for GRIB
          val m = NetCdf.readMeta(ch, p.path)
          NetCdf.readFrames(ch, m, Seq(p.frameIdx)).head
        } else {
          val m = Hdf5.readMeta(ch, p.path)
          Hdf5.readFrames(ch, m, Seq(p.frameIdx),
            if (win.isAll) None else Some(tb.pixelWindow(p.w, p.h))).head
        }
      } finally ch.close()
    case "zarr" =>
      // zarr metadata (a few KB of JSON + 1-D coordinate arrays) is
      // re-read per partition: ArrayMeta carries filesystem Paths and
      // does not serialize, and the read is milliseconds against a
      // frame decode — unlike the GRIB case there is no per-frame
      // byte-coordinate table to ship. A pushed tile window opens only
      // the intersecting chunk objects (the object-storage AOI case)
      val m = Zarr.readMeta(p.path)
      Zarr.readFrames(m, Seq(p.frameIdx),
        if (win.isAll) None else Some(tb.pixelWindow(p.w, p.h))).head
    case other => throw new IllegalArgumentException(
      s"graft-raster: unknown partition kind $other")
  }

  private val nTxb = math.max(0, tb.txHi - tb.txLo + 1)
  private var tile = -1
  private val pathU = UTF8String.fromString(p.path)

  override def next(): Boolean = { tile += 1; tile < tb.count }

  override def get(): InternalRow = {
    val ty = tb.tyLo + tile / nTxb
    val tx = tb.txLo + tile % nTxb
    new GenericInternalRow(columns.map[Any] {
      case "path" => pathU
      case "t"    => p.tMs
      case "ty"   => ty
      case "tx"   => tx
      case "crs" =>
        if (p.crs == null) null else UTF8String.fromString(p.crs)
      case "x0" => p.originX + tx.toLong * TileLayout.TILE * p.cell
      case "x1" => p.originX +
        math.min(p.w.toLong, (tx + 1).toLong * TileLayout.TILE) * p.cell
      case "y1" => p.originY - ty.toLong * TileLayout.TILE * p.cell
      case "y0" => p.originY -
        math.min(p.h.toLong, (ty + 1).toLong * TileLayout.TILE) * p.cell
      case "values" =>
        val tw = TileLayout.tileW(p.w, tx)
        val th = TileLayout.tileH(p.h, ty)
        val out = new Array[Double](tw * th)
        var i = 0
        while (i < th) {
          System.arraycopy(frame, (ty * TileLayout.TILE + i) * p.w +
            tx * TileLayout.TILE, out, i * tw, tw)
          i += 1
        }
        ArrayData.toArrayData(out)
      case other => throw new IllegalArgumentException(
        s"graft-raster: unknown column $other")
    })
  }

  override def close(): Unit = ()
}
