package graft.geometry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom.{Geometry, GeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader}
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier}
import org.locationtech.jts.operation.buffer.BufferParameters

/** JTS-backed geometry kernels exposed as Spark UDFs.
  *
  * The reference runs shapely/GEOS under geopandas for these
  * (geometry/geom_operations.py, constructive.py, set_operations.py); on the
  * JVM the equivalent engine is JTS (on the Spark classpath). Geometries
  * travel as WKB binary columns. Readers/writers are per-thread to stay
  * executor-safe.
  */
object GeomFunctions extends Serializable {

  @transient private lazy val factory = new GeometryFactory()
  private val wkbReaderTL = new ThreadLocal[WKBReader] {
    override def initialValue(): WKBReader = new WKBReader()
  }
  private val wkbWriterTL = new ThreadLocal[WKBWriter] {
    override def initialValue(): WKBWriter = new WKBWriter()
  }
  private val wktReaderTL = new ThreadLocal[WKTReader] {
    override def initialValue(): WKTReader = new WKTReader()
  }

  def readWkb(b: Array[Byte]): Geometry = wkbReaderTL.get.read(b)
  def writeWkb(g: Geometry): Array[Byte] = wkbWriterTL.get.write(g)
  def readWkt(s: String): Geometry = wktReaderTL.get.read(s)

  /** Per-thread 2-entry memo over the WKB bytes → parsed Geometry. The
    * accessor/predicate UDFs below are routinely evaluated several times
    * on the SAME geometry in consecutive calls — four envelope UDFs in one
    * projection, a contains-point test per exploded candidate cell of one
    * feature, both sides of a pair refinement — and re-parsing dominates
    * the actual test. Content-compared (Spark hands each UDF call a fresh
    * byte array, so reference equality never hits); two entries cover the
    * alternating two-geometry pattern of pair predicates. ONLY for callers
    * that never mutate the parsed geometry (JTS operations build new
    * geometries; the two CoordinateFilter mutators below copy() first). */
  private val wkbMemoTL = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](5)
  }
  /** Parse WKB through the per-thread 2-entry memo above.
    *
    * Why the memo stays: an interleaved memo-on/off re-measure of the lanes
    * that use it (z01, z02, g20, g22, g28, g29, r28 at sf0.1, fresh JVMs),
    * with r29 as a control lane that never parses WKB, found no difference
    * beyond the control's own ±40% swing (OPTIMIZATION_r17.md §5). It is
    * kept because it turns 4 parses of one geometry into 1 on the extent,
    * zonal and refinement paths at no measured cost.
    *
    * CONTRACT: the returned Geometry is SHARED across calls on this
    * thread — callers MUST treat it as immutable. Never call
    * `apply(CoordinateFilter)`, `normalize()`, `geometryChanged()` or
    * write through `getCoordinates`' backing arrays on it; a mutating
    * caller must use [[readWkb]] (and `.copy()` before editing), or it
    * silently corrupts results for unrelated rows that hit the memo. */
  def readWkbCached(b: Array[Byte]): Geometry = {
    val m = wkbMemoTL.get
    val b0 = m(0).asInstanceOf[Array[Byte]]
    if (b0 != null && java.util.Arrays.equals(b0, b)) {
      m(4) = SlotA
      return m(1).asInstanceOf[Geometry]
    }
    val b1 = m(2).asInstanceOf[Array[Byte]]
    if (b1 != null && java.util.Arrays.equals(b1, b)) {
      m(4) = SlotB
      return m(3).asInstanceOf[Geometry]
    }
    val g = wkbReaderTL.get.read(b)
    // evict the slot that was NOT the last hit, so an occasional third
    // geometry never displaces the most-recently-used entry of an
    // alternating pair (the pattern the 2-entry memo exists for)
    val slot = if (m(4) eq SlotA) 2 else 0
    m(slot) = b; m(slot + 1) = g
    m(4) = if (slot == 0) SlotA else SlotB
    g
  }
  private val SlotA: AnyRef = java.lang.Integer.valueOf(0)
  private val SlotB: AnyRef = java.lang.Integer.valueOf(2)

  /** Per-thread single-entry memo for the request's constant filter WKT:
    * predicate UDFs run once per row, and re-parsing (plus re-indexing)
    * the same literal for millions of rows dominates the scan at scale.
    * PreparedGeometry carries an edge index, so repeated intersects/
    * contains tests are O(log n) instead of full geometry walks. */
  private val preparedTL =
    new ThreadLocal[(String, org.locationtech.jts.geom.prep.PreparedGeometry)]
  private def preparedFor(wkt: String): org.locationtech.jts.geom.prep.PreparedGeometry = {
    val cur = preparedTL.get
    if (cur != null && cur._1 == wkt) cur._2
    else {
      val p = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(readWkt(wkt))
      preparedTL.set((wkt, p))
      p
    }
  }
  private val parsedTL = new ThreadLocal[(String, Geometry)]
  private def parsedFor(wkt: String): Geometry = {
    val cur = parsedTL.get
    if (cur != null && cur._1 == wkt) cur._2
    else {
      val g = readWkt(wkt)
      parsedTL.set((wkt, g))
      g
    }
  }

  private val geomFromWkt = udf { (wkt: String) =>
    if (wkt == null) null else writeWkb(readWkt(wkt))
  }
  private val asWkt = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else readWkbCached(wkb).toText
  }
  private val area = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getArea)
  }
  private val buffer = udf { (wkb: Array[Byte], dist: Double, quadrantSegs: Int) =>
    if (wkb == null) null
    else writeWkb(readWkb(wkb).buffer(dist, quadrantSegs, BufferParameters.CAP_ROUND))
  }
  private val simplify = udf { (wkb: Array[Byte], tol: Double, preserve: Boolean) =>
    if (wkb == null) null
    else {
      val g = readWkb(wkb)
      val s = if (preserve) TopologyPreservingSimplifier.simplify(g, tol)
              else DouglasPeuckerSimplifier.simplify(g, tol)
      writeWkb(s)
    }
  }
  private val difference = udf { (a: Array[Byte], b: Array[Byte]) =>
    if (a == null) null
    else if (b == null) a // A - None = A (set_operations.py:69-77)
    else writeWkb(readWkb(a).difference(readWkb(b)))
  }
  private val intersectionWkt = udf { (a: Array[Byte], wkt: String) =>
    if (a == null || wkt == null) null
    else writeWkb(readWkbCached(a).intersection(parsedFor(wkt)))
  }
  private val filterPred = udf { (wkb: Array[Byte], wkt: String, mode: String) =>
    if (wkb == null || wkt == null) false
    else {
      val g = readWkbCached(wkb)
      val f = preparedFor(wkt)
      if (mode == "centroid") f.contains(g.getCentroid) else f.intersects(g)
    }
  }
  private val sizeAtLeast = udf { (wkb: Array[Byte], minSize: Double) =>
    if (wkb == null) false
    else {
      val e = readWkbCached(wkb).getEnvelopeInternal
      // min_size drops features whose bbox is smaller in BOTH directions
      // (geometry/base.py:18-31)
      e.getWidth >= minSize || e.getHeight >= minSize
    }
  }
  private val areaInProjection = udf { (wkb: Array[Byte], from: String, to: String) =>
    if (wkb == null) null
    else {
      val g = readWkb(wkb).copy()
      if (from != to) {
        g.apply(new org.locationtech.jts.geom.CoordinateFilter {
          override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
            val (nx, ny) = graft.raster.Proj.transform(from, to, c.x, c.y)
            c.x = nx; c.y = ny
          }
        })
        g.geometryChanged()
      }
      java.lang.Double.valueOf(g.getArea)
    }
  }
  private val transformGeom = udf { (wkb: Array[Byte], from: String, to: String) =>
    if (wkb == null) null
    else {
      val g = readWkb(wkb).copy()
      g.apply(new org.locationtech.jts.geom.CoordinateFilter {
        override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
          val (nx, ny) = graft.raster.Proj.transform(from, to, c.x, c.y)
          c.x = nx; c.y = ny
        }
      })
      g.geometryChanged()
      writeWkb(g)
    }
  }
  private val containsPoint = udf { (wkb: Array[Byte], x: Double, y: Double) =>
    if (wkb == null) false
    else readWkbCached(wkb).contains(factory.createPoint(new org.locationtech.jts.geom.Coordinate(x, y)))
  }
  private val envMinX = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getEnvelopeInternal.getMinX)
  }
  private val envMinY = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getEnvelopeInternal.getMinY)
  }
  private val envMaxX = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getEnvelopeInternal.getMaxX)
  }
  private val envMaxY = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getEnvelopeInternal.getMaxY)
  }
  private val centroidX = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getCentroid.getX)
  }
  private val centroidY = udf { (wkb: Array[Byte]) =>
    if (wkb == null) null else java.lang.Double.valueOf(readWkbCached(wkb).getCentroid.getY)
  }

  def stGeomFromWkt(wkt: Column): Column = geomFromWkt(wkt)
  def stAsWkt(wkb: Column): Column = asWkt(wkb)
  def stArea(wkb: Column): Column = area(wkb)
  def stBuffer(wkb: Column, dist: Column, quadrantSegs: Column): Column =
    buffer(wkb, dist, quadrantSegs)
  def stSimplify(wkb: Column, tol: Column, preserve: Column): Column =
    simplify(wkb, tol, preserve)
  def stDifference(a: Column, b: Column): Column = difference(a, b)
  def stIntersectionWkt(a: Column, wkt: Column): Column = intersectionWkt(a, wkt)
  def stFilter(wkb: Column, wkt: Column, mode: Column): Column = filterPred(wkb, wkt, mode)
  def stSizeAtLeast(wkb: Column, minSize: Column): Column = sizeAtLeast(wkb, minSize)
  def stCentroidX(wkb: Column): Column = centroidX(wkb)
  def stCentroidY(wkb: Column): Column = centroidY(wkb)
  def stContainsPoint(wkb: Column, x: Column, y: Column): Column = containsPoint(wkb, x, y)
  def stAreaInProjection(wkb: Column, from: Column, to: Column): Column =
    areaInProjection(wkb, from, to)
  def stTransform(wkb: Column, from: Column, to: Column): Column =
    transformGeom(wkb, from, to)
  def stEnvMinX(wkb: Column): Column = envMinX(wkb)
  def stEnvMinY(wkb: Column): Column = envMinY(wkb)
  def stEnvMaxX(wkb: Column): Column = envMaxX(wkb)
  def stEnvMaxY(wkb: Column): Column = envMaxY(wkb)
}
