package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import graft.io.PositionedReader
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** GRIB2 codec — a bounded read/write subset of the WMO FM 92 GRIB
  * edition 2 format, the dominant meteorological interchange (the
  * reference reads it through GDAL's universal `RasterFileSource`,
  * dask_geomodeling/raster/sources.py:396-564; rain-radar stacks are
  * the reference's home domain).
  *
  * Subset (everything else fails LOUDLY, never misdecodes):
  *  - grid definition templates 3.0 (regular latitude/longitude, basic
  *    angle 0 microdegree units, no quasi-regular row lists), 3.10
  *    (Mercator at a true-scale parallel — NCEP tropical grids), 3.20
  *    (polar stereographic — NCEP Arctic/Alaska grids, both poles) and
  *    3.30 (Lambert conformal — the NCEP HRRR/NAM regional grids);
  *    projected grids stay in native plane metres via parameterized
  *    hub CRSs (spherical and ellipsoidal earth shapes), cross-CRS
  *    requests through the shared warp stage
  *  - product definition templates 4.0 (analysis/forecast at a point
  *    in time; valid time = reference time + forecast offset) and 4.8
  *    (statistical/accumulation interval — GFS total precipitation;
  *    valid time = the transmitted END of the overall interval)
  *  - data representation templates 5.0 (simple packing
  *    `v = (R + X·2^E) / 10^D`, X an unsigned big-endian bit field),
  *    5.2 (complex packing: general group splitting, per-group
  *    reference + width) and 5.3 (complex packing with spatial
  *    differencing of order 1/2) — the packings real NOAA GFS / ECMWF
  *    products actually use; 5.40 (JPEG2000) is rejected by name
  *  - missing-value management 0 only (missing points ride bitmaps)
  *  - section 6 bitmaps (indicator 0 / 254 / 255)
  *  - scanning modes 0x00 (row-major, W→E, N→S) and 0x40 (S→N, rows
  *    flipped on decode)
  *  - any number of concatenated messages and repeated section 4-7
  *    groups; each field becomes one time frame
  *
  * Integer fields use the GRIB sign-and-magnitude convention
  * (regulation 92.1.5): the top bit marks a negative magnitude, NOT a
  * two's-complement value.
  */
object Grib {
  // in-memory ImageIO cache: the default disk cache costs a temp file
  // per PNG pack/unpack — pure metadata contention at archive scale
  javax.imageio.ImageIO.setUseCache(false)

  private[raster] def readAt(ch: PositionedReader, at: Long, n: Int): ByteBuffer = {
    val b = ByteBuffer.allocate(n)
    PositionedReader.readFully(ch, at, b)
    b.flip()
    b.order(ByteOrder.BIG_ENDIAN)
    b
  }

  private def u8(b: ByteBuffer): Int = b.get() & 0xFF
  private def u16(b: ByteBuffer): Int = b.getShort() & 0xFFFF
  private def u32(b: ByteBuffer): Long = b.getInt() & 0xFFFFFFFFL

  /** GRIB sign-and-magnitude 16-bit integer. */
  private def s16(b: ByteBuffer): Int = {
    val raw = u16(b)
    if ((raw & 0x8000) != 0) -(raw & 0x7FFF) else raw
  }

  private def u24(b: ByteBuffer): Int = (u8(b) << 16) | (u8(b) << 8) | u8(b)

  /** GRIB sign-and-magnitude 24-bit integer (GRIB1 coordinates). */
  private def s24(b: ByteBuffer): Int = {
    val raw = u24(b)
    if ((raw & 0x800000) != 0) -(raw & 0x7FFFFF) else raw
  }

  /** IBM System/360 32-bit hex float (GRIB1 reference values):
    * sign(1) | excess-64 base-16 exponent(7) | fraction(24), value =
    * (-1)^s * (frac / 2^24) * 16^(e-64). Exact in a double: the
    * fraction is 24 bits and the scaling is a power of two. */
  private[raster] def ibm32ToDouble(raw: Long): Double = {
    val frac = (raw & 0xFFFFFF).toDouble
    if (frac == 0.0) return 0.0
    val e = ((raw >>> 24) & 0x7F).toInt - 64
    val v = frac * math.pow(2.0, 4 * e - 24)
    if ((raw & 0x80000000L) != 0) -v else v
  }

  /** Exact IBM float encoding of an integer |m| < 2^24 (the writer's
    * reference values are integral so the round trip is bit-exact). */
  private[raster] def intToIbm32(m: Long): Long = {
    require(math.abs(m) < (1L << 24),
      s"grib: reference value $m not exactly IBM-float representable")
    if (m == 0L) return 0L
    val mag = math.abs(m)
    var e = 0
    while ((1L << (4 * e)) <= mag) e += 1 // smallest e with 16^e > mag
    val frac = mag << (24 - 4 * e)
    (if (m < 0) 0x80000000L else 0L) | ((e + 64).toLong << 24) | frac
  }

  /** GRIB sign-and-magnitude 32-bit integer. */
  private def s32(b: ByteBuffer): Long = {
    val raw = u32(b)
    if ((raw & 0x80000000L) != 0) -(raw & 0x7FFFFFFFL) else raw
  }

  // ------------------------------------------------------------ model

  /** For geographic grids (3.0) `la1`/`lo1`/`di`/`dj` are degrees; for
    * projected grids (3.30) they are the first point and pitch in the
    * projection plane's metres, with `proj` the parameterized CRS. */
  /** `rowCounts` marks a QUASI-REGULAR (reduced) grid: per-row point
    * counts from section 3's optional list; `w` is then the longest
    * row and decode expands the others to it by nearest-neighbor
    * longitude mapping (the GDAL/ecCodes reduced→regular convention).
    *
    * `storedLats` marks a GAUSSIAN grid (template 3.40): the stored
    * rows sit on those latitudes (in stored order); `h`/`dj` describe
    * the SQUARE uniform target grid (pitch = the zonal pitch) that
    * decode resamples onto by nearest-neighbor row mapping, and `la1`
    * is the northmost row center (the scan-order flip is absorbed by
    * the resample, so `scan`'s 0x40 bit is consumed at parse). */
  case class Grid(w: Int, h: Int, la1: Double, lo1: Double,
      di: Double, dj: Double, scan: Int, proj: String = "EPSG:4326",
      rowCounts: Option[Seq[Int]] = None,
      storedLats: Option[Seq[Double]] = None)

  /** Latitudes (degrees, north→south) of the 2N Gaussian parallels:
    * arcsin of the roots of the Legendre polynomial P_2N, by Newton
    * iteration from the standard cos((i+3/4)π/(n+1/2)) start (the
    * gauleg scheme; converges quadratically, |Δ| < 1e-15 in ≤ 6
    * steps for every n used in practice). */
  private[graft] def gaussianLatitudes(nParallels: Int): Array[Double] = {
    val n = nParallels
    require(n >= 2 && n % 2 == 0 && n <= (1 << 16),
      s"grib: $n Gaussian parallels")
    val lats = new Array[Double](n)
    var i = 0
    while (i < n / 2) { // roots come in ± pairs; solve the positive half
      var x = math.cos(math.Pi * (i + 0.75) / (n + 0.5))
      var steps = 0
      var done = false
      while (!done && steps < 100) {
        var p0 = 1.0; var p1 = x
        var k = 2
        while (k <= n) {
          val pk = ((2 * k - 1) * x * p1 - (k - 1) * p0) / k
          p0 = p1; p1 = pk; k += 1
        }
        val dp = n * (x * p1 - p0) / (x * x - 1)
        val dx = p1 / dp
        x -= dx
        if (math.abs(dx) < 1e-15) done = true
        steps += 1
      }
      val lat = math.toDegrees(math.asin(x))
      lats(i) = lat
      lats(n - 1 - i) = -lat
      i += 1
    }
    lats
  }

  /** Complex-packing parameters (templates 5.2/5.3, WMO FM 92 §5):
    * general group splitting — NG groups, each with its own reference
    * value and bit width, plus (for 5.3) spatial differencing of order
    * 1 or 2 whose initial values and overall minimum ride as
    * `sdOctets`-byte sign-magnitude extras at the head of section 7. */
  case class Cx(ng: Int, widthRef: Int, widthBits: Int, lenRef: Long,
      lenInc: Int, lastLen: Long, lenBits: Int, sdOrder: Int, sdOctets: Int)

  /** GRIB1 second-order packing (WMO FM 92-VIII, BDS octet-4 flag bit
    * 2 + Code Table 11 extended flags at octet 14): `p1` groups, each
    * with a first-order reference packed at `foWidth` bits starting at
    * 1-based BDS octet `n1`; per-point second-order deviations at
    * octet `n2`, with one width octet per group (octets 22..) when
    * `diffWidths`, a single shared width octet otherwise. Group
    * membership: the secondary bit-map (one bit per present point, set
    * = a new first-order value applies) when `hasSbmp`; otherwise the
    * WMO row-by-row convention (`p1` = grid rows, one group per row).
    * `v = (R + (FO[g] + SO[k])·2^E) / 10^D`. */
  case class Cx1(p1: Int, p2: Int, foWidth: Int, diffWidths: Boolean,
      hasSbmp: Boolean, n1: Int, n2: Int, bdsLen: Int)

  /** Internal template marker for GRIB1 second-order packing (GRIB2
    * DRS template numbers 0/2/3/41 keep their WMO values). */
  val Ed1Complex: Int = -2

  case class Packing(numPoints: Long, r: Double, e: Int, d: Int, nbits: Int,
      template: Int = 0, cx: Cx = null, cx1: Cx1 = null)

  /** One decodable field: every byte range needed to decode it, so a
    * time-sliced read touches ONLY the selected frames' bytes. */
  case class Field(refTimeMs: Long, validTimeMs: Long, grid: Grid,
      packing: Packing, bitmapOffset: Long, dataOffset: Long, dataLen: Int,
      discipline: Int, category: Int, number: Int)

  case class Meta(fields: Seq[Field], w: Int, h: Int, cellSize: Double,
      originX: Double, originY: Double, timesMs: Seq[Long],
      projection: String)

  // ------------------------------------------------------------ parse

  private def unitMs(unit: Int): Long = unit match {
    case 0  => 60000L
    case 1  => 3600000L
    case 2  => 86400000L
    case 10 => 3L * 3600000L
    case 11 => 6L * 3600000L
    case 12 => 12L * 3600000L
    case 13 => 1000L
    case other => throw new IllegalArgumentException(
      s"grib: unsupported time-range unit $other")
  }

  private def parseSec1(b: ByteBuffer): Long = {
    // octets 6-19 (body starts at octet 6 = position 5)
    b.position(12)
    val year = u16(b); val month = u8(b); val day = u8(b)
    val hour = u8(b); val minute = u8(b); val second = u8(b)
    LocalDateTime.of(year, month, day, hour, minute, second)
      .toInstant(ZoneOffset.UTC).toEpochMilli
  }

  /** GRIB earth-shape code → (semi-major, inverse flattening). Spheres
    * carry an effectively-zero flattening (1/10^12 — micrometer-scale
    * error against a true sphere at Earth radius). */
  private def earthShape(b: ByteBuffer, path: String): (Double, Double) = {
    val Sphere = 1e12
    val shape = u8(b)
    val scaleF = u8(b); val scaled = u32(b) // custom-sphere radius fields
    shape match {
      case 0 => (6367470.0, Sphere)
      case 1 =>
        val r = scaled / math.pow(10, scaleF)
        require(r > 6e6 && r < 7e6, s"$path: custom sphere radius $r")
        (r, Sphere)
      case 2 => (6378160.0, 297.0)           // IAU 1965
      case 4 => (6378137.0, 298.257222101)   // GRS80
      case 5 => (6378137.0, 298.257223563)   // WGS84
      case 6 => (6371229.0, Sphere)
      case other => throw new IllegalArgumentException(
        s"$path: earth shape $other not supported (0/1/2/4/5/6)")
    }
  }

  private def parseSec3(b: ByteBuffer, path: String): Grid = {
    b.position(5)
    val source = u8(b)
    require(source == 0, s"$path: grid definition source $source (only 0)")
    val numPoints = u32(b)
    val optOctets = u8(b); val interpretation = u8(b)
    val template = u16(b)
    require(optOctets == 0 || template == 0 || template == 40,
      s"$path: quasi-regular grids carried only for templates 3.0/3.40 " +
        s"(per-row point lists), not 3.$template")
    require(optOctets == 0 || interpretation == 1,
      s"$path: optional-list interpretation $interpretation (only 1 = " +
        "points per row)")
    require(optOctets == 0 || optOctets == 1 || optOctets == 2 ||
      optOctets == 4, s"$path: $optOctets-octet point-list entries")
    require(template == 0 || template == 10 || template == 20 ||
      template == 30 || template == 40,
      s"$path: grid template 3.$template (supported: 3.0 lat/lon, " +
        "3.10 Mercator, 3.20 polar stereographic, 3.30 Lambert " +
        "conformal, 3.40 Gaussian)")
    val minLen = template match {
      case 30 => 81; case 20 => 65; case _ => 72
    }
    require(b.limit() >= minLen,
      s"$path: section 3 too short (${b.limit()} octets) for " +
        s"template 3.$template")
    b.position(14) // octet 15: shape of earth
    val (a, invF) = earthShape(b, path)
    b.position(30) // octet 31: Ni/Nx
    val ni = u32(b); val nj = u32(b)
    val reduced = optOctets > 0
    require(reduced || (ni > 0 && ni <= Int.MaxValue),
      s"$path: grid width $ni")
    require(!reduced || ni == 0xFFFFFFFFL,
      s"$path: quasi-regular grid must mark Ni missing (got $ni)")
    require(nj > 0 && nj <= Int.MaxValue, s"$path: grid height $nj")
    // allocation guard: hostile dimensions must fail loudly, not OOM or
    // wrap the int cell count (mirror of the zarr/hdf5 chunk caps)
    require(nj <= (1L << 27) && (reduced || ni * nj <= (1L << 27)),
      s"$path: grid of ${if (reduced) s"$nj rows" else s"${ni * nj} cells"} " +
        "too large for this reader (2^27 max)")
    require(reduced || numPoints == ni * nj,
      s"$path: numPoints $numPoints != Ni*Nj ${ni * nj}")
    val rowCounts: Option[Seq[Int]] =
      if (!reduced) None
      else {
        // the list rides at the END of the template body (octet 73 for
        // 3.0), Nj entries of optOctets bytes each
        require(b.limit() >= 72 + nj * optOctets,
          s"$path: section 3 too short for $nj point-list entries")
        b.position(72)
        val counts = Array.fill(nj.toInt) {
          val v = optOctets match {
            case 1 => u8(b).toLong
            case 2 => u16(b).toLong
            case _ => u32(b)
          }
          require(v >= 1 && v <= (1L << 24), s"$path: row of $v points")
          v.toInt
        }
        require(counts.map(_.toLong).sum == numPoints,
          s"$path: point list sums to ${counts.map(_.toLong).sum}, " +
            s"section 3 declares $numPoints")
        require(counts.max.toLong * nj <= (1L << 27),
          s"$path: expanded grid ${counts.max} x $nj too large (2^27 max)")
        Some(counts.toSeq)
      }
    if (template == 0 || template == 40) {
      b.position(38) // the point-list read above may have moved us
      val basicAngle = u32(b); u32(b) // subdivisions
      require(basicAngle == 0,
        s"$path: basic angle $basicAngle (only 0 = microdegrees)")
      val la1 = s32(b) / 1e6
      val lo1 = s32(b) / 1e6
      u8(b) // resolution/component flags
      val la2 = s32(b) / 1e6
      val lo2 = s32(b) / 1e6 // la2/lo2 size Gaussian/reduced targets
      val diRaw = u32(b)
      // octets 68-71: Dj for 3.0, N (parallels pole→equator) for 3.40
      val djOrN = u32(b)
      val scan = u8(b)
      require((scan & 0xB0) == 0,
        f"$path%s: scanning mode 0x$scan%02x (only +i row-major; flags " +
          "-i/j-consecutive/boustrophedon unsupported)")
      // the regular zonal pitch, or the longest reduced row's pitch
      val (w, di) = rowCounts match {
        case None =>
          val d = diRaw / 1e6
          require(d > 0, s"$path: zero grid increment")
          (ni.toInt, d)
        case Some(counts) =>
          require(diRaw == 0xFFFFFFFFL,
            s"$path: quasi-regular grid must mark Di missing (got $diRaw)")
          val wMax = counts.max
          require(wMax >= 2, s"$path: reduced grid with $wMax-point longest row")
          val span = lo2 - lo1
          require(span > 0,
            s"$path: reduced grid longitude span $span (lo1 $lo1, lo2 $lo2)")
          (wMax, span / (wMax - 1))
      }
      if (template == 0) {
        val dj = djOrN / 1e6
        require(dj > 0, s"$path: zero grid increment")
        Grid(w, nj.toInt, la1, lo1, di, dj, scan, rowCounts = rowCounts)
      } else {
        // 3.40 Gaussian: rows sit on the Gaussian parallels between
        // la1 and la2 — validate against the computed Legendre roots,
        // then target a SQUARE uniform grid at the zonal pitch
        require(djOrN >= 1 && djOrN <= (1 << 15),
          s"$path: $djOrN Gaussian parallels pole-to-equator")
        val all = gaussianLatitudes(2 * djOrN.toInt) // north→south
        val (latN, latS) = (math.max(la1, la2), math.min(la1, la2))
        val sel = all.filter(l => l >= latS - 1e-3 && l <= latN + 1e-3)
        require(sel.length == nj,
          s"$path: $nj rows but ${sel.length} Gaussian parallels of " +
            s"N=$djOrN lie in [$latS, $latN]")
        require(math.abs(sel.head - latN) < 2e-3 &&
          math.abs(sel.last - latS) < 2e-3,
          s"$path: la1/la2 ($la1/$la2) do not sit on N=$djOrN Gaussian " +
            s"parallels (nearest ${sel.head}/${sel.last})")
        // stored order: north→south under scan 0, south→north under
        // 0x40 — the resample consumes the flip, so scan is cleared
        val stored = if ((scan & 0x40) != 0) sel.reverse else sel
        val hOut = math.rint((latN - latS) / di).toInt + 1
        require(hOut >= 1 && w.toLong * hOut <= (1L << 27),
          s"$path: Gaussian target grid $w x $hOut too large (2^27 max)")
        Grid(w, hOut, latN, lo1, di, di, scan & ~0x40,
          rowCounts = rowCounts, storedLats = Some(stored.toSeq))
      }
    } else if (template == 10) {
      // template 3.10 (Mercator — NCEP tropical/Hawaii grids):
      // equidistant in the Mercator plane at true-scale latitude LaD,
      // Di/Dj in millimetres. The hub's 2SP Mercator (SP1 = LaD) is
      // the same definition; the central meridian is pinned to the
      // FIRST POINT's longitude so grids near the antimeridian never
      // straddle the projection's ±180 cut.
      val la1 = s32(b) / 1e6
      val lo1raw = s32(b) / 1e6
      u8(b) // resolution/component flags
      val laD = s32(b) / 1e6
      s32(b); s32(b) // la2, lo2 (redundant with the increments)
      val scan = u8(b)
      require((scan & 0xB0) == 0,
        f"$path%s: scanning mode 0x$scan%02x (only +i row-major)")
      val orientation = u32(b)
      require(orientation == 0,
        s"$path: rotated Mercator grids (orientation $orientation) " +
          "not supported")
      val di = u32(b) / 1e3
      val dj = u32(b) / 1e3
      require(di > 0 && dj > 0, s"$path: zero grid increment")
      val lo1 = if (lo1raw > 180) lo1raw - 360 else lo1raw
      val proj = s"PARAM:MERC:A=$a;INVF=$invF;SP1=$laD;LON0=$lo1"
      val (x1, y1) = Proj.transform("EPSG:4326", proj, lo1, la1)
      Grid(ni.toInt, nj.toInt, y1, x1, di, dj, scan, proj)
    } else if (template == 20) {
      // template 3.20 (polar stereographic — NCEP Arctic/Alaska
      // grids): equidistant in the PS plane, Dx/Dy in millimetres,
      // LaD the true-scale latitude, LoV the orientation longitude,
      // centre-flag bit 7 selecting the south-pole variant — the hub's
      // parameterized PS family verbatim.
      val la1 = s32(b) / 1e6
      val lo1raw = s32(b) / 1e6
      u8(b) // resolution/component flags
      val laD = s32(b) / 1e6
      val loVraw = s32(b) / 1e6
      val dx = u32(b) / 1e3
      val dy = u32(b) / 1e3
      val centre = u8(b)
      val south = (centre & 0x80) != 0
      val scan = u8(b)
      require((scan & 0xB0) == 0,
        f"$path%s: scanning mode 0x$scan%02x (only +i row-major)")
      require(dx > 0 && dy > 0, s"$path: zero grid increment")
      require(if (south) laD < 0 else laD > 0,
        s"$path: LaD $laD contradicts the projection-centre flag")
      val loV = if (loVraw > 180) loVraw - 360 else loVraw
      val lo1 = if (lo1raw > 180) lo1raw - 360 else lo1raw
      val proj = s"PARAM:PS:A=$a;INVF=$invF;SP1=$laD;LON0=$loV" +
        (if (south) ";SOUTH=1" else "")
      val (x1, y1) = Proj.transform("EPSG:4326", proj, lo1, la1)
      Grid(ni.toInt, nj.toInt, y1, x1, dx, dy, scan, proj)
    } else {
      // template 3.30 (Lambert conformal — NCEP HRRR/NAM regional
      // grids): equidistant in the LCC plane, Dx/Dy in millimetres,
      // first point transmitted geographically. The projection maps
      // onto the hub's parameterized LCC (lat_0 = LaD, parallels =
      // Latin1/Latin2, lon_0 = LoV — the GDAL reading), so the grid
      // stays in native projected metres and cross-CRS requests ride
      // the shared warp stage.
      val la1 = s32(b) / 1e6
      val lo1raw = s32(b) / 1e6
      u8(b) // resolution/component flags
      val laD = s32(b) / 1e6
      val loVraw = s32(b) / 1e6
      val dx = u32(b) / 1e3 // millimetres → metres
      val dy = u32(b) / 1e3
      val centre = u8(b)
      require((centre & 0x80) == 0,
        s"$path: south-pole Lambert projections not supported")
      require((centre & 0x40) == 0,
        s"$path: bi-polar Lambert projections not supported")
      val scan = u8(b)
      require((scan & 0xB0) == 0,
        f"$path%s: scanning mode 0x$scan%02x (only +i row-major)")
      val latin1 = s32(b) / 1e6
      val latin2 = s32(b) / 1e6
      require(dx > 0 && dy > 0, s"$path: zero grid increment")
      require(latin1 > 0 && latin2 > 0,
        s"$path: non-northern standard parallels $latin1/$latin2")
      val loV = if (loVraw > 180) loVraw - 360 else loVraw
      val lo1 = if (lo1raw > 180) lo1raw - 360 else lo1raw
      val proj = s"PARAM:LCC:A=$a;INVF=$invF;SP1=$latin1;SP2=$latin2;" +
        s"LAT0=$laD;LON0=$loV"
      val (x1, y1) = Proj.transform("EPSG:4326", proj, lo1, la1)
      // for projected grids la1/lo1 carry the FIRST POINT in metres
      Grid(ni.toInt, nj.toInt, y1, x1, dx, dy, scan, proj)
    }
  }

  private case class Prod(validOffsetMs: Long, category: Int, number: Int,
      validAbsMs: Option[Long] = None)

  private def parseSec4(b: ByteBuffer, path: String): Prod = {
    b.position(5)
    val numCoords = u16(b)
    require(numCoords == 0, s"$path: coordinate values not supported")
    val template = u16(b)
    require(template == 0 || template == 8,
      s"$path: product template 4.$template (supported: 4.0 instant, " +
        "4.8 statistical/accumulation interval)")
    val category = u8(b); val number = u8(b)
    b.position(17) // octet 18: time unit
    val unit = u8(b)
    val forecast = s32(b)
    if (template == 0) Prod(forecast * unitMs(unit), category, number)
    else {
      // 4.8: octets 10-34 mirror 4.0; the field's valid time is the END
      // of the overall statistical interval, transmitted ABSOLUTELY in
      // octets 35-41 (regulation: accumulation/average products are
      // stamped at interval end — what GFS total-precip carries)
      b.position(34)
      val year = u16(b); val month = u8(b); val day = u8(b)
      val hour = u8(b); val minute = u8(b); val second = u8(b)
      val endMs = LocalDateTime.of(year, month, day, hour, minute, second)
        .toInstant(ZoneOffset.UTC).toEpochMilli
      val nRanges = u8(b)
      require(nRanges >= 1,
        s"$path: 4.8 with $nRanges time range specifications")
      // the n×12-byte range specs describe HOW the statistic was built
      // (process, increments) — they do not affect decoding and ride
      // as metadata; the missing-values count (octets 43-46) likewise
      Prod(0L, category, number, validAbsMs = Some(endMs))
    }
  }

  private def parseSec5(b: ByteBuffer, path: String): Packing = {
    b.position(5)
    val numPoints = u32(b)
    val template = u16(b)
    require(template == 0 || template == 2 || template == 3 ||
        template == 41,
      s"$path: data representation template 5.$template (supported: 5.0 " +
        "simple, 5.2 complex, 5.3 complex+spatial differencing, 5.41 " +
        "PNG; 5.40 JPEG2000 is permanently out of scope for this " +
        "pure-JVM reader — an EBCOT/MQ decoder cannot be independently " +
        "validated in this environment; transcode upstream to " +
        "5.2/5.3/5.41, e.g. `wgrib2 in.grib2 -set_grib_type c2 -grib_out " +
        "out.grib2`, before ingest)")
    // exact widening: every IEEE float32 is a double
    val r = b.getFloat().toDouble
    val e = s16(b); val d = s16(b)
    val nbits = u8(b)
    if (template == 41)
      // octet 20 carries the PNG bit depth; the image itself is
      // authoritative at decode (octet 21, original field type, is
      // decode-identical as in 5.2)
      require(nbits == 0 || nbits == 1 || nbits == 2 || nbits == 4 ||
          nbits == 8 || nbits == 16 || nbits == 24,
        s"$path: 5.41 PNG depth $nbits (supported: 1/2/4/8/16 grayscale, " +
          "24 RGB; 32-bit RGBA not carried)")
    else require(nbits <= 31, s"$path: $nbits-bit packing (max 31)")
    if (template == 0 || template == 41)
      Packing(numPoints, r, e, d, nbits, template)
    else {
      u8(b) // octet 21: type of original field values (decode-identical)
      val splitting = u8(b)
      require(splitting == 1,
        s"$path: group splitting method $splitting (only 1 = general)")
      val missing = u8(b)
      require(missing == 0,
        s"$path: missing value management $missing (only 0 — missing " +
          "points ride the section 6 bitmap)")
      u32(b); u32(b) // primary/secondary missing substitutes (unused)
      val ng = u32(b)
      // allocation guard (mirror of the 2^27 grid cap): hostile NG must
      // fail loudly before any Array.fill
      require(ng >= 1 && ng <= numPoints.max(1) && ng <= (1L << 27),
        s"$path: $ng groups for $numPoints points")
      val widthRef = u8(b)
      val widthBits = u8(b)
      val lenRef = u32(b)
      val lenInc = u8(b)
      val lastLen = u32(b)
      val lenBits = u8(b)
      require(widthBits <= 31 && lenBits <= 31,
        s"$path: group width/length fields $widthBits/$lenBits bits (max 31)")
      val (sdOrder, sdOctets) =
        if (template == 2) (0, 0)
        else {
          val o = u8(b); val oct = u8(b)
          require(o == 1 || o == 2,
            s"$path: spatial differencing order $o (only 1 or 2)")
          require(oct >= 1 && oct <= 7,
            s"$path: $oct-octet differencing descriptors (1-7)")
          (o, oct)
        }
      Packing(numPoints, r, e, d, nbits, template,
        Cx(ng.toInt, widthRef, widthBits, lenRef, lenInc, lastLen, lenBits,
          sdOrder, sdOctets))
    }
  }

  /** GRIB edition 1 message (WMO FM 92-VIII): positional sections
    * IS(8) PDS [GDS] [BMS] BDS "7777". Read subset — regular
    * latitude/longitude grids with explicit direction increments,
    * simple grid-point packing, optional bitmap, time-range indicators
    * 0/1/10 — the ERA5/reanalysis shape; everything else fails loudly
    * by name. Same header-only discipline as the edition-2 walk: the
    * bitmap and data payloads are located, never loaded. The decode
    * formula is edition-identical (`v = (R + X·2^E) / 10^D`) except R
    * is an IBM hex float, converted exactly to a double here.
    * Reference anchor: raster/sources.py:396-564 (GDAL reads both
    * editions through one driver; so does this codec's Field model).
    * Returns the message length; appends one Field per message. */
  private def parseEd1Message(ch: PositionedReader, pos: Long, size: Long,
      path: String,
      out: scala.collection.mutable.Builder[Field, Seq[Field]]): Long = {
    val is = readAt(ch, pos, 8)
    is.position(4)
    val msgLen = u24(is)
    require(msgLen >= 8 + 28 + 11 + 4 && pos + msgLen <= size,
      s"$path: GRIB1 message at $pos runs past EOF ($msgLen bytes)")
    var p = pos + 8
    // ---- PDS (indicator octets 1-28; longer tables ride as opaque)
    val pds = readAt(ch, p, 28)
    val pdsLen = u24(pds)
    require(pdsLen >= 28, s"$path: GRIB1 PDS of $pdsLen octets (min 28)")
    val tableVersion = u8(pds)
    u8(pds); u8(pds); u8(pds) // centre, generating process, grid id
    val flags = u8(pds)
    val hasGds = (flags & 0x80) != 0
    val hasBms = (flags & 0x40) != 0
    require(hasGds,
      s"$path: GRIB1 predefined grids (no GDS) not supported")
    val param = u8(pds)
    u8(pds); u16(pds) // level type + value (metadata, not decoded here)
    val yoc = u8(pds); val month = u8(pds); val day = u8(pds)
    val hour = u8(pds); val minute = u8(pds)
    val unit = u8(pds)
    val p1 = u8(pds); val p2 = u8(pds)
    val tri = u8(pds)
    u16(pds); u8(pds) // number in average, number missing
    val century = u8(pds)
    u8(pds) // sub-centre
    val dVal = s16(pds)
    // year-of-century runs 1..100: year 2000 is century 20, yoc 100
    val refTimeMs = LocalDateTime.of((century - 1) * 100 + yoc, month, day,
      hour, minute, 0).toInstant(ZoneOffset.UTC).toEpochMilli
    val validTimeMs = tri match {
      case 0  => refTimeMs + p1 * unitMs(unit)
      case 1  => refTimeMs
      case 10 => refTimeMs + (p1 * 256 + p2).toLong * unitMs(unit)
      case other => throw new IllegalArgumentException(
        s"$path: GRIB1 time range indicator $other (supported: 0, 1, 10)")
    }
    p += pdsLen
    // ---- GDS
    val gds = readAt(ch, p, 32)
    val gdsLen = u24(gds)
    require(gdsLen >= 32, s"$path: GRIB1 GDS of $gdsLen octets (min 32)")
    u8(gds) // NV
    val pv = u8(gds)
    require(pv == 255,
      s"$path: GRIB1 vertical-coordinate / quasi-regular point lists " +
        s"(PV=$pv) not supported")
    val drt = u8(gds)
    require(drt == 0,
      s"$path: GRIB1 data representation type $drt (only 0 = " +
        "latitude/longitude)")
    val ni = u16(gds); val nj = u16(gds)
    require(ni != 0xFFFF,
      s"$path: GRIB1 quasi-regular grid (Ni missing) not supported")
    require(ni > 0 && nj > 0 && ni.toLong * nj <= (1L << 27),
      s"$path: GRIB1 grid $ni x $nj")
    val la1 = s24(gds) / 1e3
    val lo1 = s24(gds) / 1e3
    val res = u8(gds)
    require((res & 0x80) != 0,
      s"$path: GRIB1 grid without explicit direction increments " +
        "not supported")
    s24(gds); s24(gds) // La2, Lo2 (redundant with first point + pitch)
    val di = u16(gds); val dj = u16(gds)
    require(di != 0xFFFF && dj != 0xFFFF && di > 0 && dj > 0,
      s"$path: GRIB1 grid increments $di x $dj millidegrees")
    val scan = u8(gds)
    require((scan & 0xB0) == 0,
      f"$path%s: GRIB1 scanning mode 0x$scan%02x (only +i row-major)")
    val grid = Grid(ni, nj, la1, lo1, di / 1e3, dj / 1e3, scan)
    p += gdsLen
    // ---- BMS (optional)
    var bitmapOff = -1L
    if (hasBms) {
      val bms = readAt(ch, p, 6)
      val bmsLen = u24(bms)
      u8(bms) // unused trailing bits (the bitmap is sized by the grid)
      val tableRef = u16(bms)
      require(tableRef == 0,
        s"$path: GRIB1 predefined bitmap $tableRef not supported")
      require(bmsLen >= 6 + (ni.toLong * nj + 7) / 8,
        s"$path: GRIB1 bitmap section of $bmsLen octets too short for " +
          s"$ni x $nj points")
      bitmapOff = p + 6
      p += bmsLen
    }
    // ---- BDS
    val bds = readAt(ch, p, 11)
    val bdsLen = u24(bds)
    require(bdsLen >= 11, s"$path: GRIB1 BDS of $bdsLen octets (min 11)")
    val flagsUnused = u8(bds)
    val bdsFlags = (flagsUnused >>> 4) & 0xF
    val unusedBits = flagsUnused & 0xF
    require((bdsFlags & 0x8) == 0,
      s"$path: GRIB1 spherical-harmonic coefficients not supported")
    val secondOrder = (bdsFlags & 0x4) != 0
    require(secondOrder || (bdsFlags & 0x1) == 0,
      s"$path: GRIB1 additional BDS flags (octet 14) without " +
        "second-order packing not supported")
    val eVal = s16(bds)
    val r = ibm32ToDouble(u32(bds))
    val nbits = u8(bds)
    require(nbits <= 31, s"$path: GRIB1 $nbits-bit packing (max 31)")
    if (secondOrder) {
      // ---- second-order (complex) packing: octets 12-21 carry the
      // section pointers and group counts (WMO Code Table 11 flags)
      require((bdsFlags & 0x1) != 0,
        s"$path: GRIB1 second-order packing without the octet-14 " +
          "extended-flags octet (flag bit 4) is malformed")
      require(bdsLen >= 22,
        s"$path: GRIB1 second-order BDS of $bdsLen octets (min 22)")
      val ext = readAt(ch, p + 11, 10)
      val n1 = u16(ext)
      val extFlags = u8(ext)
      val n2 = u16(ext)
      val p1 = u16(ext)
      val p2 = u16(ext)
      u8(ext) // octet 21 reserved
      require((extFlags & 0x80) == 0,
        s"$path: GRIB1 matrix-of-values second-order packing not " +
          "supported")
      require((extFlags & 0x1F) == 0,
        f"$path%s: GRIB1 octet-14 flags 0x$extFlags%02x use reserved " +
          "bits 4-8 (ECMWF general-extended / boustrophedonic local " +
          "extensions not carried)")
      val hasSbmp = (extFlags & 0x40) != 0
      val diffWidths = (extFlags & 0x20) != 0
      require(p1 >= 1, s"$path: GRIB1 second-order packing with $p1 groups")
      require(hasSbmp || !hasBms,
        s"$path: GRIB1 second-order packing with a primary bitmap " +
          "requires a secondary bit-map to delimit groups")
      require(hasSbmp || p1 == nj,
        s"$path: GRIB1 row-by-row second-order packing declares $p1 " +
          s"groups for $nj rows")
      val numPresent2 =
        if (hasBms) p2.toLong
        else {
          require(p2.toLong == ni.toLong * nj,
            s"$path: GRIB1 second-order P2=$p2 for ${ni.toLong * nj} " +
              "grid points without a primary bitmap")
          p2.toLong
        }
      val widthOctets = if (diffWidths) p1 else 1
      val sbmpBytes = if (hasSbmp) (numPresent2 + 7) / 8 else 0L
      require(21 + widthOctets + sbmpBytes <= n1 - 1 && n1 <= n2 &&
        n2 <= bdsLen + 1,
        s"$path: GRIB1 second-order pointers N1=$n1 N2=$n2 overlap the " +
          s"$widthOctets width octets + $sbmpBytes secondary-bitmap " +
          s"bytes (BDS $bdsLen octets)")
      require((n2 - n1).toLong * 8 >= p1.toLong * nbits,
        s"$path: GRIB1 second-order first-order span [$n1, $n2) too " +
          s"small for $p1 values of $nbits bits")
      out += Field(refTimeMs, validTimeMs, grid,
        Packing(numPresent2, r, eVal, dVal, nbits, Ed1Complex,
          cx1 = Cx1(p1, p2, nbits, diffWidths, hasSbmp, n1, n2,
            bdsLen)),
        bitmapOff, p, bdsLen, 255, tableVersion, param)
    } else {
    // the present-point count is derived WITHOUT reading the bitmap
    // (header-only planning): the BDS carries exactly
    // numPresent*nbits + unusedBits bits of payload
    val dataBits = (bdsLen - 11).toLong * 8 - unusedBits
    val numPresent =
      if (nbits == 0) {
        require(!hasBms,
          s"$path: GRIB1 constant field with a bitmap not supported")
        ni.toLong * nj
      } else {
        require(dataBits >= 0 && dataBits % nbits == 0,
          s"$path: GRIB1 BDS payload of $dataBits bits not divisible " +
            s"by $nbits-bit values")
        dataBits / nbits
      }
    require(numPresent <= ni.toLong * nj &&
      (hasBms || numPresent == ni.toLong * nj),
      s"$path: GRIB1 BDS holds $numPresent values for ${ni.toLong * nj} " +
        "grid points")
    out += Field(refTimeMs, validTimeMs, grid,
      Packing(numPresent, r, eVal, dVal, nbits), bitmapOff, p + 11,
      (bdsLen - 11).toInt, 255, tableVersion, param)
    }
    p += bdsLen
    require(readAt(ch, p, 4).getInt == 0x37373737, // "7777"
      s"$path: GRIB1 message at $pos missing 7777 end section")
    require(p + 4 == pos + msgLen,
      s"$path: GRIB1 message length $msgLen does not match its sections " +
        s"(${p + 4 - pos})")
    msgLen.toLong
  }

  /** Walk every message and section; returns one [[Field]] per data
    * section. Only section HEADS and the small 1/3/4/5 bodies are read
    * — bitmap and data payloads are located, not loaded. */
  def scanFields(ch: PositionedReader, path: String): Seq[Field] = {
    val size = ch.size()
    val out = Seq.newBuilder[Field]
    var pos = 0L
    while (pos < size) {
      val ind = readAt(ch, pos, 16)
      require(ind.getInt == 0x47524942, // "GRIB"
        s"$path: no GRIB magic at offset $pos")
      ind.getShort() // reserved
      val discipline = u8(ind)
      val edition = u8(ind)
      if (edition == 1) {
        pos += parseEd1Message(ch, pos, size, path, out)
      } else {
        require(edition == 2, s"$path: GRIB edition $edition (only 1 or 2)")
        val msgLen = ind.getLong
        require(msgLen >= 20 && pos + msgLen <= size,
          s"$path: message at $pos runs past EOF ($msgLen bytes)")
        var p = pos + 16
        var refTimeMs = Long.MinValue
        var grid: Grid = null
        var prod: Prod = null
        var packing: Packing = null
        var bitmapOff = -1L
        var lastBitmapOff = -1L
        while (p < pos + msgLen - 4) {
          val head = readAt(ch, p, 5)
          val secLen = u32(head)
          val secNum = u8(head)
          require(secLen >= 5 && p + secLen <= pos + msgLen - 4,
            s"$path: section $secNum at $p overruns its message")
          secNum match {
            case 1 => refTimeMs = parseSec1(readAt(ch, p, secLen.toInt))
            case 2 => // local use: skip
            case 3 => grid = parseSec3(readAt(ch, p, secLen.toInt), path)
            case 4 => prod = parseSec4(readAt(ch, p, secLen.toInt), path)
            case 5 => packing = parseSec5(readAt(ch, p, secLen.toInt), path)
            case 6 =>
              val indByte = u8(readAt(ch, p + 5, 1))
              indByte match {
                case 255 => bitmapOff = -1L
                case 0   => bitmapOff = p + 6; lastBitmapOff = bitmapOff
                case 254 =>
                  require(lastBitmapOff != -1L,
                    s"$path: bitmap indicator 254 with no previous bitmap")
                  bitmapOff = lastBitmapOff
                case other => throw new IllegalArgumentException(
                  s"$path: bitmap indicator $other (0/254/255)")
              }
            case 7 =>
              require(refTimeMs != Long.MinValue && grid != null &&
                prod != null && packing != null,
                s"$path: data section at $p before sections 1/3/4/5")
              out += Field(refTimeMs,
                prod.validAbsMs.getOrElse(refTimeMs + prod.validOffsetMs), grid,
                packing, bitmapOff, p + 5, secLen.toInt - 5,
                discipline, prod.category, prod.number)
            case other => throw new IllegalArgumentException(
              s"$path: unknown section $other at $p")
          }
          p += secLen
        }
        require(readAt(ch, pos + msgLen - 4, 4).getInt == 0x37373737, // "7777"
          s"$path: message at $pos missing 7777 end section")
        pos += msgLen
      }
    }
    out.result()
  }

  // ----------------------------------------------------------- decode

  /** Unsigned big-endian bit fields, `nbits` each, MSB first. */
  /** GRIB1 second-order payload: `bytes` is the WHOLE BDS. Reads the
    * per-group width octets (octets 22..), the optional secondary
    * bit-map, the `p1` first-order references at `nbits` (octet 11)
    * starting at octet `n1`, then the per-point second-order
    * deviations starting at octet `n2`; returns FO[group] + SO[point]
    * per present point. */
  private[graft] def unpackComplex1(bytes: Array[Byte], p: Packing,
      numPresent: Int): Array[Long] = {
    val c = p.cx1
    require(bytes.length >= c.bdsLen,
      s"grib: second-order BDS truncated (${bytes.length} of ${c.bdsLen})")
    val widths: Array[Int] =
      if (c.diffWidths) Array.tabulate(c.p1)(i => bytes(21 + i) & 0xFF)
      else Array.fill(c.p1)(bytes(21) & 0xFF)
    widths.foreach(wd => require(wd <= 31,
      s"grib: second-order group width $wd bits (max 31)"))
    val widthOctets = if (c.diffWidths) c.p1 else 1
    // group of each present point: secondary-bitmap runs, or rows
    val group = new Array[Int](numPresent)
    if (c.hasSbmp) {
      val s0 = 21 + widthOctets
      require(s0 + (numPresent + 7) / 8 <= c.n1 - 1,
        "grib: secondary bit-map overruns the first-order pointer")
      require(((bytes(s0) >> 7) & 1) == 1,
        "grib: secondary bit-map does not open a group at point 0")
      var g = -1
      var k = 0
      while (k < numPresent) {
        val bit = (bytes(s0 + (k >>> 3)) >> (7 - (k & 7))) & 1
        if (bit == 1) g += 1
        require(g < c.p1,
          s"grib: secondary bit-map opens more than ${c.p1} groups")
        group(k) = g
        k += 1
      }
      require(g == c.p1 - 1,
        s"grib: secondary bit-map opened ${g + 1} of ${c.p1} groups")
    } else {
      require(numPresent % c.p1 == 0,
        s"grib: $numPresent points do not divide into ${c.p1} rows")
      val rowLen = numPresent / c.p1
      var k = 0
      while (k < numPresent) { group(k) = k / rowLen; k += 1 }
    }
    val fo = unpackBitsAt(bytes, (c.n1 - 1).toLong * 8, c.p1, p.nbits)
    val out = new Array[Long](numPresent)
    var bit = (c.n2 - 1).toLong * 8
    val endBit = c.bdsLen.toLong * 8
    var k = 0
    while (k < numPresent) {
      val wd = widths(group(k))
      require(bit + wd <= endBit,
        "grib: second-order data stream overruns the BDS")
      var v = 0L
      var j = 0
      while (j < wd) {
        v = (v << 1) |
          ((bytes((bit >>> 3).toInt) >> (7 - (bit & 7).toInt)) & 1)
        bit += 1; j += 1
      }
      out(k) = fo(group(k)) + v
      k += 1
    }
    out
  }

  /** `unpackBits` from an arbitrary BIT offset (second-order streams
    * are not byte-aligned to the section start). */
  private def unpackBitsAt(bytes: Array[Byte], startBit: Long, nvals: Int,
      nbits: Int): Array[Long] = {
    require(startBit + nvals.toLong * nbits <= bytes.length.toLong * 8,
      s"grib: bit stream at $startBit holds fewer than " +
        s"${nvals.toLong * nbits} bits")
    val out = new Array[Long](nvals)
    var bit = startBit
    var i = 0
    while (i < nvals) {
      var v = 0L
      var k = 0
      while (k < nbits) {
        v = (v << 1) |
          ((bytes((bit >>> 3).toInt) >> (7 - (bit & 7).toInt)) & 1)
        bit += 1; k += 1
      }
      out(i) = v
      i += 1
    }
    out
  }

  private def unpackBits(bytes: Array[Byte], nvals: Int, nbits: Int): Array[Long] = {
    require(nvals.toLong * nbits <= bytes.length.toLong * 8,
      s"grib: data section holds ${bytes.length * 8} bits, " +
        s"needs ${nvals.toLong * nbits}")
    val out = new Array[Long](nvals)
    var bit = 0
    var i = 0
    while (i < nvals) {
      var v = 0L
      var k = 0
      while (k < nbits) {
        v = (v << 1) |
          ((bytes(bit >>> 3) >> (7 - (bit & 7))) & 1)
        bit += 1; k += 1
      }
      out(i) = v
      i += 1
    }
    out
  }

  /** Template 5.41 payload: section 7 IS a PNG stream whose samples are
    * the packed X values, row-major. NCEP practice (g2clib pngpack):
    * the image is Ni x Nj without a bitmap, numPresent x 1 with one —
    * this decoder only requires width*height == numPresent, covering
    * both. Grayscale depths 1/2/4/8/16 carry X directly; 24-bit RGB
    * carries X = (R<<16)|(G<<8)|B (the file's big-endian byte order).
    * The JDK's ImageIO PNG reader does the inflate + unfilter; it
    * rejects corrupt streams with IOException, surfaced loudly here. */
  private def unpackPng(bytes: Array[Byte], nvals: Int): Array[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"grib: 5.41 data section is not a decodable PNG: ${e.getMessage}")
      }
    require(img != null, "grib: 5.41 data section is not a PNG stream")
    val w = img.getWidth; val h = img.getHeight
    require(w.toLong * h == nvals,
      s"grib: 5.41 PNG is ${w}x$h = ${w.toLong * h} samples, section 5 " +
        s"declares $nvals points")
    val raster = img.getRaster
    val nb = raster.getNumBands
    require(nb == 1 || nb == 3,
      s"grib: 5.41 PNG with $nb bands (1 grayscale or 3 RGB)")
    val out = new Array[Long](nvals)
    var y = 0; var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(i) =
          if (nb == 1) raster.getSample(x, y, 0).toLong & 0xFFFFL
          else ((raster.getSample(x, y, 0).toLong & 0xFFL) << 16) |
            ((raster.getSample(x, y, 1).toLong & 0xFFL) << 8) |
            (raster.getSample(x, y, 2).toLong & 0xFFL)
        i += 1; x += 1
      }
      y += 1
    }
    out
  }

  /** MSB-first bit cursor with the octet-boundary alignment the
    * complex-packing vectors require (regulation 92.6.5: each of the
    * reference/width/length vectors is zero-padded to a whole octet). */
  private final class BitRdr(bytes: Array[Byte]) {
    private var bit = 0
    def read(nbits: Int): Long = {
      if (nbits == 0) return 0L
      // crafted headers can declare widths beyond a Long: the shift
      // loop would wrap silently — fail loudly instead (the codec's
      // contract is "never misdecodes")
      require(nbits > 0 && nbits <= 63,
        s"grib: $nbits-bit field (supported range 1..63)")
      require(bit + nbits <= bytes.length * 8,
        s"grib: data section exhausted at bit $bit (wanted $nbits more)")
      var v = 0L; var k = 0
      while (k < nbits) {
        v = (v << 1) | ((bytes(bit >>> 3) >> (7 - (bit & 7))) & 1)
        bit += 1; k += 1
      }
      v
    }
    def align(): Unit = bit = (bit + 7) & ~7
  }

  /** Unpack a complex-packed (template 5.2/5.3) data section to the
    * scaled integer field X of the decoding formula. Layout (section
    * 7.2/7.3): [5.3 only: order-many initial values + the overall
    * minimum of the differences, each `sdOctets` sign-magnitude bytes]
    * then NG group references (nbits each), NG group widths
    * (widthBits each, + widthRef), NG scaled group lengths (lenBits
    * each, ·lenInc + lenRef; the LAST group's true length comes from
    * section 5), each vector octet-aligned, then the per-group value
    * streams. 5.3 reconstruction follows regulation 92.6.6: add the
    * overall minimum to every difference, then integrate once or twice
    * with the transmitted initial value(s). */
  private[graft] def unpackComplex(bytes: Array[Byte], p: Packing,
      numPresent: Int): Array[Long] = {
    val c = p.cx
    val rdr = new BitRdr(bytes)
    var ival1 = 0L; var ival2 = 0L; var minsd = 0L
    if (p.template == 3) {
      def sd(): Long = {
        val raw = rdr.read(c.sdOctets * 8)
        val sign = 1L << (c.sdOctets * 8 - 1)
        if ((raw & sign) != 0) -(raw & (sign - 1)) else raw
      }
      ival1 = sd()
      if (c.sdOrder == 2) ival2 = sd()
      minsd = sd()
    }
    val ng = c.ng
    val refs = Array.fill(ng)(rdr.read(p.nbits))
    rdr.align()
    val widths = Array.fill(ng) {
      val w = c.widthRef + rdr.read(c.widthBits).toInt
      require(w >= 0 && w <= 62, s"grib: group width $w bits (range 0..62)")
      w
    }
    rdr.align()
    // lenRef/lenInc come off the wire (u32/u8): exact arithmetic so a
    // crafted header overflows LOUDLY instead of yielding garbage counts
    val lens = Array.fill(ng)(Math.addExact(c.lenRef,
      Math.multiplyExact(rdr.read(c.lenBits), c.lenInc.toLong)))
    lens(ng - 1) = c.lastLen
    rdr.align()
    val total = lens.foldLeft(0L)(Math.addExact)
    require(total == numPresent,
      s"grib: groups cover $total points, bitmap/section 5 expect $numPresent")
    val out = new Array[Long](numPresent)
    var i = 0; var j = 0
    while (j < ng) {
      val wd = widths(j); val ref = refs(j); var k = 0L
      while (k < lens(j)) {
        out(i) = Math.addExact(ref, rdr.read(wd)); i += 1; k += 1
      }
      j += 1
    }
    // spatial-difference integration is a running sum over file-supplied
    // values: crafted refs/minima can walk it past 2^63, so every step
    // is exact arithmetic — overflow throws instead of wrapping into
    // plausible-looking garbage (r10 ADVICE finding)
    if (p.template == 3 && numPresent > 0) {
      if (c.sdOrder == 1) {
        out(0) = ival1
        var t = 1
        while (t < numPresent) {
          out(t) = Math.addExact(out(t), Math.addExact(minsd, out(t - 1)))
          t += 1
        }
      } else {
        out(0) = ival1
        if (numPresent > 1) out(1) = ival2
        var t = 2
        while (t < numPresent) {
          out(t) = Math.addExact(out(t), Math.subtractExact(
            Math.addExact(minsd, Math.multiplyExact(2L, out(t - 1))),
            out(t - 2)))
          t += 1
        }
      }
    }
    out
  }

  /** Decode ONE field to a north-to-south row-major frame. Reads only
    * this field's bitmap + data byte ranges. */
  def decode(ch: PositionedReader, f: Field, noData: Double): Array[Double] = {
    // bitmap, packing, and the data stream all cover the STORED points:
    // the reduced count for a quasi-regular grid, w × stored-rows for a
    // Gaussian grid (whose uniform target height differs), w*h otherwise
    val storedRows = f.grid.storedLats.map(_.length).getOrElse(f.grid.h)
    val n = f.grid.rowCounts.map(_.map(_.toLong).sum.toInt)
      .getOrElse(f.grid.w * storedRows)
    val present: Array[Boolean] =
      if (f.bitmapOffset < 0) Array.fill(n)(true)
      else {
        val bytes = readAt(ch, f.bitmapOffset, (n + 7) / 8).array()
        Array.tabulate(n)(i => ((bytes(i >>> 3) >> (7 - (i & 7))) & 1) != 0)
      }
    val numPresent = present.count(identity)
    require(numPresent == f.packing.numPoints,
      s"grib: bitmap marks $numPresent points, section 5 declares " +
        s"${f.packing.numPoints}")
    val scale = math.pow(2, f.packing.e) / math.pow(10, f.packing.d)
    val base = f.packing.r / math.pow(10, f.packing.d)
    val vals = new Array[Double](n)
    if ((f.packing.template == 0 || f.packing.template == 41) &&
        f.packing.nbits == 0) {
      var i = 0
      while (i < n) { vals(i) = if (present(i)) base else noData; i += 1 }
    } else {
      val xs =
        if (f.packing.template == 0)
          unpackBits(readAt(ch, f.dataOffset, f.dataLen).array(),
            numPresent, f.packing.nbits)
        else if (f.packing.template == 41)
          unpackPng(readAt(ch, f.dataOffset, f.dataLen).array(), numPresent)
        else if (f.packing.template == Ed1Complex)
          // the block is the WHOLE BDS: widths / secondary bitmap /
          // first- and second-order streams are located by its pointers
          unpackComplex1(readAt(ch, f.dataOffset, f.dataLen).array(),
            f.packing, numPresent)
        else
          unpackComplex(readAt(ch, f.dataOffset, f.dataLen).array(),
            f.packing, numPresent)
      var i = 0; var k = 0
      while (i < n) {
        if (present(i)) { vals(i) = base + xs(k) * scale; k += 1 }
        else vals(i) = noData
        i += 1
      }
    }
    // quasi-regular rows expand to the longest row by nearest-neighbor
    // longitude mapping (each reduced row spans the same first→last
    // longitude range as the full row, GDAL/ecCodes convention); nodata
    // cells map through unchanged
    val full = f.grid.rowCounts match {
      case None => vals
      case Some(rc) =>
        val w = f.grid.w
        val out = new Array[Double](w * storedRows)
        var base = 0; var r = 0
        while (r < storedRows) {
          val c = rc(r)
          var x = 0
          while (x < w) {
            val src =
              if (c == 1) 0
              else math.round(x.toDouble * (c - 1) / (w - 1)).toInt
            out(r * w + x) = vals(base + src)
            x += 1
          }
          base += c; r += 1
        }
        out
    }
    f.grid.storedLats match {
      case Some(lats) =>
        // Gaussian rows → the square uniform target: each output row
        // takes the stored row whose latitude is nearest (absorbs the
        // scan-order flip — `lats` ride in stored order)
        val w = f.grid.w; val hOut = f.grid.h
        val out = new Array[Double](w * hOut)
        var r = 0
        while (r < hOut) {
          val target = f.grid.la1 - r * f.grid.dj
          var best = 0; var bestD = Double.MaxValue; var s = 0
          while (s < storedRows) {
            val d = math.abs(lats(s) - target)
            if (d < bestD) { bestD = d; best = s }
            s += 1
          }
          System.arraycopy(full, best * w, out, r * w, w)
          r += 1
        }
        out
      case None =>
        if ((f.grid.scan & 0x40) != 0) {
          // rows were written south-to-north: flip to the engine's
          // north-down convention
          val w = f.grid.w; val h = f.grid.h
          val flipped = new Array[Double](w * h)
          var r = 0
          while (r < h) {
            System.arraycopy(full, r * w, flipped, (h - 1 - r) * w, w)
            r += 1
          }
          flipped
        } else full
    }
  }

  def readMeta(ch: PositionedReader, path: String): Meta = {
    val fields0 = scanFields(ch, path)
    require(fields0.nonEmpty, s"$path: no GRIB fields")
    val g = fields0.head.grid
    fields0.foreach(f => require(f.grid == g,
      s"$path: fields carry different grids (${f.grid} vs $g)"))
    require(math.abs(g.di - g.dj) <= 1e-9 * math.max(g.di, g.dj),
      s"$path: anisotropic cells ${g.di} x ${g.dj} not supported")
    val fields = fields0.sortBy(_.validTimeMs)
    val times = fields.map(_.validTimeMs)
    require(times.distinct.length == times.length,
      s"$path: duplicate valid times")
    // first-point centers -> edges; normalize 0..360 longitudes on
    // geographic grids (projected grids carry metres, no wraparound)
    val lo1 =
      if (g.proj == "EPSG:4326" && g.lo1 > 180) g.lo1 - 360 else g.lo1
    val laNorthCenter =
      if ((g.scan & 0x40) != 0) g.la1 + (g.h - 1) * g.dj else g.la1
    Meta(fields, g.w, g.h, g.di, lo1 - g.di / 2,
      laNorthCenter + g.dj / 2, times, g.proj)
  }

  // ------------------------------------------------------------ write

  private class Bld {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >>> 16).toInt); u16(v.toInt) }
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xFFFFFFFFL) }
    def s32sm(v: Long): Unit = { // sign-and-magnitude
      require(math.abs(v) <= 0x7FFFFFFFL, s"grib: value $v overflows s32")
      u32(if (v < 0) (1L << 31) | -v else v)
    }
    def f32(v: Float): Unit = u32(java.lang.Float.floatToIntBits(v) & 0xFFFFFFFFL)
    def u24(v: Int): Unit = { u8(v >>> 16); u8(v >>> 8); u8(v) }
    def s24sm(v: Long): Unit = { // sign-and-magnitude (GRIB1 coordinates)
      require(math.abs(v) <= 0x7FFFFFL, s"grib: value $v overflows s24")
      u24((if (v < 0) 0x800000L | -v else v).toInt)
    }
    def bytes(b: Array[Byte]): Unit = out.write(b)
    def result(): Array[Byte] = out.toByteArray
  }

  /** Write one GRIB2 message per frame (template 3.0 / 4.0 / 5.0,
    * scanning mode 0, bitmap for nodata). The packing is EXACT for
    * integral values: E = D = 0, R = the frame minimum (must be
    * float32-exact), X = v − R — anything non-integral fails loudly
    * rather than rounding silently. `laSouth`/`loWest` anchor the
    * south-west EDGE of the graticule; `degPerCell` is its pitch. */
  def write(path: String, frames: Seq[Array[Double]], w: Int, h: Int,
      noData: Double, timesMs: Seq[Long], laSouth: Double, loWest: Double,
      degPerCell: Double, discipline: Int = 0, category: Int = 1,
      number: Int = 8, template: Int = 0, sdOrder: Int = 2): Unit = {
    require(frames.nonEmpty && frames.length == timesMs.length,
      "grib: frames and times must align")
    require(template == 0 || template == 2 || template == 3 ||
        template == 41,
      s"grib: write template 5.$template (0 simple, 2 complex, " +
        "3 complex+sd, 41 PNG)")
    require(sdOrder == 1 || sdOrder == 2,
      s"grib: spatial differencing order $sdOrder (1 or 2)")
    require(degPerCell > 0 && degPerCell * 1e6 == math.rint(degPerCell * 1e6),
      s"grib: degPerCell $degPerCell must be a whole microdegree multiple")
    val diMicro = math.rint(degPerCell * 1e6).toLong
    // centers sit half a pitch inside the edges; an ODD microdegree
    // pitch would put them on half-microdegree positions that template
    // 3.0's integer La1/Lo1/La2/Lo2 cannot represent (integer /2 would
    // silently shift the graticule by 5e-7 deg)
    require(diMicro % 2 == 0,
      s"grib: degPerCell $degPerCell is an odd number of microdegrees; " +
        "cell centers would not be representable — use an even pitch")
    require(laSouth + h * degPerCell <= 90.0 + 1e-9 &&
      laSouth >= -90.0 && loWest >= -180.0 &&
      loWest + w * degPerCell <= 360.0 + 1e-9,
      s"grib: ${w}x$h cells of $degPerCell deg from ($laSouth, $loWest) " +
        "leave the globe — shrink degPerCell")
    val b = new Bld
    frames.zip(timesMs).foreach { case (vals, tMs) =>
      require(vals.length == w * h, "grib: frame size mismatch")
      writeMessage(b, vals, w, h, noData, tMs, laSouth, loWest, diMicro,
        discipline, category, number, template, sdOrder)
    }
    Files.write(Paths.get(path), b.result())
  }

  private def bitsFor(v: Long): Int =
    if (v <= 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v)

  /** MSB-first bit emitter over a [[Bld]], with the octet alignment the
    * complex-packing vectors require. */
  private final class BitWr(b: Bld) {
    private var acc = 0L
    private var nb = 0
    def put(v: Long, nbits: Int): Unit = {
      var k = nbits - 1
      while (k >= 0) {
        acc = (acc << 1) | ((v >>> k) & 1L)
        nb += 1
        if (nb == 8) { b.u8(acc.toInt & 0xFF); acc = 0L; nb = 0 }
        k -= 1
      }
    }
    /** Sign-magnitude in `nbits` (regulation 92.1.5). */
    def putSm(v: Long, nbits: Int): Unit = {
      val sign = 1L << (nbits - 1)
      require(math.abs(v) < sign, s"grib: $v overflows $nbits-bit sign-magnitude")
      put(if (v < 0) sign | -v else v, nbits)
    }
    def align(): Unit =
      if (nb > 0) { b.u8(((acc << (8 - nb)) & 0xFF).toInt); acc = 0L; nb = 0 }
  }

  /** Template 5.41 section 7 payload: the X values as a PNG image of
    * the stated depth (8/16 grayscale, 24 RGB), row-major — the exact
    * shapes [[unpackPng]] reads back. ImageIO's PNG writer emits the
    * deflate stream; sample depths map 1:1 onto the BufferedImage
    * types, so the round trip is bit-exact. */
  private def encodePngX(xs: Array[Long], pw: Int, ph: Int,
      depth: Int): Array[Byte] = {
    require(pw.toLong * ph == xs.length,
      s"grib: PNG shape ${pw}x$ph for ${xs.length} values")
    import java.awt.image.BufferedImage
    val img = new BufferedImage(pw, ph, depth match {
      case 8 => BufferedImage.TYPE_BYTE_GRAY
      case 16 => BufferedImage.TYPE_USHORT_GRAY
      case 24 => BufferedImage.TYPE_INT_RGB
      case d => throw new IllegalArgumentException(s"grib: PNG depth $d")
    })
    val raster = img.getRaster
    var y = 0; var i = 0
    while (y < ph) {
      var x = 0
      while (x < pw) {
        val v = xs(i)
        if (depth == 24) {
          raster.setSample(x, y, 0, ((v >>> 16) & 0xFF).toInt)
          raster.setSample(x, y, 1, ((v >>> 8) & 0xFF).toInt)
          raster.setSample(x, y, 2, (v & 0xFF).toInt)
        } else raster.setSample(x, y, 0, v.toInt)
        i += 1; x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Complex-packing parameters + section 7 payload for one frame's
    * live values, scaled to X (v - R, E=D=0). Fixed 32-value groups
    * (general group splitting): per-group reference = min, per-group
    * width = bits of the in-group range — the standard trade that beats
    * simple packing whenever the field has spatial structure. For
    * template 5.3 the X stream is differenced (order 1/2) first and the
    * initial value(s) + overall minimum ride ahead of the groups. */
  private def packComplex(xs: Array[Long], template: Int,
      od: Int): (Cx, Int, Array[Byte]) = {
    val nl = xs.length
    var ival1 = 0L; var ival2 = 0L; var minsd = 0L
    val packVals =
      if (template == 2) xs
      else {
        val v = new Array[Long](nl)
        if (od == 1) {
          var i = 1; while (i < nl) { v(i) = xs(i) - xs(i - 1); i += 1 }
        } else {
          var i = 2
          while (i < nl) { v(i) = xs(i) - 2 * xs(i - 1) + xs(i - 2); i += 1 }
        }
        ival1 = if (nl > 0) xs(0) else 0L
        ival2 = if (od == 2 && nl > 1) xs(1) else 0L
        minsd = if (nl > od) v.drop(od).min else 0L
        var i = od; while (i < nl) { v(i) -= minsd; i += 1 }
        // the decoder overrides the first `od` values with the initial
        // values, so their packed slots carry zeros
        var z = 0; while (z < od && z < nl) { v(z) = 0L; z += 1 }
        v
      }
    val G = 32
    val ng = math.max(1, (nl + G - 1) / G)
    val refs = new Array[Long](ng)
    val ws = new Array[Int](ng)
    val lens = new Array[Int](ng)
    var j = 0
    while (j < ng) {
      val s = j * G; val e = math.min(nl, s + G)
      lens(j) = e - s
      if (e > s) {
        var mn = Long.MaxValue; var mx = Long.MinValue
        var i = s
        while (i < e) {
          val v = packVals(i)
          if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        refs(j) = mn; ws(j) = bitsFor(mx - mn)
      }
      j += 1
    }
    val refBits = bitsFor(refs.max)
    require(refBits <= 31,
      s"grib: complex-packing references need $refBits bits (max 31) — " +
        "the differenced range overflows; use template 5.0 or 5.2")
    val widthRef = ws.min
    val widthBits = bitsFor((ws.max - widthRef).toLong)
    val sdMax = math.max(math.abs(ival1), math.max(math.abs(ival2),
      math.abs(minsd)))
    val sdOctets =
      if (template == 2) 0 else math.max(1, (bitsFor(sdMax) + 1 + 7) / 8)
    val p7 = new Bld
    val bw = new BitWr(p7)
    if (template == 3) {
      bw.putSm(ival1, sdOctets * 8)
      if (od == 2) bw.putSm(ival2, sdOctets * 8)
      bw.putSm(minsd, sdOctets * 8)
    }
    j = 0; while (j < ng) { bw.put(refs(j), refBits); j += 1 }
    bw.align()
    j = 0
    while (j < ng) { bw.put((ws(j) - widthRef).toLong, widthBits); j += 1 }
    bw.align()
    // group lengths: lenBits = 0 — every group reads as lenRef = G and
    // the last group's true length rides in section 5
    j = 0
    while (j < ng) {
      val s = j * G; var i = s
      while (i < s + lens(j)) { bw.put(packVals(i) - refs(j), ws(j)); i += 1 }
      j += 1
    }
    bw.align()
    (Cx(ng, widthRef, widthBits, G.toLong, 1, lens(ng - 1).toLong, 0,
      if (template == 3) od else 0, sdOctets), refBits, p7.result())
  }

  /** Write GRIB edition 1 messages (one per frame): regular lat/lon
    * GDS, simple grid-point packing, optional bitmap — the read
    * subset's own shape, so fixtures round-trip bit-exactly. E = D = 0
    * and R = the (integral) frame minimum, which the IBM hex-float
    * encoding represents exactly below 2^24. `timesMs` are VALID times;
    * with `forecastHours` > 0 the reference time is shifted back and
    * the message carries time-range indicator 0 (forecast), else 1
    * (initialized analysis) — both read paths. */
  def writeEdition1(path: String, frames: Seq[Array[Double]], w: Int,
      h: Int, noData: Double, timesMs: Seq[Long], laSouth: Double,
      loWest: Double, degPerCell: Double, param: Int = 11,
      tableVersion: Int = 2, forecastHours: Int = 0,
      secondOrder: Boolean = false): Unit = {
    require(frames.nonEmpty && frames.length == timesMs.length,
      "grib: frames and times must align")
    require(degPerCell > 0 && degPerCell * 1e3 == math.rint(degPerCell * 1e3),
      s"grib: degPerCell $degPerCell must be a whole millidegree multiple " +
        "(GRIB1 coordinates are millidegrees)")
    val diMilli = math.rint(degPerCell * 1e3).toLong
    require(diMilli % 2 == 0,
      s"grib: degPerCell $degPerCell is an odd number of millidegrees; " +
        "cell centers would not be representable — use an even pitch")
    require(forecastHours >= 0 && forecastHours <= 255,
      s"grib: forecastHours $forecastHours must fit P1's octet")
    require(laSouth + h * degPerCell <= 90.0 + 1e-9 && laSouth >= -90.0 &&
      loWest >= -180.0 && loWest + w * degPerCell <= 360.0 + 1e-9,
      s"grib: ${w}x$h cells of $degPerCell deg from ($laSouth, $loWest) " +
        "leave the globe — shrink degPerCell")
    val b = new Bld
    frames.zip(timesMs).foreach { case (vals, tMs) =>
      require(vals.length == w * h, "grib: frame size mismatch")
      writeMessage1(b, vals, w, h, noData, tMs, laSouth, loWest, diMilli,
        param, tableVersion, forecastHours, secondOrder)
    }
    Files.write(Paths.get(path), b.result())
  }

  private def writeMessage1(b: Bld, vals: Array[Double], w: Int, h: Int,
      noData: Double, validMs: Long, laSouth: Double, loWest: Double,
      diMilli: Long, param: Int, tableVersion: Int,
      forecastHours: Int, secondOrder: Boolean = false): Unit = {
    val n = w * h
    def isND(v: Double) = v == noData || (v.isNaN && noData.isNaN)
    val live = vals.filterNot(isND)
    live.foreach(v => require(v == math.rint(v) && math.abs(v) < (1L << 52),
      s"grib: non-integral value $v — packing with E=D=0 is exact " +
        "only for integers (quantize the input first)"))
    val rMin = if (live.isEmpty) 0.0 else live.min
    require(math.abs(rMin) < (1L << 24),
      s"grib: GRIB1 reference value $rMin not exactly IBM-representable " +
        "(|R| must stay below 2^24)")
    val range = if (live.isEmpty) 0L else (live.max - rMin).toLong
    require(range <= 0x7FFFFFFFL, s"grib: value range $range overflows packing")
    val nbits =
      if (range == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(range)
    val hasBitmap = live.length != n
    // (simple packing only: second-order carries per-group references,
    // so a constant field under a bitmap packs fine there)
    require(secondOrder || nbits > 0 || !hasBitmap,
      "grib: GRIB1 constant field with a bitmap not supported")

    // ---- second-order layout: one group per row of PRESENT points,
    // secondary bit-map delimited, per-group widths (the WMO Code
    // Table 11 shape this codec reads back)
    def bits(x: Long): Int =
      if (x == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x)
    case class Grp(fo: Long, width: Int, sos: Array[Long])
    val groups: Seq[Grp] =
      if (!secondOrder) Nil
      else (0 until h).flatMap { row =>
        val rowVals = (0 until w).map(x => vals(row * w + x))
          .filterNot(isND)
        if (rowVals.isEmpty) None
        else {
          val m = rowVals.min
          Some(Grp((m - rMin).toLong,
            bits((rowVals.max - m).toLong),
            rowVals.map(v => (v - m).toLong).toArray))
        }
      }
    val foWidth = if (groups.isEmpty) 0 else bits(groups.map(_.fo).max)
    val p2v = live.length
    val p1v = groups.length
    val so = secondOrder && {
      require(p2v <= 0xFFFF && p1v >= 1,
        s"grib: GRIB1 second-order packing holds at most 65535 points " +
          s"(got $p2v) in at least one group")
      true
    }

    val refMs = validMs - forecastHours.toLong * 3600000L
    require(refMs % 60000 == 0, "grib: sub-minute GRIB1 times unsupported")
    val t = Instant.ofEpochMilli(refMs).atOffset(ZoneOffset.UTC)
    val century = (t.getYear + 99) / 100
    val yoc = t.getYear - (century - 1) * 100 // 1..100: 2000 = C20 y100

    // sections are padded to even octet counts (WMO regulation); the
    // pad bits ride in the unused-bits fields
    val dataBytes0 = (live.length.toLong * nbits + 7) / 8
    val bdsPad = (11 + dataBytes0) % 2
    val dataBytes = dataBytes0 + bdsPad
    val unusedBits = dataBytes * 8 - live.length.toLong * nbits
    require(unusedBits <= 15, s"grib: BDS unused bits $unusedBits")
    // second-order geometry (pointers are 1-based BDS octet numbers)
    val sbmpBytes = if (so) (p2v.toLong + 7) / 8 else 0L
    val n1 = 22 + p1v + sbmpBytes
    val foBytes = (p1v.toLong * foWidth + 7) / 8
    val n2 = n1 + foBytes
    val soBits = if (so) groups.map(g => g.width.toLong * g.sos.length).sum
      else 0L
    val soBytes = (soBits + 7) / 8
    val bdsTotal =
      if (!so) 11 + dataBytes
      else {
        val t0 = (n2 - 1) + soBytes
        require(n2 <= 0xFFFF,
          s"grib: second-order pointer N2=$n2 overflows its two octets")
        t0 + (t0 % 2)
      }
    val soUnused = if (so) bdsTotal * 8 - ((n2 - 1) * 8 + soBits) else 0L
    val bitmapBytes0 = if (hasBitmap) (n.toLong + 7) / 8 else 0L
    val bmsPad = if (hasBitmap) (6 + bitmapBytes0) % 2 else 0L
    val bitmapBytes = bitmapBytes0 + bmsPad
    val msgLen = 8L + 28 + 32 + (if (hasBitmap) 6 + bitmapBytes else 0) +
      bdsTotal + 4
    require(msgLen <= 0xFFFFFFL, s"grib: GRIB1 message of $msgLen bytes " +
      "overflows the 24-bit length (use edition 2)")

    // ---- IS
    b.bytes("GRIB".getBytes("US-ASCII"))
    b.u24(msgLen.toInt); b.u8(1)
    // ---- PDS
    b.u24(28); b.u8(tableVersion)
    b.u8(0); b.u8(0); b.u8(255) // centre, process, grid id (255 = none)
    b.u8(if (hasBitmap) 0xC0 else 0x80) // GDS present [+ BMS]
    b.u8(param)
    b.u8(1); b.u16(0) // level: ground surface
    b.u8(yoc); b.u8(t.getMonthValue); b.u8(t.getDayOfMonth)
    b.u8(t.getHour); b.u8(t.getMinute)
    b.u8(1) // unit: hour
    if (forecastHours > 0) { b.u8(forecastHours); b.u8(0); b.u8(0) }
    else { b.u8(0); b.u8(0); b.u8(1) } // P1, P2, time range indicator
    b.u16(0); b.u8(0) // number in average, missing
    b.u8(century); b.u8(0) // century, sub-centre
    b.u16(0) // decimal scale factor D = 0
    // ---- GDS (32 octets, lat/lon)
    b.u24(32); b.u8(0); b.u8(255) // NV = 0, PV = 255 (none)
    b.u8(0) // data representation: latitude/longitude
    b.u16(w); b.u16(h)
    val laSouthMilli = math.rint(laSouth * 1e3).toLong
    val loWestMilli = math.rint(loWest * 1e3).toLong
    // first point CENTER, northernmost row first (scan mode 0)
    b.s24sm(laSouthMilli + h * diMilli - diMilli / 2) // La1
    b.s24sm(loWestMilli + diMilli / 2)                // Lo1
    b.u8(0x80) // resolution flags: direction increments given
    b.s24sm(laSouthMilli + diMilli / 2)               // La2
    b.s24sm(loWestMilli + w * diMilli - diMilli / 2)  // Lo2
    b.u16(diMilli.toInt); b.u16(diMilli.toInt)
    b.u8(0) // scanning mode: +i, -j, row-major
    b.u24(0); b.u8(0) // reserved octets 29-32
    // ---- BMS
    if (hasBitmap) {
      b.u24((6 + bitmapBytes).toInt)
      b.u8(((bitmapBytes * 8) - n).toInt) // unused trailing bits
      b.u16(0) // bitmap follows
      var acc = 0; var nb = 0
      vals.foreach { v =>
        acc = (acc << 1) | (if (isND(v)) 0 else 1)
        nb += 1
        if (nb == 8) { b.u8(acc); acc = 0; nb = 0 }
      }
      if (nb > 0) b.u8(acc << (8 - nb))
      var padB = bmsPad
      while (padB > 0) { b.u8(0); padB -= 1 }
    }
    // ---- BDS
    if (so) {
      // second-order: header + width octets + secondary bit-map +
      // first-order references + second-order deviations
      b.u24(bdsTotal.toInt)
      b.u8(0x50 | soUnused.toInt) // flags 0101: second-order + octet 14
      b.u16(0) // binary scale factor E = 0
      b.u32(intToIbm32(rMin.toLong))
      b.u8(foWidth)
      b.u16(n1.toInt)
      b.u8(0x60) // secondary bit-map present + different widths
      b.u16(n2.toInt)
      b.u16(p1v); b.u16(p2v)
      b.u8(0) // octet 21 reserved
      groups.foreach(g => b.u8(g.width))
      // secondary bit-map: one bit per present point, set at each
      // group's first point
      var acc = 0; var nb = 0
      def putBit(x: Int): Unit = {
        acc = (acc << 1) | x; nb += 1
        if (nb == 8) { b.u8(acc); acc = 0; nb = 0 }
      }
      groups.foreach(g => g.sos.indices.foreach(i =>
        putBit(if (i == 0) 1 else 0)))
      if (nb > 0) { b.u8(acc << (8 - nb)); acc = 0; nb = 0 }
      // first-order references, byte-padded so N2 lands on an octet
      var accL = 0L; var nbL = 0
      def putBits(v: Long, wd: Int): Unit = {
        var k = wd - 1
        while (k >= 0) {
          accL = (accL << 1) | ((v >>> k) & 1L); nbL += 1
          if (nbL == 8) { b.u8(accL.toInt & 0xFF); accL = 0; nbL = 0 }
          k -= 1
        }
      }
      groups.foreach(g => putBits(g.fo, foWidth))
      if (nbL > 0) { b.u8(((accL << (8 - nbL)) & 0xFF).toInt); accL = 0; nbL = 0 }
      // second-order deviations (continuous bit stream)
      groups.foreach(g => g.sos.foreach(sv => putBits(sv, g.width)))
      if (nbL > 0) { b.u8(((accL << (8 - nbL)) & 0xFF).toInt); accL = 0; nbL = 0 }
      var padS = bdsTotal - ((n2 - 1) + soBytes)
      while (padS > 0) { b.u8(0); padS -= 1 }
    } else {
    b.u24((11 + dataBytes).toInt)
    b.u8(unusedBits.toInt) // flags 0000 (grid, simple, float, no extras)
    b.u16(0) // binary scale factor E = 0
    b.u32(intToIbm32(rMin.toLong))
    b.u8(nbits)
    var acc = 0L; var nb = 0
    vals.foreach { v =>
      if (!isND(v) && nbits > 0) {
        acc = (acc << nbits) | (v - rMin).toLong
        nb += nbits
        while (nb >= 8) { b.u8(((acc >>> (nb - 8)) & 0xFF).toInt); nb -= 8 }
      }
    }
    if (nb > 0) b.u8(((acc << (8 - nb)) & 0xFF).toInt)
    var padD = dataBytes - dataBytes0
    while (padD > 0) { b.u8(0); padD -= 1 }
    }
    // ---- end section
    b.bytes("7777".getBytes("US-ASCII"))
  }

  private def writeMessage(b: Bld, vals: Array[Double], w: Int, h: Int,
      noData: Double, tMs: Long, laSouth: Double, loWest: Double,
      diMicro: Long, discipline: Int, category: Int, number: Int,
      template: Int, sdOrder: Int): Unit = {
    val n = w * h
    def isND(v: Double) = v == noData || (v.isNaN && noData.isNaN)
    val live = vals.filterNot(isND)
    live.foreach(v => require(v == math.rint(v) && math.abs(v) < (1L << 52),
      s"grib: non-integral value $v — packing with E=D=0 is exact " +
        "only for integers (quantize the input first)"))
    val rMin = if (live.isEmpty) 0.0 else live.min
    require(rMin.toFloat.toDouble == rMin,
      s"grib: reference value $rMin is not float32-exact")
    val range = if (live.isEmpty) 0L else (live.max - rMin).toLong
    require(range <= 0x7FFFFFFFL, s"grib: value range $range overflows packing")
    val nbits =
      if (range == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(range)
    val hasBitmap = live.length != n

    val t = Instant.ofEpochMilli(tMs).atOffset(ZoneOffset.UTC)
    require(tMs % 1000 == 0, "grib: sub-second reference times unsupported")

    // complex and PNG packing build their payloads up front (group
    // geometry / the PNG stream depend on the data); simple packing
    // streams below
    val complex: Option[(Cx, Int, Array[Byte])] =
      if (template == 2 || template == 3)
        Some(packComplex(live.map(v => (v - rMin).toLong), template,
          sdOrder))
      else None
    // PNG depth: the narrowest of the format's grayscale/RGB shapes
    // that holds the range; constant fields ride depth 0 + empty
    // section 7, the 5.0 convention
    val pngDepth =
      if (template != 41 || range == 0L) 0
      else if (range < (1L << 8)) 8
      else if (range < (1L << 16)) 16
      else if (range < (1L << 24)) 24
      else throw new IllegalArgumentException(
        s"grib: value range $range overflows 5.41's 24-bit RGB — " +
          "use template 5.0")
    val png: Option[Array[Byte]] =
      if (template != 41 || range == 0L) None
      else {
        // NCEP practice (g2clib pngpack): grid-shaped image without a
        // bitmap, a 1-row strip of the present points with one
        val (pw, ph) = if (hasBitmap) (live.length, 1) else (w, h)
        Some(encodePngX(live.map(v => (v - rMin).toLong), pw, ph, pngDepth))
      }
    val sec5Len = template match {
      case 0 | 41 => 21L; case 2 => 47L; case _ => 49L
    }
    val dataBytes = (complex, png) match {
      case (Some((_, _, payload)), _) => payload.length.toLong
      case (_, Some(payload)) => payload.length.toLong
      case _ if template == 41 => 0L // constant field: empty section 7
      case _ => (live.length.toLong * nbits + 7) / 8
    }
    val bitmapBytes = if (hasBitmap) (n + 7) / 8 else 0
    val msgLen = 16L + 21 + 72 + 34 + sec5Len + (6 + bitmapBytes) +
      (5 + dataBytes) + 4

    // section 0
    b.bytes("GRIB".getBytes("US-ASCII"))
    b.u16(0); b.u8(discipline); b.u8(2); b.u64(msgLen)
    // section 1
    b.u32(21); b.u8(1)
    b.u16(0); b.u16(0) // centre, subcentre
    b.u8(2); b.u8(1)   // table versions
    b.u8(0)            // significance: analysis
    b.u16(t.getYear); b.u8(t.getMonthValue); b.u8(t.getDayOfMonth)
    b.u8(t.getHour); b.u8(t.getMinute); b.u8(t.getSecond)
    b.u8(0); b.u8(0)   // production status, type
    // section 3, template 3.0
    b.u32(72); b.u8(3)
    b.u8(0)            // source of grid definition
    b.u32(n.toLong)
    b.u8(0); b.u8(0)   // no optional list
    b.u16(0)           // template 3.0
    b.u8(6)            // shape of earth: spherical r=6371229
    b.u8(0); b.u32(0); b.u8(0); b.u32(0); b.u8(0); b.u32(0)
    b.u32(w.toLong); b.u32(h.toLong)
    b.u32(0); b.u32(0) // basic angle, subdivisions
    // first point CENTER, northernmost row first (scan mode 0)
    val laSouthMicro = math.rint(laSouth * 1e6).toLong
    val loWestMicro = math.rint(loWest * 1e6).toLong
    b.s32sm(laSouthMicro + h * diMicro - diMicro / 2) // La1
    b.s32sm(loWestMicro + diMicro / 2)                // Lo1
    b.u8(0x30)         // resolution/component flags: Di, Dj given
    b.s32sm(laSouthMicro + diMicro / 2)               // La2
    b.s32sm(loWestMicro + w * diMicro - diMicro / 2)  // Lo2
    b.u32(diMicro); b.u32(diMicro)
    b.u8(0)            // scanning mode: +i, -j, row-major
    // section 4, template 4.0
    b.u32(34); b.u8(4)
    b.u16(0)           // no coordinate values
    b.u16(0)           // template 4.0
    b.u8(category); b.u8(number)
    b.u8(0); b.u8(0); b.u8(0) // process ids
    b.u16(0); b.u8(0)  // cutoff
    b.u8(1)            // time unit: hour
    b.u32(0)           // forecast time 0
    b.u8(1); b.u8(0); b.u32(0) // first surface: ground
    b.u8(255); b.u8(0); b.u32(0) // second surface: missing
    // section 5
    b.u32(sec5Len); b.u8(5)
    b.u32(live.length.toLong)
    b.u16(template)
    b.f32(rMin.toFloat)
    b.u16(0); b.u16(0) // E, D
    complex match {
      case None =>
        b.u8(if (template == 41) pngDepth else nbits)
        b.u8(0)        // original type: float
      case Some((cx, refBits, _)) =>
        b.u8(refBits)
        b.u8(0)        // original type: float
        b.u8(1)        // group splitting: general
        b.u8(0)        // missing value management: none (bitmap carries it)
        b.u32(0); b.u32(0) // missing substitutes (unused)
        b.u32(cx.ng.toLong)
        b.u8(cx.widthRef); b.u8(cx.widthBits)
        b.u32(cx.lenRef); b.u8(cx.lenInc)
        b.u32(cx.lastLen); b.u8(cx.lenBits)
        if (template == 3) { b.u8(cx.sdOrder); b.u8(cx.sdOctets) }
    }
    // section 6
    b.u32(6L + bitmapBytes); b.u8(6)
    if (hasBitmap) {
      b.u8(0)
      var acc = 0; var nb = 0
      vals.foreach { v =>
        acc = (acc << 1) | (if (isND(v)) 0 else 1)
        nb += 1
        if (nb == 8) { b.u8(acc); acc = 0; nb = 0 }
      }
      if (nb > 0) b.u8(acc << (8 - nb))
    } else b.u8(255)
    // section 7
    b.u32(5L + dataBytes); b.u8(7)
    (complex, png) match {
      case (Some((_, _, payload)), _) => b.bytes(payload)
      case (_, Some(payload)) => b.bytes(payload)
      case _ if template == 41 => () // constant field: empty section 7
      case _ =>
        var acc = 0L; var nb = 0
        vals.foreach { v =>
          if (!isND(v)) {
            acc = (acc << nbits) | (v - rMin).toLong
            nb += nbits
            while (nb >= 8) { b.u8(((acc >>> (nb - 8)) & 0xFF).toInt); nb -= 8 }
          }
        }
        if (nb > 0) b.u8(((acc << (8 - nb)) & 0xFF).toInt)
    }
    // section 8
    b.bytes("7777".getBytes("US-ASCII"))
  }
}

/** GRIB2 raster source: each field is one time frame; time-sliced
  * requests decode only the selected fields' byte ranges. */
case class GribSource(url: String, noDataArg: Double = Double.MaxValue)
    extends RasterBlock with graft.core.FileSource {

  private def withChannel[A](f: PositionedReader => A): A = {
    val ch = PositionedReader.open(url)
    try f(ch) finally ch.close()
  }

  @transient private lazy val meta: Grib.Meta =
    withChannel(ch => Grib.readMeta(ch, url))

  @transient private lazy val deltaMs: Option[Long] = {
    val t = meta.timesMs
    if (t.length <= 1) None
    else {
      val d = t(1) - t(0)
      require(t.sliding(2).forall(p => p(1) - p(0) == d),
        s"$url: non-equidistant valid times not supported")
      Some(d)
    }
  }

  @transient private lazy val memory: MemorySource = {
    val bands = withChannel(ch =>
      meta.fields.map(f => Grib.decode(ch, f, noDataArg)))
    MemorySource(bands, meta.w, meta.h, noDataArg, meta.projection,
      meta.cellSize, meta.originX, meta.originY, meta.timesMs.head,
      deltaMs, "float64")
  }

  override def dtype: DType = DType.F8
  override def projection: String = meta.projection
  override def temporal: Boolean = meta.timesMs.length > 1
  override def timeDeltaMs: Option[Long] = deltaMs
  override def period: Option[(Instant, Instant)] =
    Some((Instant.ofEpochMilli(meta.timesMs.head),
      Instant.ofEpochMilli(meta.timesMs.last)))
  override def extent: Option[Bbox] = Some(Bbox(
    meta.originX, meta.originY - meta.h * meta.cellSize,
    meta.originX + meta.w * meta.cellSize, meta.originY))
  override def cellSize: Option[Double] = Some(meta.cellSize)
  override def allTimes: Seq[Instant] = meta.timesMs.map(Instant.ofEpochMilli)

  /** Frame-pruned read: a time-sliced request decodes exactly the
    * selected fields (each field's bitmap + data ranges are known from
    * the section scan — same contract as the NetCDF/Zarr/HDF5
    * sources). */
  override def frame(req: RasterRequest)(implicit spark: SparkSession): DataFrame = {
    val sel = timesIn(req.start, req.stop)
    if (sel.isEmpty || sel.length == meta.timesMs.length) memory.frame(req)
    else {
      val idx = allTimes.zipWithIndex.toMap
      val bands = withChannel(ch =>
        sel.map(t => Grib.decode(ch, meta.fields(idx(t)), noDataArg)))
      MemorySource(bands, meta.w, meta.h, noDataArg, meta.projection,
        meta.cellSize, meta.originX, meta.originY, sel.head.toEpochMilli,
        if (temporal) deltaMs else None, "float64").frame(req)
    }
  }
}

/** GRIB2 sink: the requested stack becomes one message per frame.
  * Template 3.0 is geographic-only, so the requested pixel grid is
  * REMAPPED onto a lat/lon graticule anchored at (`laSouth`, `loWest`)
  * with `degPerCell` pitch — values and frame times are preserved
  * exactly (integral values required; quantize first). */
case class GribSink(source: RasterBlock, url: String,
    degPerCell: Double = 0.05, laSouth: Double = 0.0, loWest: Double = 0.0,
    template: Int = 0, sdOrder: Int = 2, edition: Int = 2) {
  def write(req: RasterRequest)(implicit spark: SparkSession): String = {
    require(edition == 1 || edition == 2, s"grib: edition $edition")
    require(edition == 2 || template == 0 || template == 2,
      "grib: edition 1 writes simple (0) or second-order (2) packing")
    val res = source.getData(req).getOrElse(
      throw new IllegalArgumentException("empty result"))
    val lower = url.toLowerCase
    val path =
      if (lower.endsWith(".grib2") || lower.endsWith(".grb2") ||
        lower.endsWith(".grib") || lower.endsWith(".grb")) url
      else if (edition == 1) s"$url/stack.grib"
      else s"$url/stack.grib2"
    if (edition == 1)
      Grib.writeEdition1(path, res.values, req.width, req.height,
        res.noDataValue, res.times.map(_.toEpochMilli), laSouth, loWest,
        degPerCell, secondOrder = template == 2)
    else
      Grib.write(path, res.values, req.width, req.height, res.noDataValue,
        res.times.map(_.toEpochMilli), laSouth, loWest, degPerCell,
        template = template, sdOrder = sdOrder)
    path
  }
}
