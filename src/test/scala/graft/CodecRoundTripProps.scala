package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.locationtech.jts.geom.Geometry

import graft.geometry._

/** Property-based round-trips for the single-file geometry codecs: random
  * geometries and attribute values must survive write → read exactly
  * (geometry compared after `norm()` — the shapefile spec forces ring
  * orientation, so canonical form is the contract, not byte identity).
  * Complements the fixed fixtures in GmlSpec/GeoPackageSpec/ShapefileSpec
  * with generated structure: ring counts, hole counts, vertex counts,
  * coordinate magnitudes, and attribute content vary per case.
  */
object CodecRoundTripProps extends Properties("codec-roundtrip") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(sys.env.get("FUZZ_SEED").map(_.toLong).getOrElse(98765L)))
      .withMinSuccessfulTests(12)

  private implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  private lazy val tmpRoot = Files.createTempDirectory("codec_rt")

  // ------------------------------------------------------------ geometry

  /** Coordinates on a 1e-6 lattice over a wide range: exact in float64 and
    * within DBF numeric-text width, so every codec can hold them exactly. */
  private val genOrdinate: Gen[Double] =
    Gen.choose(-180000000L, 180000000L).map(_ / 1e6)

  private val genPoint: Gen[String] = for {
    x <- genOrdinate; y <- genOrdinate
  } yield s"POINT ($x $y)"

  private val genLineString: Gen[String] = for {
    n <- Gen.choose(2, 12)
    xs <- Gen.listOfN(n, genOrdinate)
    ys <- Gen.listOfN(n, genOrdinate)
  } yield "LINESTRING (" +
    xs.zip(ys).map { case (x, y) => s"$x $y" }.mkString(", ") + ")"

  /** Star-shaped simple ring: vertices at sorted angles around a center. */
  private def ring(cx: Double, cy: Double, r: Double, k: Int): Seq[(Double, Double)] = {
    val pts = (0 until k).map { i =>
      val a = 2 * math.Pi * i / k
      // lattice-snap so the codecs hold the ordinates exactly
      (math.rint((cx + r * math.cos(a)) * 1e6) / 1e6,
        math.rint((cy + r * math.sin(a)) * 1e6) / 1e6)
    }
    pts :+ pts.head
  }

  private def ringWkt(pts: Seq[(Double, Double)]): String =
    "(" + pts.map { case (x, y) => s"$x $y" }.mkString(", ") + ")"

  private val genPolygon: Gen[String] = for {
    cx <- Gen.choose(-1000, 1000).map(_.toDouble)
    cy <- Gen.choose(-1000, 1000).map(_.toDouble)
    r <- Gen.choose(10, 500).map(_.toDouble)
    k <- Gen.choose(3, 10)
    holes <- Gen.choose(0, 2)
  } yield {
    val shell = ringWkt(ring(cx, cy, r, k))
    val inner = (1 to holes).map(h =>
      ringWkt(ring(cx + (h - 1.5) * r / 4, cy, r / 8, 3 + h)))
    s"POLYGON (${(shell +: inner).mkString(", ")})"
  }

  private val genMultiPolygon: Gen[String] = for {
    n <- Gen.choose(2, 3)
    cs <- Gen.listOfN(n, Gen.choose(0, 5000))
    r <- Gen.choose(5, 40).map(_.toDouble)
    k <- Gen.choose(3, 8)
  } yield "MULTIPOLYGON (" + cs.zipWithIndex.map { case (c, i) =>
    // disjoint components spaced along x
    "(" + ringWkt(ring(c + i * 12000.0, 0, r, k)) + ")"
  }.mkString(", ") + ")"

  private def geomOf(wkt: String): Geometry = GeomFunctions.readWkt(wkt)

  // ----------------------------------------------------------- attributes

  /** DBF character fields are space-padded, so trailing/leading spaces do
    * not round-trip by design (OGR strips them the same way) — generate
    * trim-stable names for the shapefile property. */
  private val genAsciiName: Gen[String] =
    Gen.choose(0, 9).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq(' ', '-', '_'))))
      .map(_.mkString.trim)

  private val genHostileName: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.oneOf('a', '<', '>', '&', '"', '\'', 'é', '€', 'λ', '中')))
      .map(_.mkString)

  /** Value on a centi-lattice: exact in DBF numeric text and IEEE. */
  private val genValue: Gen[Double] = Gen.choose(-10000000L, 10000000L).map(_ / 100.0)

  private def rowsGen(geomGen: Gen[String], nameGen: Gen[String])
      : Gen[List[(Long, String, Double, String)]] = for {
    n <- Gen.choose(1, 8)
    ws <- Gen.listOfN(n, geomGen)
    vs <- Gen.listOfN(n, genValue)
    names <- Gen.listOfN(n, nameGen)
  } yield ws.zip(vs).zip(names).zipWithIndex.map { case (((w, v), nm), i) =>
    ((i + 1).toLong, w, v, nm)
  }

  // ------------------------------------------------------------- harness

  private val counter = new java.util.concurrent.atomic.AtomicInteger

  private def roundTrip(ext: String, rows: List[(Long, String, Double, String)]): Prop = {
    val out = tmpRoot.resolve(s"rt_${counter.incrementAndGet()}.$ext").toString
    // geojson: write/read in WGS84 so no reprojection leg runs — the codec
    // itself is under test, not the CRS transform
    val block = SeqGeometrySource(rows,
      proj = if (ext == "geojson") "EPSG:4326" else "EPSG:28992")
    val source: GeometryBlock = ext match {
      case "geojson" =>
        val dir = tmpRoot.resolve(s"rtdir_${counter.get()}").toString
        GeometryFileSink(block, dir, "geojson").write(GeometryRequest())
        GeoJsonSource(dir)
      case _ =>
        VectorFormat.forOutput(out).get
          .write(block.frame(GeometryRequest()), block.projection, out)
        GeometryFileSource(out)
    }
    val back = source.frame(GeometryRequest())
      .select(col("fid"), col("geometry"), col("value"), col("name"))
      .collect().map(r => (r.getLong(0), r.get(1).asInstanceOf[Array[Byte]],
        r.getDouble(2), r.getString(3))).sortBy(_._1)
    val props = rows.map { case (fid, wkt, v, name) =>
      back.find(_._1 == fid) match {
        case None => Prop.falsified :| s"$ext: fid $fid missing"
        case Some((_, wkb, v2, name2)) =>
          val want = geomOf(wkt).norm()
          val got = GeomFunctions.readWkb(wkb).norm()
          (got.equalsExact(want) :| s"$ext fid $fid geometry: $got != $want") &&
            ((v2 == v) :| s"$ext fid $fid value: $v2 != $v") &&
            ((name2 == name || (name.isEmpty && name2 == null)) :|
              s"$ext fid $fid name: '$name2' != '$name'")
      }
    }
    ((back.length == rows.length) :| s"$ext: ${back.length} rows != ${rows.length}") &&
      props.reduce(_ && _)
  }

  private val anyGeom: Gen[String] =
    Gen.oneOf(genPoint, genLineString, genPolygon, genMultiPolygon)

  // forAllNoShrink everywhere: ScalaCheck's string shrinker would mangle
  // WKTs into degenerate rings that no generator (or writer) produces

  // shapefile: one shape type per file (spec p.4); names ASCII (DBF)
  property("shapefile round-trips generated geometries and attrs") =
    Prop.forAllNoShrink(for {
      g <- Gen.oneOf(genPoint, genLineString, genPolygon, genMultiPolygon)
      rows <- rowsGen(g, genAsciiName)
    } yield rows) { rows => roundTrip("shp", rows) }

  property("geopackage round-trips generated geometries and attrs") =
    Prop.forAllNoShrink(rowsGen(anyGeom, genHostileName))(rows => roundTrip("gpkg", rows))

  property("gml round-trips generated geometries and hostile attrs") =
    Prop.forAllNoShrink(rowsGen(anyGeom, genHostileName))(rows => roundTrip("gml", rows))

  property("geojson round-trips generated geometries and hostile attrs") =
    Prop.forAllNoShrink(rowsGen(anyGeom, genHostileName))(rows => roundTrip("geojson", rows))
}
