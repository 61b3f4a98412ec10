package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.{Proj, WktSrs}

/** WKT SRS resolution: real-world `.prj` content in both dialects for every
  * family the Proj hub supports. The ESRI strings are what ArcGIS writes
  * (no AUTHORITY nodes, renamed projections/parameters); the OGC strings
  * are the EPSG registry WKT-1 flavor. */
class WktSrsSpec extends AnyFunSuite {

  private def epsg(wkt: String): String = Proj.normalize(wkt)

  // --- geographic ----------------------------------------------------------

  private val esriWgs84 =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""

  private val ogcWgs84 =
    """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563,AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],AUTHORITY["EPSG","4326"]]"""

  test("WGS84 geographic resolves in both dialects") {
    assert(epsg(esriWgs84) == "EPSG:4326")
    assert(epsg(ogcWgs84) == "EPSG:4326")
    assert(Proj.supported(esriWgs84))
  }

  test("ETRS89 geographic (GRS80 ellipsoid, no authority) rides the hub") {
    val esriEtrs =
      """GEOGCS["GCS_ETRS_1989",DATUM["D_ETRS_1989",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""
    assert(epsg(esriEtrs) == "EPSG:4326")
  }

  // --- UTM -----------------------------------------------------------------

  private def esriUtm(zone: Int, south: Boolean): String = {
    val fn = if (south) 10000000.0 else 0.0
    val h = if (south) "S" else "N"
    s"""PROJCS["WGS_1984_UTM_Zone_$zone$h",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",$fn],PARAMETER["Central_Meridian",${6 * zone - 183}.0],PARAMETER["Scale_Factor",0.9996],PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""
  }

  test("ESRI UTM resolves by parameters, all zones, both hemispheres") {
    assert(epsg(esriUtm(31, south = false)) == "EPSG:32631")
    assert(epsg(esriUtm(1, south = false)) == "EPSG:32601")
    assert(epsg(esriUtm(60, south = true)) == "EPSG:32760")
    assert(epsg(esriUtm(33, south = true)) == "EPSG:32733")
  }

  test("OGC UTM with an AUTHORITY node short-circuits to the code") {
    val ogc =
      """PROJCS["WGS 84 / UTM zone 33S",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",15],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",10000000],UNIT["metre",1,AUTHORITY["EPSG","9001"]],AXIS["Easting",EAST],AXIS["Northing",NORTH],AUTHORITY["EPSG","32733"]]"""
    assert(epsg(ogc) == "EPSG:32733")
  }

  test("ETRS89 UTM (GRS80) resolves to the 258xx series") {
    val esri =
      """PROJCS["ETRS_1989_UTM_Zone_32N",GEOGCS["GCS_ETRS_1989",DATUM["D_ETRS_1989",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",9.0],PARAMETER["Scale_Factor",0.9996],PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""
    assert(epsg(esri) == "EPSG:25832")
  }

  // --- national grids ------------------------------------------------------

  test("British National Grid resolves from ESRI parameters") {
    val esri =
      """PROJCS["British_National_Grid",GEOGCS["GCS_OSGB_1936",DATUM["D_OSGB_1936",SPHEROID["Airy_1830",6377563.396,299.3249646]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",400000.0],PARAMETER["False_Northing",-100000.0],PARAMETER["Central_Meridian",-2.0],PARAMETER["Scale_Factor",0.9996012717],PARAMETER["Latitude_Of_Origin",49.0],UNIT["Meter",1.0]]"""
    assert(epsg(esri) == "EPSG:27700")
  }

  test("RD New resolves from the ESRI Double_Stereographic form") {
    val esri =
      """PROJCS["RD_New",GEOGCS["GCS_Amersfoort",DATUM["D_Amersfoort",SPHEROID["Bessel_1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Double_Stereographic"],PARAMETER["False_Easting",155000.0],PARAMETER["False_Northing",463000.0],PARAMETER["Central_Meridian",5.38763888888889],PARAMETER["Scale_Factor",0.9999079],PARAMETER["Latitude_Of_Origin",52.1561605555556],UNIT["Meter",1.0]]"""
    assert(epsg(esri) == "EPSG:28992")
    // OGC spells the projection Oblique_Stereographic
    val ogc =
      """PROJCS["Amersfoort / RD New",GEOGCS["Amersfoort",DATUM["Amersfoort",SPHEROID["Bessel 1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Oblique_Stereographic"],PARAMETER["latitude_of_origin",52.1561605555556],PARAMETER["central_meridian",5.38763888888889],PARAMETER["scale_factor",0.9999079],PARAMETER["false_easting",155000],PARAMETER["false_northing",463000],UNIT["metre",1]]"""
    assert(epsg(ogc) == "EPSG:28992")
  }

  // --- web mercator --------------------------------------------------------

  test("web mercator resolves from the ESRI auxiliary-sphere form") {
    val esri =
      """PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Mercator_Auxiliary_Sphere"],PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",0.0],PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]"""
    assert(epsg(esri) == "EPSG:3857")
  }

  // --- Lambert Conformal Conic ---------------------------------------------

  test("Lambert-93 and a CC zone resolve from parameters") {
    val esri2154 =
      """PROJCS["RGF_1993_Lambert_93",GEOGCS["GCS_RGF_1993",DATUM["D_RGF_1993",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",700000.0],PARAMETER["False_Northing",6600000.0],PARAMETER["Central_Meridian",3.0],PARAMETER["Standard_Parallel_1",44.0],PARAMETER["Standard_Parallel_2",49.0],PARAMETER["Latitude_Of_Origin",46.5],UNIT["Meter",1.0]]"""
    assert(epsg(esri2154) == "EPSG:2154")
    val cc46 =
      """PROJCS["RGF93_CC46",GEOGCS["GCS_RGF_1993",DATUM["D_RGF_1993",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",1700000.0],PARAMETER["False_Northing",5200000.0],PARAMETER["Central_Meridian",3.0],PARAMETER["Standard_Parallel_1",45.25],PARAMETER["Standard_Parallel_2",46.75],PARAMETER["Latitude_Of_Origin",46.0],UNIT["Meter",1.0]]"""
    assert(epsg(cc46) == "EPSG:3946")
  }

  // --- polar stereographic + Albers ----------------------------------------

  test("polar stereographic resolves in both dialects") {
    val esri3031 =
      """PROJCS["WGS_1984_Antarctic_Polar_Stereographic",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Stereographic_South_Pole"],PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",-71.0],UNIT["Meter",1.0]]"""
    assert(epsg(esri3031) == "EPSG:3031")
    val ogc3413 =
      """PROJCS["WGS 84 / NSIDC Sea Ice Polar Stereographic North",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Polar_Stereographic"],PARAMETER["latitude_of_origin",70],PARAMETER["central_meridian",-45],PARAMETER["scale_factor",1],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]"""
    assert(epsg(ogc3413) == "EPSG:3413")
  }

  test("Conus Albers resolves from parameters") {
    val ogc5070 =
      """PROJCS["NAD83 / Conus Albers",GEOGCS["NAD83",DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Albers_Conic_Equal_Area"],PARAMETER["latitude_of_center",23],PARAMETER["longitude_of_center",-96],PARAMETER["standard_parallel_1",29.5],PARAMETER["standard_parallel_2",45.5],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]"""
    assert(epsg(ogc5070) == "EPSG:5070")
  }

  // --- WKT-2 ---------------------------------------------------------------

  test("WKT-2 PROJCRS resolves via the root ID node") {
    val wkt2 =
      """PROJCRS["WGS 84 / UTM zone 31N",BASEGEOGCRS["WGS 84",DATUM["World Geodetic System 1984",ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]]],PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],CONVERSION["UTM zone 31N",METHOD["Transverse Mercator",ID["EPSG",9807]],PARAMETER["Latitude of natural origin",0,ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8801]],PARAMETER["Longitude of natural origin",3,ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8802]],PARAMETER["Scale factor at natural origin",0.9996,SCALEUNIT["unity",1],ID["EPSG",8805]],PARAMETER["False easting",500000,LENGTHUNIT["metre",1],ID["EPSG",8806]],PARAMETER["False northing",0,LENGTHUNIT["metre",1],ID["EPSG",8807]]],CS[Cartesian,2],AXIS["(E)",east,ORDER[1],LENGTHUNIT["metre",1]],AXIS["(N)",north,ORDER[2],LENGTHUNIT["metre",1]],ID["EPSG",32631]]"""
    assert(epsg(wkt2) == "EPSG:32631")
  }

  test("WKT-2 without a root ID still resolves by method + parameters") {
    val wkt2 =
      """PROJCRS["WGS 84 / UTM zone 31N",BASEGEOGCRS["WGS 84",DATUM["World Geodetic System 1984",ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]]]],CONVERSION["UTM zone 31N",METHOD["Transverse Mercator"],PARAMETER["Latitude of natural origin",0],PARAMETER["Longitude of natural origin",3],PARAMETER["Scale factor at natural origin",0.9996],PARAMETER["False easting",500000],PARAMETER["False northing",0]],CS[Cartesian,2]]"""
    assert(epsg(wkt2) == "EPSG:32631")
  }

  // --- transforms go end-to-end with raw WKT input -------------------------

  test("transform accepts raw WKT on either side, bit-identical to the code") {
    val (x1, y1) = Proj.transform(esriWgs84, "EPSG:28992", 5.38720621, 52.15517440)
    val (x2, y2) = Proj.transform("EPSG:4326", "EPSG:28992", 5.38720621, 52.15517440)
    assert(x1 == x2 && y1 == y2)
    val (e1, n1) = Proj.transform(ogcWgs84, esriUtm(31, south = false), 3.0, 0.0)
    assert(math.abs(e1 - 500000.0) < 1e-6 && math.abs(n1) < 1e-6)
  }

  // --- failure modes -------------------------------------------------------

  test("genuinely unsupported WKT fails loudly, naming the method") {
    val krovak =
      """PROJCS["S-JTSK / Krovak East North",GEOGCS["S-JTSK",DATUM["System_Jednotne_Trigonometricke_Site_Katastralni",SPHEROID["Bessel 1841",6377397.155,299.1528128]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Krovak"],PARAMETER["latitude_of_center",49.5],PARAMETER["longitude_of_center",24.8333333333333],PARAMETER["azimuth",30.2881397527778],PARAMETER["pseudo_standard_parallel_1",78.5],PARAMETER["scale_factor",0.9999],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]"""
    val e = intercept[IllegalArgumentException](Proj.normalize(krovak))
    assert(e.getMessage.contains("Krovak"))
    assert(!Proj.supported(krovak))
  }

  test("an unsupported authority code reports the code in the error") {
    // NAD27 UTM 15N: authority present but not a hub code, and the Clarke
    // 1866 ellipsoid matches no family
    val nad27 =
      """PROJCS["NAD27 / UTM zone 15N",GEOGCS["NAD27",DATUM["North_American_Datum_1927",SPHEROID["Clarke 1866",6378206.4,294.978698213898]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-93],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",0],AUTHORITY["EPSG","26715"]]"""
    val e = intercept[IllegalArgumentException](Proj.normalize(nad27))
    assert(e.getMessage.contains("26715"))
  }

  test("malformed WKT fails loudly instead of passing through") {
    val e = intercept[IllegalArgumentException](Proj.normalize("""PROJCS["broken",PROJECTION["Transverse_Mercator"""))
    assert(e.getMessage.toLowerCase.contains("wkt"))
  }

  test("emitted WKT round-trips for every hub family, with and without AUTHORITY") {
    val codes = Seq("EPSG:4326", "EPSG:3857", "EPSG:28992", "EPSG:27700",
      "EPSG:32631", "EPSG:32733", "EPSG:25832", "EPSG:2154", "EPSG:3946",
      "EPSG:5070", "EPSG:3031", "EPSG:3413", "EPSG:3976", "EPSG:3995")
    for (code <- codes) {
      val wkt = WktSrs.toWkt(code).getOrElse(fail(s"no WKT emitted for $code"))
      // authority fast-path
      assert(Proj.normalize(wkt) == code, s"$code authority path")
      // parameter-matching path: strip every AUTHORITY node — what an
      // ESRI-flavored copy of the same CRS looks like
      val noAuth = wkt.replaceAll(""",AUTHORITY\["EPSG","\d+"\]""", "")
      assert(!noAuth.contains("AUTHORITY"))
      assert(Proj.normalize(noAuth) == code, s"$code parameter path")
    }
    // unresolvable input emits nothing
    assert(WktSrs.toWkt("EPSG:99999").isEmpty && WktSrs.toWkt("junk").isEmpty)
  }

  test("the shapefile sink writes WKT .prj foreign tools can read") {
    val dir = java.nio.file.Files.createTempDirectory("prj_wkt")
    val path = dir.resolve("t.shp").toString
    val w = new graft.geometry.Shapefile.StreamWriter(path,
      Seq(graft.geometry.Shapefile.DbfField("fid", 'N', 18, 0)), "EPSG:28992")
    w.append(graft.geometry.GeomFunctions.readWkt("POINT (155000 463000)"), Seq[Any](1L))
    w.close()
    val prj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir.resolve("t.prj").toString)), "US-ASCII")
    assert(prj.startsWith("PROJCS[\"Amersfoort / RD New\""))
    assert(prj.contains("AUTHORITY[\"EPSG\",\"28992\"]"))
    // and the engine's own reader still resolves it to the code
    assert(graft.geometry.ShapefileSource(path).projection == "EPSG:28992")
  }

  test("a NAD83 UTM .prj with a foreign authority instantiates from parameters") {
    // authority declares 26915 (not a hub code): snapping is disabled for
    // foreign-authority WKT, so the GRS80 TM parameters instantiate a
    // self-contained PARAM code — numerically identical to the ETRS89-UTM
    // math (grid-free NAD83≈WGS84 convention)
    val nad83 =
      """PROJCS["NAD83 / UTM zone 15N",GEOGCS["NAD83",DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-93],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",0],AUTHORITY["EPSG","26915"]]"""
    val code = epsg(nad83)
    assert(code.startsWith("PARAM:TM:"))
    val (e1, n1) = Proj.transform("EPSG:4326", code, -93.5, 38.2)
    val (e2, n2) = Proj.transform("EPSG:4326", "EPSG:25815", -93.5, 38.2)
    assert(math.abs(e1 - e2) < 1e-9 && math.abs(n1 - n2) < 1e-9)
  }

  // --- parameterized CRS instantiation -------------------------------------

  test("EPSG:3395 World Mercator is NOT snapped onto web mercator") {
    // ellipsoidal Mercator_1SP on WGS84 with an explicit 3395 authority;
    // at 60°N the spherical web-mercator northing is ~37 km away
    val wkt3395 =
      """PROJCS["WGS 84 / World Mercator",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Mercator_1SP"],PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1],AUTHORITY["EPSG","3395"]]"""
    val code = epsg(wkt3395)
    assert(code.startsWith("PARAM:MERC:"), code)
    val (x95, y95) = Proj.transform("EPSG:4326", code, 12.0, 60.0)
    val (x57, y57) = Proj.transform("EPSG:4326", "EPSG:3857", 12.0, 60.0)
    assert(math.abs(x95 - x57) < 1e-6) // same equatorial scale on x
    assert(y57 - y95 > 30000.0, s"ellipsoidal vs spherical: $y95 vs $y57")
    // round-trips
    val (lon, lat) = Proj.transform(code, "EPSG:4326", x95, y95)
    assert(math.abs(lon - 12.0) < 1e-9 && math.abs(lat - 60.0) < 1e-9)
    // the same WKT without the authority node resolves identically
    val noAuth = wkt3395.replaceAll(""",AUTHORITY\["EPSG","\d+"\]""", "")
    val (x2, y2) = Proj.transform("EPSG:4326", epsg(noAuth), 12.0, 60.0)
    assert(math.abs(x2 - x95) < 1e-9 && math.abs(y2 - y95) < 1e-9)
  }

  test("a US state-plane LCC .prj in survey feet instantiates from parameters") {
    // NAD83 / California zone V in US survey feet (EPSG:2229's definition,
    // as ArcGIS writes it — no authority node)
    val caV =
      """PROJCS["NAD_1983_StatePlane_California_V_FIPS_0405_Feet",GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",6561666.666666666],PARAMETER["False_Northing",1640416.666666667],PARAMETER["Central_Meridian",-118.0],PARAMETER["Standard_Parallel_1",34.03333333333333],PARAMETER["Standard_Parallel_2",35.46666666666667],PARAMETER["Latitude_Of_Origin",33.5],UNIT["Foot_US",0.3048006096012192]]"""
    val code = epsg(caV)
    assert(code.startsWith("PARAM:LCC:"), code)
    assert(code.contains("UNIT=0.3048006096012192"))
    // the grid origin maps exactly to the false easting/northing, in feet
    val (e0, n0) = Proj.transform("EPSG:4326", code, -118.0, 33.5)
    assert(math.abs(e0 - 6561666.666666666) < 1e-3, s"origin easting $e0")
    assert(math.abs(n0 - 1640416.666666667) < 1e-3, s"origin northing $n0")
    // round-trips away from the origin
    val (e1, n1) = Proj.transform("EPSG:4326", code, -118.8, 34.3)
    val (lon, lat) = Proj.transform(code, "EPSG:4326", e1, n1)
    assert(math.abs(lon + 118.8) < 1e-9 && math.abs(lat - 34.3) < 1e-9)
    // sanity: one unit is a survey foot — a degree of latitude ≈ 364k ft
    val (_, n2) = Proj.transform("EPSG:4326", code, -118.0, 34.5)
    assert(math.abs((n2 - n0) / (364000.0 / 1.0)) > 0.9 &&
      math.abs((n2 - n0) / 364000.0) < 1.1)
  }

  test("a custom-parallels Albers .prj instantiates and round-trips") {
    val albers =
      """PROJCS["Custom_Albers",GEOGCS["GCS_ETRS_1989",DATUM["D_ETRS_1989",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Albers"],PARAMETER["False_Easting",4000000.0],PARAMETER["False_Northing",2800000.0],PARAMETER["Central_Meridian",10.0],PARAMETER["Standard_Parallel_1",20.0],PARAMETER["Standard_Parallel_2",60.0],PARAMETER["Latitude_Of_Origin",40.0],UNIT["Meter",1.0]]"""
    val code = epsg(albers)
    assert(code.startsWith("PARAM:AEA:"), code)
    val (e0, n0) = Proj.transform("EPSG:4326", code, 10.0, 40.0)
    assert(math.abs(e0 - 4000000.0) < 1e-6 && math.abs(n0 - 2800000.0) < 1e-6)
    val (e1, n1) = Proj.transform("EPSG:4326", code, 24.5, 55.2)
    val (lon, lat) = Proj.transform(code, "EPSG:4326", e1, n1)
    assert(math.abs(lon - 24.5) < 1e-9 && math.abs(lat - 55.2) < 1e-9)
  }

  test("variant-A polar stereographic (UPS-style) instantiates via k0") {
    val ups =
      """PROJCS["UPS_North",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Polar_Stereographic"],PARAMETER["False_Easting",2000000.0],PARAMETER["False_Northing",2000000.0],PARAMETER["Central_Meridian",0.0],PARAMETER["Scale_Factor",0.994],PARAMETER["Latitude_Of_Origin",90.0],UNIT["Meter",1.0]]"""
    val code = epsg(ups)
    assert(code.startsWith("PARAM:PS:") && code.contains("K0=0.994"), code)
    // the pole maps to the false origin
    val (e0, n0) = Proj.transform("EPSG:4326", code, 0.0, 90.0)
    assert(math.abs(e0 - 2000000.0) < 1e-6 && math.abs(n0 - 2000000.0) < 1e-6)
    // EPSG Guidance 7-2, Polar Stereographic variant A worked example
    // (UPS North): 73°N 44°E → E 3320416.75 m, N 632668.43 m
    val (e1, n1) = Proj.transform("EPSG:4326", code, 44.0, 73.0)
    assert(math.abs(e1 - 3320416.75) < 0.5, s"E $e1")
    assert(math.abs(n1 - 632668.43) < 0.5, s"N $n1")
    val (lon, lat) = Proj.transform(code, "EPSG:4326", e1, n1)
    assert(math.abs(lon - 44.0) < 1e-9 && math.abs(lat - 73.0) < 1e-9)
  }

  test("a TM .prj with TOWGS84 applies the Helmert datum shift") {
    // BNG's exact definition but with a 1 km larger false easting, so it
    // cannot snap to EPSG:27700 — the PARAM path must reproduce the hub's
    // own Airy-1830 + published-Helmert math, offset by exactly 1 km
    val shifted =
      """PROJCS["OSGB_shifted",GEOGCS["GCS_OSGB_1936",DATUM["D_OSGB_1936",SPHEROID["Airy_1830",6377563.396,299.3249646],TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",401000.0],PARAMETER["False_Northing",-100000.0],PARAMETER["Central_Meridian",-2.0],PARAMETER["Scale_Factor",0.9996012717],PARAMETER["Latitude_Of_Origin",49.0],UNIT["Meter",1.0]]"""
    val code = epsg(shifted)
    assert(code.startsWith("PARAM:TM:") && code.contains("DX=446.448"), code)
    // the hub carries pre-negated WGS84→OSGB36 constants while the PARAM
    // path inverts the declared TOWGS84 by negation (the standard EPSG
    // first-order inverse) — they agree to the second-order residual,
    // millimetres at earth radius, far inside the ~2 m Helmert accuracy
    val (eP, nP) = Proj.transform("EPSG:4326", code, -1.5, 52.0)
    val (eH, nH) = Proj.transform("EPSG:4326", "EPSG:27700", -1.5, 52.0)
    assert(math.abs((eP - 1000.0) - eH) < 0.01, s"easting $eP vs $eH")
    assert(math.abs(nP - nH) < 0.01, s"northing $nP vs $nH")
    val (lon, lat) = Proj.transform(code, "EPSG:4326", eP, nP)
    assert(math.abs(lon + 1.5) < 1e-6 && math.abs(lat - 52.0) < 1e-6)
  }

  test("a Clarke-1866 .prj without TOWGS84 fails loudly (no hub transform)") {
    val nad27sp =
      """PROJCS["NAD_1927_StatePlane_Texas_South_Central",GEOGCS["GCS_North_American_1927",DATUM["D_North_American_1927",SPHEROID["Clarke_1866",6378206.4,294.9786982]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",2000000.0],PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",-99.0],PARAMETER["Standard_Parallel_1",28.38333333333333],PARAMETER["Standard_Parallel_2",30.28333333333334],PARAMETER["Latitude_Of_Origin",27.83333333333333],UNIT["Foot_US",0.3048006096012192]]"""
    val e = intercept[IllegalArgumentException](Proj.normalize(nad27sp))
    assert(e.getMessage.contains("TOWGS84"))
  }

  test("NTF Lambert zone II: 1SP + grads + Paris meridian + TOWGS84") {
    // the full legacy-France stack in one .prj: Clarke 1880 IGN, grads,
    // Paris prime meridian (PRIMEM in degrees, the GDAL/ESRI convention),
    // LCC-1SP with a scale factor, and the published NTF→WGS84 shift
    val ntf2 =
      """PROJCS["NTF_Lambert_Zone_II",GEOGCS["GCS_NTF_Paris",DATUM["D_NTF",SPHEROID["Clarke_1880_IGN",6378249.2,293.46602],TOWGS84[-168,-60,320,0,0,0,0]],PRIMEM["Paris",2.337229166666667],UNIT["Grad",0.01570796326794897]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",600000.0],PARAMETER["False_Northing",2200000.0],PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",52.0],PARAMETER["Scale_Factor",0.99987742],PARAMETER["Latitude_Of_Origin",52.0],UNIT["Meter",1.0]]"""
    val code = epsg(ntf2)
    assert(code.startsWith("PARAM:LCC:"), code)
    assert(code.contains("SP1=46.8")) // 52 grads → 46.8°
    assert(code.contains("K0=0.99987742"))
    assert(code.contains("LON0=2.337229166666667")) // 0 grads east of Paris
    assert(code.contains("DX=-168.0"))
    // round-trips through the hub (Helmert both ways)
    val (e, n) = Proj.transform("EPSG:4326", code, 2.3522, 48.8566) // Paris
    val (lon, lat) = Proj.transform(code, "EPSG:4326", e, n)
    assert(math.abs(lon - 2.3522) < 1e-6 && math.abs(lat - 48.8566) < 1e-6)
    // Paris lands where Lambert II puts it (~600.9 km E, ~2428 km N —
    // zone II étendu's well-known city anchor, ±2 km envelope covers the
    // grid-free Helmert accuracy)
    assert(math.abs(e - 601000) < 2000, s"E $e")
    assert(math.abs(n - 2428000) < 2000, s"N $n")
    // a geographic CRS on the Paris meridian fails loudly instead of
    // silently snapping 2.3° west
    val gcsParis =
      """GEOGCS["GCS_NTF_Paris",DATUM["D_NTF",SPHEROID["Clarke_1880_IGN",6378249.2,293.46602]],PRIMEM["Paris",2.337229166666667],UNIT["Grad",0.01570796326794897]]"""
    val err = intercept[IllegalArgumentException](Proj.normalize(gcsParis))
    assert(err.getMessage.toLowerCase.contains("prime"))
  }

  test("CH1903 / LV03 (Swiss Oblique Mercator) instantiates from GDAL WKT") {
    // GDAL spells EPSG 9814 as Hotine azimuth-center with azimuth = 90
    val lv03 =
      """PROJCS["CH1903 / LV03",GEOGCS["CH1903",DATUM["CH1903",SPHEROID["Bessel 1841",6377397.155,299.1528128],TOWGS84[674.374,15.056,405.346,0,0,0,0]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"],PARAMETER["latitude_of_center",46.95240555555556],PARAMETER["longitude_of_center",7.439583333333333],PARAMETER["azimuth",90],PARAMETER["rectified_grid_angle",90],PARAMETER["scale_factor",1],PARAMETER["false_easting",600000],PARAMETER["false_northing",200000],UNIT["metre",1],AUTHORITY["EPSG","21781"]]"""
    val code = epsg(lv03)
    assert(code.startsWith("PARAM:SOMERC:"), code)
    assert(code.contains("DX=674.374"))
    // Zurich HB lands on its well-known LV03 coordinates (~683.2/248.1 km;
    // the envelope covers the grid-free Helmert accuracy)
    val (e, n) = Proj.transform("EPSG:4326", code, 8.540192, 47.378177)
    assert(math.abs(e - 683212) < 1500, s"E $e")
    assert(math.abs(n - 248100) < 1500, s"N $n")
    val (lon, lat) = Proj.transform(code, "EPSG:4326", e, n)
    assert(math.abs(lon - 8.540192) < 1e-6 && math.abs(lat - 47.378177) < 1e-6)
    // LV95 is the same projection on a shifted false origin: coordinates
    // differ by exactly (+2 000 000, +1 000 000)
    val lv95 = lv03
      .replace(""""false_easting",600000""", """"false_easting",2600000""")
      .replace(""""false_northing",200000""", """"false_northing",1200000""")
      .replace("21781", "2056")
    val (e95, n95) = Proj.transform("EPSG:4326", epsg(lv95), 8.540192, 47.378177)
    assert(math.abs((e95 - e) - 2000000.0) < 1e-6)
    assert(math.abs((n95 - n) - 1000000.0) < 1e-6)
    // the emitted .prj WKT round-trips to the same transform
    val wkt2 = WktSrs.toWkt(code).getOrElse(fail("no WKT emitted"))
    val (e2, n2) = Proj.transform("EPSG:4326", Proj.normalize(wkt2), 8.540192, 47.378177)
    assert(math.abs(e2 - e) < 1e-9 && math.abs(n2 - n) < 1e-9)
    // a general (non-90-azimuth) Hotine fails loudly
    val general = lv03.replace(""""azimuth",90""", """"azimuth",53.3""")
    val err = intercept[IllegalArgumentException](Proj.normalize(general))
    assert(err.getMessage.contains("Hotine"))
  }

  test("parameterized codes emit .prj WKT that round-trips") {
    val caV =
      """PROJCS["NAD_1983_StatePlane_California_V_FIPS_0405_Feet",GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],PARAMETER["False_Easting",6561666.666666666],PARAMETER["False_Northing",1640416.666666667],PARAMETER["Central_Meridian",-118.0],PARAMETER["Standard_Parallel_1",34.03333333333333],PARAMETER["Standard_Parallel_2",35.46666666666667],PARAMETER["Latitude_Of_Origin",33.5],UNIT["Foot_US",0.3048006096012192]]"""
    for (code <- Seq(epsg(caV),
      epsg(caV.replaceAll("""UNIT\["Foot_US",0.3048006096012192\]""", """UNIT["Meter",1.0]""")))) {
      val wkt = WktSrs.toWkt(code).getOrElse(fail(s"no WKT for $code"))
      val code2 = Proj.normalize(wkt)
      assert(code2.startsWith("PARAM:LCC:"), code2)
      val (e1, n1) = Proj.transform("EPSG:4326", code, -118.8, 34.3)
      val (e2, n2) = Proj.transform("EPSG:4326", code2, -118.8, 34.3)
      // FE round-trips through a divide-by-unit in the emitted WKT: allow
      // double-formatting noise (nanometres), nothing more
      assert(math.abs(e1 - e2) < 1e-6 && math.abs(n1 - n2) < 1e-6)
    }
  }
}
