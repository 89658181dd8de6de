package graft.geom

/** EPSG:4326 (WGS84) ↔ EPSG:27700 (British National Grid) coordinate
  * math — the reference's `to_crs(27700)` reprojection
  * (wrf_voronoi.py:188), implemented from the published Ordnance Survey
  * formulas ("A guide to coordinate systems in Great Britain", Annexe C):
  * WGS84 geodetic → cartesian → 7-parameter Helmert → Airy 1830
  * geodetic → transverse Mercator (and the exact inverse chain).
  *
  * Accuracy: the standard single Helmert transformation (~±5 m vs the
  * OSTN grid shift — the same class of accuracy GeoPandas' proj gives
  * without grid files); the round trip converges to sub-millimeter.
  */
object Osgb {

  // WGS84 ellipsoid
  private val aW = 6378137.0
  private val e2W = { val f = 1.0 / 298.257223563; f * (2.0 - f) }
  // Airy 1830 ellipsoid
  private val aA = 6377563.396
  private val bA = 6356256.909
  private val e2A = (aA * aA - bA * bA) / (aA * aA)
  // National Grid transverse Mercator parameters
  private val F0 = 0.9996012717
  private val lat0 = math.toRadians(49.0)
  private val lon0 = math.toRadians(-2.0)
  private val E0 = 400000.0
  private val N0 = -100000.0
  // Helmert WGS84 → OSGB36 (tx ty tz metres, rx ry rz arcsec, s ppm)
  private val tX = -446.448
  private val tY = 125.157
  private val tZ = -542.060
  private val rX = arcsec(-0.1502)
  private val rY = arcsec(-0.2470)
  private val rZ = arcsec(-0.8421)
  private val sP = 20.4894e-6

  private def arcsec(v: Double): Double = math.toRadians(v / 3600.0)

  /** Geodetic (radians) → geocentric cartesian at h=0. */
  private def toCartesian(lat: Double, lon: Double, a: Double, e2: Double) = {
    val nu = a / math.sqrt(1.0 - e2 * math.sin(lat) * math.sin(lat))
    (nu * math.cos(lat) * math.cos(lon),
      nu * math.cos(lat) * math.sin(lon),
      nu * (1.0 - e2) * math.sin(lat))
  }

  /** Geocentric cartesian → geodetic (radians), iterative. */
  private def toGeodetic(x: Double, y: Double, z: Double, a: Double, e2: Double) = {
    val lon = math.atan2(y, x)
    val p = math.hypot(x, y)
    var lat = math.atan2(z, p * (1.0 - e2))
    var prev = 0.0
    var i = 0
    while (math.abs(lat - prev) > 1e-14 && i < 20) {
      prev = lat
      val nu = a / math.sqrt(1.0 - e2 * math.sin(lat) * math.sin(lat))
      lat = math.atan2(z + e2 * nu * math.sin(lat), p)
      i += 1
    }
    (lat, lon)
  }

  /** 7-parameter Helmert (small-angle form); `dir` = +1 forward
    * (WGS84→OSGB36), -1 approximate inverse. */
  private def helmert(x: Double, y: Double, z: Double, dir: Int) = {
    val (tx, ty, tz) = (dir * tX, dir * tY, dir * tZ)
    val (rx, ry, rz) = (dir * rX, dir * rY, dir * rZ)
    val s1 = 1.0 + dir * sP
    (tx + s1 * x - rz * y + ry * z,
      ty + rz * x + s1 * y - rx * z,
      tz - ry * x + rx * y + s1 * z)
  }

  /** The National Grid's transverse Mercator on Airy 1830 (OS guide
    * eqs. C3-C9). */
  private val tm = Crs.Tm(aA, bA, F0, lat0, lon0, E0, N0)

  /** Transverse Mercator forward: Airy 1830 geodetic (radians) → (E, N).
    * Public so the worked-example test can hit the projection step in
    * isolation. */
  def tmForward(lat: Double, lon: Double): (Double, Double) = tm.forward(lat, lon)

  /** Transverse Mercator inverse: (E, N) → Airy 1830 geodetic (radians). */
  def tmInverse(e: Double, n: Double): (Double, Double) = tm.inverse(e, n)

  /** WGS84 (lat, lon degrees) → OSGB36 National Grid (E, N metres). */
  def wgs84ToOsgb(latDeg: Double, lonDeg: Double): (Double, Double) = {
    val (x, y, z) = toCartesian(math.toRadians(latDeg), math.toRadians(lonDeg), aW, e2W)
    val (x2, y2, z2) = helmert(x, y, z, 1)
    val (latA, lonA) = toGeodetic(x2, y2, z2, aA, e2A)
    tmForward(latA, lonA)
  }

  /** OSGB36 National Grid (E, N metres) → WGS84 (lat, lon degrees). */
  def osgbToWgs84(e: Double, n: Double): (Double, Double) = {
    val (latA, lonA) = tmInverse(e, n)
    val (x, y, z) = toCartesian(latA, lonA, aA, e2A)
    val (x2, y2, z2) = helmert(x, y, z, -1)
    val (lat, lon) = toGeodetic(x2, y2, z2, aW, e2W)
    (math.toDegrees(lat), math.toDegrees(lon))
  }
}
