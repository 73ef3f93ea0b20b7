package graft.geo

/** Pure geodesy kernels mirrored from the reference's hand-rolled math
  * (cited per function). All deterministic, driver- or executor-side;
  * exposed to DataFrames as UDFs in `GeoFunctions`.
  */
object Geo {

  /** Envelope [w, s, e, n] algebra — the moral equivalent of
    * SpatiaLite's MBR ops (`stac.cpp:629-636`). */
  final case class Env(w: Double, s: Double, e: Double, n: Double) {
    def intersects(o: Env): Boolean = !(e < o.w || w > o.e || n < o.s || s > o.n)
    def union(o: Env): Env =
      Env(math.min(w, o.w), math.min(s, o.s), math.max(e, o.e), math.max(n, o.n))
    def isEmpty: Boolean = w > e || s > n
  }

  /** Haversine distance in meters — ref `raster_profile.cpp:34-44`. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val R = 6371000.0
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
      math.pow(math.sin(dLon / 2), 2)
    2 * R * math.asin(math.sqrt(a))
  }

  /** UTM zone selection — ref `src/include/geo.h:100-111`. */
  def utmZone(lat: Double, lon: Double): Int = {
    // standard zone formula + Norway/Svalbard exceptions
    var zone = ((lon + 180.0) / 6.0).toInt % 60 + 1
    if (lat >= 56.0 && lat < 64.0 && lon >= 3.0 && lon < 12.0) zone = 32
    if (lat >= 72.0 && lat < 84.0) {
      if (lon >= 0.0 && lon < 9.0) zone = 31
      else if (lon >= 9.0 && lon < 21.0) zone = 33
      else if (lon >= 21.0 && lon < 33.0) zone = 35
      else if (lon >= 33.0 && lon < 42.0) zone = 37
    }
    zone
  }

  // WGS84 constants (public geodesy, same model as ref `src/library/geo.cpp`)
  private val A = 6378137.0 // semi-major axis
  private val F = 1.0 / 298.257223563
  private val K0 = 0.9996
  private val E2 = F * (2 - F) // first eccentricity squared
  private val Ep2 = E2 / (1 - E2)

  /** Geodetic → UTM (transverse Mercator series) — ref
    * `src/library/geo.cpp` (toUTM). Returns (easting, northing). */
  def toUTM(lat: Double, lon: Double, zone: Int): (Double, Double) = {
    val latR = math.toRadians(lat)
    val lonR = math.toRadians(lon)
    val lon0 = math.toRadians((zone - 1) * 6 - 180 + 3)
    val n = A / math.sqrt(1 - E2 * math.sin(latR) * math.sin(latR))
    val t = math.tan(latR) * math.tan(latR)
    val c = Ep2 * math.cos(latR) * math.cos(latR)
    val a = math.cos(latR) * (lonR - lon0)
    val m = A * (
      (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256) * latR
        - (3 * E2 / 8 + 3 * E2 * E2 / 32 + 45 * E2 * E2 * E2 / 1024) * math.sin(2 * latR)
        + (15 * E2 * E2 / 256 + 45 * E2 * E2 * E2 / 1024) * math.sin(4 * latR)
        - (35 * E2 * E2 * E2 / 3072) * math.sin(6 * latR)
    )
    val easting = K0 * n * (a + (1 - t + c) * a * a * a / 6
      + (5 - 18 * t + t * t + 72 * c - 58 * Ep2) * math.pow(a, 5) / 120) + 500000.0
    var northing = K0 * (m + n * math.tan(latR) * (a * a / 2
      + (5 - t + 9 * c + 4 * c * c) * math.pow(a, 4) / 24
      + (61 - 58 * t + t * t + 600 * c - 330 * Ep2) * math.pow(a, 6) / 720))
    if (lat < 0) northing += 10000000.0
    (easting, northing)
  }

  /** UTM → geodetic (inverse series) — ref `src/library/geo.cpp`
    * (fromUTM). Returns (lat, lon). */
  def fromUTM(easting: Double, northing: Double, zone: Int, north: Boolean): (Double, Double) = {
    val x = easting - 500000.0
    val y = if (north) northing else northing - 10000000.0
    val lon0 = math.toRadians((zone - 1) * 6 - 180 + 3)
    val m = y / K0
    val mu = m / (A * (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256))
    val e1 = (1 - math.sqrt(1 - E2)) / (1 + math.sqrt(1 - E2))
    val phi1 = mu + (3 * e1 / 2 - 27 * e1 * e1 * e1 / 32) * math.sin(2 * mu) +
      (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
      (151 * e1 * e1 * e1 / 96) * math.sin(6 * mu) +
      (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
    val n1 = A / math.sqrt(1 - E2 * math.sin(phi1) * math.sin(phi1))
    val t1 = math.tan(phi1) * math.tan(phi1)
    val c1 = Ep2 * math.cos(phi1) * math.cos(phi1)
    val r1 = A * (1 - E2) / math.pow(1 - E2 * math.sin(phi1) * math.sin(phi1), 1.5)
    val d = x / (n1 * K0)
    val lat = phi1 - (n1 * math.tan(phi1) / r1) * (d * d / 2
      - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * Ep2) * math.pow(d, 4) / 24
      + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * Ep2 - 3 * c1 * c1) * math.pow(d, 6) / 720)
    val lon = lon0 + (d - (1 + 2 * t1 + c1) * d * d * d / 6
      + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * Ep2 + 24 * t1 * t1) * math.pow(d, 5) / 120) / math.cos(phi1)
    (math.toDegrees(lat), math.toDegrees(lon))
  }

  /** Equirectangular footprint around a georeferenced origin — ref
    * `entry.cpp:684-701` (meters/deg with pole guard `max(0.01, cos)`). */
  def equirectangularRing(lon: Double, lat: Double, radiusMeters: Double): Seq[(Double, Double)] = {
    val metersPerDegLat = 111320.0
    val cosLat = math.max(0.01, math.cos(math.toRadians(lat)))
    val dLat = radiusMeters / metersPerDegLat
    val dLon = radiusMeters / (metersPerDegLat * cosLat)
    Seq(
      (lon - dLon, lat - dLat),
      (lon + dLon, lat - dLat),
      (lon + dLon, lat + dLat),
      (lon - dLon, lat + dLat),
      (lon - dLon, lat - dLat)
    )
  }

  /** Camera footprint — FOV trig with pitch capped to nadir below −30°,
    * yaw rotation, UTM roundtrip — ref `entry.cpp:769-836`. Returns a
    * closed 5-point ring of (lon, lat). */
  def cameraFootprint(
      lon: Double,
      lat: Double,
      relAltitude: Double,
      focalLength: Double,
      sensorWidth: Double,
      sensorHeight: Double,
      yawDeg: Double,
      pitchDeg: Double
  ): Seq[(Double, Double)] = {
    if (relAltitude <= 0 || focalLength <= 0 || sensorWidth <= 0 || sensorHeight <= 0) Seq.empty
    else {
      // pitch below -30° treated as nadir, like the reference
      val pitch = if (pitchDeg > -90 && pitchDeg < -30) -90.0 else pitchDeg
      val fovX = 2 * math.atan2(sensorWidth / 2, focalLength)
      val fovY = 2 * math.atan2(sensorHeight / 2, focalLength)
      val halfX = relAltitude * math.tan(fovX / 2)
      val halfY = relAltitude * math.tan(fovY / 2)
      // forward offset when not nadir
      val tilt = math.toRadians(90 + pitch) // 0 at nadir
      val offset = relAltitude * math.tan(tilt)
      val zone = utmZone(lat, lon)
      val (cx, cy) = toUTM(lat, lon, zone)
      val yaw = math.toRadians(yawDeg)
      val corners = Seq((-halfX, -halfY), (halfX, -halfY), (halfX, halfY), (-halfX, halfY))
      val ring = corners.map { case (dx, dy0) =>
        val dy = dy0 + offset
        // rotate by yaw (clockwise from north)
        val rx = dx * math.cos(yaw) - dy * math.sin(yaw)
        val ry = dx * math.sin(yaw) + dy * math.cos(yaw)
        val (plat, plon) = fromUTM(cx + rx, cy + ry, zone, lat >= 0)
        (plon, plat)
      }
      ring :+ ring.head
    }
  }

  /** Affine geotransform pixel→geo — ref `entry.cpp:753-767`,
    * `raster_analysis.cpp:249-258`. gt = 6 GDAL-style coefficients. */
  def pixelToGeo(gt: Array[Double], px: Double, py: Double): (Double, Double) =
    (gt(0) + gt(1) * px + gt(2) * py, gt(3) + gt(4) * px + gt(5) * py)

  /** Inverse affine geo→pixel (assumes no rotation terms, like the
    * reference's usage on north-up rasters). */
  def geoToPixel(gt: Array[Double], gx: Double, gy: Double): (Double, Double) =
    ((gx - gt(0)) / gt(1), (gy - gt(3)) / gt(5))
}

/** Web-mercator tile math — ref `tiler.cpp:134-221`. */
object Mercator {
  private val OriginShift = 2 * math.Pi * 6378137.0 / 2.0
  val TileSize = 256

  /** meters/pixel at zoom z — `tiler.cpp:139-144`. */
  def resolution(z: Int): Double = (2 * math.Pi * 6378137.0 / TileSize) / (1 << z)

  def latLonToMeters(lat: Double, lon: Double): (Double, Double) = {
    val mx = lon * OriginShift / 180.0
    val my0 = math.log(math.tan((90 + lat) * math.Pi / 360.0)) / (math.Pi / 180.0)
    (mx, my0 * OriginShift / 180.0)
  }

  def metersToLatLon(mx: Double, my: Double): (Double, Double) = {
    val lon = (mx / OriginShift) * 180.0
    val lat0 = (my / OriginShift) * 180.0
    val lat = 180.0 / math.Pi * (2 * math.atan(math.exp(lat0 * math.Pi / 180.0)) - math.Pi / 2.0)
    (lat, lon)
  }

  def metersToPixels(mx: Double, my: Double, z: Int): (Double, Double) = {
    val res = resolution(z)
    ((mx + OriginShift) / res, (my + OriginShift) / res)
  }

  def pixelsToTile(px: Double, py: Double): (Int, Int) =
    (math.max(0, math.ceil(px / TileSize).toInt - 1), math.max(0, math.ceil(py / TileSize).toInt - 1))

  /** TMS↔XYZ y flip — `tiler.cpp:219-221`. */
  def tmsToXYZ(ty: Int, z: Int): Int = (1 << z) - 1 - ty

  def latLonToTile(lat: Double, lon: Double, z: Int): (Int, Int) = {
    val (mx, my) = latLonToMeters(lat, lon)
    val (px, py) = metersToPixels(mx, my, z)
    pixelsToTile(px, py)
  }

  /** MVT max-zoom budget heuristic — ref `src/library/mvt.cpp:12-56`:
    * z = ⌊½·log2(budget·64800/areaDeg2)⌋ clamped to [minCap, maxCap];
    * near-global extents forced to the min cap. */
  def mvtMaxZoom(areaDeg2: Double, budget: Double = 4096.0, minCap: Int = 0, maxCap: Int = 14): Int = {
    if (areaDeg2 <= 0) return maxCap
    val worldArea = 64800.0 // 360 * 180
    if (areaDeg2 >= worldArea * 0.9) return minCap
    val z = math.floor(0.5 * (math.log(budget * worldArea / areaDeg2) / math.log(2.0))).toInt
    math.max(minCap, math.min(maxCap, z))
  }
}
