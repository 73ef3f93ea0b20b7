package graft.sources

/** Pure-JVM TIFF/GeoTIFF header reader — the dispatch core of the
  * reference's raster handling (`entry.cpp:1045-1062`: a `.tif` is
  * GeoRaster only when georeferencing is present; `entry.cpp:282-452`:
  * width/height/geotransform/footprint extraction).
  *
  * Reads IFD0 tags: ImageWidth(256), ImageLength(257),
  * BitsPerSample(258), SamplesPerPixel(277), ModelPixelScale(33550),
  * ModelTiepoint(33922), ModelTransformation(34264),
  * GeoKeyDirectory(34735). Georeferenced = scale+tiepoint or a full
  * transformation matrix. The geotransform is GDAL-ordered.
  */
object GeoTiff {

  final case class TiffMeta(
      width: Int,
      height: Int,
      bands: Int,
      bitsPerSample: Int,
      georeferenced: Boolean,
      geotransform: Option[Array[Double]], // GDAL gt0..gt5
      epsg: Option[Int] = None // ProjectedCSType/GeographicType geokey
  ) {
    /** 4-corner footprint ring + center as WGS84 (lon, lat) — ref
      * `entry.cpp:368-389` reprojects from the raster's CRS. When the
      * geokeys name a projected CRS we know (`Crs.forEpsg`: UTM grid,
      * NZTM2000, Belgian Lambert 72), corners unproject through its
      * inverse; geographic/unknown CRSs pass through untransformed. */
    def footprint: Option[(Seq[(Double, Double)], (Double, Double))] =
      geotransform.map { gt =>
        val proj = epsg.flatMap(graft.geo.Crs.forEpsg)
        def pt(px: Double, py: Double): (Double, Double) = {
          val (gx, gy) = (gt(0) + gt(1) * px + gt(2) * py, gt(3) + gt(4) * px + gt(5) * py)
          proj match {
            case Some(p) => val (lat, lon) = p.inverse(gx, gy); (lon, lat)
            case None => (gx, gy)
          }
        }
        val ring = Seq(pt(0, 0), pt(width, 0), pt(width, height), pt(0, height), pt(0, 0))
        (ring, pt(width / 2.0, height / 2.0))
      }
  }

  def sniff(b: Array[Byte]): Option[TiffMeta] = {
    if (b == null || b.length < 16) return None
    try {
      val end = b.length
      val t = Tiff.open(b, 0, end).filter(_.u16(2) == 42).getOrElse(return None)
      import t.{f64, u16}
      var width = 0; var height = 0; var bands = 1; var bps = 8
      var scale: Option[(Double, Double)] = None
      var tiepoint: Option[(Double, Double, Double, Double)] = None
      var transform: Option[Array[Double]] = None
      var hasGeoKeys = false
      var geoKeysAt = -1; var geoKeyCount = 0L

      t.entries(t.ifd0.toInt, 512).foreach { e =>
        def valueAt: Int = t.valueAt(e)
        def intVal: Int = t.scalar(e).toInt
        e.id match {
          case 256 => width = intVal
          case 257 => height = intVal
          case 258 => bps = if (e.tpe == 3) u16(valueAt) else intVal
          case 277 => bands = intVal
          case 33550 if e.count >= 2 =>
            val v = valueAt; scale = Some((f64(v), f64(v + 8)))
          case 33922 if e.count >= 6 =>
            val v = valueAt
            // tiepoint: (i, j, k, x, y, z) — pixel (i,j) maps to geo (x,y)
            tiepoint = Some((f64(v), f64(v + 8), f64(v + 24), f64(v + 32)))
          case 34264 if e.count >= 16 =>
            val v = valueAt
            transform = Some(Array(f64(v + 24), f64(v), f64(v + 8), f64(v + 56), f64(v + 32), f64(v + 40)))
          case 34735 => hasGeoKeys = true; geoKeysAt = valueAt; geoKeyCount = e.count
          case _ => ()
        }
      }

      val gt = transform.orElse {
        for ((sx, sy) <- scale; (pi, pj, gx, gy) <- tiepoint) yield
          // GDAL: origin = tiepoint geo minus pixel offset times scale; y scale negative (north-up)
          Array(gx - pi * sx, sx, 0.0, gy + pj * sy, 0.0, -sy)
      }
      val geo = gt.isDefined || hasGeoKeys
      // GeoKeyDirectory: 4-short header (version, rev, minor, numKeys)
      // then (keyId, tagLocation, count, value) entries. EPSG code =
      // ProjectedCSTypeGeoKey 3072 (preferred) or GeographicTypeGeoKey
      // 2048, inline (tagLocation 0) only.
      var epsg: Option[Int] = None
      if (geoKeysAt > 0 && geoKeysAt + 8 <= end && geoKeyCount >= 4) {
        val numKeys = u16(geoKeysAt + 6)
        var k = 0
        while (k < math.min(numKeys, 64)) {
          val at = geoKeysAt + 8 + k * 8
          if (at + 8 <= end) {
            val keyId = u16(at); val loc = u16(at + 2); val v = u16(at + 6)
            if (loc == 0 && keyId == 3072 && v > 0 && v != 32767) epsg = Some(v)
            if (loc == 0 && keyId == 2048 && epsg.isEmpty && v > 0 && v != 32767) epsg = Some(v)
          }
          k += 1
        }
      }
      if (width <= 0 || height <= 0) None
      else Some(TiffMeta(width, height, bands, bps, geo, gt, epsg))
    } catch { case _: Exception => None }
  }

  /** Properties JSON in the reference's GeoRaster shape
    * (`entry.cpp:282-452`): width/height/bands + geotransform. */
  def properties(m: TiffMeta): String = {
    val gt = m.geotransform
      .map(g => s""","geotransform":[${g.mkString(",")}]""")
      .getOrElse("")
    val ep = m.epsg.map(c => s""","epsg":$c""").getOrElse("")
    s"""{"width":${m.width},"height":${m.height},"bands":${m.bands},"bitsPerSample":${m.bitsPerSample}$gt$ep}"""
  }
}
