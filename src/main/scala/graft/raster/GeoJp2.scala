package graft.raster

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{be32u, putBe32, putLe16, putLe32, putLeF64}

/** GeoJP2 — georeferenced JPEG 2000 (the GeoTIFF-in-JP2 convention
  * drone orthomosaics use; the reference reads these through GDAL's
  * GeoRaster path, `entry.cpp:282-452`). The geo-referencing rides in
  * a UUID box whose payload is a DEGENERATE GeoTIFF: a valid 1×1-strip
  * TIFF that carries only the dimensions + ModelPixelScale +
  * ModelTiepoint + GeoKeyDirectory tags. Writing emits that box
  * before `jp2c`; reading hands the payload to the existing
  * `sources/GeoTiff.sniff`, so the georeferencing/footprint math is
  * shared with the TIFF path rather than duplicated.
  */
object GeoJp2 {

  /** The GeoTIFF-box UUID (b14bf8bd-083d-4b43-a5ae-8cd7d5a6ce03). */
  val Uuid: Array[Byte] = Array(
    0xB1, 0x4B, 0xF8, 0xBD, 0x08, 0x3D, 0x4B, 0x43,
    0xA5, 0xAE, 0x8C, 0xD7, 0xD5, 0xA6, 0xCE, 0x03).map(_.toByte)

  /** Minimal little-endian GeoTIFF carrying georeferencing for a
    * width×height raster. `gt` is the GDAL geotransform (axis-aligned:
    * gt2 = gt4 = 0, north-up gt5 < 0). */
  def degenerateGeoTiff(width: Int, height: Int, gt: Array[Double], epsg: Option[Int]): Array[Byte] = {
    require(gt.length == 6, "geojp2: geotransform needs 6 values")
    require(gt(2) == 0.0 && gt(4) == 0.0, "geojp2: rotated geotransforms need ModelTransformation (unsupported)")
    require(gt(5) < 0.0, "geojp2: north-up rasters only (gt5 < 0)")
    val geographic = epsg.exists(e => e == 4326 || (e >= 4000 && e < 5000))
    val keys: Seq[(Int, Int)] = Seq(
      1024 -> (if (geographic) 2 else 1), // GTModelType
      1025 -> 1 // GTRasterType: PixelIsArea
    ) ++ epsg.map(e => (if (geographic) 2048 else 3072) -> e)
    val nKeys = keys.length
    val nTags = 9
    val ifdAt = 8
    val dataAt = ifdAt + 2 + nTags * 12 + 4
    val scaleAt = dataAt
    val tieAt = scaleAt + 24
    val geoAt = tieAt + 48

    val out = new ArrayBuffer[Byte](geoAt + 8 * (1 + nKeys))
    def tag(id: Int, tpe: Int, count: Long, value: Long): Unit = {
      putLe16(out, id); putLe16(out, tpe); putLe32(out, count); putLe32(out, value)
    }

    out += 'I'; out += 'I'; putLe16(out, 42); putLe32(out, ifdAt.toLong)
    putLe16(out, nTags)
    tag(256, 4, 1, width.toLong)
    tag(257, 4, 1, height.toLong)
    tag(258, 3, 1, 8)
    tag(259, 3, 1, 1) // uncompressed
    tag(262, 3, 1, 1) // BlackIsZero
    tag(277, 3, 1, 1)
    tag(33550, 12, 3, scaleAt.toLong)
    tag(33922, 12, 6, tieAt.toLong)
    tag(34735, 3, 4L * (1 + nKeys), geoAt.toLong)
    putLe32(out, 0) // next IFD
    Seq(gt(1), -gt(5), 0.0).foreach(putLeF64(out, _)) // ModelPixelScale
    Seq(0.0, 0.0, 0.0, gt(0), gt(3), 0.0).foreach(putLeF64(out, _)) // ModelTiepoint
    putLe16(out, 1); putLe16(out, 1); putLe16(out, 0); putLe16(out, nKeys)
    keys.foreach { case (id, v) => Seq(id, 0, 1, v).foreach(putLe16(out, _)) }
    out.toArray
  }

  /** Encode a georeferenced JP2: the standard box file with the
    * GeoTIFF UUID box spliced in before `jp2c`. */
  def encode(width: Int, height: Int, depth: Int, comps: Array[Array[Int]],
             gt: Array[Double], epsg: Option[Int], levels: Int = 3): Array[Byte] = {
    val jp2 = Jp2.encodeJp2(width, height, depth, comps, levels)
    val payload = degenerateGeoTiff(width, height, gt, epsg)
    val uuidBox = new ArrayBuffer[Byte](24 + payload.length)
    val len = 8 + Uuid.length + payload.length
    putBe32(uuidBox, len)
    uuidBox ++= "uuid".getBytes("US-ASCII")
    uuidBox ++= Uuid
    uuidBox ++= payload
    // splice before the jp2c box
    val at = boxOffset(jp2, "jp2c").getOrElse(throw new IllegalStateException("geojp2: no jp2c"))
    jp2.take(at) ++ uuidBox ++ jp2.drop(at)
  }

  private def boxOffset(bytes: Array[Byte], boxType: String): Option[Int] = {
    var pos = 0
    while (pos + 8 <= bytes.length) {
      val len = be32u(bytes, pos)
      val typ = new String(bytes, pos + 4, 4, "ISO-8859-1")
      if (typ == boxType) return Some(pos)
      if (len < 8) return None
      pos += len.toInt
    }
    None
  }

  /** Pull the GeoTIFF payload out of a JP2's UUID boxes and sniff it
    * with the shared GeoTiff machinery. None when not a JP2, no
    * GeoJP2 box, or an unparseable payload. */
  def geoMeta(bytes: Array[Byte]): Option[graft.sources.GeoTiff.TiffMeta] = {
    if (!Jp2.isJp2(bytes)) return None
    try {
      var pos = 0
      while (pos + 8 <= bytes.length) {
        val len = be32u(bytes, pos)
        val typ = new String(bytes, pos + 4, 4, "ISO-8859-1")
        if (typ == "uuid" && len >= 24 && pos + len <= bytes.length) {
          val isGeo = (0 until 16).forall(i => bytes(pos + 8 + i) == Uuid(i))
          if (isGeo)
            return graft.sources.GeoTiff.sniff(
              java.util.Arrays.copyOfRange(bytes, pos + 24, (pos + len).toInt))
        }
        if (len < 8) return None
        pos += len.toInt
      }
      None
    } catch { case _: Exception => None }
  }
}
