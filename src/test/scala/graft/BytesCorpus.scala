package graft

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import graft.sources.{Exif, ExifWrite, Extractors, GeoTiff, Xmp}

/** Golden corpus for the EXIF/XMP/GeoTIFF/JPEG readers: hand-built
  * fixtures in both byte orders, every prefix truncation of each and
  * seeded single-byte flips. `digest` hashes what each public reader
  * returns over one fixture's variants, so a change in any reader's
  * output on any variant changes that fixture's digest. */
object BytesCorpus {
  import ExifFixtures._

  /** The readers under test, each rendered to a stable string (an
    * exception renders as its class name). */
  val readers: Seq[(String, Array[Byte] => String)] = Seq(
    "Exif.fromJpeg" -> (b => Exif.fromJpeg(b).toString),
    "Exif.thumbnail" -> (b => Exif.thumbnail(b).map(hex).toString),
    "Xmp.packetFromJpeg" -> (b => Xmp.packetFromJpeg(b).toString),
    "GeoTiff.sniff" -> (b => GeoTiff.sniff(b).map(m => m.copy(geotransform = None).toString + m.geotransform.map(_.toSeq)).toString),
    "ExifWrite.setGps" -> (b => hex(ExifWrite.setGps(b, 46.84202, -91.99346, 183.25))),
    "Extractors.sniffImage" -> (b => Extractors.sniffImage(b).toString)
  )

  def fixtures: Seq[(String, Array[Byte])] = {
    val exifBe = buildJpegWithExif(buildTiff())
    val bare = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)
    Seq(
      "exif-be" -> exifBe,
      "exif-be-offset-gpsstamp" -> buildJpegWithExif(buildTiff(
        dateTime = "2024:06:15 14:30:00", latRef = "N", lat = (50, 50, 24.0), lonRef = "E", lon = (4, 21, 7.2),
        offsetTime = Some("+02:00"), gpsStamp = Some(("2024:06:15", 12, 29, 58)))),
      "exif-xmp" -> buildJpegWithExifXmp(buildTiff(), Some(xmpPacket())),
      "exif-le-fresh" -> ExifWrite.setGps(bare, 10.5, -20.25, 99.0),
      "exif-be-rewritten" -> ExifWrite.setGps(exifBe, -33.856, 151.215, -12.5),
      "exif-le-thumbnail" -> thumbnailJpeg,
      "geotiff-le-geokeys" -> tiff(little = true, transform = false),
      "geotiff-be-transform" -> tiff(little = false, transform = true),
      "tiff-plain" -> tiff(little = true, transform = false, geo = false)
    )
  }

  /** The fixture itself, every proper prefix and 300 seeded one-byte
    * flips. */
  def variants(f: Array[Byte], seed: Long): Iterator[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val flips = Iterator.fill(300) {
      val c = f.clone()
      val at = rnd.nextInt(c.length)
      c(at) = (c(at) ^ (1 + rnd.nextInt(255))).toByte
      c
    }
    Iterator(f) ++ (0 until f.length).iterator.map(n => f.take(n)) ++ flips
  }

  def render(read: Array[Byte] => String, b: Array[Byte]): String =
    try read(b) catch { case e: Exception => "EXC:" + e.getClass.getSimpleName }

  /** First 16 hex digits of SHA-256 over one reader's rendered outputs
    * on every variant of one fixture. */
  def digest(read: Array[Byte] => String, f: Array[Byte], seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    variants(f, seed).foreach(v => md.update((render(read, v) + "\n").getBytes("UTF-8")))
    hex(md.digest()).take(16)
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** IFD0 (orientation) -> IFD1 (0x0201/0x0202) -> a real JPEG
    * thumbnail, little-endian, spliced after the host's SOI. */
  private def thumbnailJpeg: Array[Byte] = {
    val thumb = graft.raster.Jpeg.encode(16, 12, 1, Array.tabulate(192)(i => (i * 5).toByte), quality = 85)
    val out = ArrayBuffer.empty[Byte]
    def u16(v: Int): Unit = { out += v.toByte; out += (v >> 8).toByte }
    def u32(v: Long): Unit = (0 until 4).foreach(k => out += (v >> (8 * k)).toByte)
    out += 'I'; out += 'I'; u16(42); u32(8)
    u16(1); u16(0x0112); u16(3); u32(1); u32(1)
    u32(26)
    u16(2)
    u16(0x0201); u16(4); u32(1); u32(56)
    u16(0x0202); u16(4); u32(1); u32(thumb.length.toLong)
    u32(0)
    out ++= thumb
    val body = "Exif\u0000\u0000".getBytes("ISO-8859-1") ++ out
    val app1 = Array(0xff.toByte, 0xe1.toByte, ((body.length + 2) >> 8).toByte, (body.length + 2).toByte) ++ body
    val host = graft.raster.Jpeg.encode(32, 32, 1, new Array[Byte](1024), quality = 85)
    host.take(2) ++ app1 ++ host.drop(2)
  }

  /** A classic TIFF in either byte order: width/height/bits/bands, and
    * when `geo` either scale + tiepoint or a full transformation
    * matrix, plus a GeoKeyDirectory naming EPSG:32617. */
  private def tiff(little: Boolean, transform: Boolean, geo: Boolean = true): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    def w16(v: Int): Unit =
      if (little) { out += v.toByte; out += (v >> 8).toByte } else { out += (v >> 8).toByte; out += v.toByte }
    def w32(v: Long): Unit =
      if (little) (0 until 4).foreach(k => out += (v >> (8 * k)).toByte)
      else (3 to 0 by -1).foreach(k => out += (v >> (8 * k)).toByte)
    def f64(v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      if (little) (0 until 8).foreach(k => out += (bits >> (8 * k)).toByte)
      else (7 to 0 by -1).foreach(k => out += (bits >> (8 * k)).toByte)
    }
    def tag(id: Int, tpe: Int, count: Long, value: Long): Unit = { w16(id); w16(tpe); w32(count); w32(value) }
    val n = if (!geo) 4 else if (transform) 6 else 7
    val dataAt = 8 + 2 + n * 12 + 4
    out ++= (if (little) "II" else "MM").getBytes("US-ASCII"); w16(42); w32(8)
    w16(n)
    tag(256, 3, 1, if (little) 640 else 640L << 16)
    tag(257, 4, 1, 480)
    tag(258, 3, 1, if (little) 16 else 16L << 16)
    tag(277, 3, 1, if (little) 3 else 3L << 16)
    val keys = Seq(1, 1, 0, 1, 3072, 0, 1, 32617)
    if (geo && transform) {
      tag(34264, 12, 16, dataAt)
      tag(34735, 3, keys.length, dataAt + 128)
    } else if (geo) {
      tag(33550, 12, 3, dataAt)
      tag(33922, 12, 6, dataAt + 24)
      tag(34735, 3, keys.length, dataAt + 72)
    }
    w32(0)
    if (geo && transform) {
      Seq(0.5, 0.0, 0.0, 500000.0, 0.0, -0.5, 0.0, 5190000.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0).foreach(f64)
      keys.foreach(w16)
    } else if (geo) {
      f64(0.25); f64(0.25); f64(0.0)
      f64(0.0); f64(0.0); f64(0.0); f64(400000.0); f64(5180000.0); f64(0.0)
      keys.foreach(w16)
    }
    out.toArray
  }
}
