package graft.sources

/** Minimal pure-JVM EXIF reader — the subset of Exiv2 the reference
  * leans on (`src/library/exif.cpp`): capture time via the reference's
  * priority cascade (GPS stamp → OffsetTime → geo-timezone → naive
  * UTC; `exif.cpp:505-655`, zone lookup in `Timezone`), GPS
  * lat/lon/alt, orientation, make/model, focal length. Walks the JPEG
  * APP1 segment's embedded TIFF structure; both byte orders;
  * bounds-checked throughout (corrupt files return None fields, never
  * throw).
  *
  * GeoImage upgrade rule mirrors `entry.cpp:1088-1099`: an image with
  * a GPS fix becomes GeoImage/GeoPanorama.
  */
object Exif {

  final case class ExifData(
      captureTimeMs: Option[Long],
      lat: Option[Double],
      lon: Option[Double],
      altitude: Option[Double],
      orientation: Option[Int],
      make: Option[String],
      model: Option[String],
      focalLength: Option[Double],
      // GPS speed / direction / accuracy tags (exif.cpp:710-830)
      gpsSpeed: Option[Double] = None, // raw value in gpsSpeedRef units
      gpsSpeedRef: Option[String] = None, // K / M / N
      gpsImgDirection: Option[Double] = None,
      gpsImgDirectionRef: Option[String] = None, // T / M
      gpsTrack: Option[Double] = None,
      gpsTrackRef: Option[String] = None,
      gpsDop: Option[Double] = None,
      gpsHPositioningError: Option[Double] = None,
      // sensor-size cascade inputs (exif.cpp:195-232 extractSensorSize)
      focalLength35: Option[Double] = None, // FocalLengthIn35mmFilm
      focalPlaneResolutionUnit: Option[Int] = None,
      focalPlaneXResolution: Option[Double] = None,
      focalPlaneYResolution: Option[Double] = None
  )

  val empty: ExifData = ExifData(None, None, None, None, None, None, None, None)

  /** The embedded IFD1 thumbnail JPEG, if the APP1 block carries one
    * (JPEGInterchangeFormat 0x0201 + length 0x0202) — drones write
    * these, and serving them skips decoding the main image entirely
    * (the at-scale thumbnail fast path). None when absent/corrupt. */
  def thumbnail(bytes: Array[Byte]): Option[Array[Byte]] = {
    try {
      val (off, end) = locateApp1(bytes).getOrElse(return None)
      val t = Tiff.open(bytes, off, end).getOrElse(return None)
      val ifd1 = t.next(t.ifd0)
      if (ifd1 <= 0) return None
      var jif = -1L
      var jifLen = -1L
      t.entries(ifd1, 256).foreach { e =>
        if (e.id == 0x0201) jif = t.scalar(e)
        if (e.id == 0x0202) jifLen = t.scalar(e)
      }
      if (jif <= 0 || jifLen <= 0) return None
      val at = off + jif.toInt
      if (at + jifLen.toInt > end || jifLen > Int.MaxValue) return None
      val out = java.util.Arrays.copyOfRange(bytes, at, at + jifLen.toInt)
      // must be a JPEG stream (SOI)
      if (out.length >= 2 && (out(0) & 0xff) == 0xff && (out(1) & 0xff) == 0xd8) Some(out) else None
    } catch { case _: Exception => None }
  }

  /** Index of the APP1 "Exif\0\0" segment's marker, or -1. */
  private[sources] def app1At(bytes: Array[Byte]): Int =
    Bytes.jpegSegment(bytes) { (marker, i) =>
      marker == 0xe1 && i + 10 <= bytes.length &&
      bytes(i + 4) == 'E' && bytes(i + 5) == 'x' && bytes(i + 6) == 'i' &&
      bytes(i + 7) == 'f' && bytes(i + 8) == 0 && bytes(i + 9) == 0
    }

  /** (tiffStart, tiffEnd) of the APP1 Exif block, if present. */
  private def locateApp1(bytes: Array[Byte]): Option[(Int, Int)] = {
    val i = app1At(bytes)
    if (i < 0) None else Some((i + 10, math.min(bytes.length, i + 2 + Bytes.be16(bytes, i + 2))))
  }

  /** Extract from JPEG bytes: find APP1 "Exif\0\0", parse the TIFF. */
  def fromJpeg(bytes: Array[Byte]): ExifData =
    locateApp1(bytes).map { case (off, end) => fromTiff(bytes, off, end) }.getOrElse(empty)

  /** Parse a TIFF (EXIF) block in bytes[off, end). */
  def fromTiff(b: Array[Byte], off: Int, end: Int): ExifData = {
    try {
      val tiff = Tiff.open(b, off, end).getOrElse(return empty)
      import tiff.{u16, u32}
      type Tag = Tiff.Entry
      def readIfd(ifdOff: Long): Seq[Tag] = tiff.entries(ifdOff, 256)

      def ascii(t: Tag): Option[String] = {
        val base = tiff.valueAt(t)
        val n = t.count.toInt
        if (base + n > end || n <= 0) None
        else Some(new String(b, base, n, "US-ASCII").takeWhile(_ != 0.toChar).trim).filter(_.nonEmpty)
      }

      def shortVal(t: Tag): Option[Int] =
        if (t.tpe == 3) Some(u16(t.at)) else None

      def rational(t: Tag, idx: Int = 0): Option[Double] = {
        val base = tiff.valueAt(t) + idx * 8
        if (base + 8 > end) None
        else {
          val num = u32(base); val den = u32(base + 4)
          if (den == 0) None else Some(num.toDouble / den.toDouble)
        }
      }

      val ifd0 = readIfd(tiff.ifd0)
      def find(tags: Seq[Tag], id: Int): Option[Tag] = tags.find(_.id == id)

      val exifIfd = find(ifd0, 0x8769).map(t => readIfd(u32(t.at))).getOrElse(Seq.empty)
      val gpsIfd = find(ifd0, 0x8825).map(t => readIfd(u32(t.at))).getOrElse(Seq.empty)

      def dms(t: Tag): Option[Double] =
        for { d <- rational(t, 0); m <- rational(t, 1); s <- rational(t, 2) } yield d + m / 60 + s / 3600

      val latRaw = find(gpsIfd, 0x0002).flatMap(dms)
      val latRef = find(gpsIfd, 0x0001).flatMap(ascii)
      val lonRaw = find(gpsIfd, 0x0004).flatMap(dms)
      val lonRef = find(gpsIfd, 0x0003).flatMap(ascii)
      val alt = find(gpsIfd, 0x0006).flatMap(rational(_, 0)).map { a =>
        if (find(gpsIfd, 0x0005).exists(t => u16(t.at) == 1 || (b(t.at) & 0xff) == 1)) -a else a
      }
      val lat = latRaw.map(v => if (latRef.contains("S")) -v else v)
      val lon = lonRaw.map(v => if (lonRef.contains("W")) -v else v)

      // Capture time — the reference's priority cascade
      // (`exif.cpp:505-655`, OpenSfM-inspired):
      //   1. GPS DateStamp+TimeStamp — always UTC, most accurate
      //   2. DateTime + OffsetTime — explicit offset, UTC = local − offset
      //   3. DateTime + geo-timezone lookup (lat/lon → zone)
      //   4. DateTime naive — assume UTC
      def parseLocal(s0: String): Option[java.time.LocalDateTime] =
        try {
          val p = s0.split("[: ]").map(_.toInt) // y m d h mi s
          if (p.length < 6) None
          else Some(java.time.LocalDateTime.of(p(0), p(1), p(2), p(3), p(4), p(5)))
        } catch { case _: Exception => None }

      // 1. GPSDateStamp "YYYY:MM:DD" + GPSTimeStamp (3 rationals, UTC)
      val gpsMs = for {
        ds <- find(gpsIfd, 0x001d).flatMap(ascii)
        ts <- find(gpsIfd, 0x0007)
        h <- rational(ts, 0); m <- rational(ts, 1); sec <- rational(ts, 2)
        d <- parseLocal(s"$ds ${h.toInt}:${m.toInt}:${sec.toInt}")
      } yield d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L + math.round((sec - sec.toInt) * 1000)

      val dateStr = find(exifIfd, 0x9003).flatMap(ascii).orElse(find(ifd0, 0x0132).flatMap(ascii))
      val local = dateStr.flatMap(parseLocal)

      // 2. OffsetTimeOriginal (0x9011) / OffsetTime (0x9010): "±HH:MM"
      val offsetSecs: Option[Int] =
        find(exifIfd, 0x9011).flatMap(ascii).orElse(find(exifIfd, 0x9010).flatMap(ascii)).flatMap { o =>
          "^([+-])(\\d{2}):(\\d{2})$".r.findFirstMatchIn(o.trim).map { m =>
            val sgn = if (m.group(1) == "-") -1 else 1
            sgn * (m.group(2).toInt * 3600 + m.group(3).toInt * 60)
          }
        }

      val captureMs: Option[Long] = gpsMs.orElse(local.map { d =>
        offsetSecs match {
          case Some(off) => d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L - off * 1000L
          case None =>
            (lat, lon) match {
              case (Some(la), Some(lo)) => Timezone.toUtcEpochMs(d, la, lo)
              case _ => d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L
            }
        }
      })

      ExifData(
        captureTimeMs = captureMs,
        lat = lat,
        lon = lon,
        altitude = alt,
        orientation = find(ifd0, 0x0112).flatMap(shortVal),
        make = find(ifd0, 0x010f).flatMap(ascii),
        model = find(ifd0, 0x0110).flatMap(ascii),
        focalLength = find(exifIfd, 0x920a).flatMap(rational(_, 0)),
        gpsSpeed = find(gpsIfd, 0x000d).flatMap(rational(_, 0)),
        gpsSpeedRef = find(gpsIfd, 0x000c).flatMap(ascii),
        gpsImgDirection = find(gpsIfd, 0x0011).flatMap(rational(_, 0)),
        gpsImgDirectionRef = find(gpsIfd, 0x0010).flatMap(ascii),
        gpsTrack = find(gpsIfd, 0x000f).flatMap(rational(_, 0)),
        gpsTrackRef = find(gpsIfd, 0x000e).flatMap(ascii),
        gpsDop = find(gpsIfd, 0x000b).flatMap(rational(_, 0)),
        gpsHPositioningError = find(gpsIfd, 0x001f).flatMap(rational(_, 0)),
        focalLength35 = find(exifIfd, 0xa405).flatMap(shortVal).map(_.toDouble),
        focalPlaneResolutionUnit = find(exifIfd, 0xa210).flatMap(shortVal),
        focalPlaneXResolution = find(exifIfd, 0xa20e).flatMap(rational(_, 0)),
        focalPlaneYResolution = find(exifIfd, 0xa20f).flatMap(rational(_, 0))
      )
    } catch { case _: Exception => empty }
  }
}
