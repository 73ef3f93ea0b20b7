package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXIF GPS write-back — the mutation half of the EXIF surface
  * (ref `exifeditor.cpp:58-120` does this through Exiv2; here the
  * APP1/TIFF structure is rewritten directly, no image decode).
  *
  * Semantics mirror the reference exactly:
  *  - latitude/longitude as three RATIONALs `deg/1 min/1
  *    round(sec·10⁴)/10⁴` with N/S / E/W refs from the sign
  *    (`exifeditor.cpp doubleToDMS`);
  *  - altitude as `trunc(|alt|·10³)/10³` with AltitudeRef 1 for below
  *    sea level (`doubleToFraction(alt, 3)`).
  *
  * The writer re-serializes the TIFF block (source byte order kept,
  * IFD0 + Exif sub-IFD tags preserved raw, GPS IFD replaced
  * wholesale, thumbnail IFD1 dropped) and splices the new APP1 into
  * the JPEG segment stream; a JPEG with no EXIF gets a fresh
  * little-endian block. Round-trip is verified by this engine's own
  * reader ([[Exif]]) in ExifWriteSpec.
  */
object ExifWrite {

  private final case class RawTag(id: Int, tpe: Int, count: Long, value: Array[Byte])

  private val ExifPointer = 0x8769
  private val GpsPointer = 0x8825
  private val InteropPointer = 0xa005

  /** Set the GPS block on a JPEG's EXIF (creating the EXIF if absent)
    * — `ExifEditor::SetGPS`. */
  def setGps(jpeg: Array[Byte], lat: Double, lon: Double, alt: Double): Array[Byte] = {
    val (little, ifd0, exifTags) = parseTiffRaw(jpeg).getOrElse((true, Seq.empty[RawTag], Seq.empty[RawTag]))
    val tiff = serializeTiff(little, ifd0, exifTags, gpsTags(lat, lon, alt, little))
    spliceApp1(jpeg, tiff)
  }

  // ---- GPS tag construction (exifeditor.cpp:58-120 semantics) ---------

  private def dmsRationals(d0: Double): Seq[(Long, Long)] = {
    var d = math.abs(d0)
    val deg = d.toInt; d -= deg; d *= 60
    val min = d.toInt; d -= min
    val sec = math.round(d * 60 * 10000.0)
    Seq((deg.toLong, 1L), (min.toLong, 1L), (sec, 10000L))
  }

  private def gpsTags(lat: Double, lon: Double, alt: Double, little: Boolean): Seq[RawTag] = {
    def rat(rs: Seq[(Long, Long)]): Array[Byte] = {
      val out = new ArrayBuffer[Byte](rs.length * 8)
      rs.foreach { case (n, d) => Bytes.put32(out, n, little); Bytes.put32(out, d, little) }
      out.toArray
    }
    Seq(
      RawTag(0x0000, 1, 4, Array[Byte](2, 3, 0, 0)),
      RawTag(0x0001, 2, 2, ((if (lat >= 0) "N" else "S") + "\u0000").getBytes("US-ASCII")),
      RawTag(0x0002, 5, 3, rat(dmsRationals(lat))),
      RawTag(0x0003, 2, 2, ((if (lon >= 0) "E" else "W") + "\u0000").getBytes("US-ASCII")),
      RawTag(0x0004, 5, 3, rat(dmsRationals(lon))),
      RawTag(0x0005, 1, 1, Array[Byte](if (alt < 0) 1 else 0)),
      RawTag(0x0006, 5, 1, rat(Seq(((math.abs(alt) * 1000).toLong, 1000L))))
    )
  }

  // ---- raw TIFF parse (preserve-everything tag lists) -------------------

  /** Returns (littleEndian, ifd0 tags, exif sub-IFD tags) with pointer
    * and GPS tags stripped (they are rebuilt), values resolved to raw
    * bytes in source order. */
  private def parseTiffRaw(jpeg: Array[Byte]): Option[(Boolean, Seq[RawTag], Seq[RawTag])] = {
    val (at, end) = findApp1(jpeg).getOrElse(return None)
    val off = at + 10 // past "Exif\0\0"
    val tiff = Tiff.open(jpeg, off, end).getOrElse(return None)

    // an IFD or value offset past the segment (or wrapping negative as
    // an Int) names no bytes of this TIFF: the tag, or the IFD, is dropped
    def readIfd(ifdOff: Long): Seq[RawTag] =
      if (ifdOff >= end - off) Seq.empty
      else tiff.entries(ifdOff, 256).flatMap { e =>
        val sz = e.size
        val vb = tiff.valueAt(e)
        if (vb < off || vb + sz > end || sz < 0) None
        else Some(RawTag(e.id, e.tpe, e.count, java.util.Arrays.copyOfRange(jpeg, vb, vb + sz.toInt)))
      }

    val ifd0 = readIfd(tiff.ifd0)
    val exifOff = ifd0.find(t => t.id == ExifPointer && t.value.length >= 4).map(t => Bytes.u32(t.value, 0, tiff.little))
    val exifTags = exifOff.map(readIfd).getOrElse(Seq.empty)
    val keep0 = ifd0.filterNot(t => t.id == ExifPointer || t.id == GpsPointer)
    // interop sub-IFD is not preserved → its pointer must not dangle
    val keepExif = exifTags.filterNot(_.id == InteropPointer)
    Some((tiff.little, keep0, keepExif))
  }

  // ---- TIFF serialize ----------------------------------------------------

  private def serializeTiff(
      little: Boolean,
      ifd0Keep: Seq[RawTag],
      exifTags: Seq[RawTag],
      gps: Seq[RawTag]
  ): Array[Byte] = {
    def extLen(t: RawTag): Int = if (t.value.length <= 4) 0 else t.value.length + (t.value.length & 1)
    def ifdSize(tags: Seq[RawTag]): Int = 2 + 12 * tags.length + 4
    def extSize(tags: Seq[RawTag]): Int = tags.map(extLen).sum

    // pointer placeholders sized like any LONG tag
    val ptrTags =
      (if (exifTags.nonEmpty) Seq(RawTag(ExifPointer, 4, 1, new Array[Byte](4))) else Nil) :+
        RawTag(GpsPointer, 4, 1, new Array[Byte](4))
    val ifd0 = (ifd0Keep ++ ptrTags).sortBy(_.id)
    val ifd0Start = 8
    val exifStart = ifd0Start + ifdSize(ifd0) + extSize(ifd0)
    val gpsStart = if (exifTags.nonEmpty) exifStart + ifdSize(exifTags) + extSize(exifTags) else exifStart

    def writeIfd(tags: Seq[RawTag], start: Int, out: ArrayBuffer[Byte]): Unit = {
      var extPos = start + ifdSize(tags)
      Bytes.put16(out, tags.length, little)
      tags.sortBy(_.id).foreach { t =>
        Bytes.put16(out, t.id, little); Bytes.put16(out, t.tpe, little); Bytes.put32(out, t.count, little)
        val v =
          if (t.id == ExifPointer) { Bytes.put32(out, exifStart.toLong, little); None }
          else if (t.id == GpsPointer) { Bytes.put32(out, gpsStart.toLong, little); None }
          else if (t.value.length <= 4) {
            out ++= t.value; (t.value.length until 4).foreach(_ => out += 0); None
          } else { Bytes.put32(out, extPos.toLong, little); extPos += extLen(t); Some(t.value) }
        v.foreach(_ => ())
      }
      Bytes.put32(out, 0L, little) // next IFD: none (thumbnail IFD1 dropped)
      tags.sortBy(_.id).foreach { t =>
        if (t.value.length > 4 && t.id != ExifPointer && t.id != GpsPointer) {
          out ++= t.value
          if ((t.value.length & 1) == 1) out += 0
        }
      }
    }

    val out = new ArrayBuffer[Byte](gpsStart + ifdSize(gps) + extSize(gps))
    out += (if (little) 'I' else 'M').toByte; out += (if (little) 'I' else 'M').toByte
    Bytes.put16(out, 42, little)
    Bytes.put32(out, 8L, little)
    writeIfd(ifd0, ifd0Start, out)
    if (exifTags.nonEmpty) writeIfd(exifTags.sortBy(_.id), exifStart, out)
    writeIfd(gps.sortBy(_.id), gpsStart, out)
    out.toArray
  }

  // ---- JPEG segment splice ------------------------------------------------

  /** (segment start, segment end) of the APP1 Exif segment; a length
    * running past the array ends the segment at the array's end. */
  private def findApp1(jpeg: Array[Byte]): Option[(Int, Int)] = {
    val i = Exif.app1At(jpeg)
    if (i < 0) None else Some((i, math.min(jpeg.length, i + 2 + Bytes.be16(jpeg, i + 2))))
  }

  private def spliceApp1(jpeg: Array[Byte], tiff: Array[Byte]): Array[Byte] = {
    val seg = new ArrayBuffer[Byte](tiff.length + 10)
    seg += 0xff.toByte; seg += 0xe1.toByte
    val len = 2 + 6 + tiff.length
    seg += ((len >> 8) & 0xff).toByte; seg += (len & 0xff).toByte
    seg ++= "Exif".getBytes("US-ASCII"); seg += 0; seg += 0
    seg ++= tiff
    findApp1(jpeg) match {
      case Some((s, e)) =>
        val out = new ArrayBuffer[Byte](jpeg.length - (e - s) + seg.length)
        out ++= jpeg.take(s); out ++= seg; out ++= jpeg.drop(e)
        out.toArray
      case None =>
        val out = new ArrayBuffer[Byte](jpeg.length + seg.length)
        out ++= jpeg.take(2); out ++= seg; out ++= jpeg.drop(2)
        out.toArray
    }
  }

  // ---- Spark face -----------------------------------------------------------

  private val setGpsUdf = udf { (p: Array[Byte], lat: Double, lon: Double, alt: Double) =>
    setGps(p, lat, lon, alt)
  }

  /** Geotag a binary JPEG column from coordinate columns — the batch
    * `ddb setexif` shape: per-row byte rewrite, embarrassingly
    * parallel, payloads never leave the executor. */
  def geotag(df: DataFrame, payload: Column, lat: Column, lon: Column, alt: Column): DataFrame =
    df.withColumn("payload", setGpsUdf(payload, lat, lon, alt))
}
