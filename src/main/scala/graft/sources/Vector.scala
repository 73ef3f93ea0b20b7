package graft.sources

import java.io.ByteArrayInputStream

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{be32u, le32u, leF64}

/** Vector-file extraction — the GeoJSON + ESRI Shapefile subset of the
  * reference's OGR layer scan (`entry.cpp:491-654`,
  * `vector_query.cpp:121-292`): layer name, geometry type, feature
  * count, union extent → envelope ring + center. The Shapefile reader
  * is a pure-JVM parse of the public ESRI spec (main-file header +
  * per-record bboxes); GPKG (SQLite) stays out of scope.
  */
object VectorFile {

  final case class VectorMeta(
      driver: String,
      featureCount: Long,
      geometryTypes: Seq[String],
      bbox: Option[(Double, Double, Double, Double)]
  )

  private val geomTypes =
    Seq("Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon")

  def sniffGeoJson(bytes: Array[Byte]): Option[VectorMeta] = {
    if (bytes == null || bytes.isEmpty) return None
    val head = new String(bytes, 0, math.min(bytes.length, 512), "UTF-8")
    if (!head.trim.startsWith("{") || !head.contains("FeatureCollection")) return None
    val text = new String(bytes, "UTF-8")
    try {
      val features = "\"type\"\\s*:\\s*\"Feature\"".r.findAllIn(text).length.toLong
      val present = geomTypes.filter(g => ("\"type\"\\s*:\\s*\"" + g + "\"").r.findFirstIn(text).isDefined)
      // coordinate walk (same regex strategy as Formats.geojsonBbox)
      val numPair = "\\[\\s*(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)\\s*,\\s*(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)".r
      val ms = numPair.findAllMatchIn(text).toSeq
      val bbox =
        if (ms.isEmpty) None
        else {
          val xs = ms.map(_.group(1).toDouble); val ys = ms.map(_.group(2).toDouble)
          Some((xs.min, ys.min, xs.max, ys.max))
        }
      Some(VectorMeta("GeoJSON", features, present, bbox))
    } catch { case _: Exception => None }
  }

  /** ESRI Shapefile main file (.shp) — public spec: 100-byte header
    * (file code 9994 BE, version 1000 LE, shape type LE, bbox LE
    * doubles) then records of (number BE, content-length-in-words BE,
    * shape type LE, geometry). Feature count and the union extent come
    * from walking record headers; per-record bboxes (or point coords)
    * union into the layer extent like OGR's GetExtent. */
  def sniffShapefile(bytes: Array[Byte]): Option[VectorMeta] = {
    if (bytes == null || bytes.length < 100) return None
    val b = bytes; val end = b.length
    if (be32u(b, 0) != 9994L || le32u(b, 28) != 1000L) return None
    try {
      def typeName(t: Long): Option[String] = t match {
        case 1 | 11 | 21 => Some("Point")
        case 3 | 13 | 23 => Some("LineString")
        case 5 | 15 | 25 => Some("Polygon")
        case 8 | 18 | 28 => Some("MultiPoint")
        case _ => None
      }
      var count = 0L
      var types = Vector.empty[String]
      var (w, s, e, n) = (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
      var any = false
      var i = 100
      while (i + 8 <= end) {
        val contentWords = be32u(b, i + 4)
        val c = i + 8
        if (contentWords < 2 || c + contentWords * 2 > end) { i = end }
        else {
          val t = le32u(b, c)
          typeName(t).foreach { name =>
            count += 1
            if (!types.contains(name)) types = types :+ name
            if ((t == 1 || t == 11 || t == 21) && c + 20 <= end) {
              val x = leF64(b, c + 4); val y = leF64(b, c + 12)
              w = math.min(w, x); s = math.min(s, y); e = math.max(e, x); n = math.max(n, y); any = true
            } else if (c + 36 <= end) {
              w = math.min(w, leF64(b, c + 4)); s = math.min(s, leF64(b, c + 12))
              e = math.max(e, leF64(b, c + 20)); n = math.max(n, leF64(b, c + 28)); any = true
            }
          }
          i = c + contentWords.toInt * 2
        }
      }
      val headerBox =
        if (leF64(b, 36) <= leF64(b, 52) && (leF64(b, 36) != 0.0 || leF64(b, 52) != 0.0)) Some((leF64(b, 36), leF64(b, 44), leF64(b, 52), leF64(b, 60)))
        else None
      val bbox = if (any) Some((w, s, e, n)) else headerBox
      val tps = if (types.nonEmpty) types else typeName(le32u(b, 32)).toSeq
      Some(VectorMeta("ESRI Shapefile", count, tps, bbox))
    } catch { case _: Exception => None }
  }

  /** 3D Tiles tileset detection — ref `entry.cpp:463-475`: a JSON doc
    * with an `asset` object and a root `geometricError` is a Cesium
    * tileset. Returns the top-level geometricError. */
  def sniffTileset(bytes: Array[Byte]): Option[Double] = {
    if (bytes == null || bytes.isEmpty) return None
    val head = new String(bytes, 0, math.min(bytes.length, 4096), "UTF-8")
    val t = head.trim
    if (!t.startsWith("{") || !t.contains("\"asset\"") || !t.contains("\"geometricError\"")) None
    else
      "\"geometricError\"\\s*:\\s*(-?\\d+(?:\\.\\d+)?)".r
        .findFirstMatchIn(t)
        .flatMap(m => try Some(m.group(1).toDouble) catch { case _: Exception => None })
  }

  /** Properties in the reference's vector shape (`entry.cpp:632-644`):
    * driver + one layer summary. */
  def properties(m: VectorMeta): String = {
    val types = m.geometryTypes.map(t => "\"" + t + "\"").mkString("[", ",", "]")
    val extent = m.bbox.map { case (w, s, e, n) => s""","extent":[$w,$s,$e,$n]""" }.getOrElse("")
    s"""{"vector":{"driver":"${m.driver}","featureCount":${m.featureCount},"geometryTypes":$types$extent}}"""
  }
}

/** Zipped-shapefile container (`.shz` / `.shp.zip`) — the compressed
  * shapefile shape of the reference's vector long-tail
  * (`entry.cpp:1034` lists "shz"; the reference reads it through
  * GDAL's Shapefile driver, which since GDAL 3.1 opens both spellings
  * as a ZIP of the `.shp`/`.shx`/`.dbf` sidecars). The EXTENSION is
  * the signal (any ZIP is not a layer); the container must hold
  * exactly one `.shp`, which feeds the same pure-JVM main-file walk
  * as a bare shapefile. Container unzip is the JDK (the in-tree
  * ranged [[Zip]] reader is the 100 GB-archive access path, pinned
  * separately).
  */
object Shz {

  private def isZip(b: Array[Byte]): Boolean =
    b != null && b.length > 4 && b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4

  private val MaxShpBytes = 256 << 20 // sanity bound on one decoded main file

  /** The `.shp` payloads in the container (names lowercased for the
    * extension test only). Decompression-bounded: the first payload is
    * capped at [[MaxShpBytes]], and a SECOND `.shp` name stops the
    * walk without inflating anything further — the sniff only needs
    * one-vs-many, so a crafted container cannot make it accumulate
    * decoded bytes. */
  private[sources] def shpPayloads(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val zin = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    val out = ArrayBuffer.empty[Array[Byte]]
    try {
      var e = zin.getNextEntry
      while (e != null && out.length < 2) {
        if (!e.isDirectory && e.getName.toLowerCase(java.util.Locale.ROOT).endsWith(".shp")) {
          if (out.isEmpty) {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var n = zin.read(buf)
            while (n >= 0 && bos.size <= MaxShpBytes) { bos.write(buf, 0, n); n = zin.read(buf) }
            if (bos.size > MaxShpBytes) return Seq.empty
            out += bos.toByteArray
          } else out += Array.emptyByteArray // second .shp: presence is enough
        }
        e = if (out.length < 2) zin.getNextEntry else null
      }
      out.toSeq
    } catch { case _: Exception => Seq.empty } finally zin.close()
  }

  def hasShzExtension(path: String): Boolean = {
    val p = path.toLowerCase(java.util.Locale.ROOT)
    p.endsWith(".shz") || p.endsWith(".shp.zip")
  }

  /** Tolerant fingerprint face: extension + ZIP magic + exactly one
    * inner `.shp` that parses. */
  def meta(path: String, bytes: Array[Byte]): Option[VectorFile.VectorMeta] = {
    if (!hasShzExtension(path) || !isZip(bytes)) return None
    shpPayloads(bytes) match {
      case Seq(shp) => VectorFile.sniffShapefile(shp)
      case _ => None
    }
  }
}

/** MP4/MOV header extraction — duration and track dimensions from the
  * ISO-BMFF box structure (`mvhd` timescale/duration, `tkhd`
  * width/height), the subset the reference reads for Video entries
  * (`entry.cpp:95-281` via exiv2/ffmpeg-style probing).
  */
object Mp4 {

  final case class VideoMeta(
      durationMs: Long,
      width: Int,
      height: Int,
      lat: Option[Double] = None,
      lon: Option[Double] = None
  )

  /** ISO 6709 location string from the `©xyz`/`udta` atom:
    * "+46.8420-091.9940/" → (lat, lon). */
  def parseIso6709(s: String): Option[(Double, Double)] = {
    val rx = "([+-]\\d+(?:\\.\\d+)?)([+-]\\d+(?:\\.\\d+)?)".r
    rx.findFirstMatchIn(s).flatMap { m =>
      try Some((m.group(1).toDouble, m.group(2).toDouble)) catch { case _: Exception => None }
    }
  }

  def sniff(b: Array[Byte]): Option[VideoMeta] = {
    if (b == null || b.length < 16) return None
    // top-level boxes: size(4) type(4); an MP4 starts with ftyp
    if (!(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p')) return None
    try {
      var duration = 0L
      var width = 0
      var height = 0
      var gps: Option[(Double, Double)] = None
      def walk(from: Int, to: Int, depth: Int): Unit = {
        var i = from
        while (i + 8 <= to && depth < 8) {
          val size = be32u(b, i)
          val tpe = new String(b, i + 4, 4, "ISO-8859-1")
          if (size < 8 || i + size > to) return
          tpe match {
            case "moov" | "trak" | "mdia" | "udta" => walk(i + 8, i + size.toInt, depth + 1)
            case "©xyz" if i + 12 <= to =>
              // payload: u16 strlen + u16 lang + ISO6709 string
              val len = ((b(i + 8) & 0xff) << 8) | (b(i + 9) & 0xff)
              val strOff = i + 12
              if (strOff + len <= to && len > 0)
                gps = parseIso6709(new String(b, strOff, len, "UTF-8"))
            case "mvhd" if i + 32 <= to =>
              val version = b(i + 8) & 0xff
              if (version == 0) {
                val timescale = be32u(b, i + 20)
                val dur = be32u(b, i + 24)
                if (timescale > 0) duration = dur * 1000 / timescale
              }
            case "tkhd" if i + 92 <= to =>
              val version = b(i + 8) & 0xff
              if (version == 0 && i + 8 + 84 <= to) {
                // width/height are 16.16 fixed point at offset 76/80 from box payload
                val w = (be32u(b, i + 8 + 76) >> 16).toInt
                val h = (be32u(b, i + 8 + 80) >> 16).toInt
                if (w > 0 && h > 0) { width = w; height = h }
              }
            case _ => ()
          }
          i += size.toInt
        }
      }
      walk(0, b.length, 0)
      if (duration > 0 || (width > 0 && height > 0))
        Some(VideoMeta(duration, width, height, gps.map(_._1), gps.map(_._2)))
      else None
    } catch { case _: Exception => None }
  }

  def properties(m: VideoMeta): String =
    s"""{"width":${m.width},"height":${m.height},"duration":${m.durationMs}}"""
}
