package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.EntryType
import graft.sources.Bytes.{be16, be32, le16, le32}

/** Content-sniffing + per-type property extraction over raw bytes —
  * the pure-JVM core of the reference's `fingerprint` + `parseEntry`
  * (`entry.cpp:982-1118`, `34-489`). GDAL/Exiv2/PDAL are replaced by
  * byte-level parsers for the formats the container can host: PNG,
  * JPEG, GIF, BMP dimension extraction from headers; magic-number
  * dispatch ahead of the extension fallback (a `.jpg` that is really a
  * PNG is detected by content, like the reference's sniffing).
  *
  * Runs executor-side over the `binaryFile` content column — one UDF
  * call per file, no driver involvement (the reference's
  * FingerprintContext reuse, `entry.h:173-195`, becomes "parse once in
  * one call").
  */
object Extractors {

  final case class ImageMeta(format: String, width: Int, height: Int)

  /** PNG IHDR / JPEG SOFn / GIF header / BMP header dimension parse. */
  def sniffImage(bytes: Array[Byte]): Option[ImageMeta] = {
    if (bytes == null || bytes.length < 16) None
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') {
      // IHDR is always the first chunk: width/height big-endian at 16/20
      if (bytes.length < 24) None
      else Some(ImageMeta("png", be32(bytes, 16), be32(bytes, 20)))
    } else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      sniffJpeg(bytes)
    } else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') {
      Some(ImageMeta("gif", le16(bytes, 6), le16(bytes, 8)))
    } else if (bytes(0) == 'B' && bytes(1) == 'M') {
      if (bytes.length < 26) None
      else Some(ImageMeta("bmp", le32(bytes, 18), le32(bytes, 22)))
    } else if (graft.raster.Webp.isWebp(bytes)) {
      // RIFF/WEBP: VP8L bit-fields, lossy VP8 frame tag, or VP8X canvas
      graft.raster.Webp.probe(bytes).map { case (_, w, h) => ImageMeta("webp", w, h) }
    } else if (graft.raster.Jp2.isJp2(bytes) || graft.raster.Jp2.isJ2k(bytes)) {
      // JPEG 2000: ihdr/SIZ header probe, no entropy decode
      graft.raster.Jp2.probe(bytes).map { case (w, h, _, _) => ImageMeta("jp2", w, h) }
    } else None
  }

  /** Walk JPEG segments to the first SOF0-SOF15 frame header. */
  private def sniffJpeg(bytes: Array[Byte]): Option[ImageMeta] = {
    val sof = Bytes.jpegSegment(bytes) { (marker, _) =>
      marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc
    }
    if (sof < 0 || sof + 9 >= bytes.length) None
    else Some(ImageMeta("jpeg", be16(bytes, sof + 7), be16(bytes, sof + 5)))
  }

  /** Content-first fingerprint: magic numbers override extension, like
    * the reference's sniffing order; panorama upgrade when aspect ratio
    * ≥ 2 (`entry.cpp:1081-1086`); a GPS fix upgrades Image→GeoImage /
    * Panorama→GeoPanorama (`entry.cpp:1088-1099`). */
  def fingerprint(path: String, bytes: Array[Byte]): Int =
    extract(path, bytes).entryType

  final case class Extracted(
      entryType: Int,
      properties: String,
      lon: Option[Double],
      lat: Option[Double],
      alt: Option[Double],
      footprint: Option[Seq[(Double, Double)]] // closed (lon, lat) ring
  )

  /** Audio-payload properties: full decode for the WAV family + FLAC
    * (duration from samples), header probes for MP3/Ogg. None for
    * non-audio payloads. */
  def audioProperties(bytes: Array[Byte]): Option[String] = {
    graft.multimodal.Multimodal.decodeAudio(bytes)
      .map(a => s"""{"audio":{"codec":"pcm","duration":${a.durationMs},"sampleRate":${a.sampleRate},"channels":${a.channels}}}""")
      .orElse(graft.multimodal.Mp3.sniff(bytes).map(m =>
        s"""{"audio":{"codec":"mp3","duration":${m.durationMs},"sampleRate":${m.sampleRate},"channels":${m.channels},"bitrateKbps":${m.avgBitrateKbps}}}"""))
      .orElse(graft.multimodal.Ogg.sniff(bytes).map(m =>
        s"""{"audio":{"codec":"${m.codec}","duration":${m.durationMs},"sampleRate":${m.sampleRate},"channels":${m.channels}}}"""))
  }

  /** Default sensor dimensions (mm) when the camera is not in a sensor
    * database — common 1/2.3" drone sensor; the reference resolves
    * these from its sensor DB with similar fallbacks. */
  val DefaultSensorWidthMm = 6.17
  val DefaultSensorHeightMm = 4.55

  /** Full per-file extraction: one parse per file (the reference's
    * FingerprintContext reuse), type + properties + geotag + camera
    * footprint (EXIF GPS/focal + XMP relative altitude & gimbal yaw —
    * `entry.cpp:769-836`). */
  def extract(path: String, bytes: Array[Byte]): Extracted = {
    // GeoJP2: the embedded degenerate GeoTIFF georeferences the
    // raster — same GeoRaster shape as the TIFF branch below.
    // (One sniff: geoMeta is the full box walk + GeoTIFF parse.)
    lazy val jp2Geo = graft.raster.GeoJp2.geoMeta(bytes).filter(_.georeferenced)
    sniffImage(bytes) match {
      case Some(m) if m.format == "jp2" && jp2Geo.isDefined =>
        val t = jp2Geo.get
        val fp = t.footprint
        val center = fp.map(_._2)
        Extracted(EntryType.GeoRaster, GeoTiff.properties(t),
          center.map(_._1), center.map(_._2), None, fp.map(_._1))
      case Some(m) =>
        val exif = if (m.format == "jpeg") Exif.fromJpeg(bytes) else Exif.empty
        val xmp = if (m.format == "jpeg") Xmp.fromJpeg(bytes) else Xmp.empty
        val pano = m.height > 0 && m.width.toDouble / m.height >= 2.0
        val hasGps = exif.lat.isDefined && exif.lon.isDefined
        val tpe =
          if (pano && hasGps) EntryType.GeoPanorama
          else if (pano) EntryType.Panorama
          else if (hasGps) EntryType.GeoImage
          else EntryType.Image
        // sensor-size cascade (exif.cpp:195-232): focal-plane tags →
        // sensor database keyed by make/model → fixed defaults; the
        // 35mm-equivalent tag is PREFERRED over the direct FocalLength
        // tag, which is the fallback (computeFocal, exif.cpp:177-186)
        val (sensorW, sensorH) = SensorData.sensorSizeMm(exif, m.width, m.height)
          .getOrElse((DefaultSensorWidthMm, DefaultSensorHeightMm))
        val focalMm = exif.focalLength35.filter(_ > 0).map(f35 => f35 / 36.0 * sensorW)
          .orElse(exif.focalLength.filter(_ > 0))
        val footprint = for {
          lat <- exif.lat
          lon <- exif.lon
          relAlt <- xmp.relativeAltitude
          focal <- focalMm
          ring <- Option(
            graft.geo.Geo.cameraFootprint(
              lon, lat, relAlt, focal,
              sensorW, sensorH,
              yawDeg = xmp.gimbalYaw.getOrElse(0.0),
              pitchDeg = xmp.gimbalPitch.getOrElse(-90.0)
            )
          ).filter(_.nonEmpty)
        } yield ring
        def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        // thermal-sensor heuristic — ref entry.cpp:160-168: make/model
        // strings identify radiometric cameras
        val thermal = Seq(exif.make, exif.model).flatten.map(_.toLowerCase(java.util.Locale.ROOT)).exists(s =>
          s.contains("flir") || s.contains("thermal") || s.contains("xt2") || s.contains("vue pro") ||
            s.contains("wiris") || s.contains("duo pro") || s.contains("xt s"))
        val fields = Seq(
          Some(s""""width":${m.width}"""),
          Some(s""""height":${m.height}"""),
          Some(s""""format":${q(m.format)}"""),
          exif.captureTimeMs.map(t => s""""captureTime":$t"""),
          exif.make.map(v => s""""make":${q(v)}"""),
          exif.model.map(v => s""""model":${q(v)}"""),
          if (thermal) Some(""""sensorCategory":"thermal"""") else None,
          exif.orientation.map(v => s""""orientation":$v"""),
          exif.focalLength.map(v => s""""focalLength":$v"""),
          xmp.relativeAltitude.map(v => s""""relAltitude":$v"""),
          xmp.gimbalYaw.map(v => s""""cameraYaw":$v"""),
          xmp.gimbalPitch.map(v => s""""cameraPitch":$v""")
        ).flatten ++
          // flight telemetry cascade (entry.cpp:182-227): roll +
          // orientation flag, flight speed, GPS accuracy/direction
          FlightMeta.propertyFields(xmp, exif)
        Extracted(tpe, fields.mkString("{", ",", "}"), exif.lon, exif.lat, exif.altitude, footprint)
      case None =>
        GeoTiff.sniff(bytes) match {
          case Some(t) if t.georeferenced =>
            // GeoRaster: footprint ring + center from the geotransform
            // (entry.cpp:368-389); fixture scope assumes geographic CRS
            val fp = t.footprint
            val center = fp.map(_._2)
            Extracted(
              EntryType.GeoRaster,
              GeoTiff.properties(t),
              center.map(_._1),
              center.map(_._2),
              None,
              fp.map(_._1)
            )
          case Some(t) =>
            // a TIFF with no georeferencing is just an image (entry.cpp:1045-1062)
            Extracted(EntryType.Image, GeoTiff.properties(t), None, None, None, None)
          case None =>
            PointCloud.sniff(bytes) match {
              case Some(m) if m.format == "ply" =>
                // full identifyPly dispatch (textured mesh → Generic,
                // splat signatures, SH degree) via the Ply module
                Extracted(Ply.identify(bytes),
                  Ply.meta(bytes).getOrElse(PointCloud.properties(m)), None, None, None, None)
              case Some(m) =>
                val tpe =
                  if (m.isSplat) EntryType.GaussianSplat
                  else if (m.isMesh) EntryType.Model
                  else EntryType.PointCloud
                Extracted(tpe, PointCloud.properties(m), None, None, None, None)
              case None =>
                VectorFile.sniffTileset(bytes) match {
                  case Some(ge) =>
                    return Extracted(
                      EntryType.Tiles3D,
                      s"""{"geometricError":$ge}""",
                      None, None, None, None
                    )
                  case None => ()
                }
                VectorFile.sniffGeoJson(bytes) match {
                  case Some(v) =>
                    val ring = v.bbox.map { case (w, s, e, n) =>
                      Seq((w, s), (e, s), (e, n), (w, n), (w, s)) // 5-point CCW ring, entry.cpp:632-644
                    }
                    val center = v.bbox.map { case (w, s, e, n) => ((w + e) / 2, (s + n) / 2) }
                    Extracted(EntryType.Vector, VectorFile.properties(v),
                      center.map(_._1), center.map(_._2), None, ring)
                  case None =>
                    VectorFile.sniffShapefile(bytes) match {
                      case Some(v) =>
                        val ring = v.bbox.map { case (w, s, e, n) =>
                          Seq((w, s), (e, s), (e, n), (w, n), (w, s))
                        }
                        val center = v.bbox.map { case (w, s, e, n) => ((w + e) / 2, (s + n) / 2) }
                        Extracted(EntryType.Vector, VectorFile.properties(v),
                          center.map(_._1), center.map(_._2), None, ring)
                      case None =>
                        Kml.meta(bytes).orElse(Gml.meta(bytes)).orElse(Gpx.meta(bytes)).orElse(Dxf.meta(bytes)).orElse(Fgb.meta(bytes)).orElse(TopoJson.meta(bytes)).orElse(Shz.meta(path, bytes)) match {
                          case Some(v) =>
                            val ring = v.bbox.map { case (w, s, e, n) =>
                              Seq((w, s), (e, s), (e, n), (w, n), (w, s))
                            }
                            val center = v.bbox.map { case (w, s, e, n) => ((w + e) / 2, (s + n) / 2) }
                            Extracted(EntryType.Vector, VectorFile.properties(v),
                              center.map(_._1), center.map(_._2), None, ring)
                          case None =>
                            Mp4.sniff(bytes) match {
                              case Some(m) =>
                                // a GPS fix upgrades Video→GeoVideo (entry.cpp:1088-1099)
                                val tpe = if (m.lat.isDefined && m.lon.isDefined) EntryType.GeoVideo else EntryType.Video
                                Extracted(tpe, Mp4.properties(m), m.lon, m.lat, None, None)
                              case None =>
                                // Gaussian-splat BINARY formats: the
                                // extension is the signal (entry.cpp:
                                // 1006-1016); carry count/SH degree
                                // when the bytes parse
                                val ext = path.toLowerCase(java.util.Locale.ROOT).substring(path.lastIndexOf('.') + 1)
                                val splatProps =
                                  if (Seq("splat", "spz", "ksplat").contains(ext))
                                    graft.multimodal.Splats.binaryInfo(ext, bytes)
                                      .map(i => s"""{"splatCount":${i.splatCount},"shDegree":${i.shDegree}}""")
                                      .orElse(Some("{}"))
                                  else None
                                splatProps match {
                                  case Some(props) =>
                                    Extracted(EntryType.GaussianSplat, props, None, None, None, None)
                                  case None =>
                                    // audio metadata (beyond-reference: entry.cpp leaves
                                    // audio at Generic with no properties) — decoded
                                    // WAV/FLAC or probed MP3/Ogg duration/rate/channels
                                    audioProperties(bytes) match {
                                      case Some(props) =>
                                        Extracted(EntryType.fromExtension(path), props, None, None, None, None)
                                      case None =>
                                        Extracted(EntryType.fromExtension(path), "{}", None, None, None, None)
                                    }
                                }
                            }
                        }
                    }
                }
            }
        }
    }
  }

  private val extractUdf = udf((p: String, b: Array[Byte]) => extract(p, b))

  /** Column form: (path, content) → entryType, properties, pointGeom,
    * polygonGeom (camera footprint), envelope columns. One UDF
    * evaluation per file; envelope = footprint bbox when present, else
    * the point. */
  def withExtraction(files: DataFrame, pathCol: Column, contentCol: Column): DataFrame = {
    val ring = col("__ex.footprint")
    val lons = transform(ring, p => p.getField("_1"))
    val lats = transform(ring, p => p.getField("_2"))
    files
      .withColumn("__ex", extractUdf(pathCol, contentCol))
      .withColumn("entryType", col("__ex.entryType"))
      .withColumn("properties", col("__ex.properties"))
      .withColumn(
        "pointGeom",
        when(
          col("__ex.lon").isNotNull && col("__ex.lat").isNotNull,
          struct(
            col("__ex.lon").as("lon"),
            col("__ex.lat").as("lat"),
            coalesce(col("__ex.alt"), lit(0.0)).as("alt")
          )
        )
      )
      .withColumn(
        "polygonGeom",
        when(
          ring.isNotNull,
          transform(ring, p => struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"), lit(0.0).as("alt")))
        )
      )
      .withColumn("minx", when(ring.isNotNull, array_min(lons)).otherwise(col("__ex.lon")))
      .withColumn("miny", when(ring.isNotNull, array_min(lats)).otherwise(col("__ex.lat")))
      .withColumn("maxx", when(ring.isNotNull, array_max(lons)).otherwise(col("__ex.lon")))
      .withColumn("maxy", when(ring.isNotNull, array_max(lats)).otherwise(col("__ex.lat")))
      .drop("__ex")
  }
}
