package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.model.EntryType
import graft.sources.{ExifWrite, Gpkg, Laz, Ply}

/** One generated file: relative path, the entry type the generator
  * meant it to be indexed as, its size, sha256 and mtime (seconds). */
final case class GenFile(rel: String, entryType: Int, size: Long, sha256: String, var mtime: Long)

/** Seeded file tree for the ingest workload: geotagged JPEGs (EXIF GPS
  * + XMP drone block), LAZ point clouds, PLY Gaussian splats,
  * GeoPackages, markdown and opaque binaries, in a few directory
  * levels. The same seed writes the same bytes; `digest` covers every
  * path and content hash, so a drifting program writer (Laz.compress,
  * Ply.write, Gpkg.write, ExifWrite.setGps) shows as a new digest. */
object TreeGen {
  val BaseMtime = 1700000000L

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  def sha256(b: Array[Byte]): String = hex(MessageDigest.getInstance("SHA-256").digest(b))

  private def bytes(r: SplittableRandom, n: Int): Array[Byte] = { val a = new Array[Byte](n); r.nextBytes(a); a }

  private def seg(marker: Int, body: Array[Byte]): Array[Byte] = {
    val len = body.length + 2
    Array[Byte](0xff.toByte, marker.toByte, (len >> 8).toByte, len.toByte) ++ body
  }

  /** Baseline JPEG skeleton: SOI, XMP APP1, SOF0, SOS, entropy bytes
    * (random, 0xFF-stuffed), EOI. The extractor only reads headers. */
  private def jpeg(r: SplittableRandom, w: Int, h: Int, scanBytes: Int): Array[Byte] = {
    val xmp = ("http://ns.adobe.com/xap/1.0/\u0000" +
      """<x:xmpmeta xmlns:x="adobe:ns:meta/"><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">""" +
      f"""<rdf:Description xmlns:drone-dji="http://www.dji.com/drone-dji/1.0/" drone-dji:RelativeAltitude="+${20 + r.nextInt(100)}.${r.nextInt(100)}%02d" """ +
      f"""drone-dji:GimbalYawDegree="${r.nextInt(360) - 180}.0" drone-dji:GimbalPitchDegree="-90.0"/>""" +
      "</rdf:RDF></x:xmpmeta>").getBytes(UTF_8)
    val sof = Array[Byte](8, (h >> 8).toByte, h.toByte, (w >> 8).toByte, w.toByte, 3,
      1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    val sos = Array[Byte](3, 1, 0, 2, 0x11, 3, 0x11, 0, 63, 0)
    val scan = bytes(r, scanBytes)
    var i = 0
    while (i < scan.length) { if (scan(i) == 0xff.toByte) scan(i) = 0x7f; i += 1 }
    Array[Byte](0xff.toByte, 0xd8.toByte) ++ seg(0xe1, xmp) ++ seg(0xc0, sof) ++ seg(0xda, sos) ++ scan ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  private val words = Seq("survey", "orthophoto", "flight", "ground", "control", "point", "camera",
    "altitude", "overlap", "mission", "stockpile", "volume", "crop", "field", "roof", "inspection")

  /** Content and intended entry type of file `i`. */
  private def content(r: SplittableRandom, i: Int, avgBytes: Int): (String, Int, Array[Byte]) =
    r.nextInt(100) match {
      case k if k < 45 =>
        val (w, h) = if (r.nextBoolean()) (4000, 3000) else (5472, 3648)
        val lat = -60.0 + r.nextDouble() * 120.0
        val lon = -180.0 + r.nextDouble() * 360.0
        val body = jpeg(r, w, h, avgBytes / 2 + r.nextInt(avgBytes))
        ("jpg", EntryType.GeoImage, ExifWrite.setGps(body, lat, lon, 50.0 + r.nextInt(400)))
      case k if k < 53 =>
        val pts = (0 until 300 + r.nextInt(700)).map { j =>
          Laz.P(r.nextInt(1 << 20), r.nextInt(1 << 20), r.nextInt(1 << 14), r.nextInt(65536), 0x11,
            r.nextInt(8), r.nextInt(60) - 30, 0, 1, j * 0.5)
        }
        ("laz", EntryType.PointCloud, Laz.compress(pts))
      case k if k < 60 =>
        val props = Seq("x", "y", "z", "f_dc_0", "f_dc_1", "f_dc_2", "opacity",
          "scale_0", "scale_1", "scale_2", "rot_0", "rot_1", "rot_2", "rot_3")
        val rows = (0 until 200 + r.nextInt(800)).map(_ => Array.fill(props.size)(r.nextDouble().toFloat))
        ("ply", EntryType.GaussianSplat, Ply.write(props, rows))
      case k if k < 65 =>
        val rows = (0 until 5 + r.nextInt(40)).map { j =>
          (Seq[Any](s"feature $j"), Some((-180.0 + r.nextDouble() * 360.0, -60.0 + r.nextDouble() * 120.0)))
        }
        ("gpkg", EntryType.Vector, Gpkg.write("features", Seq("name" -> "TEXT"), rows))
      case k if k < 75 =>
        val text = new StringBuilder(s"# Mission notes $i\n\n")
        val n = avgBytes / 40 + r.nextInt(avgBytes / 20)
        (0 until n).foreach(j => text ++= words(r.nextInt(words.size)) ++= (if (j % 12 == 11) ".\n" else " "))
        ("md", EntryType.Markdown, text.toString.getBytes(UTF_8))
      case _ =>
        ("bin", EntryType.Generic, "BENCHBIN".getBytes(UTF_8) ++ bytes(r, avgBytes / 2 + r.nextInt(avgBytes)))
    }

  /** Directory of file `i`: a few at the root, most one to three levels down. */
  private def dir(r: SplittableRandom): String = r.nextInt(20) match {
    case 0 => ""
    case k if k < 6 => f"area_${r.nextInt(12)}%02d/"
    case k if k < 16 => f"area_${r.nextInt(12)}%02d/flight_${r.nextInt(6)}/"
    case _ => f"area_${r.nextInt(12)}%02d/flight_${r.nextInt(6)}/raw/"
  }

  /** Write `n` files under `root` (wiped first). Returns the files in
    * path order and the input digest. File names carry a unique,
    * fixed-width index, so no path is a suffix of another. */
  def write(root: Path, seed: Long, n: Int, avgBytes: Int): (IndexedSeq[GenFile], String) = {
    Util.deleteTree(root)
    Files.createDirectories(root)
    val files = java.util.stream.IntStream.range(0, n).parallel().mapToObj[GenFile] { i =>
      val r = new SplittableRandom(seed * 1000003L + i)
      val d = dir(r)
      val (ext, tpe, data) = content(r, i, avgBytes)
      val rel = f"${d}f$i%06d.$ext"
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, data)
      val mtime = BaseMtime + i
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime * 1000L))
      GenFile(rel, tpe, data.length.toLong, sha256(data), mtime)
    }.toArray(new Array[GenFile](_)).toIndexedSeq.sortBy(_.rel)
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(s"${f.rel}\u0000${f.sha256}\n".getBytes(UTF_8)))
    (files, hex(md.digest()))
  }

  /** Give a seeded ~10% of the files a new mtime (the user edited them). */
  def touch(root: Path, files: IndexedSeq[GenFile], seed: Long, round: Int): Set[String] = {
    val r = new SplittableRandom(seed * 7919L + round)
    val picked = files.filter(_ => r.nextInt(10) == 0)
    picked.foreach { f =>
      f.mtime += 1000L
      Files.setLastModifiedTime(root.resolve(f.rel), FileTime.fromMillis(f.mtime * 1000L))
    }
    picked.map(_.rel).toSet
  }
}
