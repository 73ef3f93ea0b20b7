package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.Row

import graft.model.EntryType

/** One index entry as the plain-Scala model sees it. Envelope fields
  * are NaN when the entry has no geometry. */
final case class MEntry(
    path: String,
    hash: String,
    entryType: Int,
    captureMs: Long, // 0 = none
    mtime: Long,
    size: Long,
    depth: Int,
    point: Option[(Double, Double)],
    ring: Option[Seq[(Double, Double)]],
    minx: Double,
    miny: Double,
    maxx: Double,
    maxy: Double
) {
  def hasGeom: Boolean = point.isDefined || ring.isDefined
  def isDir: Boolean = hash.isEmpty
  def properties: String =
    if (captureMs > 0) s"""{"width":4000,"height":3000,"captureTime":$captureMs}""" else "{}"
  /** `Index.temporalInstant`: captureTime seconds if present, else mtime. */
  def instant: Long = if (captureMs > 0) (captureMs / 1000.0).toLong else mtime

  def row: Row = {
    def pt(p: (Double, Double)) = Row(p._1, p._2, 0.0)
    def d(x: Double): java.lang.Double = if (x.isNaN) null else java.lang.Double.valueOf(x)
    Row(path, hash, entryType, properties, mtime, size, depth, point.map(pt).orNull,
      ring.map(_.map(pt)).orNull, d(minx), d(miny), d(maxx), d(maxy))
  }
}

final case class MMeta(id: String, path: String, key: String, data: String, mtime: Long) {
  def row: Row = Row(id, path, key, data, mtime)
}

/** A generated catalog: the index, its entries_meta rows, and a
  * mutated copy (changed, removed and new entries) that plays the
  * remote side of sync and the file-system side of status. */
final case class Catalog(
    entries: IndexedSeq[MEntry],
    meta: IndexedSeq[MMeta],
    mutated: IndexedSeq[MEntry],
    mutatedMeta: IndexedSeq[MMeta],
    sites: IndexedSeq[(String, Double, Double)], // name, centre lon, lat
    digest: String
)

/** Seeded synthetic index for the catalog workload: sites → missions →
  * files, ~45% geotagged images (some with footprint polygons),
  * rasters with footprints, point clouds, splats, markdown and
  * binaries, plus directory rows. */
object IndexGen {
  val Sites = 16
  val Missions = 8

  private def hexOf(r: SplittableRandom, nBytes: Int): String = {
    val b = new StringBuilder
    (0 until nBytes).foreach(_ => b ++= "%02x".format(r.nextInt(256)))
    b.toString
  }

  private def file(r: SplittableRandom, path: String, depth: Int, site: (String, Double, Double)): MEntry = {
    val (_, lon0, lat0) = site
    val lon = lon0 + (r.nextDouble() - 0.5)
    val lat = lat0 + (r.nextDouble() - 0.5)
    val mtime = 1650000000L + r.nextInt(31536000)
    val (ext, tpe, capture, point, ring) = r.nextInt(100) match {
      case k if k < 45 =>
        val cap = 1600000000000L + r.nextLong(31536000000L)
        val ring =
          if (r.nextInt(10) < 3) {
            val dx = 0.0005 + r.nextDouble() * 0.002
            Some(Seq((lon - dx, lat - dx), (lon + dx, lat - dx), (lon + dx, lat + dx), (lon - dx, lat + dx), (lon - dx, lat - dx)))
          } else None
        ("jpg", EntryType.GeoImage, cap, Some((lon, lat)), ring)
      case k if k < 52 =>
        val dx = 0.01 + r.nextDouble() * 0.05
        ("tif", EntryType.GeoRaster, 0L, None,
          Some(Seq((lon - dx, lat - dx), (lon + dx, lat - dx), (lon + dx, lat + dx), (lon - dx, lat + dx), (lon - dx, lat - dx))))
      case k if k < 62 => ("laz", EntryType.PointCloud, 0L, if (r.nextBoolean()) Some((lon, lat)) else None, None)
      case k if k < 67 => ("ply", EntryType.GaussianSplat, 0L, None, None)
      case k if k < 80 => ("md", EntryType.Markdown, 0L, None, None)
      case _ => ("bin", EntryType.Generic, 0L, None, None)
    }
    val pts = ring.getOrElse(point.toSeq)
    val env =
      if (pts.isEmpty) (Double.NaN, Double.NaN, Double.NaN, Double.NaN)
      else (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
    MEntry(s"$path.$ext", hexOf(r, 32), tpe, capture, mtime, 1000L + r.nextInt(50000000), depth, point, ring,
      env._1, env._2, env._3, env._4)
  }

  private def dirEntry(path: String, mtime: Long): MEntry =
    MEntry(path, "", EntryType.Directory, 0L, mtime, 0L, path.count(_ == '/'), None, None,
      Double.NaN, Double.NaN, Double.NaN, Double.NaN)

  private def metaRow(r: SplittableRandom, path: String): MMeta = {
    val key = if (r.nextBoolean()) "tags" else "annotation"
    MMeta(hexOf(r, 16), path, key, s"""["t${r.nextInt(50)}"]""", 1650000000L + r.nextInt(31536000))
  }

  def generate(seed: Long, nFiles: Int, metaShare: Double): Catalog = {
    val r = new SplittableRandom(seed)
    val sites = (0 until Sites).map(i => (f"site_$i%02d", -170.0 + r.nextDouble() * 340.0, -60.0 + r.nextDouble() * 120.0))
    val dirs = sites.flatMap { case (s, _, _) =>
      dirEntry(s, 1650000000L) +: (0 until Missions).map(m => dirEntry(f"$s/mission_$m%02d", 1650000000L))
    }
    val files = (0 until nFiles).map { i =>
      val site = sites(r.nextInt(Sites))
      r.nextInt(100) match {
        case 0 => file(r, f"f$i%07d", 0, site)
        case k if k < 10 => file(r, f"${site._1}/f$i%07d", 1, site)
        case _ => file(r, f"${site._1}/mission_${r.nextInt(Missions)}%02d/f$i%07d", 2, site)
      }
    }
    val entries = (dirs ++ files).sortBy(_.path)
    val meta = files.filter(_ => r.nextDouble() < metaShare).map(e => metaRow(r, e.path)).sortBy(_.id)

    // the mutated copy: 3% re-hashed (newer mtime), 1% removed, 1% new
    val mutatedFiles = files.flatMap { e =>
      r.nextInt(100) match {
        case k if k < 3 => Some(e.copy(hash = hexOf(r, 32), mtime = e.mtime + 10))
        case 3 => None
        case _ => Some(e)
      }
    }
    val added = (0 until math.max(1, nFiles / 100)).map { j =>
      val site = sites(r.nextInt(Sites))
      file(r, f"${site._1}/mission_${r.nextInt(Missions)}%02d/n$j%07d", 2, site)
    }
    val mutated = (dirs ++ mutatedFiles ++ added).sortBy(_.path)
    val mutatedMeta = (meta.filter(_ => r.nextInt(20) != 0) ++ added.take(added.size / 2).map(e => metaRow(r, e.path)))
      .sortBy(_.id)

    val md = MessageDigest.getInstance("SHA-256")
    for (side <- Seq(entries, mutated); e <- side) md.update(e.row.toString.getBytes(UTF_8))
    for (side <- Seq(meta, mutatedMeta); m <- side) md.update(m.row.toString.getBytes(UTF_8))
    Catalog(entries, meta, mutated, mutatedMeta, sites, TreeGen.hex(md.digest()))
  }

  /** Everything under (and including) a site. */
  def inSite(path: String, site: String): Boolean = path == site || path.startsWith(site + "/")

  /** `Index.pathMatches` for patterns whose only wildcard is `*`. */
  def globMatches(pattern: String): String => Boolean = {
    val re = pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*").r
    val folder = (re.regex + "/.*").r
    p => re.matches(p) || folder.matches(p)
  }

  /** Order-sensitive checksum of a response: sha256 over its rows. */
  def checksum(rows: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    TreeGen.hex(md.digest())
  }

  /** `Sync.stampChecksum` computed over the model. */
  def stamp(entries: Seq[MEntry], meta: Seq[MMeta]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    entries.sortBy(_.path).foreach { e => md.update(e.path.getBytes(UTF_8)); md.update(e.hash.getBytes(UTF_8)) }
    meta.map(_.id).sorted.foreach(id => md.update(id.getBytes(UTF_8)))
    TreeGen.hex(md.digest())
  }
}
