package graft.sources

import graft.sources.Bytes.{le32u, le64, leF64}

/** Pure-JVM point-cloud header readers — the PDAL-derived subset the
  * reference extracts (`src/library/pointcloud.cpp:371-434`):
  * pointCount, dimension names, bounds [minx,miny,minz,maxx,maxy,maxz].
  *
  * LAS: binary public header block (little-endian, magic "LASF").
  * PLY: ASCII header ("ply" / "format" / "element vertex N" /
  * "property T name" / "end_header"); also dispatches mesh vs point
  * cloud vs gaussian splat by element/property shape, mirroring
  * `entry.cpp:1018-1022`.
  */
object PointCloud {

  final case class CloudMeta(
      format: String,
      pointCount: Long,
      dimensions: Seq[String],
      bounds: Option[(Double, Double, Double, Double, Double, Double)],
      isMesh: Boolean = false,
      isSplat: Boolean = false
  )

  /** LAS 1.0-1.4 public header. */
  def sniffLas(b: Array[Byte]): Option[CloudMeta] = {
    if (b == null || b.length < 227 || !(b(0) == 'L' && b(1) == 'A' && b(2) == 'S' && b(3) == 'F')) None
    else
      try {
        val verMajor = b(24) & 0xff
        val verMinor = b(25) & 0xff
        // legacy point count u32 @107; LAS 1.4 u64 @247
        val count =
          if (verMajor == 1 && verMinor >= 4 && b.length >= 255) {
            val c14 = le64(b, 247)
            if (c14 > 0) c14 else le32u(b, 107)
          } else le32u(b, 107)
        // bounds: maxX,minX,maxY,minY,maxZ,minZ doubles @179
        val bounds =
          if (b.length >= 179 + 48)
            Some((leF64(b, 187), leF64(b, 203), leF64(b, 219), leF64(b, 179), leF64(b, 195), leF64(b, 211)))
          else None
        Some(CloudMeta("las", count, Seq("X", "Y", "Z", "Intensity", "Classification"), bounds))
      } catch { case _: Exception => None }
  }

  /** PLY ASCII header (works for binary-body PLYs too — the header is
    * always text). */
  def sniffPly(b: Array[Byte]): Option[CloudMeta] = {
    if (b == null || b.length < 16) return None
    val headText = new String(b, 0, math.min(b.length, 8192), "US-ASCII")
    if (!headText.startsWith("ply")) return None
    val endIdx = headText.indexOf("end_header")
    val head = if (endIdx >= 0) headText.substring(0, endIdx) else headText
    val lines = head.split("\r?\n").toSeq
    var vertexCount = 0L
    var faceCount = 0L
    var inVertex = false
    val dims = scala.collection.mutable.ListBuffer.empty[String]
    lines.foreach { l =>
      val t = l.trim.split("\\s+").toSeq
      t match {
        case Seq("element", "vertex", n) =>
          inVertex = true; vertexCount = try n.toLong catch { case _: Exception => 0L }
        case Seq("element", "face", n) =>
          inVertex = false; faceCount = try n.toLong catch { case _: Exception => 0L }
        case Seq("element", _, _) => inVertex = false
        case Seq("property", _, name) if inVertex => dims += name
        case Seq("property", "list", _, _, _) => () // face indices
        case _ => ()
      }
    }
    // reference dispatch semantics (ply.cpp computePlySplatInfo): a
    // face element makes a mesh; a splat is a vertex-only PLY with the
    // f_dc_0 primary signature or the scale/rot/opacity fallback —
    // [[Ply.info]] is the full version (SH degree, texture flag)
    val isMesh = faceCount > 0
    val has = dims.toSet
    val isSplat = !isMesh && (has("f_dc_0") ||
      (has("scale_0") && has("scale_1") && has("scale_2") &&
        has("rot_0") && has("rot_1") && has("rot_2") && has("rot_3") && has("opacity")))
    Some(CloudMeta("ply", vertexCount, dims.toSeq, None, isMesh = isMesh, isSplat = isSplat))
  }

  /** LAZ (laszip-compressed LAS): the LAS header with the compressed
    * flag set on the point format id — count/bounds parse identically,
    * the point body is the [[Laz]] chunked arithmetic stream. */
  def sniffLaz(b: Array[Byte]): Option[CloudMeta] =
    if (b != null && b.length >= 227 && b(0) == 'L' && b(1) == 'A' && b(2) == 'S' && b(3) == 'F' &&
      ((b(104) & 0x80) != 0))
      sniffLas(b).map(_.copy(format = "laz"))
    else None

  /** ASTM E57: signature + paged-CRC header walk (counts + prototype
    * dimensions from the XML section — [[E57.info]]). */
  def sniffE57(b: Array[Byte]): Option[CloudMeta] =
    if (b == null || b.length < 48 || new String(b, 0, 8, "US-ASCII") != "ASTM-E57") None
    else E57.info(b).map(i => CloudMeta("e57", i.pointCount, i.dimensions, None))

  def sniff(b: Array[Byte]): Option[CloudMeta] =
    Copc.meta(b).orElse(sniffLaz(b)).orElse(sniffLas(b)).orElse(sniffE57(b)).orElse(sniffPly(b))

  /** Properties JSON (reference shape: pointCount, dimensions, bounds). */
  def properties(m: CloudMeta): String = {
    val dims = m.dimensions.map(d => "\"" + d + "\"").mkString("[", ",", "]")
    val bounds = m.bounds
      .map { case (minx, miny, minz, maxx, maxy, maxz) => s""","bounds":[$minx,$miny,$minz,$maxx,$maxy,$maxz]""" }
      .getOrElse("")
    s"""{"pointCount":${m.pointCount},"dimensions":$dims$bounds}"""
  }
}
