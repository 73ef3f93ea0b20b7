package graft.sources

/** Pure-JVM reader for ZoneDetect polygon databases (the
  * `timezone21.bin` the reference ships in `data/` and opens in
  * `src/library/timezone.cpp:29-34` via the public ZoneDetect
  * library) — lat/lon → IANA timezone id by point-in-polygon over the
  * timezone-boundary-builder geometry.
  *
  * Format (ZoneDetect database v1, reconstructed from the shipped
  * asset and validated against a 28-city battery):
  *
  *  - header: "PLB" magic, table type byte ('T' timezone), version,
  *    precision P (fixed point: deg/scale * 2^(P-1), scale 90 lat /
  *    180 lon), field count; then field-name strings, a notice
  *    string, and three varints: bbox-section size, metadata-section
  *    size, data-section size (sections follow the header in that
  *    order; the last size is also the EOF check).
  *  - varints are 7-bit little-endian groups, high bit = continue;
  *    signed values fold the sign into bit 0 (odd = negative).
  *  - strings: varint length + bytes XOR 0x80; length ≥ 256 is a
  *    remote reference into the metadata section (dedup), where the
  *    real varint length + bytes live at metadataOffset + (len-256).
  *  - bbox section: per-polygon records (minLat, minLon, maxLat,
  *    maxLon signed; metadata-index delta signed; polygon-offset
  *    delta unsigned), sorted by minLat ascending — the lookup
  *    early-exits when the query latitude drops below minLat.
  *  - data section: per-polygon delta streams. Each varint packs one
  *    (dLat, dLon) pair by bit-interleaving (even bits lat, odd bits
  *    lon, each sign-folded). Varint 0 escapes: next varint 0 ends
  *    the polygon; 1 is a shared-border reference with operands
  *    (byte offset into the data section, signed byte length L):
  *    L ≥ 0 replays [off, off+L) forward; L < 0 replays [off+L, off)
  *    reversed with negated deltas (the neighbour walks the shared
  *    border in the opposite direction).
  *  - metadata section: per-polygon field strings (with remote dedup).
  *
  * Scale shape: the database is a ~4 MB broadcast-once, read-only
  * blob; decoded polygons memoize per JVM (1 443 polygons, ~2.4 M
  * points ≈ 40 MB ceiling), so a 100 TB EXIF scan pays the polygon
  * decode once per executor, not per image.
  */
object ZoneDetect {

  final case class Db(
      bytes: Array[Byte],
      tableType: Char,
      version: Int,
      precision: Int,
      fieldNames: Seq[String],
      notice: String,
      bboxOffset: Int,
      metadataOffset: Int,
      dataOffset: Int
  ) {
    private val polyCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

    /** Number of memoized polygon decodes (test observability). */
    def cachedPolygons: Int = polyCache.size

    private def uvarint(at: Int): (Long, Int) = ZoneDetect.uvarint(bytes, at)

    /** Decoded vertex list of the polygon at data-section offset
      * `pidx`, each vertex packed (lat << 32 | lon & 0xffffffff).
      * Memoized — the shared-border replays make repeated decodes
      * cheap to skip. */
    def polygon(pidx: Int): Array[Long] = {
      val hit = polyCache.get(pidx)
      if (hit != null) return hit
      val pts = new scala.collection.mutable.ArrayBuffer[Long]()
      var lat = 0L
      var lon = 0L
      def push(dLat: Long, dLon: Long): Unit = {
        lat += dLat; lon += dLon
        pts += (lat << 32) | (lon & 0xffffffffL)
      }
      var i = dataOffset + pidx
      var done = false
      while (!done) {
        val (p, i1) = uvarint(i); i = i1
        if (p == 0L) {
          val (op, i2) = uvarint(i); i = i2
          if (op == 0L) done = true
          else if (op == 1L) {
            val (off, i3) = uvarint(i); i = i3
            val (raw, i4) = uvarint(i); i = i4
            val len = unfold(raw)
            if (len >= 0) {
              var j = dataOffset + off.toInt
              val end = j + len.toInt
              while (j < end) {
                val (q, j1) = uvarint(j); j = j1
                push(pointLat(q), pointLon(q))
              }
            } else {
              var j = dataOffset + off.toInt + len.toInt
              val end = dataOffset + off.toInt
              val ds = new scala.collection.mutable.ArrayBuffer[Long]()
              while (j < end) {
                val (q, j1) = uvarint(j); j = j1
                ds += q
              }
              var k = ds.length - 1
              while (k >= 0) {
                push(-pointLat(ds(k)), -pointLon(ds(k)))
                k -= 1
              }
            }
          } else throw new IllegalArgumentException(s"zonedetect: unknown escape opcode $op")
        } else push(pointLat(p), pointLon(p))
      }
      val arr = pts.toArray
      polyCache.put(pidx, arr)
      arr
    }

    /** Parse `numFields` strings at metadataOffset + mi. */
    def metadata(mi: Int): Seq[String] = {
      var i = metadataOffset + mi
      fieldNames.map { _ =>
        val (s, i1) = parseString(bytes, i, metadataOffset)
        i = i1
        s
      }
    }

    /** All zones containing the point, in file order (the reference
      * takes the first loadable one, timezone.cpp:67-100). */
    def lookup(latDeg: Double, lonDeg: Double): Seq[Seq[String]] = {
      // mirror ZDFloatToFixedPoint's float arithmetic for bit-equal
      // border behavior
      val platf = ((latDeg.toFloat / 90.0f) * (1 << (precision - 1)).toFloat).toInt
      val plonf = ((lonDeg.toFloat / 180.0f) * (1 << (precision - 1)).toFloat).toInt
      val hits = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var i = bboxOffset
      var metaIdx = 0L
      var polyIdx = 0L
      var stop = false
      while (!stop && i < metadataOffset) {
        val (minLat, i1) = svarint(bytes, i)
        val (minLon, i2) = svarint(bytes, i1)
        val (maxLat, i3) = svarint(bytes, i2)
        val (maxLon, i4) = svarint(bytes, i3)
        val (mDelta, i5) = svarint(bytes, i4)
        val (pDelta, i6) = uvarint(i5)
        i = i6
        metaIdx += mDelta
        polyIdx += pDelta
        if (platf < minLat) stop = true // bboxes sorted by minLat
        else if (platf <= maxLat && plonf >= minLon && plonf <= maxLon) {
          if (pointInPolygon(polygon(polyIdx.toInt), platf, plonf))
            hits += metadata(metaIdx.toInt)
        }
      }
      hits.toSeq
    }

    /** First zone id (TimezoneIdPrefix + TimezoneId) containing the
      * point — the `Timezone::lookupTimezone` contract. */
    def zoneId(latDeg: Double, lonDeg: Double): Option[String] =
      lookup(latDeg, lonDeg).headOption.map(f => f(0) + f(1))
  }

  private def uvarint(b: Array[Byte], at: Int): (Long, Int) = {
    var v = 0L
    var shift = 0
    var i = at
    var cont = true
    while (cont) {
      val x = b(i) & 0xff
      v |= (x & 0x7fL) << shift
      shift += 7
      i += 1
      cont = (x & 0x80) != 0
    }
    (v, i)
  }

  private def svarint(b: Array[Byte], at: Int): (Long, Int) = {
    val (v, i) = uvarint(b, at)
    (unfold(v), i)
  }

  /** Sign-folded (bit 0 = sign) → signed. */
  private def unfold(v: Long): Long = if ((v & 1L) != 0) -(v / 2) else v / 2

  /** De-interleave even bits of w into a 32-bit value. */
  private def unshuffle(w0: Long): Long = {
    var w = w0 & 0x5555555555555555L
    w = (w | (w >>> 1)) & 0x3333333333333333L
    w = (w | (w >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    w = (w | (w >>> 4)) & 0x00ff00ff00ff00ffL
    w = (w | (w >>> 8)) & 0x0000ffff0000ffffL
    (w | (w >>> 16)) & 0x00000000ffffffffL
  }

  private def pointLat(p: Long): Long = unfold(unshuffle(p))
  private def pointLon(p: Long): Long = unfold(unshuffle(p >>> 1))

  private def parseString(b: Array[Byte], at: Int, metadataOffset: Int): (String, Int) = {
    val (len0, i0) = uvarint(b, at)
    var len = len0
    var off = i0
    var after = i0
    if (len >= 256) {
      // remote (deduplicated) string inside the metadata section.
      // Header strings are parsed before the section offsets are known
      // (metadataOffset 0 — the canonical C library has the same
      // order); writers never emit remote header strings, so refuse
      // rather than resolve into the header bytes.
      require(metadataOffset > 0, "zonedetect: remote string reference in the file header")
      val (len1, o1) = uvarint(b, metadataOffset + (len - 256).toInt)
      len = len1; off = o1
    } else after = i0 + len.toInt
    val chars = new Array[Byte](len.toInt)
    var k = 0
    while (k < len.toInt) { chars(k) = (b(off + k) ^ 0x80).toByte; k += 1 }
    (new String(chars, "UTF-8"), after)
  }

  /** Even-odd ray cast (east) in fixed-point space; rings are stored
    * open (last vertex connects implicitly to the first). */
  private def pointInPolygon(pts: Array[Long], plat: Int, plon: Int): Boolean = {
    var inside = false
    val m = pts.length
    var k = 0
    while (k < m) {
      val a = pts(k)
      val b = pts(if (k + 1 == m) 0 else k + 1)
      val y1 = (a >> 32).toInt; val x1 = a.toInt
      val y2 = (b >> 32).toInt; val x2 = b.toInt
      if ((y1 > plat) != (y2 > plat)) {
        val xint = x1 + (plat - y1).toDouble * (x2 - x1) / (y2 - y1)
        if (xint > plon) inside = !inside
      }
      k += 1
    }
    inside
  }

  /** Parse a ZoneDetect database image. */
  def parse(bytes: Array[Byte]): Db = {
    require(
      bytes.length > 7 && bytes(0) == 'P' && bytes(1) == 'L' && bytes(2) == 'B',
      "zonedetect: bad magic"
    )
    val tableType = bytes(3).toChar
    val version = bytes(4) & 0xff
    val precision = bytes(5) & 0xff
    val numFields = bytes(6) & 0xff
    require(version == 1, s"zonedetect: unsupported version $version (only v1)")
    var i = 7
    val fields = (0 until numFields).map { _ =>
      val (s, i1) = parseString(bytes, i, 0)
      i = i1
      s
    }
    val (notice, i1) = parseString(bytes, i, 0)
    i = i1
    val (bboxSize, i2) = uvarint(bytes, i)
    val (metaSize, i3) = uvarint(bytes, i2)
    val (dataSize, i4) = uvarint(bytes, i3)
    i = i4
    val bboxOffset = i
    val metadataOffset = bboxOffset + bboxSize.toInt
    val dataOffset = metadataOffset + metaSize.toInt
    require(
      dataOffset + dataSize.toInt == bytes.length,
      s"zonedetect: section sizes do not reach EOF (${dataOffset + dataSize.toInt} vs ${bytes.length})"
    )
    Db(bytes, tableType, version, precision, fields, notice, bboxOffset, metadataOffset, dataOffset)
  }

  /** Deployment contract (see [[Assets]]): GRAFT_TZDB env override →
    * bundled resource → in-sandbox reference checkout. */
  def resolved: Option[(String, Array[Byte])] =
    Assets.resolve("GRAFT_TZDB", "timezone21.bin", "/root/reference/data/timezone21-old.bin")

  /** The shipped database, loaded once per JVM; None when no copy resolves. */
  lazy val default: Option[Db] =
    resolved.flatMap { case (_, bytes) =>
      try Some(parse(bytes)) catch { case _: Exception => None }
    }
}
