package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.Bytes.{le16, le32, le32u, le64, leF64, putLe16, putLe32, putLe64, putLeF64}

/** LAS 1.4 / LASzip v3 container: the layered-chunk .laz layout for
  * point formats 6 (POINT14), 7 (+RGB14) and 8 (+RGBNIR14) — the
  * format family conformant COPC requires (reference
  * `src/library/pctiler.cpp` emits it through untwine). Every chunk
  * is [raw seed record][u32 size per layer][independent layer
  * streams], so
  *
  *  - chunks decode in parallel from their byte range alone (the
  *    GET-Range shape [[Laz]] establishes for v2), AND
  *  - within a chunk, a projection decodes ONLY the layers it needs —
  *    an XYZ scan of a format-8 cloud skips the classification,
  *    flags, intensity, scan-angle, user-data, point-source, GPS,
  *    RGB and NIR streams entirely, and layers whose field is
  *    constant in the chunk occupy zero bytes.
  *
  * Item codecs are [[Point14V3Enc]]/[[Point14V3Dec]]/[[Rgb14V3]]/
  * [[Nir14V3]] (see LazCodec14.scala for the conformance boundary).
  */
object Laz14 {

  /** One LAS 1.4 point record (formats 6-8). `scanAngle` is the
    * signed 16-bit LAS 1.4 field (0.006° units). */
  final case class P14(
      x: Int,
      y: Int,
      z: Int,
      intensity: Int,
      returnNumber: Int,
      numberOfReturns: Int,
      classificationFlags: Int,
      scannerChannel: Int,
      scanDirection: Int,
      edgeOfFlight: Int,
      classification: Int,
      userData: Int,
      scanAngle: Int,
      pointSource: Int,
      gpsTime: Double,
      red: Int = 0,
      green: Int = 0,
      blue: Int = 0,
      nir: Int = 0,
      extra: Seq[Int] = Nil,
      wpIndex: Int = 0,
      wpOffset: Long = 0L,
      wpSize: Int = 0,
      wpReturn: Float = 0f,
      wpXt: Float = 0f,
      wpYt: Float = 0f,
      wpZt: Float = 0f
  )

  private[sources] val RecordLen = Map(6 -> 30, 7 -> 36, 8 -> 38, 9 -> 59, 10 -> 67)
  private val HeaderSize = 375
  private val VlrHeaderSize = 54

  private def hasRgb14(fmt: Int): Boolean = fmt == 7 || fmt == 8 || fmt == 10
  private def hasNir14(fmt: Int): Boolean = fmt == 8 || fmt == 10
  private def hasWp14(fmt: Int): Boolean = fmt == 9 || fmt == 10

  private def numLayers(fmt: Int, extraBytes: Int): Int =
    Point14V3.NumPointLayers + (if (hasRgb14(fmt)) 1 else 0) + (if (hasNir14(fmt)) 1 else 0) +
      (if (hasWp14(fmt)) 1 else 0) + extraBytes

  private def toBuf(p: P14, buf: Point14): Unit = {
    buf.x = p.x; buf.y = p.y; buf.z = p.z
    buf.intensity = p.intensity & 0xFFFF
    buf.returnNumber = p.returnNumber & 15
    buf.numberOfReturns = p.numberOfReturns & 15
    buf.classificationFlags = p.classificationFlags & 15
    buf.scannerChannel = p.scannerChannel & 3
    buf.scanDirection = p.scanDirection & 1
    buf.edgeOfFlight = p.edgeOfFlight & 1
    buf.classification = p.classification & 0xFF
    buf.userData = p.userData & 0xFF
    buf.scanAngle = p.scanAngle & 0xFFFF
    buf.pointSource = p.pointSource & 0xFFFF
    buf.gpsBits = java.lang.Double.doubleToLongBits(p.gpsTime)
    buf.red = p.red & 0xFFFF; buf.green = p.green & 0xFFFF; buf.blue = p.blue & 0xFFFF
    buf.nir = p.nir & 0xFFFF
    buf.extra = if (p.extra.isEmpty) null else p.extra.map(_ & 0xFF).toArray
    buf.wpIndex = p.wpIndex & 0xFF
    buf.wpOffset = p.wpOffset
    buf.wpSize = p.wpSize
    buf.wpRetBits = java.lang.Float.floatToIntBits(p.wpReturn)
    buf.wpXtBits = java.lang.Float.floatToIntBits(p.wpXt)
    buf.wpYtBits = java.lang.Float.floatToIntBits(p.wpYt)
    buf.wpZtBits = java.lang.Float.floatToIntBits(p.wpZt)
  }

  private def fromBuf(buf: Point14): P14 =
    P14(
      buf.x,
      buf.y,
      buf.z,
      buf.intensity,
      buf.returnNumber,
      buf.numberOfReturns,
      buf.classificationFlags,
      buf.scannerChannel,
      buf.scanDirection,
      buf.edgeOfFlight,
      buf.classification,
      buf.userData,
      buf.scanAngle.toShort.toInt,
      buf.pointSource,
      java.lang.Double.longBitsToDouble(buf.gpsBits),
      buf.red,
      buf.green,
      buf.blue,
      buf.nir,
      if (buf.extra == null) Nil else buf.extra.toVector,
      buf.wpIndex,
      buf.wpOffset,
      buf.wpSize,
      java.lang.Float.intBitsToFloat(buf.wpRetBits),
      java.lang.Float.intBitsToFloat(buf.wpXtBits),
      java.lang.Float.intBitsToFloat(buf.wpYtBits),
      java.lang.Float.intBitsToFloat(buf.wpZtBits)
    )

  // ---- raw (seed) point records ---------------------------------------------
  private def writeRaw(out: ArrayBuffer[Byte], p: Point14, fmt: Int): Unit = {
    putLe32(out, p.x.toLong & 0xFFFFFFFFL)
    putLe32(out, p.y.toLong & 0xFFFFFFFFL)
    putLe32(out, p.z.toLong & 0xFFFFFFFFL)
    putLe16(out, p.intensity)
    out += (p.returnNumber | (p.numberOfReturns << 4)).toByte
    out += (p.classificationFlags | (p.scannerChannel << 4) | (p.scanDirection << 6) | (p.edgeOfFlight << 7)).toByte
    out += p.classification.toByte
    out += p.userData.toByte
    putLe16(out, p.scanAngle)
    putLe16(out, p.pointSource)
    putLe64(out, p.gpsBits)
    if (hasRgb14(fmt)) { putLe16(out, p.red); putLe16(out, p.green); putLe16(out, p.blue) }
    if (hasNir14(fmt)) putLe16(out, p.nir)
    if (hasWp14(fmt)) {
      out += p.wpIndex.toByte
      putLe64(out, p.wpOffset)
      putLe32(out, p.wpSize.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpRetBits.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpXtBits.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpYtBits.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpZtBits.toLong & 0xFFFFFFFFL)
    }
    if (p.extra != null) p.extra.foreach(v => out += v.toByte)
  }

  private def readRaw(b: Array[Byte], off: Int, p: Point14, fmt: Int, extraBytes: Int = 0): Unit = {
    p.x = le32(b, off); p.y = le32(b, off + 4); p.z = le32(b, off + 8)
    p.intensity = le16(b, off + 12)
    val rb = b(off + 14) & 0xFF
    p.returnNumber = rb & 15
    p.numberOfReturns = (rb >>> 4) & 15
    val fb = b(off + 15) & 0xFF
    p.classificationFlags = fb & 15
    p.scannerChannel = (fb >>> 4) & 3
    p.scanDirection = (fb >>> 6) & 1
    p.edgeOfFlight = (fb >>> 7) & 1
    p.classification = b(off + 16) & 0xFF
    p.userData = b(off + 17) & 0xFF
    p.scanAngle = le16(b, off + 18)
    p.pointSource = le16(b, off + 20)
    p.gpsBits = le64(b, off + 22)
    if (hasRgb14(fmt)) { p.red = le16(b, off + 30); p.green = le16(b, off + 32); p.blue = le16(b, off + 34) }
    if (hasNir14(fmt)) p.nir = le16(b, off + 36)
    if (hasWp14(fmt)) {
      val wo = off + (if (fmt == 9) 30 else 38)
      p.wpIndex = b(wo) & 0xFF
      p.wpOffset = le64(b, wo + 1)
      p.wpSize = le32u(b, wo + 9).toInt
      p.wpRetBits = le32u(b, wo + 13).toInt
      p.wpXtBits = le32u(b, wo + 17).toInt
      p.wpYtBits = le32u(b, wo + 21).toInt
      p.wpZtBits = le32u(b, wo + 25).toInt
    }
    p.extra =
      if (extraBytes == 0) null
      else Array.tabulate(extraBytes)(i => b(off + RecordLen(fmt) + i) & 0xFF)
    p.gpsTimeChange = false
  }

  // ---- chunk codec ----------------------------------------------------------

  /** One standalone layered chunk: raw seed record, per-layer u32
    * size table, then the layer streams. The unit a chunked LAS 1.4
    * .laz concatenates and a COPC octree node stores. */
  private[graft] def encodeChunk(chunk: Seq[P14], fmt: Int, extraBytes: Int = 0): Array[Byte] = {
    require(chunk.forall(_.extra.length == extraBytes), s"encodeChunk: every point needs $extraBytes extra bytes")
    val out = new ArrayBuffer[Byte](chunk.length * 8)
    val buf = new Point14
    toBuf(chunk.head, buf)
    writeRaw(out, buf, fmt)
    val enc = new Point14V3Enc(buf)
    val rgb = if (hasRgb14(fmt)) new Rgb14V3(forEncode = true, buf) else null
    val nir = if (hasNir14(fmt)) new Nir14V3(forEncode = true, buf) else null
    val wp = if (hasWp14(fmt)) new Wavepacket14V3(forEncode = true, buf) else null
    val ext =
      if (extraBytes > 0) new Byte14V3(forEncode = true, buf.extra, buf.scannerChannel) else null
    val encRgb = if (rgb != null) new AcEncoder else null
    val encNir = if (nir != null) new AcEncoder else null
    val encWp = if (wp != null) new AcEncoder else null
    val encExt = if (extraBytes > 0) Array.fill(extraBytes)(new AcEncoder) else null
    chunk.tail.foreach { p =>
      toBuf(p, buf)
      enc.write(buf)
      val ctx = enc.currentContext
      if (rgb != null) rgb.write(encRgb, buf, ctx)
      if (nir != null) nir.write(encNir, buf, ctx)
      if (wp != null) wp.write(encWp, buf, ctx)
      if (ext != null) ext.write(encExt, buf.extra, ctx)
    }
    val layers = ArrayBuffer.empty[Array[Byte]]
    layers ++= enc.layers()
    if (rgb != null) layers += (if (rgb.changed) { encRgb.done(); encRgb.result() } else Array.empty[Byte])
    if (nir != null) layers += (if (nir.changed) { encNir.done(); encNir.result() } else Array.empty[Byte])
    if (wp != null) layers += (if (wp.changed) { encWp.done(); encWp.result() } else Array.empty[Byte])
    if (ext != null) (0 until extraBytes).foreach { i =>
      layers += (if (ext.changed(i)) { encExt(i).done(); encExt(i).result() } else Array.empty[Byte])
    }
    layers.foreach(l => putLe32(out, l.length.toLong))
    layers.foreach(out ++= _)
    out.toArray
  }

  /** Canonical column order for formats 6-8. */
  val PointColumns: Seq[String] = Seq(
    "x", "y", "z", "intensity", "return_number", "number_of_returns", "class_flags",
    "scanner_channel", "scan_direction", "edge_of_flight", "classification", "user_data",
    "scan_angle", "point_source", "gps_time", "red", "green", "blue", "nir",
    "wp_index", "wp_offset", "wp_size", "wp_return", "wp_xt", "wp_yt", "wp_zt", "extra"
  )

  /** Decode a layered chunk reading ONLY the layers `cols` needs;
    * skipped layers cost zero decode work (their fields hold the
    * chunk seed — callers never project them). */
  def decodeChunk(
      b: Array[Byte],
      start: Int,
      end: Int,
      pointCount: Int,
      fmt: Int,
      cols: Seq[String] = PointColumns,
      extraBytes: Int = 0
  ): Array[P14] = {
    import Point14V3._
    val recLen = RecordLen(fmt) + extraBytes
    val outPts = new Array[P14](pointCount)
    if (pointCount == 0) return outPts
    require(
      start >= 0 && start.toLong + recLen <= b.length,
      s"laz14: chunk seed record out of range at $start (corrupt chunk table)"
    )
    val seed = new Point14
    readRaw(b, start, seed, fmt, extraBytes)
    outPts(0) = fromBuf(seed)
    if (pointCount == 1) return outPts
    val nl = numLayers(fmt, extraBytes)
    val sizesAt = start + recLen
    require(sizesAt.toLong + 4 * nl <= end, s"laz14: truncated layer-size table (corrupt chunk)")
    val layerStart = new Array[Int](nl)
    val layerEnd = new Array[Int](nl)
    var at = sizesAt + 4 * nl
    var i = 0
    while (i < nl) {
      val len = le32u(b, sizesAt + 4 * i).toInt
      require(
        len >= 0 && at.toLong + len <= end,
        s"laz14: layer $i size $len exceeds the chunk byte range (corrupt layer table)"
      )
      layerStart(i) = at
      layerEnd(i) = at + len
      at += len
      i += 1
    }
    val want = cols.toSet
    val dec = new Point14V3Dec(
      seed,
      b,
      layerStart,
      layerEnd,
      wantZ = want("z"),
      wantCls = want("classification"),
      wantFlg = want("class_flags") || want("scan_direction") || want("edge_of_flight"),
      wantInt = want("intensity"),
      wantSca = want("scan_angle"),
      wantUsr = want("user_data"),
      wantPsr = want("point_source"),
      wantGps = want("gps_time")
    )
    val wantRgb = hasRgb14(fmt) && (want("red") || want("green") || want("blue"))
    val wantNir = hasNir14(fmt) && want("nir")
    val wantWp = hasWp14(fmt) &&
      (want("wp_index") || want("wp_offset") || want("wp_size") || want("wp_return") ||
        want("wp_xt") || want("wp_yt") || want("wp_zt"))
    val rgbLayer = Point14V3.NumPointLayers
    val nirLayer = rgbLayer + (if (hasRgb14(fmt)) 1 else 0)
    val wpLayer = nirLayer + (if (hasNir14(fmt)) 1 else 0)
    val rgb = if (hasRgb14(fmt)) new Rgb14V3(forEncode = false, seed) else null
    val decRgb =
      if (wantRgb && layerEnd(rgbLayer) > layerStart(rgbLayer))
        new AcDecoder(b, layerStart(rgbLayer), layerEnd(rgbLayer))
      else null
    val nir = if (hasNir14(fmt)) new Nir14V3(forEncode = false, seed) else null
    val decNir =
      if (wantNir && layerEnd(nirLayer) > layerStart(nirLayer))
        new AcDecoder(b, layerStart(nirLayer), layerEnd(nirLayer))
      else null
    val wp = if (hasWp14(fmt)) new Wavepacket14V3(forEncode = false, seed) else null
    val decWp =
      if (wantWp && layerEnd(wpLayer) > layerStart(wpLayer))
        new AcDecoder(b, layerStart(wpLayer), layerEnd(wpLayer))
      else null
    val extBase = wpLayer + (if (hasWp14(fmt)) 1 else 0)
    val wantExt = extraBytes > 0 && want("extra")
    val ext = if (extraBytes > 0) new Byte14V3(forEncode = false, seed.extra, seed.scannerChannel) else null
    val decExt =
      if (ext != null)
        Array.tabulate(extraBytes) { i =>
          if (wantExt && layerEnd(extBase + i) > layerStart(extBase + i))
            new AcDecoder(b, layerStart(extBase + i), layerEnd(extBase + i))
          else null
        }
      else null
    val extOut = if (ext != null) new Array[Int](extraBytes) else null
    val buf = new Point14
    var k = 1
    while (k < pointCount) {
      dec.read(buf)
      val ctx = dec.currentContext
      if (rgb != null) rgb.read(decRgb, buf, ctx) else { buf.red = 0; buf.green = 0; buf.blue = 0 }
      if (nir != null) nir.read(decNir, buf, ctx) else buf.nir = 0
      if (wp != null) wp.read(decWp, buf, ctx)
      else {
        buf.wpIndex = 0; buf.wpOffset = 0L; buf.wpSize = 0
        buf.wpRetBits = 0; buf.wpXtBits = 0; buf.wpYtBits = 0; buf.wpZtBits = 0
      }
      if (ext != null) { ext.read(decExt, extOut, ctx); buf.extra = extOut } else buf.extra = null
      outPts(k) = fromBuf(buf)
      k += 1
    }
    outPts
  }

  // ---- container ------------------------------------------------------------

  /** Compress `points` into a complete LAS 1.4 .laz byte stream
    * (compressor 3, layered chunked, POINT14/RGB14/RGBNIR14 v3). */
  def compress(
      points: Seq[P14],
      pointFormat: Int = 6,
      chunkSize: Int = 50000,
      scale: Double = 0.01,
      offset: Double = 0.0,
      extraBytes: Int = 0
  ): Array[Byte] = {
    require(RecordLen.contains(pointFormat), s"unsupported LAS 1.4 point format $pointFormat")
    require(chunkSize > 0 && extraBytes >= 0)
    val recLen = RecordLen(pointFormat) + extraBytes
    val numItems = 1 + (if (pointFormat == 7) 1 else 0) + (if (hasNir14(pointFormat)) 1 else 0) +
      (if (hasWp14(pointFormat)) 1 else 0) + (if (extraBytes > 0) 1 else 0)
    val vlrPayload = 34 + 6 * numItems
    val offsetToPoints = HeaderSize + VlrHeaderSize + vlrPayload

    val chunkBytes = points.grouped(chunkSize).toVector.map(encodeChunk(_, pointFormat, extraBytes))

    val out = new ArrayBuffer[Byte](points.length * 8 + 512)
    // --- LAS 1.4 public header (375 bytes)
    out ++= "LASF".getBytes("US-ASCII")
    putLe16(out, 0); putLe16(out, 0)
    (0 until 16).foreach(_ => out += 0)
    out += 1; out += 4 // version 1.4
    out ++= "graft".getBytes("US-ASCII").padTo(32, 0.toByte)
    out ++= "graft laz14 writer".getBytes("US-ASCII").padTo(32, 0.toByte)
    putLe16(out, 1); putLe16(out, 2026)
    putLe16(out, HeaderSize)
    putLe32(out, offsetToPoints.toLong)
    putLe32(out, 1L)
    out += (pointFormat | 0x80).toByte
    putLe16(out, recLen)
    putLe32(out, 0L) // legacy point count (1.4: u64 field below)
    (0 until 5).foreach(_ => putLe32(out, 0L))
    putLeF64(out, scale); putLeF64(out, scale); putLeF64(out, scale)
    putLeF64(out, offset); putLeF64(out, offset); putLeF64(out, offset)
    def sOf(f: P14 => Int): (Double, Double) =
      if (points.isEmpty) (0.0, 0.0)
      else (points.map(f).max * scale + offset, points.map(f).min * scale + offset)
    val (maxX, minX) = sOf(_.x); val (maxY, minY) = sOf(_.y); val (maxZ, minZ) = sOf(_.z)
    putLeF64(out, maxX); putLeF64(out, minX)
    putLeF64(out, maxY); putLeF64(out, minY)
    putLeF64(out, maxZ); putLeF64(out, minZ)
    putLe64(out, 0L) // waveform
    putLe64(out, 0L); putLe32(out, 0L) // first EVLR, count
    putLe64(out, points.length.toLong)
    (0 until 15).foreach(_ => putLe64(out, 0L))
    require(out.length == HeaderSize)

    // --- laszip VLR (compressor 3 = layered chunked, v3 items)
    putLe16(out, 0)
    out ++= "laszip encoded".getBytes("US-ASCII").padTo(16, 0.toByte)
    putLe16(out, 22204)
    putLe16(out, vlrPayload)
    out ++= "graft laz14".getBytes("US-ASCII").padTo(32, 0.toByte)
    putLe16(out, 3); putLe16(out, 0)
    out += 3; out += 4 // version 3.4
    putLe16(out, 0)
    putLe32(out, 0L)
    putLe32(out, chunkSize.toLong)
    putLe64(out, 0L); putLe64(out, 0L)
    putLe16(out, numItems)
    putLe16(out, 10); putLe16(out, 30); putLe16(out, 3) // POINT14 v3
    if (pointFormat == 7) { putLe16(out, 11); putLe16(out, 6); putLe16(out, 3) } // RGB14 v3
    if (hasNir14(pointFormat)) { putLe16(out, 12); putLe16(out, 8); putLe16(out, 3) } // RGBNIR14 v3
    if (hasWp14(pointFormat)) { putLe16(out, 13); putLe16(out, 29); putLe16(out, 3) } // WAVEPACKET14 v3
    if (extraBytes > 0) { putLe16(out, 14); putLe16(out, extraBytes); putLe16(out, 3) } // BYTE14 v3
    require(out.length == offsetToPoints)

    // --- point data: chunk table pointer, chunks, chunk table
    val chunkTableOffset = offsetToPoints.toLong + 8 + chunkBytes.map(_.length.toLong).sum
    putLe64(out, chunkTableOffset)
    chunkBytes.foreach(out ++= _)
    putLe32(out, 0L)
    putLe32(out, chunkBytes.length.toLong)
    val tEnc = new AcEncoder
    val ic = new IntCompressor(2, 32, forEncode = true)
    var prev = 0
    chunkBytes.foreach { cb =>
      ic.compress(tEnc, prev, cb.length, 1)
      prev = cb.length
    }
    tEnc.done()
    out ++= tEnc.result()
    out.toArray
  }

  /** Parse a LAS 1.4 .laz header (reusing [[Laz.Header]]; point count
    * comes from the 1.4 u64 field). */
  def readHeader(b: Array[Byte]): Laz.Header = {
    require(b.length >= HeaderSize && b(0) == 'L' && b(1) == 'A' && b(2) == 'S' && b(3) == 'F', "not a LAS/LAZ stream")
    require((b(24) & 0xFF) == 1 && (b(25) & 0xFF) == 4, "not LAS 1.4 (use Laz.readHeader for 1.2)")
    val fmtRaw = b(104) & 0xFF
    require((fmtRaw & 0x80) != 0, "not compressed (no laszip flag)")
    val fmt = fmtRaw & 0x7F
    require(RecordLen.contains(fmt), s"unsupported LAS 1.4 point format $fmt")
    val offsetToPoints = le32u(b, 96).toInt
    val numVlrs = le32u(b, 100).toInt
    val legacy = le32u(b, 107)
    val count = le64(b, 247)
    var chunkSize = 50000
    var compressor = 3
    var extraBytes = 0
    var vo = le16(b, 94)
    var i = 0
    while (i < numVlrs && vo + VlrHeaderSize <= b.length) {
      val userId = new String(b, vo + 2, 16, "US-ASCII").takeWhile(_ != 0)
      val recordId = le16(b, vo + 18)
      val len = le16(b, vo + 20)
      if (userId == "laszip encoded" && recordId == 22204) {
        compressor = le16(b, vo + VlrHeaderSize)
        chunkSize = le32u(b, vo + VlrHeaderSize + 12).toInt
        val nItems = le16(b, vo + VlrHeaderSize + 32)
        (0 until nItems).foreach { k =>
          val at = vo + VlrHeaderSize + 34 + 6 * k
          if (le16(b, at) == 14) extraBytes = le16(b, at + 2) // BYTE14
        }
      }
      vo += VlrHeaderSize + len
      i += 1
    }
    Laz.Header(
      pointFormat = fmt,
      pointCount = if (count > 0) count else legacy,
      chunkSize = chunkSize,
      offsetToPoints = offsetToPoints,
      chunkTableOffset = le64(b, offsetToPoints),
      scaleX = leF64(b, 131),
      scaleY = leF64(b, 139),
      scaleZ = leF64(b, 147),
      offX = leF64(b, 155),
      offY = leF64(b, 163),
      offZ = leF64(b, 171),
      compressor = compressor,
      extraBytes = extraBytes
    )
  }

  /** Decode the compressed chunk table into per-chunk byte ranges. */
  def chunks(b: Array[Byte]): Seq[Laz.ChunkRef] = {
    val h = readHeader(b)
    Laz.chunkRefsFromTable(b, h.chunkTableOffset.toInt, h)
  }

  /** Serial whole-stream decode (driver-side / test face). */
  def decompress(b: Array[Byte], cols: Seq[String] = PointColumns): Seq[P14] = {
    val h = readHeader(b)
    Laz.chunkRefsFromTable(b, h.chunkTableOffset.toInt, h).flatMap { c =>
      decodeChunk(b, c.offset.toInt, (c.offset + c.size).toInt, c.pointCount, h.pointFormat, cols, h.extraBytes)
    }
  }

  /** Driver-side plan read: header + chunk table ranges only. */
  def planFile(path: String): (Laz.Header, Seq[Laz.ChunkRef]) = {
    val fileLen = new java.io.File(path).length()
    val head = Laz.readRange(path, 0L, 1 << 16)
    val h = readHeader(head)
    val refs =
      if (fileLen <= head.length) Laz.chunkRefsFromTable(head, h.chunkTableOffset.toInt, h)
      else {
        val tail = Laz.readRange(path, h.chunkTableOffset, (fileLen - h.chunkTableOffset).toInt)
        Laz.chunkRefsFromTable(tail, 0, h)
      }
    (h, refs)
  }

  /** Chunk-parallel point decode with projection pruning: `cols`
    * decide which LAYERS each task decodes (an XYZ-only scan of a
    * format-8 cloud skips nine streams); executors range-read ONLY
    * their chunk's bytes. */
  def pointsTable(spark: SparkSession, path: String, cols: Seq[String] = PointColumns): DataFrame = {
    val (h, refs) = planFile(path)
    val sel = PointColumns
      .filter(cols.contains)
      .filterNot(c => c == "extra" && h.extraBytes == 0)
      .filterNot(c => c.startsWith("wp_") && !(h.pointFormat == 9 || h.pointFormat == 10))
    require(sel.nonEmpty, s"pointsTable: no valid columns in $cols")
    val schema = StructType(
      StructField("chunk_id", IntegerType, nullable = false) +: sel.map {
        case n @ ("x" | "y" | "z" | "gps_time") => StructField(n, DoubleType, nullable = false)
        case n @ "extra" => StructField(n, ArrayType(IntegerType, containsNull = false), nullable = false)
        case n @ "wp_offset" => StructField(n, LongType, nullable = false)
        case n @ ("wp_return" | "wp_xt" | "wp_yt" | "wp_zt") => StructField(n, FloatType, nullable = false)
        case n => StructField(n, IntegerType, nullable = false)
      }
    )
    val fmt = h.pointFormat
    val extraBytes = h.extraBytes
    val (sx, sy, sz) = (h.scaleX, h.scaleY, h.scaleZ)
    val (ox, oy, oz) = (h.offX, h.offY, h.offZ)
    val selArr = sel.toArray
    val rdd = spark.sparkContext
      .parallelize(refs, math.max(1, math.min(refs.size, 64)))
      .flatMap { c =>
        val bytes = Laz.readRange(path, c.offset, c.size)
        val pts = decodeChunk(bytes, 0, bytes.length, c.pointCount, fmt, selArr.toSeq, extraBytes)
        pts.iterator.map { p =>
          val vals: Seq[Any] = selArr.toSeq.map {
            case "x" => p.x * sx + ox
            case "y" => p.y * sy + oy
            case "z" => p.z * sz + oz
            case "intensity" => p.intensity
            case "return_number" => p.returnNumber
            case "number_of_returns" => p.numberOfReturns
            case "class_flags" => p.classificationFlags
            case "scanner_channel" => p.scannerChannel
            case "scan_direction" => p.scanDirection
            case "edge_of_flight" => p.edgeOfFlight
            case "classification" => p.classification
            case "user_data" => p.userData
            case "scan_angle" => p.scanAngle
            case "point_source" => p.pointSource
            case "gps_time" => p.gpsTime
            case "red" => p.red
            case "green" => p.green
            case "blue" => p.blue
            case "nir" => p.nir
            case "wp_index" => p.wpIndex
            case "wp_offset" => p.wpOffset
            case "wp_size" => p.wpSize
            case "wp_return" => p.wpReturn
            case "wp_xt" => p.wpXt
            case "wp_yt" => p.wpYt
            case "wp_zt" => p.wpZt
            case "extra" => p.extra
          }
          Row.fromSeq(c.index +: vals)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Estate scan: every LAS 1.4 .laz under `dir` planned (header +
    * chunk table reads only) and decoded as ONE DataFrame,
    * chunk-parallel across files, with layer pruning from `cols`.
    * Adds a `path` column. */
  def pointsTableDir(spark: SparkSession, dir: String, cols: Seq[String] = PointColumns): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val files = {
      val d = new java.io.File(dir)
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
      fs.filter(f => f.isFile && f.getName.toLowerCase(java.util.Locale.ROOT).endsWith(".laz")).map(_.getPath).sorted
    }
    require(files.nonEmpty, s"pointsTableDir: no .laz files under $dir")
    files
      .map(f => pointsTable(spark, f, cols).withColumn("path", lit(f)))
      .reduce(_ unionByName _)
  }

  /** End-to-end LAS 1.4 codec proof under the DuckDB oracle: the
    * format-8 sibling of [[Laz.lazQuery]] — deterministic points
    * exercising every POINT14 field (four scanner channels, 15-value
    * return domain, i16 scan angles, classification flags, NIR), one
    * .laz per event_type, compressed AND decompressed inside the
    * task; integer aggregates of the DECODED points must match the
    * oracle aggregating the raw rows. */
  def laz14Query(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val agg = udf { rows: Seq[Row] =>
      val pts = rows
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val uid = r.getLong(1)
          val us = r.getLong(2)
          val nr = (1 + id % 5).toInt
          P14(
            x = (id % 1000000).toInt,
            y = ((uid * 7) % 1000000).toInt,
            z = ((id * 13) % 500000).toInt,
            intensity = ((id * 31) % 65536).toInt,
            returnNumber = (1 + (id % nr)).toInt,
            numberOfReturns = nr,
            classificationFlags = (id % 16).toInt,
            scannerChannel = ((id / 7) % 4).toInt,
            scanDirection = (id % 2).toInt,
            edgeOfFlight = ((id / 3) % 2).toInt,
            classification = (id % 256).toInt,
            userData = ((id * 5) % 256).toInt,
            scanAngle = ((id % 30001) - 15000).toInt,
            pointSource = (uid % 65536).toInt,
            gpsTime = us.toDouble,
            red = (id % 65536).toInt,
            green = (uid % 65536).toInt,
            blue = ((id * 3) % 65536).toInt,
            nir = ((uid * 11) % 65536).toInt
          )
        }
      val laz = compress(pts, pointFormat = 8, chunkSize = 1000)
      val dec = decompress(laz)
      require(dec.length == pts.length, "laz14 round-trip lost points")
      Seq(
        dec.length.toLong,
        dec.map(_.x.toLong).sum,
        dec.map(_.y.toLong).sum,
        dec.map(_.z.toLong).sum,
        dec.map(_.intensity.toLong).sum,
        dec.map(_.returnNumber.toLong).sum,
        dec.map(_.numberOfReturns.toLong).sum,
        dec.map(_.classificationFlags.toLong).sum,
        dec.map(_.scannerChannel.toLong).sum,
        dec.map(_.classification.toLong).sum,
        dec.map(_.scanAngle.toLong).sum,
        dec.map(p => p.gpsTime.toLong % 86400).sum,
        dec.map(_.red.toLong).sum,
        dec.map(_.nir.toLong).sum
      )
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type")
      .agg(collect_list(struct($"event_id", $"user_id", $"ts")).as("rows"))
      .withColumn("a", agg($"rows"))
      .select(
        $"event_type",
        $"a".getItem(0).as("n_points"),
        $"a".getItem(1).as("sum_x"),
        $"a".getItem(2).as("sum_y"),
        $"a".getItem(3).as("sum_z"),
        $"a".getItem(4).as("sum_intensity"),
        $"a".getItem(5).as("sum_ret"),
        $"a".getItem(6).as("sum_nret"),
        $"a".getItem(7).as("sum_cflags"),
        $"a".getItem(8).as("sum_chan"),
        $"a".getItem(9).as("sum_class"),
        $"a".getItem(10).as("sum_scan"),
        $"a".getItem(11).as("sum_gps"),
        $"a".getItem(12).as("sum_red"),
        $"a".getItem(13).as("sum_nir")
      )
  }
}
