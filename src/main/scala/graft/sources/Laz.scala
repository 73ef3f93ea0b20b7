package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.Bytes.{le16, le32, le32u, le64, leF64, putLe16, putLe32, putLe64, putLeF64}

/** Pure-JVM LAZ (laszip) container: LAS 1.2 header + "laszip encoded"
  * VLR + chunked arithmetic-coded point data + compressed chunk table
  * — the point-cloud derivative codec the reference obtains through
  * PDAL/untwine (`src/library/pointcloud.cpp:371-434`,
  * `untwine_runner.cpp`). Point formats 0-3 (POINT10, optional
  * GPSTIME11 / RGB12 items), compressor 2 (pointwise-chunked), item
  * version 2; the LAS 1.4 formats 6-8 live in [[Laz14]].
  *
  * The chunk table is the scale story: every chunk is an independent
  * arithmetic stream seeded by one raw point, so a 100 TB estate
  * decodes chunk-parallel — [[chunkTable]] surfaces (offset, size,
  * count) as a DataFrame and [[pointsTable]] range-reads ONLY each
  * task's chunk bytes (the S3 GET-Range shape; no task ever holds a
  * whole file). The same table is what a COPC tiler walks
  * ([[Copc.hierarchyTable]] nodes are exactly such chunks).
  */
object Laz {

  /** One LAS point record (format 1 fields + format 3 RGB). */
  final case class P(
      x: Int,
      y: Int,
      z: Int,
      intensity: Int,
      returnByte: Int,
      classification: Int,
      scanAngle: Int, // signed i8 as stored
      userData: Int,
      pointSource: Int,
      gpsTime: Double,
      red: Int = 0,
      green: Int = 0,
      blue: Int = 0,
      wpIndex: Int = 0,
      wpOffset: Long = 0L,
      wpSize: Int = 0,
      wpReturn: Float = 0f,
      wpXt: Float = 0f,
      wpYt: Float = 0f,
      wpZt: Float = 0f
  )

  final case class Header(
      pointFormat: Int, // 1 or 3 (without the 0x80 compressed flag)
      pointCount: Long,
      chunkSize: Int,
      offsetToPoints: Int,
      chunkTableOffset: Long,
      scaleX: Double,
      scaleY: Double,
      scaleZ: Double,
      offX: Double,
      offY: Double,
      offZ: Double,
      compressor: Int = 2, // 2 = pointwise chunked, 3 = layered chunked
      extraBytes: Int = 0 // BYTE14 item size (LAS 1.4 extra bytes)
  )

  final case class ChunkRef(index: Int, offset: Long, size: Int, pointCount: Int)

  private val RecordLen = Map(0 -> 20, 1 -> 28, 2 -> 26, 3 -> 34, 4 -> 57, 5 -> 63)
  private val HeaderSize = 227
  private val VlrHeaderSize = 54
  private def hasGps(fmt: Int): Boolean = fmt == 1 || fmt == 3 || fmt == 4 || fmt == 5
  private def hasRgb(fmt: Int): Boolean = fmt == 2 || fmt == 3 || fmt == 5
  private def hasWp(fmt: Int): Boolean = fmt == 4 || fmt == 5
  private def rgbAt(fmt: Int): Int = if (fmt == 2) 20 else 28
  private def wpAt(fmt: Int): Int = if (fmt == 4) 28 else 34

  private def toBuf(p: P, buf: PointBuf): Unit = {
    buf.x = p.x; buf.y = p.y; buf.z = p.z
    buf.intensity = p.intensity & 0xFFFF
    buf.returnByte = p.returnByte & 0xFF
    buf.classification = p.classification & 0xFF
    buf.scanAngle = p.scanAngle & 0xFF
    buf.userData = p.userData & 0xFF
    buf.pointSource = p.pointSource & 0xFFFF
    buf.gpsBits = java.lang.Double.doubleToLongBits(p.gpsTime)
    buf.red = p.red & 0xFFFF; buf.green = p.green & 0xFFFF; buf.blue = p.blue & 0xFFFF
    buf.wpIndex = p.wpIndex & 0xFF
    buf.wpOffset = p.wpOffset
    buf.wpSize = p.wpSize
    buf.wpRetBits = java.lang.Float.floatToIntBits(p.wpReturn)
    buf.wpXtBits = java.lang.Float.floatToIntBits(p.wpXt)
    buf.wpYtBits = java.lang.Float.floatToIntBits(p.wpYt)
    buf.wpZtBits = java.lang.Float.floatToIntBits(p.wpZt)
  }

  private def fromBuf(buf: PointBuf): P =
    P(
      buf.x,
      buf.y,
      buf.z,
      buf.intensity,
      buf.returnByte,
      buf.classification,
      buf.scanAngle.toByte.toInt,
      buf.userData,
      buf.pointSource,
      java.lang.Double.longBitsToDouble(buf.gpsBits),
      buf.red,
      buf.green,
      buf.blue,
      buf.wpIndex,
      buf.wpOffset,
      buf.wpSize,
      java.lang.Float.intBitsToFloat(buf.wpRetBits),
      java.lang.Float.intBitsToFloat(buf.wpXtBits),
      java.lang.Float.intBitsToFloat(buf.wpYtBits),
      java.lang.Float.intBitsToFloat(buf.wpZtBits)
    )

  // ---- raw (first-of-chunk) point records -----------------------------------
  private def writeRaw(out: ArrayBuffer[Byte], p: PointBuf, fmt: Int): Unit = {
    putLe32(out, p.x.toLong & 0xFFFFFFFFL)
    putLe32(out, p.y.toLong & 0xFFFFFFFFL)
    putLe32(out, p.z.toLong & 0xFFFFFFFFL)
    putLe16(out, p.intensity)
    out += p.returnByte.toByte
    out += p.classification.toByte
    out += p.scanAngle.toByte
    out += p.userData.toByte
    putLe16(out, p.pointSource)
    if (hasGps(fmt)) putLe64(out, p.gpsBits)
    if (hasRgb(fmt)) { putLe16(out, p.red); putLe16(out, p.green); putLe16(out, p.blue) }
    if (hasWp(fmt)) {
      out += p.wpIndex.toByte
      putLe64(out, p.wpOffset)
      putLe32(out, p.wpSize.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpRetBits.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpXtBits.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpYtBits.toLong & 0xFFFFFFFFL)
      putLe32(out, p.wpZtBits.toLong & 0xFFFFFFFFL)
    }
  }

  private def readRaw(b: Array[Byte], off: Int, p: PointBuf, fmt: Int): Unit = {
    p.x = le32(b, off); p.y = le32(b, off + 4); p.z = le32(b, off + 8)
    p.intensity = le16(b, off + 12)
    p.returnByte = b(off + 14) & 0xFF
    p.classification = b(off + 15) & 0xFF
    p.scanAngle = b(off + 16) & 0xFF
    p.userData = b(off + 17) & 0xFF
    p.pointSource = le16(b, off + 18)
    p.gpsBits = if (hasGps(fmt)) le64(b, off + 20) else 0L
    if (hasRgb(fmt)) {
      val ro = off + rgbAt(fmt)
      p.red = le16(b, ro); p.green = le16(b, ro + 2); p.blue = le16(b, ro + 4)
    }
    if (hasWp(fmt)) {
      val wo = off + wpAt(fmt)
      p.wpIndex = b(wo) & 0xFF
      p.wpOffset = le64(b, wo + 1)
      p.wpSize = le32u(b, wo + 9).toInt
      p.wpRetBits = le32u(b, wo + 13).toInt
      p.wpXtBits = le32u(b, wo + 17).toInt
      p.wpYtBits = le32u(b, wo + 21).toInt
      p.wpZtBits = le32u(b, wo + 25).toInt
    }
  }

  // ---- compress -------------------------------------------------------------

  /** One standalone LAZ chunk: the raw first point followed by the
    * arithmetic stream for the rest. This is the unit a chunked .laz
    * concatenates and the unit a COPC octree node stores. */
  private[graft] def encodeChunk(chunk: Seq[P], pointFormat: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](chunk.length * 8)
    val buf = new PointBuf
    toBuf(chunk.head, buf)
    writeRaw(out, buf, pointFormat)
    val enc = new AcEncoder
    val p10 = new Point10V2(forEncode = true, buf)
    val gps = if (hasGps(pointFormat)) new Gps11V2(forEncode = true, buf.gpsBits) else null
    val rgb = if (hasRgb(pointFormat)) new Rgb12V2(forEncode = true, buf) else null
    val wp = if (hasWp(pointFormat)) new Wavepacket13V2(forEncode = true, buf) else null
    chunk.tail.foreach { p =>
      toBuf(p, buf)
      p10.write(enc, buf)
      if (gps != null) gps.write(enc, buf.gpsBits)
      if (rgb != null) rgb.write(enc, buf)
      if (wp != null) wp.write(enc, buf)
    }
    enc.done()
    out ++= enc.result()
    out.toArray
  }

  /** Layered chunk (the LASzip v3 CONTAINER architecture carried by
    * this library's v2 item codecs): the raw first point, a per-item
    * layer-size table, then each item's arithmetic stream SEPARATELY —
    * POINT10, GPSTIME11, RGB12 each in its own layer. Because the item
    * codecs share no state, any subset of layers decodes alone:
    * projection pruning reaches the codec (an XYZ-only scan never
    * spends a cycle on GPS or RGB models). Wire format is this
    * library's extension (declared compressor 3 + v2 items in the
    * VLR); external laszip v3 files carry different item codecs. */
  private[graft] def encodeChunkLayered(chunk: Seq[P], pointFormat: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](chunk.length * 8)
    val buf = new PointBuf
    toBuf(chunk.head, buf)
    writeRaw(out, buf, pointFormat)
    val encP = new AcEncoder
    val encG = if (hasGps(pointFormat)) new AcEncoder else null
    val encR = if (hasRgb(pointFormat)) new AcEncoder else null
    val encW = if (hasWp(pointFormat)) new AcEncoder else null
    val p10 = new Point10V2(forEncode = true, buf)
    val gps = if (encG != null) new Gps11V2(forEncode = true, buf.gpsBits) else null
    val rgb = if (encR != null) new Rgb12V2(forEncode = true, buf) else null
    val wp = if (encW != null) new Wavepacket13V2(forEncode = true, buf) else null
    chunk.tail.foreach { p =>
      toBuf(p, buf)
      p10.write(encP, buf)
      if (gps != null) gps.write(encG, buf.gpsBits)
      if (rgb != null) rgb.write(encR, buf)
      if (wp != null) wp.write(encW, buf)
    }
    encP.done(); if (encG != null) encG.done(); if (encR != null) encR.done()
    if (encW != null) encW.done()
    val bp = encP.result()
    val bg = if (encG != null) encG.result() else Array.empty[Byte]
    val br = if (encR != null) encR.result() else Array.empty[Byte]
    val bw = if (encW != null) encW.result() else Array.empty[Byte]
    putLe32(out, bp.length.toLong)
    if (encG != null) putLe32(out, bg.length.toLong)
    if (encR != null) putLe32(out, br.length.toLong)
    if (encW != null) putLe32(out, bw.length.toLong)
    out ++= bp
    out ++= bg
    out ++= br
    out ++= bw
    out.toArray
  }

  /** Decode a layered chunk, reading ONLY the requested layers —
    * skipped layers cost zero decode work and their fields are 0. */
  def decodeChunkLayered(
      b: Array[Byte],
      start: Int,
      end: Int,
      pointCount: Int,
      fmt: Int,
      wantGps: Boolean = true,
      wantRgb: Boolean = true,
      wantWp: Boolean = true
  ): Array[P] = {
    val recLen = RecordLen(fmt)
    val outPts = new Array[P](pointCount)
    if (pointCount == 0) return outPts
    val g = hasGps(fmt)
    val rg = hasRgb(fmt)
    val wpf = hasWp(fmt)
    val buf = new PointBuf
    readRaw(b, start, buf, fmt)
    if (!wantGps || !g) buf.gpsBits = 0L
    if (!wantRgb || !rg) { buf.red = 0; buf.green = 0; buf.blue = 0 }
    if (!wantWp || !wpf) {
      buf.wpIndex = 0; buf.wpOffset = 0L; buf.wpSize = 0
      buf.wpRetBits = 0; buf.wpXtBits = 0; buf.wpYtBits = 0; buf.wpZtBits = 0
    }
    outPts(0) = fromBuf(buf)
    val nSizes = 1 + (if (g) 1 else 0) + (if (rg) 1 else 0) + (if (wpf) 1 else 0)
    val sizesAt = start + recLen
    val lenP = le32u(b, sizesAt).toInt
    val lenG = if (g) le32u(b, sizesAt + 4).toInt else 0
    val lenR = if (rg) le32u(b, sizesAt + 4 * (1 + (if (g) 1 else 0))).toInt else 0
    val layersAt = sizesAt + 4 * nSizes
    val decP = new AcDecoder(b, layersAt, math.min(end, layersAt + lenP))
    val gpsAt = layersAt + lenP
    val rgbAt = gpsAt + lenG
    val wpAt0 = rgbAt + lenR
    // seed codecs from the UNMASKED raw first point so prediction
    // state matches the encoder
    val seed = new PointBuf
    readRaw(b, start, seed, fmt)
    val p10 = new Point10V2(forEncode = false, seed)
    val gps =
      if (wantGps && g) new Gps11V2(forEncode = false, seed.gpsBits) else null
    val decG = if (gps != null) new AcDecoder(b, gpsAt, math.min(end, gpsAt + lenG)) else null
    val rgb = if (wantRgb && rg) new Rgb12V2(forEncode = false, seed) else null
    val decR = if (rgb != null) new AcDecoder(b, rgbAt, math.min(end, rgbAt + lenR)) else null
    val wp = if (wantWp && wpf) new Wavepacket13V2(forEncode = false, seed) else null
    val decW = if (wp != null) new AcDecoder(b, wpAt0, end) else null
    var i = 1
    while (i < pointCount) {
      p10.read(decP, buf)
      buf.gpsBits = if (gps != null) gps.read(decG) else 0L
      if (rgb != null) rgb.read(decR, buf)
      else { buf.red = 0; buf.green = 0; buf.blue = 0 }
      if (wp != null) wp.read(decW, buf)
      else {
        buf.wpIndex = 0; buf.wpOffset = 0L; buf.wpSize = 0
        buf.wpRetBits = 0; buf.wpXtBits = 0; buf.wpYtBits = 0; buf.wpZtBits = 0
      }
      outPts(i) = fromBuf(buf)
      i += 1
    }
    outPts
  }

  /** Compress `points` into a complete .laz byte stream. Set
    * `layered = true` for the layer-per-item chunk layout
    * ([[encodeChunkLayered]]) that supports projection-pruned
    * decode. */
  def compress(
      points: Seq[P],
      pointFormat: Int = 1,
      chunkSize: Int = 50000,
      scale: Double = 0.01,
      offset: Double = 0.0,
      layered: Boolean = false
  ): Array[Byte] = {
    require(RecordLen.contains(pointFormat), s"unsupported point format $pointFormat")
    require(chunkSize > 0)
    val recLen = RecordLen(pointFormat)
    val numItems = 1 + (if (hasGps(pointFormat)) 1 else 0) + (if (hasRgb(pointFormat)) 1 else 0) +
      (if (hasWp(pointFormat)) 1 else 0)
    val vlrPayload = 34 + 6 * numItems
    val offsetToPoints = HeaderSize + VlrHeaderSize + vlrPayload

    // per-chunk encode
    val chunks = points.grouped(chunkSize).toVector
    val chunkBytes =
      if (layered) chunks.map(encodeChunkLayered(_, pointFormat))
      else chunks.map(encodeChunk(_, pointFormat))

    val out = new ArrayBuffer[Byte](points.length * 8 + 512)
    // --- LAS 1.2 public header (227 bytes)
    out ++= "LASF".getBytes("US-ASCII")
    putLe16(out, 0); putLe16(out, 0) // file source id, global encoding
    (0 until 16).foreach(_ => out += 0) // GUID
    out += 1; out += 2 // version 1.2
    val sysId = "graft".getBytes("US-ASCII").padTo(32, 0.toByte); out ++= sysId
    val genSw = "graft laz writer".getBytes("US-ASCII").padTo(32, 0.toByte); out ++= genSw
    putLe16(out, 1); putLe16(out, 2026) // day-of-year, year
    putLe16(out, HeaderSize)
    putLe32(out, offsetToPoints.toLong)
    putLe32(out, 1L) // one VLR
    out += (pointFormat | 0x80).toByte // compressed-flag bit on the format id
    putLe16(out, recLen)
    putLe32(out, points.length.toLong)
    (0 until 5).foreach(_ => putLe32(out, 0L)) // by-return counts
    putLeF64(out, scale); putLeF64(out, scale); putLeF64(out, scale)
    putLeF64(out, offset); putLeF64(out, offset); putLeF64(out, offset)
    def sOf(f: P => Int): (Double, Double) =
      if (points.isEmpty) (0.0, 0.0)
      else (points.map(f).max * scale + offset, points.map(f).min * scale + offset)
    val (maxX, minX) = sOf(_.x); val (maxY, minY) = sOf(_.y); val (maxZ, minZ) = sOf(_.z)
    putLeF64(out, maxX); putLeF64(out, minX)
    putLeF64(out, maxY); putLeF64(out, minY)
    putLeF64(out, maxZ); putLeF64(out, minZ)
    require(out.length == HeaderSize)

    // --- laszip VLR
    putLe16(out, 0) // reserved
    out ++= "laszip encoded".getBytes("US-ASCII").padTo(16, 0.toByte)
    putLe16(out, 22204)
    putLe16(out, vlrPayload)
    out ++= "graft laz".getBytes("US-ASCII").padTo(32, 0.toByte)
    putLe16(out, if (layered) 3 else 2) // compressor: pointwise vs layered chunked
    putLe16(out, 0) // coder: arithmetic
    out += 2; out += 2 // version 2.2
    putLe16(out, 0) // revision
    putLe32(out, 0L) // options
    putLe32(out, chunkSize.toLong)
    putLe64(out, 0L); putLe64(out, 0L) // special EVLRs
    putLe16(out, numItems)
    putLe16(out, 6); putLe16(out, 20); putLe16(out, 2) // POINT10 v2
    if (hasGps(pointFormat)) { putLe16(out, 7); putLe16(out, 8); putLe16(out, 2) } // GPSTIME11 v2
    if (hasRgb(pointFormat)) { putLe16(out, 8); putLe16(out, 6); putLe16(out, 2) } // RGB12 v2
    // LASzip defines only version 1 for the WAVEPACKET13 item (the
    // scheme here IS the v1 scheme); external readers reject v2.
    if (hasWp(pointFormat)) { putLe16(out, 9); putLe16(out, 29); putLe16(out, 1) } // WAVEPACKET13 v1
    require(out.length == offsetToPoints)

    // --- point data: 8-byte chunk table offset, chunks, chunk table
    val chunkTableOffset = offsetToPoints.toLong + 8 + chunkBytes.map(_.length.toLong).sum
    putLe64(out, chunkTableOffset)
    chunkBytes.foreach(out ++= _)
    putLe32(out, 0L) // chunk table version
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

  // ---- decompress -----------------------------------------------------------

  def readHeader(b: Array[Byte]): Header = {
    require(b.length >= HeaderSize && b(0) == 'L' && b(1) == 'A' && b(2) == 'S' && b(3) == 'F', "not a LAS/LAZ stream")
    val fmtRaw = b(104) & 0xFF
    require((fmtRaw & 0x80) != 0, "not compressed (no laszip flag)")
    val fmt = fmtRaw & 0x7F
    require(fmt < 6, s"unsupported point format $fmt (LAS 1.4 layered v3 family — read through Laz14)")
    require(RecordLen.contains(fmt), s"unsupported point format $fmt")
    val offsetToPoints = le32u(b, 96).toInt
    val numVlrs = le32u(b, 100).toInt
    // find the laszip VLR for the chunk size
    var chunkSize = 50000
    var compressor = 2
    var vo = le16(b, 94) // header size
    var i = 0
    while (i < numVlrs && vo + VlrHeaderSize <= b.length) {
      val userId = new String(b, vo + 2, 16, "US-ASCII").takeWhile(_ != 0)
      val recordId = le16(b, vo + 18)
      val len = le16(b, vo + 20)
      if (userId == "laszip encoded" && recordId == 22204) {
        compressor = le16(b, vo + VlrHeaderSize)
        chunkSize = le32u(b, vo + VlrHeaderSize + 12).toInt
      }
      vo += VlrHeaderSize + len
      i += 1
    }
    Header(
      pointFormat = fmt,
      pointCount = le32u(b, 107),
      chunkSize = chunkSize,
      offsetToPoints = offsetToPoints,
      chunkTableOffset = le64(b, offsetToPoints),
      scaleX = leF64(b, 131),
      scaleY = leF64(b, 139),
      scaleZ = leF64(b, 147),
      offX = leF64(b, 155),
      offY = leF64(b, 163),
      offZ = leF64(b, 171),
      compressor = compressor
    )
  }

  /** Decode the compressed chunk table into per-chunk byte ranges. */
  def chunks(b: Array[Byte]): Seq[ChunkRef] = chunks(b, readHeader(b))

  def chunks(b: Array[Byte], h: Header): Seq[ChunkRef] =
    chunkRefsFromTable(b, h.chunkTableOffset.toInt, h)

  /** `table` holds the chunk table starting at `tStart` (version u32,
    * count u32, arithmetic-coded delta sizes). */
  private[sources] def chunkRefsFromTable(table: Array[Byte], tStart: Int, h: Header): Seq[ChunkRef] = {
    require(
      h.chunkSize > 0,
      "laz: variable-chunk stream (COPC; chunk size 0xFFFFFFFF) — plan nodes via Copc.hierarchy, not the fixed chunk table"
    )
    val numChunks = le32u(table, tStart + 4).toInt
    // corrupt-input guards: a truncated or garbage chunk table must
    // fail with ONE named error, never a negative/huge allocation —
    // an estate-scale ingest flags the file and scans on
    require(
      numChunks >= 0 && numChunks.toLong <= math.max(1L, h.pointCount),
      s"laz: implausible chunk count $numChunks for ${h.pointCount} points (corrupt chunk table)"
    )
    val dec = new AcDecoder(table, tStart + 8, table.length)
    val ic = new IntCompressor(2, 32, forEncode = false)
    val sizes = new Array[Int](numChunks)
    var prev = 0
    var i = 0
    while (i < numChunks) {
      sizes(i) = ic.decompress(dec, prev, 1)
      require(sizes(i) >= 0, s"laz: negative chunk size at index $i (corrupt chunk table)")
      prev = sizes(i)
      i += 1
    }
    var off = h.offsetToPoints.toLong + 8
    var remaining = h.pointCount
    (0 until numChunks).map { ci =>
      val n = math.min(h.chunkSize.toLong, remaining).toInt
      remaining -= n
      val ref = ChunkRef(ci, off, sizes(ci), n)
      off += sizes(ci)
      ref
    }
  }

  private[graft] def readRange(path: String, off: Long, len: Int): Array[Byte] = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val n = math.min(len.toLong, raf.length() - off).toInt
      val a = new Array[Byte](math.max(0, n))
      raf.seek(off)
      raf.readFully(a)
      a
    } finally raf.close()
  }

  /** Driver-side plan read: header (one 64 KB range) + chunk table
    * (one tail range) — never the point bytes. */
  def planFile(path: String): (Header, Seq[ChunkRef]) = {
    val fileLen = new java.io.File(path).length()
    val head = readRange(path, 0L, 1 << 16)
    val h = readHeader(head)
    val refs =
      if (fileLen <= head.length) chunkRefsFromTable(head, h.chunkTableOffset.toInt, h)
      else {
        val tail = readRange(path, h.chunkTableOffset, (fileLen - h.chunkTableOffset).toInt)
        chunkRefsFromTable(tail, 0, h)
      }
    (h, refs)
  }

  /** Decode one chunk given its byte range (the parallel unit). */
  def decodeChunk(b: Array[Byte], start: Int, end: Int, pointCount: Int, fmt: Int): Array[P] = {
    val recLen = RecordLen(fmt)
    val outPts = new Array[P](pointCount)
    if (pointCount == 0) return outPts
    val buf = new PointBuf
    readRaw(b, start, buf, fmt)
    outPts(0) = fromBuf(buf)
    val dec = new AcDecoder(b, start + recLen, end)
    val p10 = new Point10V2(forEncode = false, buf)
    val gps = if (hasGps(fmt)) new Gps11V2(forEncode = false, buf.gpsBits) else null
    val rgb = if (hasRgb(fmt)) new Rgb12V2(forEncode = false, buf) else null
    val wp = if (hasWp(fmt)) new Wavepacket13V2(forEncode = false, buf) else null
    var i = 1
    while (i < pointCount) {
      p10.read(dec, buf)
      if (gps != null) buf.gpsBits = gps.read(dec)
      if (rgb != null) rgb.read(dec, buf)
      if (wp != null) wp.read(dec, buf)
      outPts(i) = fromBuf(buf)
      i += 1
    }
    outPts
  }

  /** Serial whole-stream decode (driver-side / test face). */
  def decompress(b: Array[Byte]): Seq[P] = {
    val h = readHeader(b)
    chunks(b, h).flatMap { c =>
      if (h.compressor == 3)
        decodeChunkLayered(b, c.offset.toInt, (c.offset + c.size).toInt, c.pointCount, h.pointFormat)
      else decodeChunk(b, c.offset.toInt, (c.offset + c.size).toInt, c.pointCount, h.pointFormat)
    }
  }

  // ---- Spark faces ----------------------------------------------------------

  private val chunkSchema = StructType(
    Seq(
      StructField("chunk_id", IntegerType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("size", IntegerType, nullable = false),
      StructField("point_count", IntegerType, nullable = false)
    )
  )

  /** The chunk table as a DataFrame — the split index a distributed
    * reader plans range-reads from. */
  def chunkTable(spark: SparkSession, path: String): DataFrame = {
    val (_, refs) = planFile(path)
    val rows = refs.map(c => Row(c.index, c.offset, c.size, c.pointCount))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, math.min(rows.size, 64))),
      chunkSchema
    )
  }

  /** Canonical point-column order for [[pointsTable]]. */
  val PointColumns: Seq[String] =
    Seq("x", "y", "z", "intensity", "classification", "gps_time", "red", "green", "blue")

  /** End-to-end codec proof under the DuckDB oracle: deterministic
    * integer points derived from `events`, one LAZ file per
    * event_type (the per-artifact kernel shape — each group
    * compresses AND decompresses inside its own task, groups run in
    * parallel), then integer aggregates of the DECODED points. The
    * oracle computes the same aggregates on the raw rows, so a green
    * row proves the round trip is lossless on real data volume. */
  def lazQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val agg = udf { rows: Seq[Row] =>
      val pts = rows
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val uid = r.getLong(1)
          val us = r.getLong(2)
          val nr = (1 + id % 3).toInt
          val ret = (1 + (id % nr)).toInt
          P(
            x = (id % 1000000).toInt,
            y = ((uid * 7) % 1000000).toInt,
            z = ((id * 13) % 500000).toInt,
            intensity = ((id * 31) % 65536).toInt,
            returnByte = ret | (nr << 3),
            classification = (id % 32).toInt,
            scanAngle = (id % 91).toInt - 45,
            userData = (id % 256).toInt,
            pointSource = (uid % 65536).toInt,
            gpsTime = us.toDouble,
            red = (id % 65536).toInt,
            green = (uid % 65536).toInt,
            blue = ((id * 3) % 65536).toInt
          )
        }
      val laz = compress(pts, pointFormat = 3, chunkSize = 1000)
      val dec = decompress(laz)
      require(dec.length == pts.length, "laz round-trip lost points")
      Seq(
        dec.length.toLong,
        dec.map(_.x.toLong).sum,
        dec.map(_.y.toLong).sum,
        dec.map(_.z.toLong).sum,
        dec.map(_.intensity.toLong).sum,
        dec.map(_.classification.toLong).sum,
        dec.map(_.scanAngle.toLong).sum,
        dec.map(_.returnByte.toLong).sum,
        dec.map(p => p.gpsTime.toLong % 86400).sum,
        dec.map(_.red.toLong).sum,
        dec.map(_.green.toLong).sum,
        dec.map(_.blue.toLong).sum
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
        $"a".getItem(5).as("sum_class"),
        $"a".getItem(6).as("sum_scan"),
        $"a".getItem(7).as("sum_ret"),
        $"a".getItem(8).as("sum_gps"),
        $"a".getItem(9).as("sum_red"),
        $"a".getItem(10).as("sum_green"),
        $"a".getItem(11).as("sum_blue")
      )
  }

  /** Chunk-parallel point decode: the driver reads header + chunk
    * table (KBs), executors range-read ONLY their chunk's bytes. On a
    * cluster the `RandomAccessFile` seek is the object-store
    * GET-Range; no task materializes the file. */
  def pointsTable(spark: SparkSession, path: String): DataFrame =
    pointsTable(spark, path, PointColumns)

  /** Estate scan: every .laz under `dir` planned (header + chunk
    * table reads only) and decoded as ONE DataFrame, chunk-parallel
    * across all files — the multi-flight shape: a task owns one
    * chunk of one file, never a whole file. Adds a `path` column.
    * MIXED estates dispatch per file: LAS 1.2 formats 0-3 through
    * this reader, LAS 1.4 formats 6-8 through [[Laz14]] (the point
    * column names coincide, so any `cols` ⊆ [[PointColumns]] unions
    * cleanly across both families). */
  def pointsTableDir(spark: SparkSession, dir: String, cols: Seq[String] = PointColumns): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val files = {
      val d = new java.io.File(dir)
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
      fs.filter(f => f.isFile && f.getName.toLowerCase(java.util.Locale.ROOT).endsWith(".laz")).map(_.getPath).sorted
    }
    require(files.nonEmpty, s"pointsTableDir: no .laz files under $dir")
    files
      .map { f =>
        val head = readRange(f, 0L, 110)
        val is14 = head.length > 104 && (head(25) & 0xFF) == 4 && (head(104) & 0x7F) >= 6
        val df =
          if (is14) Laz14.pointsTable(spark, f, cols)
          else pointsTable(spark, f, cols)
        df.withColumn("path", lit(f))
      }
      .reduce(_ unionByName _)
  }

  /** Projection-aware variant: `cols` selects the point columns (in
    * [[PointColumns]] order, `chunk_id` always present). On a LAYERED
    * stream, columns decide which layers decode — an XYZ-only
    * projection skips the GPS and RGB layers entirely (column pruning
    * reaching the codec); pointwise streams decode fully and prune
    * only the output. */
  def pointsTable(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val sel = PointColumns.filter(cols.contains)
    require(sel.nonEmpty, s"pointsTable: no valid columns in $cols")
    val wantGps = sel.contains("gps_time")
    val wantRgb = sel.exists(Set("red", "green", "blue"))
    val schema = StructType(
      StructField("chunk_id", IntegerType, nullable = false) +: sel.map {
        case n @ ("x" | "y" | "z" | "gps_time") => StructField(n, DoubleType, nullable = false)
        case n => StructField(n, IntegerType, nullable = false)
      }
    )
    val (h, refs) = planFile(path)
    val fmt = h.pointFormat
    val comp = h.compressor
    val (sx, sy, sz) = (h.scaleX, h.scaleY, h.scaleZ)
    val (ox, oy, oz) = (h.offX, h.offY, h.offZ)
    val selArr = sel.toArray
    val rdd = spark.sparkContext
      .parallelize(refs, math.max(1, math.min(refs.size, 64)))
      .flatMap { c =>
        val raf = new java.io.RandomAccessFile(path, "r")
        val bytes =
          try {
            val a = new Array[Byte](c.size)
            raf.seek(c.offset)
            raf.readFully(a)
            a
          } finally raf.close()
        val pts =
          if (comp == 3) decodeChunkLayered(bytes, 0, bytes.length, c.pointCount, fmt, wantGps, wantRgb)
          else decodeChunk(bytes, 0, bytes.length, c.pointCount, fmt)
        pts.iterator.map { p =>
          val vals: Seq[Any] = selArr.toSeq.map {
            case "x" => p.x * sx + ox
            case "y" => p.y * sy + oy
            case "z" => p.z * sz + oz
            case "intensity" => p.intensity
            case "classification" => p.classification
            case "gps_time" => p.gpsTime
            case "red" => p.red
            case "green" => p.green
            case "blue" => p.blue
          }
          Row.fromSeq(c.index +: vals)
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
