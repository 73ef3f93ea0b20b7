package graft.raster

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{be16, putBe16}

/** Pure-JVM baseline JPEG codec (ITU-T T.81 sequential DCT) — the
  * image codec the reference reaches through GDAL for photos and
  * thumbnails (`thumbs.cpp`, `exifeditor.cpp` splice JPEG payloads;
  * this library previously decoded only PNG natively). Both
  * directions:
  *
  *  - [[decode]]: baseline + extended-sequential Huffman (SOF0/SOF1)
  *    AND progressive (SOF2, via [[decodeProgressive]]), grayscale
  *    and 3-component YCbCr, arbitrary 1-2× chroma subsampling
  *    (4:4:4 / 4:2:2 / 4:2:0), restart markers, byte stuffing;
  *    double-precision IDCT (well inside the T.81 §A.3.3 accuracy
  *    envelope). Arithmetic coding returns None — flag, don't abort
  *    the scan.
  *  - [[encode]]: baseline 8-bit, gray or 4:4:4 color, Annex K
  *    quantization tables with IJG quality scaling and the K.3.3
  *    standard Huffman tables.
  *
  * Conformance: unlike the LAZ codecs, REAL independent fixtures
  * exist in this sandbox — the JDK's ImageIO JPEG plugin. JpegSpec
  * proves the triangle: ImageIO decodes this encoder's output to the
  * same pixels this decoder produces (±IDCT rounding), and this
  * decoder reads ImageIO-written JPEGs (gray exactly ±rounding;
  * subsampled color within the resampling tolerance, since T.81
  * leaves chroma upsampling filters implementation-defined).
  */
object Jpeg {

  // ---- shared tables --------------------------------------------------------

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63
  )

  private val QLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99
  )

  private val QChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99
  )

  // K.3.3 standard Huffman tables: (bits[1..16], symbol values)
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).toArray
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa
  )
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa
  )

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    for (u <- 0 until 8; x <- 0 until 8) t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
    t
  }
  private def cu(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  // ---- Huffman ---------------------------------------------------------------

  /** Canonical Huffman decode table: minCode/maxCode/valPtr per length
    * (T.81 F.2.2.3 DECODE procedure). */
  private[raster] final class HuffDec(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val values = vals
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
  }

  /** Canonical encode table: symbol → (code, length). */
  private def huffEnc(bits: Array[Int], vals: Array[Int]): (Array[Int], Array[Int]) = {
    val codes = new Array[Int](256)
    val sizes = new Array[Int](256)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        codes(vals(k)) = code
        sizes(vals(k)) = l
        code += 1
        k += 1
        i += 1
      }
      code <<= 1
      l += 1
    }
    (codes, sizes)
  }

  // ---- bit I/O ---------------------------------------------------------------

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var marker = 0 // pending RST/other marker encountered in the stream

    def align(): Unit = { acc = 0; nbits = 0 }

    /** Consume an expected RST marker recorded by readBit. */
    def clearMarker(): Unit = marker = 0

    def readBit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) return 0
        var v = b(pos) & 0xFF
        pos += 1
        if (v == 0xFF) {
          val next = if (pos < b.length) b(pos) & 0xFF else 0xD9
          if (next == 0x00) pos += 1 // stuffed byte
          else { marker = next; pos += 1; v = 0 } // marker reached + consumed: feed zeros (T.81 F.2.2.5)
        }
        acc = v
        nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }

    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    def decodeHuff(t: HuffDec): Int = {
      var code = readBit()
      var l = 1
      while (l < 17 && (t.maxCode(l) < 0 || code > t.maxCode(l))) {
        code = (code << 1) | readBit()
        l += 1
      }
      if (l >= 17) 0
      else t.values(t.valPtr(l) + code - t.minCode(l))
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private final class BitWriter(out: ArrayBuffer[Byte]) {
    private var acc = 0L
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nbits += len
      while (nbits >= 8) {
        val b = ((acc >> (nbits - 8)) & 0xFF).toInt
        out += b.toByte
        if (b == 0xFF) out += 0x00.toByte
        nbits -= 8
      }
    }
    def flush(): Unit = if (nbits > 0) put(0x7F, 8 - nbits) // pad with 1s? use 0x7F>>... pad below
  }

  // ---- decoder ---------------------------------------------------------------

  private[raster] final case class Comp(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0
    var ta = 0
  }

  /** Everything the entropy scan needs, parsed from the headers —
    * the unit a segment-parallel decode shares across tasks. */
  private[raster] final case class Parsed(
      comps: Array[Comp],
      qt: Array[Array[Int]],
      dcTabs: Array[HuffDec],
      acTabs: Array[HuffDec],
      w: Int,
      h: Int,
      restartInterval: Int,
      scanStart: Int
  )

  /** Decode a baseline/extended-sequential OR progressive JPEG
    * (baseline path first, SOF2 falls through to
    * [[decodeProgressive]]). Returns channels 1 (gray) or 3 (RGB).
    * None for anything this codec does not cover (arithmetic, 12-bit,
    * 4-component) AND for truncated/corrupt streams — an estate scan
    * flags bad files and scans on, it never crashes or hangs on one. */
  def decode(bytes: Array[Byte]): Option[Png.Image] =
    (try parse(bytes).flatMap(p => decodeScan(bytes, p))
    catch { case _: Exception => None })
      .orElse(decodeProgressive(bytes))

  // ---- progressive (SOF2) decode -------------------------------------------
  //
  // T.81 Annex G: coefficients accumulate across scans — DC first /
  // refine (successive approximation), AC first / refine per spectral
  // band with EOB runs — then one dequant+IDCT at the end. A large
  // share of real-world (web) JPEGs are progressive, so the
  // training-data pipeline decodes them natively like baseline.

  def decodeProgressive(bytes: Array[Byte]): Option[Png.Image] =
    try decodeProgressive0(bytes)
    catch { case _: Exception => None }

  private def decodeProgressive0(bytes: Array[Byte]): Option[Png.Image] = {
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8) return None

    val qt = Array.ofDim[Int](4, 64)
    val dcTabs = new Array[HuffDec](4)
    val acTabs = new Array[HuffDec](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var restartInterval = 0
    var progressive = false
    var coefs: Array[Array[Int]] = null // per comp, padded blocks × 64, zigzag order
    var mcusX = 0; var mcusY = 0
    var hMax = 0; var vMax = 0

    var pos = 2
    var done = false
    while (!done && pos + 4 <= bytes.length) {
      if ((bytes(pos) & 0xFF) != 0xFF) return None
      val m = bytes(pos + 1) & 0xFF
      if (m == 0xD9) done = true
      else {
        val len = be16(bytes, pos + 2)
        val seg = pos + 4
        m match {
          case 0xDB =>
            var p = seg
            while (p < seg + len - 2) {
              val pq = (bytes(p) & 0xFF) >> 4
              val tq = bytes(p) & 0x0F
              p += 1
              var i = 0
              while (i < 64) {
                qt(tq)(i) = if (pq == 0) bytes(p) & 0xFF else be16(bytes, p)
                p += (if (pq == 0) 1 else 2)
                i += 1
              }
            }
          case 0xC4 =>
            var p = seg
            while (p < seg + len - 2) {
              val tc = (bytes(p) & 0xFF) >> 4
              val th = bytes(p) & 0x0F
              p += 1
              val bits = Array.tabulate(16)(i => bytes(p + i) & 0xFF)
              p += 16
              val n = bits.sum
              val vals = Array.tabulate(n)(i => bytes(p + i) & 0xFF)
              p += n
              val tab = new HuffDec(bits, vals)
              if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            }
          case 0xC2 =>
            progressive = true
            if ((bytes(seg) & 0xFF) != 8) return None
            h = be16(bytes, seg + 1); w = be16(bytes, seg + 3)
            val nc = bytes(seg + 5) & 0xFF
            if (nc != 1 && nc != 3) return None
            comps = Array.tabulate(nc) { i =>
              val p = seg + 6 + 3 * i
              Comp(bytes(p) & 0xFF, (bytes(p + 1) & 0xFF) >> 4, bytes(p + 1) & 0x0F, bytes(p + 2) & 0xFF)
            }
            if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2)) return None
            hMax = comps.map(_.h).max; vMax = comps.map(_.v).max
            mcusX = (w + 8 * hMax - 1) / (8 * hMax)
            mcusY = (h + 8 * vMax - 1) / (8 * vMax)
            coefs = comps.map(c => new Array[Int](mcusX * c.h * mcusY * c.v * 64))
          case 0xC0 | 0xC1 => return None // baseline frame: handled by the other path
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF => return None
          case 0xDD => restartInterval = be16(bytes, seg)
          case 0xDA =>
            if (!progressive || comps == null) return None
            val ns = bytes(seg) & 0xFF
            var p = seg + 1
            val scanComps = Array.tabulate(ns) { _ =>
              val cid = bytes(p) & 0xFF
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return None
              comps(ci).td = (bytes(p + 1) & 0xFF) >> 4
              comps(ci).ta = bytes(p + 1) & 0x0F
              p += 2
              ci
            }
            val ss = bytes(p) & 0xFF
            val se = bytes(p + 1) & 0xFF
            val ah = (bytes(p + 2) & 0xFF) >> 4
            val al = bytes(p + 2) & 0x0F
            // spectral band must stay inside one block (a corrupt Se
            // would otherwise write into neighbouring blocks' slots)
            if (!(ss == 0 && se == 0) && !(ss >= 1 && ss <= se && se <= 63)) return None
            val dataStart = p + 3
            decodeProgressiveScan(bytes, dataStart, comps, scanComps, coefs,
              dcTabs, acTabs, mcusX, mcusY, hMax, vMax, w, h, ss, se, ah, al, restartInterval)
            // find the next marker after the entropy data (skip RSTn + stuffed FF00)
            var q = dataStart
            var next = -1
            while (next < 0 && q + 1 < bytes.length) {
              if ((bytes(q) & 0xFF) == 0xFF) {
                val mm = bytes(q + 1) & 0xFF
                if (mm != 0x00 && !(mm >= 0xD0 && mm <= 0xD7)) next = q
                else q += 2
              } else q += 1
            }
            if (next < 0) return None
            pos = next
          case _ => ()
        }
        if (m != 0xDA) pos = seg + len - 2
      }
    }
    if (!progressive || comps == null || coefs == null) return None

    // dequant + IDCT every padded block into the component planes
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i => new Array[Byte](planeW(i) * planeH(i))).toArray
    val natural = new Array[Int](64)
    val block = new Array[Double](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val q = qt(c.tq)
      val bw = mcusX * c.h
      val bh = mcusY * c.v
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          val base = (by * bw + bx) * 64
          java.util.Arrays.fill(natural, 0)
          var k = 0
          while (k < 64) {
            val v = coefs(ci)(base + k)
            if (v != 0) natural(Zigzag(k)) = v * q(k)
            k += 1
          }
          var y0 = 0
          while (y0 < 8) {
            var x0 = 0
            while (x0 < 8) {
              var sum = 0.0
              var u = 0
              while (u < 8) {
                var vv = 0
                while (vv < 8) {
                  val cc = natural(vv * 8 + u)
                  if (cc != 0) sum += cu(u) * cu(vv) * cc * CosTable(u * 8 + x0) * CosTable(vv * 8 + y0)
                  vv += 1
                }
                u += 1
              }
              block(y0 * 8 + x0) = sum / 4.0
              x0 += 1
            }
            y0 += 1
          }
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val v = math.round(block(yy * 8 + xx) + 128.0).toInt
              val vc = if (v < 0) 0 else if (v > 255) 255 else v
              planes(ci)((by * 8 + yy) * planeW(ci) + bx * 8 + xx) = vc.toByte
              xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    val parsed = Parsed(comps, qt, dcTabs, acTabs, w, h, restartInterval, 0)
    Some(finish(parsed, planes, planeW, hMax, vMax))
  }

  /** One progressive scan (T.81 G.1.2 / the IJG control flow). */
  private def decodeProgressiveScan(
      bytes: Array[Byte], dataStart: Int, comps: Array[Comp], scanComps: Array[Int],
      coefs: Array[Array[Int]], dcTabs: Array[HuffDec], acTabs: Array[HuffDec],
      mcusX: Int, mcusY: Int, hMax: Int, vMax: Int, w: Int, h: Int,
      ss: Int, se: Int, ah: Int, al: Int, restartInterval: Int): Unit = {
    val r = new BitReader(bytes, dataStart)
    val preds = new Array[Int](comps.length)
    var eobrun = 0
    var rstCycle = 0
    var unitsSinceRestart = 0

    def restartIfDue(): Unit = {
      if (restartInterval > 0 && unitsSinceRestart == restartInterval) {
        r.align()
        if (r.marker == 0) {
          while (r.pos + 1 < bytes.length && (bytes(r.pos) & 0xFF) != 0xFF) r.pos += 1
          if (r.pos + 1 < bytes.length) { r.marker = bytes(r.pos + 1) & 0xFF; r.pos += 2 }
        }
        require(r.marker == 0xD0 + rstCycle, "jpeg: progressive restart desync")
        r.clearMarker()
        rstCycle = (rstCycle + 1) & 7
        java.util.Arrays.fill(preds, 0)
        eobrun = 0
        unitsSinceRestart = 0
      }
    }

    def dcBlock(ci: Int, base: Int): Unit = {
      val c = comps(ci)
      if (ah == 0) {
        val t = r.decodeHuff(dcTabs(c.td))
        val diff = extend(r.readBits(t), t)
        preds(ci) += diff
        coefs(ci)(base) = preds(ci) << al
      } else if (r.readBit() == 1) {
        coefs(ci)(base) |= 1 << al
      }
    }

    def acFirst(ci: Int, base: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      val c = comps(ci)
      var k = ss
      var stop = false
      while (!stop && k <= se) {
        val rs = r.decodeHuff(acTabs(c.ta))
        val run = rs >> 4
        val s = rs & 0x0F
        if (s == 0) {
          if (run == 15) k += 16
          else {
            eobrun = (1 << run) - 1
            if (run > 0) eobrun += r.readBits(run)
            stop = true
          }
        } else {
          k += run
          if (k > se) stop = true // corrupt; bail on this block
          else {
            coefs(ci)(base + k) = extend(r.readBits(s), s) << al
            k += 1
          }
        }
      }
    }

    def acRefine(ci: Int, base: Int): Unit = {
      val c = comps(ci)
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var stop = false
        while (!stop && k <= se) {
          val rs = r.decodeHuff(acTabs(c.ta))
          var run = rs >> 4
          val s = rs & 0x0F
          var newVal = 0
          if (s != 0) {
            newVal = if (r.readBit() == 1) p1 else m1
          } else if (run != 15) {
            eobrun = 1 << run
            if (run > 0) eobrun += r.readBits(run)
            stop = true
          }
          if (!stop) {
            var placed = false
            while (!placed && k <= se) {
              val cur = coefs(ci)(base + k)
              if (cur != 0) {
                if (r.readBit() == 1 && (cur & p1) == 0)
                  coefs(ci)(base + k) = cur + (if (cur >= 0) p1 else m1)
                k += 1
              } else {
                if (run == 0) {
                  if (newVal != 0) { coefs(ci)(base + k) = newVal }
                  k += 1
                  placed = true
                } else { run -= 1; k += 1 }
              }
            }
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val cur = coefs(ci)(base + k)
          if (cur != 0 && r.readBit() == 1 && (cur & p1) == 0)
            coefs(ci)(base + k) = cur + (if (cur >= 0) p1 else m1)
          k += 1
        }
        eobrun -= 1
      }
    }

    if (ss == 0 && scanComps.length > 1) {
      // interleaved DC scan: MCU order over the scan's components
      var mcu = 0
      val nMcu = mcusX * mcusY
      while (mcu < nMcu) {
        restartIfDue()
        val mx = mcu % mcusX
        val my = mcu / mcusX
        scanComps.foreach { ci =>
          val c = comps(ci)
          val bw = mcusX * c.h
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              val base = ((my * c.v + by) * bw + (mx * c.h + bx)) * 64
              dcBlock(ci, base)
              bx += 1
            }
            by += 1
          }
        }
        mcu += 1
        unitsSinceRestart += 1
      }
    } else if (ss == 0) {
      // single-component DC scan is NON-interleaved (T.81 A.2.2):
      // raster order over the component's own unpadded block grid
      val ci = scanComps(0)
      val c = comps(ci)
      val compW = (w * c.h + hMax - 1) / hMax
      val compH = (h * c.v + vMax - 1) / vMax
      val bw = (compW + 7) / 8
      val bh = (compH + 7) / 8
      val stride = mcusX * c.h
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          restartIfDue()
          dcBlock(ci, (by * stride + bx) * 64)
          bx += 1
          unitsSinceRestart += 1
        }
        by += 1
      }
    } else {
      // AC scans are always single-component, over the component's own
      // (unpadded) block grid
      require(scanComps.length == 1, "jpeg: multi-component AC scan")
      val ci = scanComps(0)
      val c = comps(ci)
      val compW = (w * c.h + hMax - 1) / hMax
      val compH = (h * c.v + vMax - 1) / vMax
      val bw = (compW + 7) / 8
      val bh = (compH + 7) / 8
      val stride = mcusX * c.h
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          restartIfDue()
          val base = (by * stride + bx) * 64
          if (ah == 0) acFirst(ci, base) else acRefine(ci, base)
          bx += 1
          unitsSinceRestart += 1
        }
        by += 1
      }
    }
  }

  private[raster] def parse(bytes: Array[Byte]): Option[Parsed] = {
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8) return None
    val qt = Array.ofDim[Int](4, 64)
    val dcTabs = new Array[HuffDec](4)
    val acTabs = new Array[HuffDec](4)
    var comps: Array[Comp] = null
    var w = 0
    var h = 0
    var restartInterval = 0
    var pos = 2

    while (pos + 4 <= bytes.length) {
      if ((bytes(pos) & 0xFF) != 0xFF) return None
      val m = bytes(pos + 1) & 0xFF
      if (m == 0xD9) return None // EOI before SOS
      val len = be16(bytes, pos + 2)
      val seg = pos + 4
      m match {
        case 0xDB => // DQT
          var p = seg
          while (p < seg + len - 2) {
            val pq = (bytes(p) & 0xFF) >> 4
            val tq = bytes(p) & 0x0F
            p += 1
            var i = 0
            while (i < 64) {
              qt(tq)(i) = if (pq == 0) bytes(p) & 0xFF else be16(bytes, p)
              p += (if (pq == 0) 1 else 2)
              i += 1
            }
          }
        case 0xC4 => // DHT
          var p = seg
          while (p < seg + len - 2) {
            val tc = (bytes(p) & 0xFF) >> 4
            val th = bytes(p) & 0x0F
            p += 1
            val bits = Array.tabulate(16)(i => bytes(p + i) & 0xFF)
            p += 16
            val n = bits.sum
            val vals = Array.tabulate(n)(i => bytes(p + i) & 0xFF)
            p += n
            val tab = new HuffDec(bits, vals)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
          }
        case 0xC0 | 0xC1 => // SOF0 / SOF1
          if ((bytes(seg) & 0xFF) != 8) return None // 8-bit only
          h = be16(bytes, seg + 1)
          w = be16(bytes, seg + 3)
          val nc = bytes(seg + 5) & 0xFF
          if (nc != 1 && nc != 3) return None
          comps = Array.tabulate(nc) { i =>
            val p = seg + 6 + 3 * i
            Comp(bytes(p) & 0xFF, (bytes(p + 1) & 0xFF) >> 4, bytes(p + 1) & 0x0F, bytes(p + 2) & 0xFF)
          }
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2)) return None
        case 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
          return None // progressive / arithmetic / lossless
        case 0xDD => restartInterval = be16(bytes, seg)
        case 0xDA => // SOS — entropy data follows
          if (comps == null || w == 0 || h == 0) return None
          val ns = bytes(seg) & 0xFF
          var p = seg + 1
          (0 until ns).foreach { _ =>
            val cid = bytes(p) & 0xFF
            val c = comps.find(_.id == cid).getOrElse(return None)
            c.td = (bytes(p + 1) & 0xFF) >> 4
            c.ta = bytes(p + 1) & 0x0F
            p += 2
          }
          return Some(Parsed(comps, qt, dcTabs, acTabs, w, h, restartInterval, p + 3))
        case _ => // APPn / COM / others: skip
      }
      pos = seg + len - 2
    }
    None
  }

  private def decodeScan(bytes: Array[Byte], p: Parsed): Option[Png.Image] = {
    import p._
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    // per-component plane at sampled resolution, padded to MCU coverage
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i => new Array[Byte](planeW(i) * planeH(i))).toArray
    if (!decodeMcus(bytes, p, planes, planeW, mcusX, scanStart, 0, mcusX * mcusY, checkRestarts = true))
      return None
    Some(finish(p, planes, planeW, hMax, vMax))
  }

  /** Entropy-segment table of a DRI stream: (byte position, first
    * MCU index) of every independently-decodable segment. Segment
    * boundaries are RSTn marker pairs — unambiguous in entropy data
    * (a data 0xFF is always stuffed as FF00). */
  def segmentTable(bytes: Array[Byte]): Seq[(Int, Int)] =
    (try parse(bytes)
    catch { case _: Exception => None }) match {
      case Some(p) if p.restartInterval > 0 =>
        val segs = ArrayBuffer((p.scanStart, 0))
        var i = p.scanStart
        var done = false
        while (i + 1 < bytes.length && !done) {
          if ((bytes(i) & 0xFF) == 0xFF) {
            val m = bytes(i + 1) & 0xFF
            if (m >= 0xD0 && m <= 0xD7) { segs += ((i + 2, segs.size * p.restartInterval)); i += 2 }
            else if (m == 0xD9) done = true
            else i += 1
          } else i += 1
        }
        segs.toSeq
      case Some(p) => Seq((p.scanStart, 0))
      case None => Seq.empty
    }

  /** Segment-parallel decode of a DRI stream: every segment decodes
    * from its OWN byte range with a fresh bit reader and zeroed DC
    * predictors (what RSTn guarantees) — the shape that shards a
    * giant aerial JPEG across tasks; here the segments run in one
    * JVM but share no state (JpegSpec proves independence by
    * corrupting one segment and watching only its MCUs change). */
  def decodeSegmentwise(bytes: Array[Byte]): Option[Png.Image] =
    try decodeSegmentwise0(bytes)
    catch { case _: Exception => None }

  private def decodeSegmentwise0(bytes: Array[Byte]): Option[Png.Image] = {
    val p = parse(bytes).getOrElse(return None)
    if (p.restartInterval == 0) return decodeScan(bytes, p)
    import p._
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i => new Array[Byte](planeW(i) * planeH(i))).toArray
    val total = mcusX * mcusY
    segmentTable(bytes).foreach { case (at, mcuFrom) =>
      val mcuTo = math.min(mcuFrom + restartInterval, total)
      if (mcuFrom < total)
        decodeMcus(bytes, p, planes, planeW, mcusX, at, mcuFrom, mcuTo, checkRestarts = false)
    }
    Some(finish(p, planes, planeW, hMax, vMax))
  }

  /** Decode MCUs [mcuFrom, mcuTo) with the bit reader starting at
    * `readerPos`, into the shared component planes. `checkRestarts`
    * verifies/consumes in-stream RSTn markers (serial full-scan
    * mode); segment decodes pass false — their range contains none.
    * `myBase` shifts plane placement down by that many MCU rows, so
    * a segment can decode into a plane covering only ITS rows. */
  private def decodeMcus(
      bytes: Array[Byte],
      p: Parsed,
      planes: Array[Array[Byte]],
      planeW: Array[Int],
      mcusX: Int,
      readerPos: Int,
      mcuFrom: Int,
      mcuTo: Int,
      checkRestarts: Boolean,
      myBase: Int = 0
  ): Boolean = {
    import p._
    val preds = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val block = new Array[Double](64)
    val r = new BitReader(bytes, readerPos)
    var rstCycle = 0

    var mcu = mcuFrom
    while (mcu < mcuTo) {
      if (checkRestarts && restartInterval > 0 && mcu > mcuFrom && mcu % restartInterval == 0) {
        // byte-align and consume the RST marker, reset DC predictions
        r.align()
        if (r.marker == 0) {
          // marker not yet hit while draining bits: read it directly
          while (r.pos + 1 < bytes.length && (bytes(r.pos) & 0xFF) != 0xFF) r.pos += 1
          if (r.pos + 1 < bytes.length) { r.marker = bytes(r.pos + 1) & 0xFF; r.pos += 2 }
        }
        if (r.marker != 0xD0 + rstCycle) return false // desynchronized stream
        r.clearMarker()
        rstCycle = (rstCycle + 1) & 7
        java.util.Arrays.fill(preds, 0)
      }
      val my = mcu / mcusX - myBase
      val mx = mcu % mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qt(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // decode one 8x8 block
            java.util.Arrays.fill(coef, 0)
            val t = r.decodeHuff(dcTabs(c.td))
            val diff = extend(r.readBits(t), t)
            preds(ci) += diff
            coef(0) = preds(ci) * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = r.decodeHuff(acTabs(c.ta))
              val run = rs >> 4
              val s = rs & 0x0F
              if (s == 0) {
                if (run == 15) k += 16 else eob = true
              } else {
                k += run
                if (k < 64) {
                  // the DQT table is stored (and indexed) in zigzag order
                  coef(Zigzag(k)) = extend(r.readBits(s), s) * q(k)
                  k += 1
                }
              }
            }
            // IDCT (separable would be faster; direct is clear and fine here)
            var y0 = 0
            while (y0 < 8) {
              var x0 = 0
              while (x0 < 8) {
                var sum = 0.0
                var u = 0
                while (u < 8) {
                  var v = 0
                  while (v < 8) {
                    val cc = coef(v * 8 + u)
                    if (cc != 0) sum += cu(u) * cu(v) * cc * CosTable(u * 8 + x0) * CosTable(v * 8 + y0)
                    v += 1
                  }
                  u += 1
                }
                block(y0 * 8 + x0) = sum / 4.0
                x0 += 1
              }
              y0 += 1
            }
            // place into the component plane
            val px0 = (mx * c.h + bx) * 8
            val py0 = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                val v = math.round(block(yy * 8 + xx) + 128.0).toInt
                val vc = if (v < 0) 0 else if (v > 255) 255 else v
                planes(ci)((py0 + yy) * planeW(ci) + (px0 + xx)) = vc.toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    true
  }

  /** Upsample the component planes and color-convert to the output
    * image (replicated chroma upsampling; T.81 leaves the filter
    * implementation-defined). */
  private def finish(
      p: Parsed,
      planes: Array[Array[Byte]],
      planeW: Array[Int],
      hMax: Int,
      vMax: Int
  ): Png.Image = {
    import p._
    if (comps.length == 1) {
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * planeW(0), out, y * w, w)
        y += 1
      }
      Png.Image(w, h, 1, out)
    } else {
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def sample(i: Int): Int = {
            val sx = x * comps(i).h / hMax
            val sy = y * comps(i).v / vMax
            planes(i)(sy * planeW(i) + sx) & 0xFF
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def clamp(d: Double): Byte = {
            val v = math.round(d).toInt
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          val o = (y * w + x) * 3
          out(o) = clamp(yy + 1.402 * cr)
          out(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          out(o + 2) = clamp(yy + 1.772 * cb)
          x += 1
        }
        y += 1
      }
      Png.Image(w, h, 3, out)
    }
  }

  /** ◆ Segment-parallel Spark face: the driver parses the header and
    * scans the RSTn segment table (a plain byte scan, no decode);
    * each TASK range-reads only its segment's bytes and decodes its
    * MCU rows into a mini-plane sized to the segment — the shape that
    * shards one giant aerial JPEG across executors. A stream without
    * restart markers decodes as a single task. Emits (x, y, v) for
    * gray, (x, y, r, g, b) for color. */
  def pixelsTable(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val parsed = parse(all).getOrElse(throw new IllegalArgumentException(s"jpeg: cannot decode $path"))
    val header = java.util.Arrays.copyOfRange(all, 0, parsed.scanStart)
    val hMax = parsed.comps.map(_.h).max
    val vMax = parsed.comps.map(_.v).max
    val mcusX = (parsed.w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (parsed.h + 8 * vMax - 1) / (8 * vMax)
    val total = mcusX * mcusY
    val table = segmentTable(all)
    val segs = table.zipWithIndex.map { case ((at, mcuFrom), i) =>
      val end = if (i + 1 < table.size) table(i + 1)._1 else all.length
      val mcuTo = if (i + 1 < table.size) table(i + 1)._2 else total
      (at, end, mcuFrom, math.min(mcuTo, total))
    }
    val gray = parsed.comps.length == 1
    val schema = StructType(
      if (gray)
        Seq(StructField("x", IntegerType, false), StructField("y", IntegerType, false), StructField("v", IntegerType, false))
      else
        Seq(
          StructField("x", IntegerType, false), StructField("y", IntegerType, false),
          StructField("r", IntegerType, false), StructField("g", IntegerType, false), StructField("b", IntegerType, false)
        )
    )
    val w = parsed.w
    val h = parsed.h
    val rdd = spark.sparkContext
      .parallelize(segs, math.max(1, math.min(segs.size, 64)))
      .flatMap { case (at, end, mcuFrom, mcuTo) =>
        if (mcuFrom >= mcuTo) Iterator.empty
        else {
          // per-task: cheap header re-parse (entropy models are task-local)
          val p = parse(header).get
          val seg = graft.sources.Laz.readRange(path, at, end - at)
          val ry0 = mcuFrom / mcusX
          val mcuRows = (mcuTo - 1) / mcusX - ry0 + 1
          val planeW = p.comps.map(c => mcusX * c.h * 8)
          val planes = p.comps.map(c => new Array[Byte](mcusX * c.h * 8 * mcuRows * c.v * 8))
          decodeMcus(seg, p, planes, planeW, mcusX, 0, mcuFrom, mcuTo, checkRestarts = false, myBase = ry0)
          (mcuFrom until mcuTo).iterator.flatMap { mcu =>
            val mx = mcu % mcusX
            val myAbs = mcu / mcusX
            val x0 = mx * 8 * hMax
            val y0 = myAbs * 8 * vMax
            for {
              y <- (y0 until math.min(y0 + 8 * vMax, h)).iterator
              x <- (x0 until math.min(x0 + 8 * hMax, w)).iterator
            } yield {
              def sample(i: Int): Int = {
                val sx = x * p.comps(i).h / hMax
                val ly = y * p.comps(i).v / vMax - ry0 * 8 * p.comps(i).v
                planes(i)(ly * planeW(i) + sx) & 0xFF
              }
              if (gray) org.apache.spark.sql.Row(x, y, sample(0))
              else {
                val yy = sample(0).toDouble
                val cb = sample(1) - 128.0
                val cr = sample(2) - 128.0
                def clamp(d: Double): Int = {
                  val v = math.round(d).toInt
                  if (v < 0) 0 else if (v > 255) 255 else v
                }
                org.apache.spark.sql.Row(
                  x, y,
                  clamp(yy + 1.402 * cr),
                  clamp(yy - 0.344136 * cb - 0.714136 * cr),
                  clamp(yy + 1.772 * cb)
                )
              }
            }
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  // ---- encoder ---------------------------------------------------------------

  private def scaledQ(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map { v =>
      val s = (v * scale + 50) / 100
      math.max(1, math.min(255, s))
    }
  }

  /** Encode gray (channels 1) or RGB (channels 3, stored 4:4:4)
    * pixels as a baseline JFIF JPEG. `restartInterval` > 0 emits DRI
    * + RSTn markers every that many MCUs (the random-access hooks a
    * parallel decoder splits on). */
  def encode(
      width: Int,
      height: Int,
      channels: Int,
      pixels: Array[Byte],
      quality: Int = 90,
      restartInterval: Int = 0
  ): Array[Byte] = {
    require(channels == 1 || channels == 3, s"jpeg encode: channels $channels")
    require(pixels.length == width * height * channels, "jpeg encode: pixel buffer size")
    val qL = scaledQ(QLuma, quality)
    val qC = scaledQ(QChroma, quality)
    val out = new ArrayBuffer[Byte](width * height / 2 + 1024)
    def u8(v: Int): Unit = out += v.toByte
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }

    marker(0xD8) // SOI
    // APP0 JFIF
    marker(0xE0); putBe16(out, 16)
    Seq('J', 'F', 'I', 'F', 0).foreach(c => u8(c.toInt))
    u8(1); u8(1); u8(0); putBe16(out, 1); putBe16(out, 1); u8(0); u8(0)
    // DQT
    marker(0xDB); putBe16(out, 2 + 65 * (if (channels == 3) 2 else 1))
    u8(0x00); (0 until 64).foreach(i => u8(qL(Zigzag(i))))
    if (channels == 3) { u8(0x01); (0 until 64).foreach(i => u8(qC(Zigzag(i)))) }
    // SOF0
    marker(0xC0); putBe16(out, 8 + 3 * channels); u8(8); putBe16(out, height); putBe16(out, width); u8(channels)
    if (channels == 1) { u8(1); u8(0x11); u8(0) }
    else {
      u8(1); u8(0x11); u8(0)
      u8(2); u8(0x11); u8(1)
      u8(3); u8(0x11); u8(1)
    }
    // DHT
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xC4); putBe16(out, 2 + 1 + 16 + vals.length); u8((tc << 4) | th)
      bits.foreach(u8); vals.foreach(u8)
    }
    dht(0, 0, DcLumaBits, DcLumaVals)
    dht(1, 0, AcLumaBits, AcLumaVals)
    if (channels == 3) {
      dht(0, 1, DcChromaBits, DcChromaVals)
      dht(1, 1, AcChromaBits, AcChromaVals)
    }
    // DRI
    if (restartInterval > 0) { marker(0xDD); putBe16(out, 4); putBe16(out, restartInterval) }
    // SOS
    marker(0xDA); putBe16(out, 6 + 2 * channels); u8(channels)
    if (channels == 1) { u8(1); u8(0x00) }
    else { u8(1); u8(0x00); u8(2); u8(0x11); u8(3); u8(0x11) }
    u8(0); u8(63); u8(0)

    // component planes (level-shifted doubles)
    val nComp = channels
    val planes = Array.ofDim[Double](nComp, width * height)
    var i = 0
    while (i < width * height) {
      if (channels == 1) planes(0)(i) = (pixels(i) & 0xFF) - 128.0
      else {
        val r = pixels(3 * i) & 0xFF
        val g = pixels(3 * i + 1) & 0xFF
        val b = pixels(3 * i + 2) & 0xFF
        planes(0)(i) = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        planes(1)(i) = -0.168736 * r - 0.331264 * g + 0.5 * b
        planes(2)(i) = 0.5 * r - 0.418688 * g - 0.081312 * b
      }
      i += 1
    }

    val (dcLC, dcLS) = huffEnc(DcLumaBits, DcLumaVals)
    val (acLC, acLS) = huffEnc(AcLumaBits, AcLumaVals)
    val (dcCC, dcCS) = huffEnc(DcChromaBits, DcChromaVals)
    val (acCC, acCS) = huffEnc(AcChromaBits, AcChromaVals)
    val bw = new BitWriter(out)
    val preds = new Array[Int](nComp)
    val coef = new Array[Int](64)
    val blk = new Array[Double](64)

    val bxs = (width + 7) / 8
    val bys = (height + 7) / 8
    var mcu = 0
    var rstCycle = 0
    var by = 0
    while (by < bys) {
      var bx = 0
      while (bx < bxs) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          marker(0xD0 + rstCycle)
          rstCycle = (rstCycle + 1) & 7
          java.util.Arrays.fill(preds, 0)
        }
        mcu += 1
        var ci = 0
        while (ci < nComp) {
          val q = if (ci == 0) qL else qC
          val (dcC, dcS) = if (ci == 0) (dcLC, dcLS) else (dcCC, dcCS)
          val (acC, acS) = if (ci == 0) (acLC, acLS) else (acCC, acCS)
          // gather the 8x8 block with edge replication
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val sx = math.min(bx * 8 + xx, width - 1)
              val sy = math.min(by * 8 + yy, height - 1)
              blk(yy * 8 + xx) = planes(ci)(sy * width + sx)
              xx += 1
            }
            yy += 1
          }
          // FDCT + quantize
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              var sum = 0.0
              var x0 = 0
              while (x0 < 8) {
                var y0 = 0
                while (y0 < 8) {
                  sum += blk(y0 * 8 + x0) * CosTable(u * 8 + x0) * CosTable(v * 8 + y0)
                  y0 += 1
                }
                x0 += 1
              }
              val d = sum * cu(u) * cu(v) / 4.0
              coef(v * 8 + u) = math.round(d / q(v * 8 + u)).toInt
              v += 1
            }
            u += 1
          }
          // entropy code: DC diff then AC runs in zigzag order
          val dc = coef(0)
          var diff = dc - preds(ci)
          preds(ci) = dc
          var t = 0
          var ad = math.abs(diff)
          while (ad != 0) { ad >>= 1; t += 1 }
          bw.put(dcC(t), dcS(t))
          if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
          var k = 1
          var run = 0
          while (k < 64) {
            val c = coef(Zigzag(k))
            if (c == 0) run += 1
            else {
              while (run > 15) { bw.put(acC(0xF0), acS(0xF0)); run -= 16 }
              var s = 0
              var ac = math.abs(c)
              while (ac != 0) { ac >>= 1; s += 1 }
              val rs = (run << 4) | s
              bw.put(acC(rs), acS(rs))
              bw.put(if (c < 0) c + (1 << s) - 1 else c, s)
              run = 0
            }
            k += 1
          }
          if (run > 0) bw.put(acC(0x00), acS(0x00)) // EOB
          ci += 1
        }
        bx += 1
      }
      by += 1
    }
    bw.flush()
    marker(0xD9) // EOI
    out.toArray
  }
}
