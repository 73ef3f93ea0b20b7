package graft.raster

import graft.sources.Bytes.{le16, le24, le32, setLe32, writeLe32}

/** WebP container + lossless (VP8L) codec — decode of the full
  * published bitstream (all four transforms, color cache, meta prefix
  * codes, LZ77 with the 2D distance map, simple + code-length-coded
  * prefix codes) and a minimal conforming encoder used by the
  * round-trip specs and the q_webp oracle cycle. Lossy `VP8 `
  * keyframes decode through [[Vp8]] (RFC 6386, conformance-pinned
  * against the reference decoder in Vp8Spec) — [[decode]] handles
  * both flavors; [[decodeLossyYuv]] exposes the normative YUV planes.
  *
  * WebP is the most common crawl-corpus image format; the reference
  * indexes images through stb/GDAL (vendored, empty in the checkout) —
  * this implements the format from the public "WebP Lossless Bitstream
  * Specification" directly, pure JVM.
  *
  * Decoder notes (conformance-relevant):
  *  - Bits are read LSB-first per byte; prefix codes are canonical
  *    (deflate-style, MSB of code first in the stream).
  *  - A code-length code with exactly one used symbol is the
  *    degenerate 0-bit code (libwebp's single-value special case).
  *  - Simple prefix codes assign code 0/1 in symbol READ order, not
  *    canonical sorted order.
  *  - The top-right predictor operand at the last column reads the
  *    contiguous-buffer neighbour (= first pixel of the current row),
  *    matching libwebp's row-pointer arithmetic.
  *  - Inverse transforms apply in reverse bitstream order; the
  *    color-indexing transform shrinks the coded width (pixel
  *    bundling at <=16 palette entries).
  *
  */
object Webp {

  // ------------------------------------------------------------------
  // bit I/O — LSB-first stream, deflate-style code emission
  // ------------------------------------------------------------------

  private final class BitReader(b: Array[Byte], start: Int, end: Int) {
    private var bytePos = start
    private var bitPos = 0
    def bit(): Int = {
      if (bytePos >= end) throw new IllegalArgumentException("vp8l: bitstream truncated")
      val v = (b(bytePos) >> bitPos) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      v
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v |= bit() << i; i += 1 }
      v
    }
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def bits(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i += 1
      }
    }
    /** Canonical prefix code: MSB of the code enters the stream first. */
    def code(c: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { bits((c >> i) & 1, 1); i -= 1 }
    }
    def result(): Array[Byte] = {
      if (nbits > 0) { out.write(cur); cur = 0; nbits = 0 }
      out.toByteArray
    }
  }

  // ------------------------------------------------------------------
  // prefix codes
  // ------------------------------------------------------------------

  private sealed trait PrefixCode { def read(br: BitReader): Int }

  /** Simple code: 1 symbol = zero bits, 2 symbols = one bit, in read order. */
  private final class SimpleCode(syms: Array[Int]) extends PrefixCode {
    def read(br: BitReader): Int = if (syms.length == 1) syms(0) else syms(br.bit())
  }

  /** Canonical (deflate) prefix code decoded bit-serially. */
  private final class CanonicalCode(lengths: Array[Int]) extends PrefixCode {
    private val MaxLen = 15
    private val count = new Array[Int](MaxLen + 1)
    lengths.foreach(l => if (l > 0) { require(l <= MaxLen, "vp8l: code length > 15"); count(l) += 1 })
    private val totalSyms = count.sum
    require(totalSyms > 0, "vp8l: empty prefix code")
    private val singleSym = if (totalSyms == 1) lengths.indexWhere(_ > 0) else -1
    private val firstCode = new Array[Int](MaxLen + 1)
    private val offset = new Array[Int](MaxLen + 1)
    private val sorted = new Array[Int](totalSyms)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= MaxLen) {
        firstCode(l) = code
        offset(l) = k
        code = (code + count(l)) << 1
        k += count(l)
        l += 1
      }
      if (totalSyms > 1)
        require(code == (1 << (MaxLen + 1)), "vp8l: prefix code not complete")
      val byLen = Array.fill(MaxLen + 1)(0)
      var s = 0
      while (s < lengths.length) {
        val len = lengths(s)
        if (len > 0) { sorted(offset(len) + byLen(len)) = s; byLen(len) += 1 }
        s += 1
      }
    }
    def read(br: BitReader): Int = {
      if (singleSym >= 0) return singleSym
      var code = 0
      var len = 0
      while (len < MaxLen) {
        code = (code << 1) | br.bit()
        len += 1
        if (count(len) > 0 && code >= firstCode(len) && code - firstCode(len) < count(len))
          return sorted(offset(len) + code - firstCode(len))
      }
      throw new IllegalArgumentException("vp8l: invalid prefix code bits")
    }
  }

  /** Code-length-code symbol order (shared with deflate's idea, VP8L's
    * own published permutation). */
  private val kClOrder = Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def readPrefixCode(br: BitReader, alphabetSize: Int): PrefixCode = {
    if (br.bit() == 1) { // simple
      val numSyms = br.bit() + 1
      val first8 = br.bit() == 1
      val s0 = br.bits(if (first8) 8 else 1)
      if (numSyms == 1) new SimpleCode(Array(s0))
      else new SimpleCode(Array(s0, br.bits(8)))
    } else {
      val numCl = 4 + br.bits(4)
      val clLens = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLens(kClOrder(i)) = br.bits(3); i += 1 }
      val clCode = new CanonicalCode(clLens)
      var maxSymbol =
        if (br.bit() == 1) {
          val lenNBits = 2 + 2 * br.bits(3)
          2 + br.bits(lenNBits)
        } else alphabetSize
      val lengths = new Array[Int](alphabetSize)
      var sym = 0
      var prevLen = 8
      while (sym < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.read(br)
        if (cl < 16) {
          lengths(sym) = cl
          sym += 1
          if (cl != 0) prevLen = cl
        } else {
          val (repeat, fill) = cl match {
            case 16 => (3 + br.bits(2), prevLen)
            case 17 => (3 + br.bits(3), 0)
            case _ => (11 + br.bits(7), 0)
          }
          require(sym + repeat <= alphabetSize, "vp8l: code length repeat overflow")
          var r = 0
          while (r < repeat) { lengths(sym) = fill; sym += 1; r += 1 }
        }
      }
      new CanonicalCode(lengths)
    }
  }

  // ------------------------------------------------------------------
  // LZ77 value coding + 2D distance map
  // ------------------------------------------------------------------

  private def lzValue(code: Int, br: BitReader): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.bits(extra) + 1
    }

  /** (code, extraBits, extraVal) for a length/distance value — inverse
    * of [[lzValue]]. */
  private def lzCode(v: Int): (Int, Int, Int) = {
    require(v >= 1)
    if (v <= 4) (v - 1, 0, 0)
    else {
      var code = 4
      while (code < 40) {
        val extra = (code - 2) >> 1
        val offset = (2 + (code & 1)) << extra
        if (v >= offset + 1 && v <= offset + (1 << extra)) return (code, extra, v - offset - 1)
        code += 1
      }
      throw new IllegalArgumentException(s"vp8l: value $v too large")
    }
  }

  /** The 120-entry short-distance neighbourhood (spec §4.2.2). */
  private val kDistMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (1, 8), (-1, 8), (0, 8), (3, 8), (-3, 8),
    (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7), (-6, 7),
    (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7))

  private def planeCodeToDistance(xsize: Int, code: Int): Int =
    if (code > 120) code - 120
    else {
      val (dx, dy) = kDistMap(code - 1)
      math.max(1, dy * xsize + dx)
    }

  // ------------------------------------------------------------------
  // ARGB pixel arithmetic
  // ------------------------------------------------------------------

  private def addPix(a: Int, b: Int): Int = {
    val rb = ((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff
    val ag = (((a >>> 8) & 0x00ff00ff) + ((b >>> 8) & 0x00ff00ff)) & 0x00ff00ff
    (ag << 8) | rb
  }

  private def subPix(a: Int, b: Int): Int = {
    var r = 0
    var sh = 0
    while (sh < 32) {
      r |= ((((a >>> sh) & 0xff) - ((b >>> sh) & 0xff)) & 0xff) << sh
      sh += 8
    }
    r
  }

  private def average2(a: Int, b: Int): Int =
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(a: Int, b: Int, c: Int): Int = {
    var r = 0
    var sh = 0
    while (sh < 32) {
      r |= clip255(((a >>> sh) & 0xff) + ((b >>> sh) & 0xff) - ((c >>> sh) & 0xff)) << sh
      sh += 8
    }
    r
  }

  private def clampAddSubtractHalf(ave: Int, c: Int): Int = {
    var r = 0
    var sh = 0
    while (sh < 32) {
      val av = (ave >>> sh) & 0xff
      r |= clip255(av + (av - ((c >>> sh) & 0xff)) / 2) << sh
      sh += 8
    }
    r
  }

  private def select(top: Int, left: Int, topLeft: Int): Int = {
    var d = 0
    var sh = 0
    while (sh < 32) {
      val t = (top >>> sh) & 0xff
      val l = (left >>> sh) & 0xff
      val tl = (topLeft >>> sh) & 0xff
      d += math.abs(l - tl) - math.abs(t - tl)
      sh += 8
    }
    if (d <= 0) top else left
  }

  /** Predictor value for mode at (x, y) over the reconstructed buffer.
    * Shared verbatim by decode (inverse) and encode (forward mirror). */
  private def predict(mode: Int, argb: Array[Int], pos: Int, x: Int, y: Int, xsize: Int): Int = {
    if (x == 0 && y == 0) return 0xff000000
    if (y == 0) return argb(pos - 1) // row 0: left
    if (x == 0) return argb(pos - xsize) // col 0: top
    val l = argb(pos - 1)
    val t = argb(pos - xsize)
    val tl = argb(pos - xsize - 1)
    // last column: the contiguous-buffer neighbour (first pixel of the
    // current row, already reconstructed) — libwebp row-pointer semantics
    val tr = argb(pos - xsize + 1)
    mode match {
      case 0 => 0xff000000
      case 1 => l
      case 2 => t
      case 3 => tr
      case 4 => tl
      case 5 => average2(average2(l, tr), t)
      case 6 => average2(l, tl)
      case 7 => average2(l, t)
      case 8 => average2(tl, t)
      case 9 => average2(t, tr)
      case 10 => average2(average2(l, tl), average2(t, tr))
      case 11 => select(t, l, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case 13 => clampAddSubtractHalf(average2(l, t), tl)
      case _ => throw new IllegalArgumentException(s"vp8l: predictor mode $mode")
    }
  }

  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  // ------------------------------------------------------------------
  // transforms
  // ------------------------------------------------------------------

  private sealed trait Transform
  private final case class PredT(bits: Int, img: Array[Int]) extends Transform
  private final case class ColorT(bits: Int, img: Array[Int]) extends Transform
  private case object SubGreenT extends Transform
  private final case class PaletteT(widthBits: Int, pal: Array[Int], origW: Int) extends Transform

  private def subSize(size: Int, bits: Int): Int = (size + (1 << bits) - 1) >> bits

  /** Inverse transform application — returns (argb, xsize). */
  private def inverse(t: Transform, argbIn: Array[Int], xsizeIn: Int, ysize: Int): (Array[Int], Int) =
    t match {
      case SubGreenT =>
        val argb = argbIn
        var i = 0
        while (i < argb.length) {
          val g = (argb(i) >>> 8) & 0xff
          val r = (((argb(i) >>> 16) & 0xff) + g) & 0xff
          val b = ((argb(i) & 0xff) + g) & 0xff
          argb(i) = (argb(i) & 0xff00ff00) | (r << 16) | b
          i += 1
        }
        (argb, xsizeIn)
      case PredT(bits, img) =>
        val argb = argbIn
        val subW = subSize(xsizeIn, bits)
        var pos = 0
        var y = 0
        while (y < ysize) {
          var x = 0
          while (x < xsizeIn) {
            val mode = (img((y >> bits) * subW + (x >> bits)) >>> 8) & 0xff
            argb(pos) = addPix(argb(pos), predict(mode, argb, pos, x, y, xsizeIn))
            pos += 1
            x += 1
          }
          y += 1
        }
        (argb, xsizeIn)
      case ColorT(bits, img) =>
        val argb = argbIn
        val subW = subSize(xsizeIn, bits)
        var pos = 0
        var y = 0
        while (y < ysize) {
          var x = 0
          while (x < xsizeIn) {
            val m = img((y >> bits) * subW + (x >> bits))
            val g2r = m & 0xff
            val g2b = (m >>> 8) & 0xff
            val r2b = (m >>> 16) & 0xff
            val px = argb(pos)
            val g = (px >>> 8) & 0xff
            val r = (((px >>> 16) & 0xff) + ctDelta(g2r, g)) & 0xff
            val b = (((px & 0xff) + ctDelta(g2b, g) + ctDelta(r2b, r)) & 0xff)
            argb(pos) = (px & 0xff00ff00) | (r << 16) | b
            pos += 1
            x += 1
          }
          y += 1
        }
        (argb, xsizeIn)
      case PaletteT(widthBits, pal, origW) =>
        val out = new Array[Int](origW * ysize)
        if (widthBits == 0) {
          var i = 0
          while (i < out.length) {
            val idx = (argbIn(i) >>> 8) & 0xff
            out(i) = if (idx < pal.length) pal(idx) else 0
            i += 1
          }
        } else {
          val bpp = 8 >> widthBits
          val ppb = 1 << widthBits // pixels per packed byte
          val mask = (1 << bpp) - 1
          val packedW = subSize(origW, widthBits)
          var y = 0
          while (y < ysize) {
            var x = 0
            while (x < origW) {
              val packed = (argbIn(y * packedW + (x >> widthBits)) >>> 8) & 0xff
              val idx = (packed >> (bpp * (x % ppb))) & mask
              out(y * origW + x) = if (idx < pal.length) pal(idx) else 0
              x += 1
            }
            y += 1
          }
        }
        (out, origW)
    }

  // ------------------------------------------------------------------
  // image stream decode
  // ------------------------------------------------------------------

  private def colorCacheHash(argb: Int, bits: Int): Int =
    ((0x1e35a7bd * argb) >>> (32 - bits)).toInt & ((1 << bits) - 1)

  private def readGroup(br: BitReader, cacheSize: Int): Array[PrefixCode] =
    Array(
      readPrefixCode(br, 256 + 24 + cacheSize),
      readPrefixCode(br, 256),
      readPrefixCode(br, 256),
      readPrefixCode(br, 256),
      readPrefixCode(br, 40))

  private def decodeImageStream(br: BitReader, xsizeIn: Int, ysize: Int, level0: Boolean): Array[Int] = {
    var xsize = xsizeIn
    var transforms: List[Transform] = Nil // head = last read → iterate head-first for inverse
    if (level0) {
      var seen = Set.empty[Int]
      while (br.bit() == 1) {
        val tt = br.bits(2)
        require(!seen.contains(tt), "vp8l: duplicate transform")
        seen += tt
        tt match {
          case 0 =>
            val bits = br.bits(3) + 2
            val img = decodeImageStream(br, subSize(xsize, bits), subSize(ysize, bits), level0 = false)
            transforms ::= PredT(bits, img)
          case 1 =>
            val bits = br.bits(3) + 2
            val img = decodeImageStream(br, subSize(xsize, bits), subSize(ysize, bits), level0 = false)
            transforms ::= ColorT(bits, img)
          case 2 =>
            transforms ::= SubGreenT
          case _ =>
            val nColors = br.bits(8) + 1
            val raw = decodeImageStream(br, nColors, 1, level0 = false)
            val pal = new Array[Int](nColors)
            var i = 0
            while (i < nColors) { pal(i) = if (i == 0) raw(0) else addPix(raw(i), pal(i - 1)); i += 1 }
            val widthBits =
              if (nColors <= 2) 3 else if (nColors <= 4) 2 else if (nColors <= 16) 1 else 0
            transforms ::= PaletteT(widthBits, pal, xsize)
            xsize = subSize(xsize, widthBits)
        }
      }
    }
    val cacheBits = if (br.bit() == 1) br.bits(4) else 0
    require(cacheBits <= 11, "vp8l: color cache too large")
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    var metaImg: Array[Int] = null
    var metaBits = 0
    var metaW = 0
    var numGroups = 1
    if (level0 && br.bit() == 1) {
      metaBits = br.bits(3) + 2
      metaW = subSize(xsize, metaBits)
      metaImg = decodeImageStream(br, metaW, subSize(ysize, metaBits), level0 = false)
      var mx = 0
      var i = 0
      while (i < metaImg.length) { mx = math.max(mx, (metaImg(i) >>> 8) & 0xffff); i += 1 }
      numGroups = mx + 1
    }
    val groups = Array.fill(numGroups)(readGroup(br, cacheSize))

    val n = xsize * ysize
    val out = new Array[Int](n)
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def insert(px: Int): Unit = if (cache != null) cache(colorCacheHash(px, cacheBits)) = px
    var pos = 0
    var x = 0
    var y = 0
    while (pos < n) {
      val g =
        if (metaImg == null) groups(0)
        else groups((metaImg((y >> metaBits) * metaW + (x >> metaBits)) >>> 8) & 0xffff)
      val s = g(0).read(br)
      if (s < 256) {
        val r = g(1).read(br)
        val b = g(2).read(br)
        val a = g(3).read(br)
        val px = (a << 24) | (r << 16) | (s << 8) | b
        out(pos) = px
        insert(px)
        pos += 1; x += 1; if (x == xsize) { x = 0; y += 1 }
      } else if (s < 280) {
        val length = lzValue(s - 256, br)
        val dval = lzValue(g(4).read(br), br)
        val dist = planeCodeToDistance(xsize, dval)
        require(dist <= pos && pos + length <= n, "vp8l: backward reference out of range")
        var k = 0
        while (k < length) {
          val px = out(pos - dist)
          out(pos) = px
          insert(px)
          pos += 1; x += 1; if (x == xsize) { x = 0; y += 1 }
          k += 1
        }
      } else {
        require(cache != null && s - 280 < cacheSize, "vp8l: cache index out of range")
        out(pos) = cache(s - 280)
        pos += 1; x += 1; if (x == xsize) { x = 0; y += 1 }
      }
    }
    var argb = out
    var curW = xsize
    transforms.foreach { t =>
      val (a2, w2) = inverse(t, argb, curW, ysize)
      argb = a2
      curW = w2
    }
    argb
  }

  /** Decode a raw VP8L stream (no RIFF container) to (w, h, ARGB). */
  def decodeVp8l(data: Array[Byte]): (Int, Int, Array[Int]) = {
    require(data.length > 5 && (data(0) & 0xff) == 0x2f, "vp8l: bad signature")
    val br = new BitReader(data, 1, data.length)
    val w = br.bits(14) + 1
    val h = br.bits(14) + 1
    br.bit() // alpha hint
    require(br.bits(3) == 0, "vp8l: unsupported version")
    require(w.toLong * h <= (1L << 26), "vp8l: image too large") // 64 Mpx decode budget
    (w, h, decodeImageStream(br, w, h, level0 = true))
  }

  // ------------------------------------------------------------------
  // RIFF container
  // ------------------------------------------------------------------

  def isWebp(b: Array[Byte]): Boolean =
    b != null && b.length >= 16 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'

  /** Walk RIFF chunks; (fourcc, payload offset, payload size). */
  private def chunks(b: Array[Byte]): Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
    private var at = 12
    def hasNext: Boolean = at + 8 <= b.length
    def next(): (String, Int, Int) = {
      val cc = new String(b, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(b, at + 4)
      val off = at + 8
      at = off + size + (size & 1) // chunks are 2-byte aligned
      (cc, off, size)
    }
  }

  /** (format, width, height) header probe — VP8L bit-fields, lossy
    * `VP8 ` frame tag, or VP8X canvas. No entropy decode. */
  def probe(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (!isWebp(b)) return None
    try {
      chunks(b).collectFirst {
        case ("VP8L", off, size) if size >= 5 && (b(off) & 0xff) == 0x2f =>
          val bits = le32(b, off + 1)
          ("vp8l", (bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1)
        case ("VP8 ", off, size) if size >= 10 &&
          (b(off + 3) & 0xff) == 0x9d && (b(off + 4) & 0xff) == 0x01 && (b(off + 5) & 0xff) == 0x2a =>
          val w = le16(b, off + 6) & 0x3fff
          val h = le16(b, off + 8) & 0x3fff
          ("vp8", w, h)
        case ("VP8X", off, size) if size >= 10 =>
          val w = le24(b, off + 4) + 1
          val h = le24(b, off + 7) + 1
          ("vp8x", w, h)
      }
    } catch { case _: Exception => None }
  }

  /** Full decode to the engine's Image: VP8L (direct or inside a VP8X
    * extended container) and lossy VP8 keyframes ([[Vp8]]). For VP8
    * the bitstream normatively defines the 4:2:0 YUV reconstruction;
    * the RGB conversion here (BT.601 limited-range, nearest-neighbor
    * chroma upsampling) is the application-defined last step. */
  def decode(bytes: Array[Byte]): Option[Png.Image] = {
    if (!isWebp(bytes)) return None
    try {
      val lossless = chunks(bytes).collectFirst { case ("VP8L", off, size) if size >= 5 => (off, size) }.map {
        case (off, size) =>
          val (w, h, argb) = decodeVp8l(java.util.Arrays.copyOfRange(bytes, off, off + size))
          var hasAlpha = false
          var i = 0
          while (i < argb.length && !hasAlpha) { hasAlpha = (argb(i) >>> 24) != 0xff; i += 1 }
          val ch = if (hasAlpha) 4 else 3
          val px = new Array[Byte](w * h * ch)
          i = 0
          while (i < argb.length) {
            val p = argb(i)
            px(ch * i) = ((p >>> 16) & 0xff).toByte
            px(ch * i + 1) = ((p >>> 8) & 0xff).toByte
            px(ch * i + 2) = (p & 0xff).toByte
            if (ch == 4) px(ch * i + 3) = ((p >>> 24) & 0xff).toByte
            i += 1
          }
          Png.Image(w, h, ch, px)
      }
      lossless.orElse {
        chunks(bytes).collectFirst { case ("VP8 ", off, size) if size >= 10 => (off, size) }.map {
          case (off, size) => yuvToRgb(Vp8.decodeFrame(bytes, off, size))
        }
      }
    } catch { case _: Exception => None }
  }

  /** Decode a lossy WebP to its normative YUV planes (the
    * conformance-grade face; RGB is an application choice). */
  def decodeLossyYuv(bytes: Array[Byte]): Option[Vp8.Frame] = {
    if (!isWebp(bytes)) return None
    try chunks(bytes).collectFirst { case ("VP8 ", off, size) if size >= 10 => (off, size) }
      .map { case (off, size) => Vp8.decodeFrame(bytes, off, size) }
    catch { case _: Exception => None }
  }

  /** BT.601 limited-range YUV 4:2:0 -> RGB, nearest-neighbor chroma. */
  private def yuvToRgb(f: Vp8.Frame): Png.Image = {
    val w = f.width; val h = f.height; val cw = f.chromaW
    val px = new Array[Byte](w * h * 3)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val yv = 298 * ((f.y(yy * w + xx) & 0xff) - 16)
        val uvi = (yy / 2) * cw + (xx / 2)
        val uv0 = (f.u(uvi) & 0xff) - 128
        val vv0 = (f.v(uvi) & 0xff) - 128
        val i = (yy * w + xx) * 3
        px(i) = clamp8((yv + 409 * vv0 + 128) >> 8)
        px(i + 1) = clamp8((yv - 100 * uv0 - 208 * vv0 + 128) >> 8)
        px(i + 2) = clamp8((yv + 516 * uv0 + 128) >> 8)
        xx += 1
      }
      yy += 1
    }
    Png.Image(w, h, 3, px)
  }

  private def clamp8(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte

  /** Encode YUV planes as a lossy `VP8 ` WebP container ([[Vp8]]'s
    * minimal conforming keyframe; cross-checked against the reference
    * decoder — see tools/check_vp8_enc.py). */
  def encodeLossy(y: Array[Byte], u: Array[Byte], v: Array[Byte], width: Int, height: Int, qIndex: Int = 8): Array[Byte] = {
    val frame = Vp8.encodeFrame(y, u, v, width, height, qIndex)
    val out = new java.io.ByteArrayOutputStream()
    out.write('R'); out.write('I'); out.write('F'); out.write('F')
    writeLe32(out, 4 + 8 + frame.length + (frame.length & 1))
    out.write('W'); out.write('E'); out.write('B'); out.write('P')
    out.write('V'); out.write('P'); out.write('8'); out.write(' ')
    writeLe32(out, frame.length)
    out.write(frame, 0, frame.length)
    if ((frame.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // encoder — minimal conforming stream for round-trip + oracle cycles
  // ------------------------------------------------------------------

  /** Encoder options — each exercises one decoder surface. Palette is
    * exclusive with the pixel transforms (the spec allows combining,
    * libwebp's encoder doesn't; neither do we). */
  final case class EncOpts(
      subtractGreen: Boolean = false,
      predictorBits: Int = 0, // >0: predictor transform, block = 1<<bits, modes cycle 0..13
      crossColor: Boolean = false,
      palette: Boolean = false,
      cacheBits: Int = 0,
      lz77: Boolean = false,
      metaGroup: Boolean = false,
      // TWO meta groups on a checkerboard of 16px blocks: group 1 pins
      // R/B/A to single-symbol codes (pixels there must be (7,g,11,255)),
      // so a wrong group lookup desyncs or mis-colors — the real test of
      // the per-block group index path. Plain literals only.
      metaTwoGroups: Boolean = false) {
    require(!metaTwoGroups || (!metaGroup && !lz77 && cacheBits == 0 && !palette &&
      !subtractGreen && predictorBits == 0 && !crossColor), "metaTwoGroups is a plain-literal config")
    require(!palette || (!subtractGreen && predictorBits == 0 && !crossColor), "palette is exclusive")
    require(cacheBits >= 0 && cacheBits <= 11)
  }

  /** Uniform canonical code over `n` symbols: for 2^k < n <= 2^(k+1),
    * the first 2^(k+1)-n symbols get k bits and the rest k+1 (exact
    * powers of two are flat k-bit codes). Complete by construction;
    * (shortLen, shortCount). */
  private def uniformLens(n: Int): (Int, Int) = {
    require(n >= 2 && n <= (1 << 14), s"vp8l: alphabet $n out of range")
    var k = 1
    while ((1 << k) < n) k += 1 // k = ceil(log2 n)
    if ((1 << k) == n) (k, n) // flat
    else (k - 1, (1 << k) - n) // split {k-1, k}
  }

  private def writeUniformCodeHeader(bw: BitWriter, n: Int): Unit = {
    val (kShort, nShort) = uniformLens(n)
    bw.bits(0, 1) // not simple
    if (nShort == n) { // flat code → single cl-symbol (degenerate 0-bit cl code)
      val maxIdx = kClOrder.indexOf(kShort)
      bw.bits(maxIdx + 1 - 4, 4)
      var i = 0
      while (i <= maxIdx) { bw.bits(if (kClOrder(i) == kShort) 1 else 0, 3); i += 1 }
      bw.bits(0, 1) // no max_symbol — lengths consume zero bits
    } else {
      val maxIdx = math.max(kClOrder.indexOf(kShort), kClOrder.indexOf(kShort + 1))
      bw.bits(maxIdx + 1 - 4, 4)
      var i = 0
      while (i <= maxIdx) {
        bw.bits(if (kClOrder(i) == kShort || kClOrder(i) == kShort + 1) 1 else 0, 3)
        i += 1
      }
      bw.bits(0, 1) // no max_symbol
      // cl code: {short→0, long→1}, one bit per symbol length
      var s = 0
      while (s < n) { bw.bits(if (s < nShort) 0 else 1, 1); s += 1 }
    }
  }

  private def writeUniformSymbol(bw: BitWriter, n: Int, sym: Int): Unit = {
    val (kShort, nShort) = uniformLens(n)
    if (sym < nShort) bw.code(sym, kShort)
    else bw.code((nShort << 1) + (sym - nShort), kShort + 1)
  }

  private def writeSingleSymbolCode(bw: BitWriter, sym: Int): Unit = {
    bw.bits(1, 1) // simple
    bw.bits(0, 1) // 1 symbol
    if (sym < 2) { bw.bits(0, 1); bw.bits(sym, 1) }
    else { bw.bits(1, 1); bw.bits(sym, 8) }
  }

  /** Entropy-image encode (sub-images: transform data, palette, meta):
    * literal-only, no cache, uniform codes. */
  private def writeEntropyImage(bw: BitWriter, argb: Array[Int]): Unit = {
    bw.bits(0, 1) // no color cache
    writeUniformCodeHeader(bw, 280) // green
    writeUniformCodeHeader(bw, 256) // red
    writeUniformCodeHeader(bw, 256) // blue
    writeUniformCodeHeader(bw, 256) // alpha
    writeSingleSymbolCode(bw, 0) // distance — never read
    var i = 0
    while (i < argb.length) {
      val p = argb(i)
      writeUniformSymbol(bw, 280, (p >>> 8) & 0xff)
      writeUniformSymbol(bw, 256, (p >>> 16) & 0xff)
      writeUniformSymbol(bw, 256, p & 0xff)
      writeUniformSymbol(bw, 256, (p >>> 24) & 0xff)
      i += 1
    }
  }

  /** Encode an Image (1/3/4 channels) as a lossless RIFF/WEBP file. */
  def encode(img: Png.Image, opts: EncOpts = EncOpts()): Array[Byte] = {
    val w = img.width
    val h = img.height
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384, "vp8l: dims out of range")
    val n = w * h
    var argb = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (r, g, b, a) = img.channels match {
        case 1 =>
          val v = img.pixels(i) & 0xff; (v, v, v, 0xff)
        case 3 =>
          (img.pixels(3 * i) & 0xff, img.pixels(3 * i + 1) & 0xff, img.pixels(3 * i + 2) & 0xff, 0xff)
        case 4 =>
          (img.pixels(4 * i) & 0xff, img.pixels(4 * i + 1) & 0xff, img.pixels(4 * i + 2) & 0xff, img.pixels(4 * i + 3) & 0xff)
        case c => throw new IllegalArgumentException(s"vp8l: $c channels")
      }
      argb(i) = (a << 24) | (r << 16) | (g << 8) | b
      i += 1
    }

    val bw = new BitWriter
    bw.bits(0x2f, 8)
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(if (img.channels == 4) 1 else 0, 1) // alpha hint
    bw.bits(0, 3) // version

    var codedW = w

    if (opts.palette) {
      val distinct = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      argb.foreach(p => if (!distinct.contains(p)) distinct(p) = distinct.size)
      require(distinct.size <= 256, "vp8l: too many colors for palette")
      val pal = distinct.keys.toArray
      val nColors = pal.length
      bw.bits(1, 1); bw.bits(3, 2) // transform: color indexing
      bw.bits(nColors - 1, 8)
      val raw = new Array[Int](nColors)
      var k = 0
      while (k < nColors) { raw(k) = if (k == 0) pal(0) else subPix(pal(k), pal(k - 1)); k += 1 }
      writeEntropyImage(bw, raw)
      val widthBits = if (nColors <= 2) 3 else if (nColors <= 4) 2 else if (nColors <= 16) 1 else 0
      codedW = subSize(w, widthBits)
      val packed = new Array[Int](codedW * h)
      if (widthBits == 0) {
        var j = 0
        while (j < n) { packed(j) = 0xff000000 | (distinct(argb(j)) << 8); j += 1 }
      } else {
        val bpp = 8 >> widthBits
        val ppb = 1 << widthBits
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val slot = y * codedW + (x >> widthBits)
            val idx = distinct(argb(y * w + x))
            packed(slot) |= (idx << (bpp * (x % ppb))) << 8
            x += 1
          }
          var xx = 0
          while (xx < codedW) { packed(y * codedW + xx) |= 0xff000000; xx += 1 }
          y += 1
        }
      }
      argb = packed
    } else {
      // forward transforms, bitstream order = application order:
      // subtract-green first, then predictor, then cross-color
      if (opts.subtractGreen) {
        bw.bits(1, 1); bw.bits(2, 2)
        var j = 0
        while (j < n) {
          val p = argb(j)
          val g = (p >>> 8) & 0xff
          val r = (((p >>> 16) & 0xff) - g) & 0xff
          val b = ((p & 0xff) - g) & 0xff
          argb(j) = (p & 0xff00ff00) | (r << 16) | b
          j += 1
        }
      }
      if (opts.predictorBits > 0) {
        val bits = opts.predictorBits
        require(bits >= 2 && bits <= 9)
        bw.bits(1, 1); bw.bits(0, 2)
        bw.bits(bits - 2, 3)
        val subW = subSize(w, bits)
        val subH = subSize(h, bits)
        val modeImg = Array.tabulate(subW * subH)(k => 0xff000000 | ((k % 14) << 8))
        writeEntropyImage(bw, modeImg)
        // forward: residual = pixel - predict(reconstructed); since the
        // decoder reconstructs exactly the originals, predict over the
        // pre-transform buffer IS the decode-side predictor input
        val res = new Array[Int](n)
        var pos = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val mode = (modeImg((y >> bits) * subW + (x >> bits)) >>> 8) & 0xff
            res(pos) = subPix(argb(pos), predict(mode, argb, pos, x, y, w))
            pos += 1
            x += 1
          }
          y += 1
        }
        System.arraycopy(res, 0, argb, 0, n)
      }
      if (opts.crossColor) {
        val bits = 4
        bw.bits(1, 1); bw.bits(1, 2)
        bw.bits(bits - 2, 3)
        val subW = subSize(w, bits)
        val subH = subSize(h, bits)
        // deterministic per-block multipliers exercise the signed 3.5 math
        val ctImg = Array.tabulate(subW * subH) { k =>
          val g2r = (k * 17 + 3) & 0xff
          val g2b = (k * 29 + 7) & 0xff
          val r2b = (k * 41 + 11) & 0xff
          0xff000000 | (r2b << 16) | (g2b << 8) | g2r
        }
        writeEntropyImage(bw, ctImg)
        var pos = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val m = ctImg((y >> bits) * subW + (x >> bits))
            val p = argb(pos)
            val g = (p >>> 8) & 0xff
            val r0 = (p >>> 16) & 0xff
            val b0 = p & 0xff
            val r = (r0 - ctDelta(m & 0xff, g)) & 0xff
            val b = (b0 - ctDelta((m >>> 8) & 0xff, g) - ctDelta((m >>> 16) & 0xff, r0)) & 0xff
            argb(pos) = (p & 0xff00ff00) | (r << 16) | b
            pos += 1
            x += 1
          }
          y += 1
        }
      }
    }
    bw.bits(0, 1) // end of transforms

    // color cache
    val cacheSize = if (opts.cacheBits > 0) 1 << opts.cacheBits else 0
    if (cacheSize > 0) { bw.bits(1, 1); bw.bits(opts.cacheBits, 4) } else bw.bits(0, 1)

    // meta prefix codes: one group via an all-zero meta image, or two
    // groups on a 16px checkerboard (group = (bx+by) mod 2)
    val mBits = 4
    if (opts.metaGroup) {
      bw.bits(1, 1)
      bw.bits(mBits - 2, 3)
      writeEntropyImage(bw, new Array[Int](subSize(codedW, mBits) * subSize(h, mBits)))
    } else if (opts.metaTwoGroups) {
      bw.bits(1, 1)
      bw.bits(mBits - 2, 3)
      val mw = subSize(codedW, mBits)
      val mh = subSize(h, mBits)
      writeEntropyImage(bw, Array.tabulate(mw * mh) { i =>
        val g = ((i % mw) + (i / mw)) % 2
        0xff000000 | (g << 8)
      })
    } else bw.bits(0, 1)

    val greenN = 280 + cacheSize
    writeUniformCodeHeader(bw, greenN)
    writeUniformCodeHeader(bw, 256)
    writeUniformCodeHeader(bw, 256)
    writeUniformCodeHeader(bw, 256)
    if (opts.lz77) writeSingleSymbolCode(bw, 1) // only distance value 2 (= dist 1) is emitted
    else writeSingleSymbolCode(bw, 0)
    if (opts.metaTwoGroups) { // group 1: green uniform, R/B/A pinned single-symbol
      writeUniformCodeHeader(bw, greenN)
      writeSingleSymbolCode(bw, 7) // red
      writeSingleSymbolCode(bw, 11) // blue
      writeSingleSymbolCode(bw, 255) // alpha
      writeSingleSymbolCode(bw, 0) // distance
    }

    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val cacheSet = if (cacheSize > 0) new Array[Boolean](cacheSize) else null
    def cacheInsert(px: Int): Unit = if (cache != null) {
      val hsh = colorCacheHash(px, opts.cacheBits)
      cache(hsh) = px; cacheSet(hsh) = true
    }
    val total = argb.length
    var pos = 0
    while (pos < total) {
      val p = argb(pos)
      var run = 0
      if (opts.lz77 && pos > 0 && argb(pos - 1) == p) {
        var e = pos
        while (e < total && argb(e) == p && e - pos < 4095) e += 1
        run = e - pos
      }
      if (run >= 4) {
        val (lc, leb, lev) = lzCode(run)
        writeUniformSymbol(bw, greenN, 256 + lc)
        bw.bits(lev, leb)
        // distance code: single-symbol (value code 2 → distance 1), the
        // prefix symbol consumes 0 bits and value 2 has no extra bits
        var k = 0
        while (k < run) { cacheInsert(argb(pos + k)); k += 1 }
        pos += run
      } else if (opts.metaTwoGroups &&
        (((pos % codedW) >> mBits) + ((pos / codedW) >> mBits)) % 2 == 1) {
        // group 1 block: R/B/A are zero-bit single-symbol codes
        require(((p >>> 16) & 0xff) == 7 && (p & 0xff) == 11 && (p >>> 24) == 0xff,
          "webp: metaTwoGroups pixels in group-1 blocks must be (7, g, 11, 255)")
        writeUniformSymbol(bw, greenN, (p >>> 8) & 0xff)
        pos += 1
      } else {
        val hsh = if (cache != null) colorCacheHash(p, opts.cacheBits) else -1
        if (cache != null && cacheSet(hsh) && cache(hsh) == p) {
          writeUniformSymbol(bw, greenN, 280 + hsh)
          pos += 1
        } else {
          writeUniformSymbol(bw, greenN, (p >>> 8) & 0xff)
          writeUniformSymbol(bw, 256, (p >>> 16) & 0xff)
          writeUniformSymbol(bw, 256, p & 0xff)
          writeUniformSymbol(bw, 256, (p >>> 24) & 0xff)
          cacheInsert(p)
          pos += 1
        }
      }
    }

    wrapRiff(bw.result())
  }

  /** q_webp: per (event_type, id%16 shard), a deterministic RGB plane
    * cycles the FULL VP8L transform stack losslessly AND (r15) its R
    * channel cycles the real lossy VP8 keyframe codec with a required
    * per-pixel quantization bound —
    * built from the shard's own event ids cycles through the VP8L codec
    * in-task with the full transform stack (subtract-green + predictor
    * + cross-color + color cache + LZ77) — the cycle must be
    * byte-lossless (a require), so the oracle can state the channel
    * sums in closed form over the ids. Shard sums re-aggregate per
    * group (additive — oracle unchanged); sharding parallelizes the
    * CPU-heavy cycles across all cores. */
  def webpQuery(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val n = sorted.length
      val w = 64
      val h = math.max(1, (n + w - 1) / w)
      val px = new Array[Byte](w * h * 3)
      var i = 0
      while (i < n) {
        px(3 * i) = ((sorted(i) * 37) % 256).toByte
        px(3 * i + 1) = ((sorted(i) * 57) % 256).toByte
        px(3 * i + 2) = ((sorted(i) * 77) % 256).toByte
        i += 1
      }
      val img = Png.Image(w, h, 3, px)
      val dec = Webp.decode(Webp.encode(img,
        EncOpts(subtractGreen = true, predictorBits = 2, crossColor = true, cacheBits = 6, lz77 = true)))
        .getOrElse(sys.error("webp cycle failed"))
      require(dec.width == w && dec.height == h && dec.channels == 3, "webp meta drift")
      require(java.util.Arrays.equals(dec.pixels, px), "webp cycle not lossless")
      var rgbSum = 0L
      i = 0
      while (i < w * h * 3) { rgbSum += dec.pixels(i) & 0xff; i += 1 }
      // LOSSY lane: the R channel as a luma plane cycles through the
      // real VP8 keyframe codec (encode -> RIFF -> decodeLossyYuv) at
      // the finest quantizer; the require bounds per-pixel error, so
      // the closed-form y_sum the oracle states is only reachable if
      // the lossy cycle actually ran within tolerance.
      val cw = (w + 1) / 2
      val chh = (h + 1) / 2
      val yPlane = new Array[Byte](w * h)
      i = 0
      while (i < n) { yPlane(i) = ((sorted(i) * 37) % 256).toByte; i += 1 }
      val uPlane = Array.fill[Byte](cw * chh)(128.toByte)
      val vPlane = Array.fill[Byte](cw * chh)(128.toByte)
      val lossy = Webp.decodeLossyYuv(Webp.encodeLossy(yPlane, uPlane, vPlane, w, h, qIndex = 0))
        .getOrElse(sys.error("vp8 lossy cycle failed"))
      require(lossy.width == w && lossy.height == h, "vp8 meta drift")
      i = 0
      var ySum = 0L
      while (i < w * h) {
        val d = math.abs((lossy.y(i) & 0xff) - (yPlane(i) & 0xff))
        require(d <= 3, s"vp8 lossy error $d exceeds the q0 quantization bound")
        ySum += yPlane(i) & 0xff
        i += 1
      }
      Seq(n.toLong, rgbSum, ySum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(
        sum($"a".getItem(0)).as("n_px"),
        sum($"a".getItem(1)).as("rgb_sum"),
        sum($"a".getItem(2)).as("y_sum"))
      .orderBy($"event_type")
  }

  /** RIFF/WEBP container around a raw VP8L payload. */
  def wrapRiff(vp8l: Array[Byte]): Array[Byte] = {
    val padded = vp8l.length + (vp8l.length & 1)
    val out = new Array[Byte](12 + 8 + padded)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    setLe32(out, 4, 4 + 8 + padded)
    out(8) = 'W'; out(9) = 'E'; out(10) = 'B'; out(11) = 'P'
    out(12) = 'V'; out(13) = 'P'; out(14) = '8'; out(15) = 'L'
    setLe32(out, 16, vp8l.length)
    System.arraycopy(vp8l, 0, out, 20, vp8l.length)
    out
  }
}
