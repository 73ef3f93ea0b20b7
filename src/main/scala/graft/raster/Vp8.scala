package graft.raster

/** Lossy WebP: a VP8 intra-frame (keyframe) decoder and a minimal
  * conforming encoder, per RFC 6386 (the published VP8 bitstream
  * spec). This closes the crawl-corpus gap the VP8L work could not:
  * most real-world `.webp` is lossy `VP8 `, not lossless `VP8L`.
  *
  * Decoder coverage: boolean arithmetic decoder (§7), keyframe header
  * with segmentation / loop-filter deltas / multiple token partitions
  * / quantizer deltas / coefficient-probability updates (§9, §13.4),
  * intra modes (16x16 DC/V/H/TM, full 10-mode B_PRED with
  * context-tree keyframe probabilities, chroma modes — §11),
  * coefficient tokens with bands/contexts/cat1-6 extra bits (§13),
  * dequantization with segment + plane adjustments (§14.1), inverse
  * WHT for Y2 (§14.3) and the exact integer inverse DCT (§14.4),
  * intra prediction incl. frame-edge 127/129 conventions (§12), and
  * both loop filters (normal + simple, §15). Output is the
  * normatively-defined reconstructed 4:2:0 YUV; RGB conversion is an
  * application choice and lives in [[Webp]].
  *
  * Normative constant tables ship in [[Vp8Tables]] (see its
  * provenance note); Vp8Spec pins this decoder byte-exactly against
  * libwebp's own decode of libwebp-ENCODED fixtures, so every table
  * value and every filter/prediction convention is checked against an
  * independent implementation, not a mirror of this code.
  *
  * The encoder (cycle driver, same pattern as Vorbis/H264/Zstd): all
  * MBs 16x16 DC_PRED + chroma DC_PRED, forward transform = float
  * inverse of the spec's integer inverse transform, flat quantizer,
  * default probabilities, loop filter level 0, one token partition.
  * Output is standard VP8 any conforming decoder reads.
  */
object Vp8 {

  final class Vp8Error(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new Vp8Error(msg)

  /** Reconstructed frame: tight visible-crop planes. */
  final case class Frame(
      width: Int,
      height: Int,
      y: Array[Byte],
      u: Array[Byte],
      v: Array[Byte]) {
    def chromaW: Int = (width + 1) / 2
  }

  // ------------------------------------------------------------------
  // boolean decoder (RFC 6386 §7.3)
  // ------------------------------------------------------------------

  private final class Bool(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var value = 0
    private var range = 255
    private var bitCount = 0
    // load first two bytes
    value = (nextByte() << 8) | nextByte()

    private def nextByte(): Int = {
      if (pos < end) { val v = b(pos) & 0xff; pos += 1; v }
      else { pos += 1; 0 } // past-the-end reads decode as zero bits (spec behavior)
    }

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigsplit = split << 8
      var ret = 0
      if (value >= bigsplit) { ret = 1; range -= split; value -= bigsplit }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }

    /** n-bit unsigned literal, MSB first, uniform probability. */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** magnitude + sign flag (sign AFTER value, per spec). */
    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (bool(128) == 1) -v else v
    }

    /** token-tree walk. `tree` holds pairs; negative = leaf (-value). */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, startNode: Int): Int = {
      var i = startNode
      while (true) {
        i = t(i + bool(probs(probOff + (i >> 1))))
        if (i <= 0) return -i
      }
      0
    }
  }

  // ------------------------------------------------------------------
  // trees & small constant tables (RFC 6386 §8.2, §11.2, §13.2-13.3)
  // ------------------------------------------------------------------

  // luma 16x16 modes (keyframe order) + B_PRED
  private val DC_PRED = 0
  private val V_PRED = 1
  private val H_PRED = 2
  private val TM_PRED = 3
  private val B_PRED = 4

  // 4x4 modes — numbered like the extracted KfBModeProbs table (the
  // libwebp convention: RD/VR before LD/VL), since the mode VALUE is
  // the row/column index into that [above][left] context table. The
  // tree below lists the same leaf ORDER as the RFC's bmode_tree, so
  // the decoded bit patterns map to the same mode names.
  private val B_DC = 0; private val B_TM = 1; private val B_VE = 2; private val B_HE = 3
  private val B_RD = 4; private val B_VR = 5; private val B_LD = 6; private val B_VL = 7
  private val B_HD = 8; private val B_HU = 9

  /** keyframe ymode tree: B_PRED vs the four 16x16 modes (§11.2). */
  private val KfYModeTree = Array(-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
  private val KfYModeProb = Array(145, 156, 163, 128)

  private val UvModeTree = Array(-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
  private val KfUvModeProb = Array(142, 114, 183)

  private val BModeTree = Array(
    -B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
    -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU)

  private val SegmentTree = Array(2, 4, -0, -1, -2, -3)

  /** coefficient token tree (§13.2). Leaves are token ids 0..11. */
  private val DCT_EOB = 11
  private val CoeffTree = Array(
    -DCT_EOB, 2, // 0: EOB
    -0, 4, // 2: zero
    -1, 6, // 4: one
    8, 12,
    -2, 10, // 8: two
    -3, -4, // 10: three / four
    14, 16,
    -5, -6, // 14: cat1 / cat2  (token ids 5,6)
    18, 20,
    -7, -8, // 18: cat3 / cat4
    -9, -10) // 20: cat5 / cat6

  private val CatBase = Array(5, 7, 11, 19, 35, 67)
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159),
    Array(165, 145),
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  /** coefficient position -> band (§13.3). */
  private val Bands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

  private val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private def clampQ(v: Int): Int = if (v < 0) 0 else if (v > 127) v min 127 else v

  // ------------------------------------------------------------------
  // header state
  // ------------------------------------------------------------------

  private final class Header {
    var mbW = 0
    var mbH = 0
    var width = 0
    var height = 0
    // segmentation
    var segEnabled = false
    var segUpdateMap = false
    var segAbsolute = false
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    // filter
    var filterType = 0 // 0 normal, 1 simple
    var filterLevel = 0
    var sharpness = 0
    var lfDeltaEnabled = false
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    // quant indices
    var yacQi = 0
    var y1dcDelta = 0
    var y2dcDelta = 0
    var y2acDelta = 0
    var uvdcDelta = 0
    var uvacDelta = 0
    // skip
    var useSkip = false
    var skipProb = 0
    // coefficient probabilities [4][8][3][11] flattened
    val coeffProbs: Array[Int] = Vp8Tables.CoeffProbs.clone()
  }

  /** per-segment dequant factors */
  private final class Quant {
    var y1dc = 0; var y1ac = 0
    var y2dc = 0; var y2ac = 0
    var uvdc = 0; var uvac = 0
  }

  private def buildQuant(h: Header, segment: Int): Quant = {
    val base =
      if (!h.segEnabled) h.yacQi
      else if (h.segAbsolute) h.segQuant(segment)
      else h.yacQi + h.segQuant(segment)
    val q = clampQ(base)
    val dcT = Vp8Tables.DcQLookup
    val acT = Vp8Tables.AcQLookup
    val out = new Quant
    out.y1dc = dcT(clampQ(q + h.y1dcDelta))
    out.y1ac = acT(q)
    out.y2dc = dcT(clampQ(q + h.y2dcDelta)) * 2
    out.y2ac = { val v = acT(clampQ(q + h.y2acDelta)) * 155 / 100; if (v < 8) 8 else v }
    out.uvdc = { val v = dcT(clampQ(q + h.uvdcDelta)); if (v > 132) 132 else v }
    out.uvac = acT(clampQ(q + h.uvacDelta))
    out
  }

  // ------------------------------------------------------------------
  // inverse transforms (§14.3, §14.4) — exact integer forms
  // ------------------------------------------------------------------

  private val C1 = 20091 // (cos(pi/8)*sqrt(2)-1) << 16
  private val C2 = 35468 // (sin(pi/8)*sqrt(2)) << 16

  /** inverse 4x4 DCT: coeffs (raster order) -> residual added later. */
  private def idct4x4(in: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(i) + in(8 + i)
      val b1 = in(i) - in(8 + i)
      val t1 = ((in(4 + i) * C2) >> 16) - (in(12 + i) + ((in(12 + i) * C1) >> 16))
      val t2 = in(4 + i) + ((in(4 + i) * C1) >> 16) + ((in(12 + i) * C2) >> 16)
      tmp(i) = a1 + t2
      tmp(12 + i) = a1 - t2
      tmp(4 + i) = b1 + t1
      tmp(8 + i) = b1 - t1
      i += 1
    }
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 2)
      val b1 = tmp(o) - tmp(o + 2)
      val t1 = ((tmp(o + 1) * C2) >> 16) - (tmp(o + 3) + ((tmp(o + 3) * C1) >> 16))
      val t2 = tmp(o + 1) + ((tmp(o + 1) * C1) >> 16) + ((tmp(o + 3) * C2) >> 16)
      out(o) = (a1 + t2 + 4) >> 3
      out(o + 3) = (a1 - t2 + 4) >> 3
      out(o + 1) = (b1 + t1 + 4) >> 3
      out(o + 2) = (b1 - t1 + 4) >> 3
      i += 1
    }
  }

  /** inverse WHT for the Y2 block; outputs the 16 luma DC terms. */
  private def iwht4x4(in: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(i) + in(12 + i)
      val b1 = in(4 + i) + in(8 + i)
      val c1 = in(4 + i) - in(8 + i)
      val d1 = in(i) - in(12 + i)
      tmp(i) = a1 + b1
      tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1
      tmp(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 3)
      val b1 = tmp(o + 1) + tmp(o + 2)
      val c1 = tmp(o + 1) - tmp(o + 2)
      val d1 = tmp(o) - tmp(o + 3)
      out(o) = (a1 + b1 + 3) >> 3
      out(o + 1) = (c1 + d1 + 3) >> 3
      out(o + 2) = (a1 - b1 + 3) >> 3
      out(o + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // coefficient token decoding (§13)
  // ------------------------------------------------------------------

  /** Decode one 4x4 block's coefficients into `coeffs` (raster order,
    * dequantized). Returns true if any nonzero. `first` = 0 or 1
    * (type-0 blocks start at coefficient 1). `ctx` in 0..2. */
  private def decodeCoeffs(
      bd: Bool,
      probs: Array[Int],
      blockType: Int,
      first: Int,
      ctx0: Int,
      dqDc: Int,
      dqAc: Int,
      coeffs: Array[Int]): Boolean = {
    java.util.Arrays.fill(coeffs, 0)
    var n = first
    var ctx = ctx0
    var nonzero = false
    var skipEob = false // after a zero token the next token cannot be EOB
    while (n < 16) {
      val pOff = ((blockType * 8 + Bands(n)) * 3 + ctx) * 11
      val tok =
        if (skipEob) bd.tree(CoeffTree, probs, pOff, 2)
        else bd.tree(CoeffTree, probs, pOff, 0)
      if (tok == DCT_EOB) return nonzero
      if (tok == 0) {
        skipEob = true
        ctx = 0
        n += 1
      } else {
        skipEob = false
        var av = 0
        if (tok <= 4) av = tok
        else {
          val cat = tok - 5
          av = CatBase(cat)
          val cp = CatProbs(cat)
          var i = 0
          while (i < cp.length) { av += bd.bool(cp(i)) << (cp.length - 1 - i); i += 1 }
        }
        val v = if (bd.bool(128) == 1) -av else av
        val pos = Zigzag(n)
        coeffs(pos) = v * (if (pos == 0) dqDc else dqAc)
        nonzero = true
        ctx = if (av == 1) 1 else 2
        n += 1
      }
    }
    nonzero
  }

  // ------------------------------------------------------------------
  // intra prediction (§12)
  // ------------------------------------------------------------------

  /** Whole-plane predictors operate on a padded plane: `p` with row
    * stride `st`, block origin `o` (top-left pixel), size `n` (16 or
    * 8). Boundary rows/cols are pre-filled, so reads at o-st (above)
    * and o-1 (left) are always valid. */
  private def predDc(p: Array[Byte], st: Int, o: Int, n: Int, hasAbove: Boolean, hasLeft: Boolean): Unit = {
    var sum = 0
    var shift = 0
    if (hasAbove) { var i = 0; while (i < n) { sum += p(o - st + i) & 0xff; i += 1 } }
    if (hasLeft) { var i = 0; while (i < n) { sum += p(o - 1 + i * st) & 0xff; i += 1 } }
    val dc =
      if (hasAbove && hasLeft) { shift = (if (n == 16) 5 else 4); (sum + (1 << (shift - 1))) >> shift }
      else if (hasAbove || hasLeft) { shift = (if (n == 16) 4 else 3); (sum + (1 << (shift - 1))) >> shift }
      else 128
    var r = 0
    while (r < n) {
      var c = 0
      while (c < n) { p(o + r * st + c) = dc.toByte; c += 1 }
      r += 1
    }
  }

  private def predV(p: Array[Byte], st: Int, o: Int, n: Int): Unit = {
    var r = 0
    while (r < n) {
      var c = 0
      while (c < n) { p(o + r * st + c) = p(o - st + c); c += 1 }
      r += 1
    }
  }

  private def predH(p: Array[Byte], st: Int, o: Int, n: Int): Unit = {
    var r = 0
    while (r < n) {
      val l = p(o + r * st - 1)
      var c = 0
      while (c < n) { p(o + r * st + c) = l; c += 1 }
      r += 1
    }
  }

  private def predTm(p: Array[Byte], st: Int, o: Int, n: Int): Unit = {
    val tl = p(o - st - 1) & 0xff
    var r = 0
    while (r < n) {
      val l = (p(o + r * st - 1) & 0xff) - tl
      var c = 0
      while (c < n) { p(o + r * st + c) = clamp255(l + (p(o - st + c) & 0xff)).toByte; c += 1 }
      r += 1
    }
  }

  /** 4x4 B_PRED subblock prediction. Above-right pixels a(4..7) must
    * be provided by the caller per the MB-level rules. */
  private def predB(mode: Int, p: Array[Byte], st: Int, o: Int, ar: Array[Int]): Unit = {
    // gather boundary pixels
    val a = new Array[Int](8)
    var i = 0
    while (i < 4) { a(i) = p(o - st + i) & 0xff; i += 1 }
    while (i < 8) { a(i) = ar(i - 4); i += 1 }
    val l = new Array[Int](4)
    i = 0
    while (i < 4) { l(i) = p(o + i * st - 1) & 0xff; i += 1 }
    val tl = p(o - st - 1) & 0xff
    @inline def set(x: Int, y: Int, v: Int): Unit = p(o + y * st + x) = v.toByte
    @inline def avg3(x: Int, y: Int, z: Int): Int = (x + 2 * y + z + 2) >> 2
    @inline def avg2(x: Int, y: Int): Int = (x + y + 1) >> 1
    mode match {
      case B_DC =>
        var s = 4
        i = 0
        while (i < 4) { s += a(i) + l(i); i += 1 }
        val dc = s >> 3
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, dc); x += 1 }; y += 1 }
      case B_TM =>
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { set(x, y, clamp255(l(y) + a(x) - tl)); x += 1 }
          y += 1
        }
      case B_VE =>
        val v = Array(avg3(tl, a(0), a(1)), avg3(a(0), a(1), a(2)), avg3(a(1), a(2), a(3)), avg3(a(2), a(3), a(4)))
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, v(x)); x += 1 }; y += 1 }
      case B_HE =>
        val v = Array(avg3(tl, l(0), l(1)), avg3(l(0), l(1), l(2)), avg3(l(1), l(2), l(3)), avg3(l(2), l(3), l(3)))
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { set(x, y, v(y)); x += 1 }; y += 1 }
      case B_LD =>
        set(0, 0, avg3(a(0), a(1), a(2)))
        set(1, 0, avg3(a(1), a(2), a(3))); set(0, 1, avg3(a(1), a(2), a(3)))
        set(2, 0, avg3(a(2), a(3), a(4))); set(1, 1, avg3(a(2), a(3), a(4))); set(0, 2, avg3(a(2), a(3), a(4)))
        set(3, 0, avg3(a(3), a(4), a(5))); set(2, 1, avg3(a(3), a(4), a(5))); set(1, 2, avg3(a(3), a(4), a(5))); set(0, 3, avg3(a(3), a(4), a(5)))
        set(3, 1, avg3(a(4), a(5), a(6))); set(2, 2, avg3(a(4), a(5), a(6))); set(1, 3, avg3(a(4), a(5), a(6)))
        set(3, 2, avg3(a(5), a(6), a(7))); set(2, 3, avg3(a(5), a(6), a(7)))
        set(3, 3, avg3(a(6), a(7), a(7)))
      case B_RD =>
        set(0, 3, avg3(l(3), l(2), l(1)))
        set(0, 2, avg3(l(2), l(1), l(0))); set(1, 3, avg3(l(2), l(1), l(0)))
        set(0, 1, avg3(l(1), l(0), tl)); set(1, 2, avg3(l(1), l(0), tl)); set(2, 3, avg3(l(1), l(0), tl))
        set(0, 0, avg3(l(0), tl, a(0))); set(1, 1, avg3(l(0), tl, a(0))); set(2, 2, avg3(l(0), tl, a(0))); set(3, 3, avg3(l(0), tl, a(0)))
        set(1, 0, avg3(tl, a(0), a(1))); set(2, 1, avg3(tl, a(0), a(1))); set(3, 2, avg3(tl, a(0), a(1)))
        set(2, 0, avg3(a(0), a(1), a(2))); set(3, 1, avg3(a(0), a(1), a(2)))
        set(3, 0, avg3(a(1), a(2), a(3)))
      case B_VR =>
        set(0, 3, avg3(l(2), l(1), l(0)))
        set(0, 2, avg3(l(1), l(0), tl))
        set(0, 1, avg3(l(0), tl, a(0))); set(1, 3, avg3(l(0), tl, a(0)))
        set(0, 0, avg2(tl, a(0))); set(1, 2, avg2(tl, a(0)))
        set(1, 1, avg3(tl, a(0), a(1))); set(2, 3, avg3(tl, a(0), a(1)))
        set(1, 0, avg2(a(0), a(1))); set(2, 2, avg2(a(0), a(1)))
        set(2, 1, avg3(a(0), a(1), a(2))); set(3, 3, avg3(a(0), a(1), a(2)))
        set(2, 0, avg2(a(1), a(2))); set(3, 2, avg2(a(1), a(2)))
        set(3, 1, avg3(a(1), a(2), a(3)))
        set(3, 0, avg2(a(2), a(3)))
      case B_VL =>
        set(0, 0, avg2(a(0), a(1)))
        set(0, 1, avg3(a(0), a(1), a(2)))
        set(0, 2, avg2(a(1), a(2))); set(1, 0, avg2(a(1), a(2)))
        set(1, 1, avg3(a(1), a(2), a(3))); set(0, 3, avg3(a(1), a(2), a(3)))
        set(1, 2, avg2(a(2), a(3))); set(2, 0, avg2(a(2), a(3)))
        set(1, 3, avg3(a(2), a(3), a(4))); set(2, 1, avg3(a(2), a(3), a(4)))
        set(2, 2, avg2(a(3), a(4))); set(3, 0, avg2(a(3), a(4)))
        set(2, 3, avg3(a(3), a(4), a(5))); set(3, 1, avg3(a(3), a(4), a(5)))
        set(3, 2, avg3(a(4), a(5), a(6)))
        set(3, 3, avg3(a(5), a(6), a(7)))
      case B_HD =>
        set(0, 3, avg2(l(3), l(2)))
        set(1, 3, avg3(l(3), l(2), l(1)))
        set(0, 2, avg2(l(2), l(1))); set(2, 3, avg2(l(2), l(1)))
        set(1, 2, avg3(l(2), l(1), l(0))); set(3, 3, avg3(l(2), l(1), l(0)))
        set(0, 1, avg2(l(1), l(0))); set(2, 2, avg2(l(1), l(0)))
        set(1, 1, avg3(l(1), l(0), tl)); set(3, 2, avg3(l(1), l(0), tl))
        set(0, 0, avg2(l(0), tl)); set(2, 1, avg2(l(0), tl))
        set(1, 0, avg3(l(0), tl, a(0))); set(3, 1, avg3(l(0), tl, a(0)))
        set(2, 0, avg3(tl, a(0), a(1)))
        set(3, 0, avg3(a(0), a(1), a(2)))
      case B_HU =>
        set(0, 0, avg2(l(0), l(1)))
        set(1, 0, avg3(l(0), l(1), l(2)))
        set(2, 0, avg2(l(1), l(2))); set(0, 1, avg2(l(1), l(2)))
        set(3, 0, avg3(l(1), l(2), l(3))); set(1, 1, avg3(l(1), l(2), l(3)))
        set(2, 1, avg2(l(2), l(3))); set(0, 2, avg2(l(2), l(3)))
        set(3, 1, avg3(l(2), l(3), l(3))); set(1, 2, avg3(l(2), l(3), l(3)))
        set(2, 2, l(3)); set(3, 2, l(3))
        set(0, 3, l(3)); set(1, 3, l(3)); set(2, 3, l(3)); set(3, 3, l(3))
      case _ => fail(s"bad b-mode $mode")
    }
  }

  // ------------------------------------------------------------------
  // loop filter (§15)
  // ------------------------------------------------------------------

  @inline private def s8(v: Int): Int = (v & 0xff) - 128 // to signed pixel domain
  @inline private def u8(v: Int): Int = clamp255(v + 128)
  @inline private def c128(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** shared 4-tap adjustment; useOuter = include p1/q1 taps. Returns
    * (newP0, newQ0, a-ish) and optionally adjusts p1/q1 (normal
    * subblock filter without hev). */
  private def filterCommon(p: Array[Byte], i: Int, step: Int, useOuter: Boolean): Unit = {
    val p1 = s8(p(i - 2 * step)); val p0 = s8(p(i - step))
    val q0 = s8(p(i)); val q1 = s8(p(i + step))
    var a = 3 * (q0 - p0) + (if (useOuter) c128(p1 - q1) else 0)
    a = c128(a)
    val f1 = c128(a + 4) >> 3
    val f2 = c128(a + 3) >> 3
    p(i - step) = u8(c128(p0 + f2)).toByte
    p(i) = u8(c128(q0 - f1)).toByte
    if (!useOuter) {
      // subblock normal filter, non-hev: also nudge p1/q1
      val a2 = (f1 + 1) >> 1
      p(i - 2 * step) = u8(c128(p1 + a2)).toByte
      p(i + step) = u8(c128(q1 - a2)).toByte
    }
  }

  @inline private def abs0(v: Int): Int = if (v < 0) -v else v

  private def hev(p: Array[Byte], i: Int, step: Int, thresh: Int): Boolean = {
    val p1 = p(i - 2 * step) & 0xff; val p0 = p(i - step) & 0xff
    val q0 = p(i) & 0xff; val q1 = p(i + step) & 0xff
    abs0(p1 - p0) > thresh || abs0(q1 - q0) > thresh
  }

  private def simpleThresh(p: Array[Byte], i: Int, step: Int, limit: Int): Boolean = {
    val p1 = p(i - 2 * step) & 0xff; val p0 = p(i - step) & 0xff
    val q0 = p(i) & 0xff; val q1 = p(i + step) & 0xff
    abs0(p0 - q0) * 2 + abs0(p1 - q1) / 2 <= limit
  }

  private def normalThresh(p: Array[Byte], i: Int, step: Int, edgeLimit: Int, interior: Int): Boolean = {
    val p3 = p(i - 4 * step) & 0xff; val p2 = p(i - 3 * step) & 0xff
    val p1 = p(i - 2 * step) & 0xff; val p0 = p(i - step) & 0xff
    val q0 = p(i) & 0xff; val q1 = p(i + step) & 0xff
    val q2 = p(i + 2 * step) & 0xff; val q3 = p(i + 3 * step) & 0xff
    abs0(p0 - q0) * 2 + abs0(p1 - q1) / 2 <= edgeLimit &&
    abs0(p3 - p2) <= interior && abs0(p2 - p1) <= interior &&
    abs0(p1 - p0) <= interior && abs0(q1 - q0) <= interior &&
    abs0(q2 - q1) <= interior && abs0(q3 - q2) <= interior
  }

  /** 6-tap MB-edge filter (§15.3). */
  private def mbFilter(p: Array[Byte], i: Int, step: Int): Unit = {
    val p2 = s8(p(i - 3 * step)); val p1 = s8(p(i - 2 * step)); val p0 = s8(p(i - step))
    val q0 = s8(p(i)); val q1 = s8(p(i + step)); val q2 = s8(p(i + 2 * step))
    val w = c128(c128(p1 - q1) + 3 * (q0 - p0))
    val a0 = (27 * w + 63) >> 7
    val a1 = (18 * w + 63) >> 7
    val a2 = (9 * w + 63) >> 7
    p(i - 3 * step) = u8(c128(p2 + a2)).toByte
    p(i - 2 * step) = u8(c128(p1 + a1)).toByte
    p(i - step) = u8(c128(p0 + a0)).toByte
    p(i) = u8(c128(q0 - a0)).toByte
    p(i + step) = u8(c128(q1 - a1)).toByte
    p(i + 2 * step) = u8(c128(q2 - a2)).toByte
  }

  // ------------------------------------------------------------------
  // frame decode
  // ------------------------------------------------------------------

  /** Decode one VP8 keyframe payload (the bytes of a `VP8 ` chunk). */
  def decodeFrame(data: Array[Byte], off: Int, len: Int): Frame =
    try decodeFrameImpl(data, off, len)
    catch {
      case e: Vp8Error => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException =>
        fail("malformed VP8 input (out-of-range field)")
    }

  private def decodeFrameImpl(data: Array[Byte], off: Int, len: Int): Frame = {
    if (len < 10) fail("VP8 payload too short")
    val tag = (data(off) & 0xff) | ((data(off + 1) & 0xff) << 8) | ((data(off + 2) & 0xff) << 16)
    if ((tag & 1) != 0) fail("not a keyframe (interframes need a reference buffer)")
    val part0Len = tag >> 5
    if ((data(off + 3) & 0xff) != 0x9d || (data(off + 4) & 0xff) != 0x01 || (data(off + 5) & 0xff) != 0x2a)
      fail("bad VP8 start code")
    val width = ((data(off + 6) & 0xff) | ((data(off + 7) & 0xff) << 8)) & 0x3fff
    val height = ((data(off + 8) & 0xff) | ((data(off + 9) & 0xff) << 8)) & 0x3fff
    if (width == 0 || height == 0) fail("zero dimension")
    val h = new Header
    h.width = width; h.height = height
    h.mbW = (width + 15) >> 4
    h.mbH = (height + 15) >> 4
    val p0start = off + 10
    if (p0start + part0Len > off + len) fail("first partition past payload")
    val bd = new Bool(data, p0start, p0start + part0Len)

    // --- keyframe header (§9) ---
    bd.literal(1) // color space
    bd.literal(1) // clamping type
    h.segEnabled = bd.bool(128) == 1
    if (h.segEnabled) {
      h.segUpdateMap = bd.bool(128) == 1
      val updateData = bd.bool(128) == 1
      if (updateData) {
        h.segAbsolute = bd.bool(128) == 1
        var i = 0
        while (i < 4) { if (bd.bool(128) == 1) h.segQuant(i) = bd.signedLiteral(7); i += 1 }
        i = 0
        while (i < 4) { if (bd.bool(128) == 1) h.segFilter(i) = bd.signedLiteral(6); i += 1 }
      }
      if (h.segUpdateMap) {
        var i = 0
        while (i < 3) {
          h.segTreeProbs(i) = if (bd.bool(128) == 1) bd.literal(8) else 255
          i += 1
        }
      }
    }
    h.filterType = bd.literal(1)
    h.filterLevel = bd.literal(6)
    h.sharpness = bd.literal(3)
    h.lfDeltaEnabled = bd.bool(128) == 1
    if (h.lfDeltaEnabled) {
      if (bd.bool(128) == 1) { // update
        var i = 0
        while (i < 4) { if (bd.bool(128) == 1) h.refLfDelta(i) = bd.signedLiteral(6); i += 1 }
        i = 0
        while (i < 4) { if (bd.bool(128) == 1) h.modeLfDelta(i) = bd.signedLiteral(6); i += 1 }
      }
    }
    val nParts = 1 << bd.literal(2)
    // token partition table sits after partition 0
    val partTable = p0start + part0Len
    val parts = new Array[Bool](nParts)
    var dataStart = partTable + 3 * (nParts - 1)
    var pi = 0
    var cursor = dataStart
    while (pi < nParts) {
      val size =
        if (pi == nParts - 1) off + len - cursor
        else (data(partTable + 3 * pi) & 0xff) | ((data(partTable + 3 * pi + 1) & 0xff) << 8) |
          ((data(partTable + 3 * pi + 2) & 0xff) << 16)
      if (size < 0 || cursor + size > off + len) fail("token partition out of range")
      parts(pi) = new Bool(data, cursor, cursor + size)
      cursor += size
      pi += 1
    }
    // quantizer
    h.yacQi = bd.literal(7)
    def qDelta(): Int = if (bd.bool(128) == 1) bd.signedLiteral(4) else 0
    h.y1dcDelta = qDelta()
    h.y2dcDelta = qDelta()
    h.y2acDelta = qDelta()
    h.uvdcDelta = qDelta()
    h.uvacDelta = qDelta()
    bd.literal(1) // refresh entropy probs (keyframe: state not kept across frames here)
    // coefficient probability updates
    val upd = Vp8Tables.CoeffUpdateProbs
    var ti = 0
    while (ti < 4 * 8 * 3 * 11) {
      if (bd.bool(upd(ti)) == 1) h.coeffProbs(ti) = bd.literal(8)
      ti += 1
    }
    h.useSkip = bd.bool(128) == 1
    if (h.useSkip) h.skipProb = bd.literal(8)

    decodeMbs(data, h, bd, parts)
  }

  /** per-segment quant cache + the whole MB loop, reconstruction and
    * loop filter; returns the cropped frame. */
  private def decodeMbs(data: Array[Byte], h: Header, bd: Bool, parts: Array[Bool]): Frame = {
    val mbW = h.mbW; val mbH = h.mbH
    val quants = Array.tabulate(4)(s => buildQuant(h, s))

    // padded planes: 1 boundary row above, 1 boundary col left, +4
    // right extension on luma row -1 for above-right reads
    val yStride = mbW * 16 + 8
    val cStride = mbW * 8 + 8
    val yPlane = new Array[Byte]((mbH * 16 + 1) * yStride)
    val uPlane = new Array[Byte]((mbH * 8 + 1) * cStride)
    val vPlane = new Array[Byte]((mbH * 8 + 1) * cStride)
    // boundary init: row -1 = 127 (incl. above-right extension), col -1 = 129
    java.util.Arrays.fill(yPlane, 0, yStride, 127.toByte)
    java.util.Arrays.fill(uPlane, 0, cStride, 127.toByte)
    java.util.Arrays.fill(vPlane, 0, cStride, 127.toByte)
    var r = 1
    while (r <= mbH * 16) { yPlane(r * yStride) = 129.toByte; r += 1 }
    r = 1
    while (r <= mbH * 8) { uPlane(r * cStride) = 129.toByte; vPlane(r * cStride) = 129.toByte; r += 1 }
    val yOrigin = yStride + 1
    val cOrigin = cStride + 1

    // per-MB state rows
    val segmentRow = new Array[Int](mbW)
    // above nonzero contexts: per MB 4 luma + 2 u + 2 v + 1 y2
    val aboveNz = Array.ofDim[Int](mbW, 9)
    val leftNz = new Array[Int](9)
    // b-mode context rows (above modes per subblock col, left per row)
    val aboveBMode = Array.fill(mbW * 4)(B_DC)
    val leftBMode = new Array[Int](4)
    // per-MB info needed by the loop filter
    val mbFilterLevel = Array.ofDim[Int](mbH, mbW)
    val mbHasCoeffs = Array.ofDim[Boolean](mbH, mbW)
    val mbIs4x4 = Array.ofDim[Boolean](mbH, mbW)

    val coeffs = new Array[Int](16)
    val block = new Array[Int](16)
    val dcBuf = new Array[Int](16)
    val arBuf = new Array[Int](4)
    val yCoeffs = Array.ofDim[Int](16, 16)
    val uvCoeffs = Array.ofDim[Int](8, 16)
    val subMode = new Array[Int](16)

    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      java.util.Arrays.fill(leftBMode, 0, 4, B_DC)
      val tokens = parts(mbY % parts.length)
      var mbX = 0
      while (mbX < mbW) {
        // --- mode parsing (partition 0) ---
        // keyframe: without a map update every MB is segment 0 (there
        // is no previous-frame map to persist)
        val segment =
          if (h.segEnabled && h.segUpdateMap) bd.tree(SegmentTree, h.segTreeProbs, 0, 0)
          else 0
        segmentRow(mbX) = segment
        val skipFlag = if (h.useSkip) bd.bool(h.skipProb) == 1 else false
        val yMode = bd.tree(KfYModeTree, KfYModeProb, 0, 0)
        val is4x4 = yMode == B_PRED
        if (is4x4) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above = if (sy == 0) aboveBMode(mbX * 4 + sx) else subMode((sy - 1) * 4 + sx)
            val left = if (sx == 0) leftBMode(sy) else subMode(sy * 4 + sx - 1)
            subMode(sb) = bd.tree(BModeTree, Vp8Tables.KfBModeProbs, (above * 10 + left) * 9, 0)
            sb += 1
          }
        } else {
          // context-equivalent b-mode for neighbors of 16x16 MBs
          val eq = yMode match {
            case DC_PRED => B_DC
            case V_PRED => B_VE
            case H_PRED => B_HE
            case _ => B_TM
          }
          java.util.Arrays.fill(subMode, eq)
        }
        val uvMode = bd.tree(UvModeTree, KfUvModeProb, 0, 0)
        var sb = 0
        while (sb < 4) {
          aboveBMode(mbX * 4 + sb) = subMode(12 + sb)
          leftBMode(sb) = subMode(sb * 4 + 3)
          sb += 1
        }

        // --- token decode ---
        val q = quants(segment)
        var nzMask = 0 // bit per luma subblock: any nonzero
        var uvNzMask = 0
        var y2Nonzero = false
        var anyCoeffs = false
        if (skipFlag) {
          // zero contexts; y2 context only reset when the MB has y2
          var i = 0
          while (i < 8) { aboveNz(mbX)(i) = 0; leftNz(i) = 0; i += 1 }
          if (!is4x4) { aboveNz(mbX)(8) = 0; leftNz(8) = 0 }
          var b = 0
          while (b < 16) { java.util.Arrays.fill(yCoeffs(b), 0); b += 1 }
          b = 0
          while (b < 8) { java.util.Arrays.fill(uvCoeffs(b), 0); b += 1 }
        } else {
          var firstCoeff = 0
          if (!is4x4) {
            // y2 block, type 1
            val ctx = aboveNz(mbX)(8) + leftNz(8)
            val nz = decodeCoeffs(tokens, h.coeffProbs, 1, 0, ctx, q.y2dc, q.y2ac, coeffs)
            aboveNz(mbX)(8) = if (nz) 1 else 0
            leftNz(8) = if (nz) 1 else 0
            y2Nonzero = nz
            anyCoeffs ||= nz
            iwht4x4(coeffs, dcBuf)
            firstCoeff = 1
          }
          val yType = if (is4x4) 3 else 0
          var b = 0
          while (b < 16) {
            val bx = b & 3; val by = b >> 2
            val ctx = (if (by == 0) aboveNz(mbX)(bx) else (nzMask >> ((by - 1) * 4 + bx)) & 1) +
              (if (bx == 0) leftNz(by) else (nzMask >> (by * 4 + bx - 1)) & 1)
            val nz = decodeCoeffs(tokens, h.coeffProbs, yType, firstCoeff, ctx, q.y1dc, q.y1ac, yCoeffs(b))
            if (!is4x4) yCoeffs(b)(0) = dcBuf(b)
            if (nz) { nzMask |= 1 << b; anyCoeffs = true }
            b += 1
          }
          // update above/left luma contexts from the bottom row / right col
          var i = 0
          while (i < 4) {
            aboveNz(mbX)(i) = (nzMask >> (12 + i)) & 1
            leftNz(i) = (nzMask >> (i * 4 + 3)) & 1
            i += 1
          }
          // chroma: 4 U then 4 V, type 2
          b = 0
          while (b < 8) {
            val plane = b >> 2 // 0=U 1=V
            val bi = b & 3
            val bx = bi & 1; val by = bi >> 1
            val aIdx = 4 + plane * 2 + bx
            val lIdx = 4 + plane * 2 + by
            val ctx = (if (by == 0) aboveNz(mbX)(aIdx) else (uvNzMask >> (plane * 4 + bx)) & 1) +
              (if (bx == 0) leftNz(lIdx) else (uvNzMask >> (plane * 4 + by * 2)) & 1)
            val nz = decodeCoeffs(tokens, h.coeffProbs, 2, 0, ctx, q.uvdc, q.uvac, uvCoeffs(b))
            if (nz) { uvNzMask |= 1 << (plane * 4 + by * 2 + bx); anyCoeffs = true }
            b += 1
          }
          i = 0
          while (i < 2) { // planes
            var k = 0
            while (k < 2) {
              aboveNz(mbX)(4 + i * 2 + k) = (uvNzMask >> (i * 4 + 2 + k)) & 1 // bottom row (by=1)
              leftNz(4 + i * 2 + k) = (uvNzMask >> (i * 4 + k * 2 + 1)) & 1 // right col (bx=1)
              k += 1
            }
            i += 1
          }
        }

        // --- reconstruction ---
        val yo = yOrigin + mbY * 16 * yStride + mbX * 16
        val co = cOrigin + mbY * 8 * cStride + mbX * 8
        val hasAbove = mbY > 0
        val hasLeft = mbX > 0
        // luma
        if (!is4x4) {
          yMode match {
            case DC_PRED => predDc(yPlane, yStride, yo, 16, hasAbove, hasLeft)
            case V_PRED => predV(yPlane, yStride, yo, 16)
            case H_PRED => predH(yPlane, yStride, yo, 16)
            case _ => predTm(yPlane, yStride, yo, 16)
          }
          var b = 0
          while (b < 16) {
            if (((nzMask >> b) & 1) == 1 || yCoeffs(b)(0) != 0) {
              idct4x4(yCoeffs(b), block)
              addResidual(yPlane, yStride, yo + (b >> 2) * 4 * yStride + (b & 3) * 4, block)
            }
            b += 1
          }
        } else {
          var b = 0
          while (b < 16) {
            val bx = b & 3; val by = b >> 2
            val so = yo + by * 4 * yStride + bx * 4
            // above-right pixels: from the row above the subblock when
            // it is the MB's top row; lower rows reuse the MB's own
            // row -1 (the right neighbor is not yet decoded)
            if (bx == 3 && by > 0) {
              // rightmost column, not top row: the right neighbor is
              // not decoded yet, so above-right reuses the MB's row -1
              // pixels at x=16..19 (constant down the MB)
              var i = 0
              while (i < 4) { arBuf(i) = yPlane(yo - yStride + 16 + i) & 0xff; i += 1 }
            } else {
              var i = 0
              while (i < 4) { arBuf(i) = yPlane(so - yStride + 4 + i) & 0xff; i += 1 }
            }
            predB(subMode(b), yPlane, yStride, so, arBuf)
            if (((nzMask >> b) & 1) == 1) {
              idct4x4(yCoeffs(b), block)
              addResidual(yPlane, yStride, so, block)
            }
            b += 1
          }
        }
        // chroma
        val (uo, vo) = (co, co)
        uvMode match {
          case DC_PRED =>
            predDc(uPlane, cStride, uo, 8, hasAbove, hasLeft)
            predDc(vPlane, cStride, vo, 8, hasAbove, hasLeft)
          case V_PRED => predV(uPlane, cStride, uo, 8); predV(vPlane, cStride, vo, 8)
          case H_PRED => predH(uPlane, cStride, uo, 8); predH(vPlane, cStride, vo, 8)
          case _ => predTm(uPlane, cStride, uo, 8); predTm(vPlane, cStride, vo, 8)
        }
        var b = 0
        while (b < 8) {
          val plane = b >> 2; val bi = b & 3
          if (((uvNzMask >> (plane * 4 + (bi >> 1) * 2 + (bi & 1))) & 1) == 1) {
            idct4x4(uvCoeffs(b), block)
            val base = (if (plane == 0) uo else vo) + (bi >> 1) * 4 * cStride + (bi & 1) * 4
            addResidual(if (plane == 0) uPlane else vPlane, cStride, base, block)
          }
          b += 1
        }

        // --- filter bookkeeping ---
        var level =
          if (!h.segEnabled) h.filterLevel
          else if (h.segAbsolute) h.segFilter(segment)
          else h.filterLevel + h.segFilter(segment)
        if (h.lfDeltaEnabled) {
          level += h.refLfDelta(0) // intra frame
          if (is4x4) level += h.modeLfDelta(0)
        }
        mbFilterLevel(mbY)(mbX) = if (level < 0) 0 else if (level > 63) 63 else level
        mbHasCoeffs(mbY)(mbX) = anyCoeffs
        mbIs4x4(mbY)(mbX) = is4x4

        mbX += 1
      }
      // above-right pixels for the NEXT row's rightmost MB: its row -1
      // at x = mbW*16..+3 lies in the padding; the convention (matching
      // the reference decoder) replicates the row's last visible pixel
      val lastRowOff = yOrigin + (mbY * 16 + 15) * yStride + mbW * 16
      val repl = yPlane(lastRowOff - 1)
      var k = 0
      while (k < 4) { yPlane(lastRowOff + k) = repl; k += 1 }
      mbY += 1
    }

    // --- loop filter (after full reconstruction, MB raster order) ---
    if (h.filterLevel > 0 || h.segEnabled || h.lfDeltaEnabled) {
      mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          val level = mbFilterLevel(mbY)(mbX)
          if (level > 0) {
            var interior = level
            if (h.sharpness > 0) {
              interior >>= (if (h.sharpness > 4) 2 else 1)
              if (interior > 9 - h.sharpness) interior = 9 - h.sharpness
            }
            if (interior < 1) interior = 1
            val mbLimit = (level + 2) * 2 + interior
            val sbLimit = level * 2 + interior
            val hevT =
              if (level >= 40) 2 else if (level >= 15) 1 else 0 // keyframe thresholds
            val inner = mbHasCoeffs(mbY)(mbX) || mbIs4x4(mbY)(mbX)
            val yo = yOrigin + mbY * 16 * yStride + mbX * 16
            val co = cOrigin + mbY * 8 * cStride + mbX * 8
            if (h.filterType == 1) {
              // simple filter: luma only
              if (mbX > 0) filterEdgeSimple(yPlane, yo, 1, yStride, 16, mbLimit)
              if (inner) {
                filterEdgeSimple(yPlane, yo + 4, 1, yStride, 16, sbLimit)
                filterEdgeSimple(yPlane, yo + 8, 1, yStride, 16, sbLimit)
                filterEdgeSimple(yPlane, yo + 12, 1, yStride, 16, sbLimit)
              }
              if (mbY > 0) filterEdgeSimple(yPlane, yo, yStride, 1, 16, mbLimit)
              if (inner) {
                filterEdgeSimple(yPlane, yo + 4 * yStride, yStride, 1, 16, sbLimit)
                filterEdgeSimple(yPlane, yo + 8 * yStride, yStride, 1, 16, sbLimit)
                filterEdgeSimple(yPlane, yo + 12 * yStride, yStride, 1, 16, sbLimit)
              }
            } else {
              if (mbX > 0) {
                filterEdgeNormal(yPlane, yo, 1, yStride, 16, mbLimit, interior, hevT, mbEdge = true)
                filterEdgeNormal(uPlane, co, 1, cStride, 8, mbLimit, interior, hevT, mbEdge = true)
                filterEdgeNormal(vPlane, co, 1, cStride, 8, mbLimit, interior, hevT, mbEdge = true)
              }
              if (inner) {
                filterEdgeNormal(yPlane, yo + 4, 1, yStride, 16, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(yPlane, yo + 8, 1, yStride, 16, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(yPlane, yo + 12, 1, yStride, 16, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(uPlane, co + 4, 1, cStride, 8, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(vPlane, co + 4, 1, cStride, 8, sbLimit, interior, hevT, mbEdge = false)
              }
              if (mbY > 0) {
                filterEdgeNormal(yPlane, yo, yStride, 1, 16, mbLimit, interior, hevT, mbEdge = true)
                filterEdgeNormal(uPlane, co, cStride, 1, 8, mbLimit, interior, hevT, mbEdge = true)
                filterEdgeNormal(vPlane, co, cStride, 1, 8, mbLimit, interior, hevT, mbEdge = true)
              }
              if (inner) {
                filterEdgeNormal(yPlane, yo + 4 * yStride, yStride, 1, 16, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(yPlane, yo + 8 * yStride, yStride, 1, 16, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(yPlane, yo + 12 * yStride, yStride, 1, 16, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(uPlane, co + 4 * cStride, cStride, 1, 8, sbLimit, interior, hevT, mbEdge = false)
                filterEdgeNormal(vPlane, co + 4 * cStride, cStride, 1, 8, sbLimit, interior, hevT, mbEdge = false)
              }
            }
          }
          mbX += 1
        }
        mbY += 1
      }
    }

    // --- crop to visible size ---
    val w = h.width; val hh = h.height
    val cw = (w + 1) / 2; val ch = (hh + 1) / 2
    val y = new Array[Byte](w * hh)
    val u = new Array[Byte](cw * ch)
    val v = new Array[Byte](cw * ch)
    var row = 0
    while (row < hh) { System.arraycopy(yPlane, yOrigin + row * yStride, y, row * w, w); row += 1 }
    row = 0
    while (row < ch) {
      System.arraycopy(uPlane, cOrigin + row * cStride, u, row * cw, cw)
      System.arraycopy(vPlane, cOrigin + row * cStride, v, row * cw, cw)
      row += 1
    }
    Frame(w, hh, y, u, v)
  }

  @inline private def addResidual(p: Array[Byte], st: Int, o: Int, res: Array[Int]): Unit = {
    var r = 0
    while (r < 4) {
      var c = 0
      while (c < 4) {
        val i = o + r * st + c
        p(i) = clamp255((p(i) & 0xff) + res(r * 4 + c)).toByte
        c += 1
      }
      r += 1
    }
  }

  /** filter one edge: `o` = first pixel ON the edge (q0 side), `step`
    * = across the edge, `lineStep` = along it, `n` lines. */
  private def filterEdgeSimple(p: Array[Byte], o: Int, step: Int, lineStep: Int, n: Int, limit: Int): Unit = {
    var i = 0
    while (i < n) {
      val at = o + i * lineStep
      if (simpleThresh(p, at, step, limit)) filterCommon(p, at, step, useOuter = true)
      i += 1
    }
  }

  private def filterEdgeNormal(
      p: Array[Byte], o: Int, step: Int, lineStep: Int, n: Int,
      limit: Int, interior: Int, hevT: Int, mbEdge: Boolean): Unit = {
    var i = 0
    while (i < n) {
      val at = o + i * lineStep
      if (normalThresh(p, at, step, limit, interior)) {
        val isHev = hev(p, at, step, hevT)
        if (mbEdge) {
          if (isHev) filterCommon(p, at, step, useOuter = true)
          else mbFilter(p, at, step)
        } else {
          if (isHev) filterCommon(p, at, step, useOuter = true)
          else filterCommon(p, at, step, useOuter = false)
        }
      }
      i += 1
    }
  }

  // ==================================================================
  // encoder — minimal conforming keyframe (cycle driver)
  // ==================================================================

  /** boolean arithmetic WRITER (RFC 6386 §8): the exact dual of the
    * decoder above, with carry propagation into already-emitted
    * bytes. */
  private final class BoolEnc {
    private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    private var low = 0L
    private var range = 255
    private var count = -24

    def put(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { low += split; range -= split }
      else range = split
      var shift = 0
      while (range < 128) { range <<= 1; shift += 1 }
      count += shift
      if (count >= 0) {
        val offset = shift - count
        if (((low << (offset - 1)) & 0x80000000L) != 0) {
          // carry into the emitted bytes
          var x = buf.length - 1
          while (x >= 0 && buf(x) == 0xff.toByte) { buf(x) = 0; x -= 1 }
          if (x >= 0) buf(x) = (buf(x) + 1).toByte
        }
        buf += ((low >> (24 - offset)) & 0xff).toByte
        low = (low << offset) & 0xffffffL
        shift = count
        count -= 8
      }
      low <<= shift // no mask: the next carry check reads bit 31
    }

    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put(128, (v >> i) & 1); i -= 1 }
    }

    /** encode the path to leaf `value` in `tree`. */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, value: Int, startNode: Int): Unit = {
      // find the root-to-leaf bit path by DFS
      def path(node: Int): List[Int] = {
        val l = t(node); val r = t(node + 1)
        if (l == -value && l <= 0) List(0)
        else if (r == -value && r <= 0) List(1)
        else {
          val viaL = if (l > 0) path(l) else Nil
          if (viaL.nonEmpty) 0 :: viaL
          else {
            val viaR = if (r > 0) path(r) else Nil
            if (viaR.nonEmpty) 1 :: viaR else Nil
          }
        }
      }
      var node = startNode
      path(startNode).foreach { bit =>
        put(probs(probOff + (node >> 1)), bit)
        node = t(node + bit)
      }
    }

    def flush(): Array[Byte] = {
      var i = 0
      while (i < 32) { put(128, 0); i += 1 }
      buf.toArray
    }
  }

  /** float inverse of the integer inverse-transforms: forward(coeffs)
    * so that idct(coeffs) reproduces the residual up to quantization +
    * integer rounding. Built numerically by inverting the linearized
    * inverse transform — self-consistent with the decoder by
    * construction, and any conforming decoder by the fixtures. */
  private lazy val FwdDct: Array[Array[Double]] = invertLinear(idctLinear)
  private lazy val FwdWht: Array[Array[Double]] = invertLinear(iwhtLinear)

  private def idctLinear(c: Array[Double]): Array[Double] = {
    val al = 1.0 + 20091.0 / 65536.0
    val be = 35468.0 / 65536.0
    val tmp = new Array[Double](16)
    var i = 0
    while (i < 4) {
      val a1 = c(i) + c(8 + i); val b1 = c(i) - c(8 + i)
      val c1 = c(4 + i) * be - c(12 + i) * al
      val d1 = c(4 + i) * al + c(12 + i) * be
      tmp(i) = a1 + d1; tmp(12 + i) = a1 - d1
      tmp(4 + i) = b1 + c1; tmp(8 + i) = b1 - c1
      i += 1
    }
    val out = new Array[Double](16)
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 2); val b1 = tmp(o) - tmp(o + 2)
      val c1 = tmp(o + 1) * be - tmp(o + 3) * al
      val d1 = tmp(o + 1) * al + tmp(o + 3) * be
      out(o) = (a1 + d1) / 8; out(o + 3) = (a1 - d1) / 8
      out(o + 1) = (b1 + c1) / 8; out(o + 2) = (b1 - c1) / 8
      i += 1
    }
    out
  }

  private def iwhtLinear(c: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](16)
    var i = 0
    while (i < 4) {
      val a1 = c(i) + c(12 + i); val b1 = c(4 + i) + c(8 + i)
      val c1 = c(4 + i) - c(8 + i); val d1 = c(i) - c(12 + i)
      tmp(i) = a1 + b1; tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1; tmp(12 + i) = d1 - c1
      i += 1
    }
    val out = new Array[Double](16)
    i = 0
    while (i < 4) {
      val o = i * 4
      val a1 = tmp(o) + tmp(o + 3); val b1 = tmp(o + 1) + tmp(o + 2)
      val c1 = tmp(o + 1) - tmp(o + 2); val d1 = tmp(o) - tmp(o + 3)
      out(o) = (a1 + b1) / 8; out(o + 1) = (c1 + d1) / 8
      out(o + 2) = (a1 - b1) / 8; out(o + 3) = (d1 - c1) / 8
      i += 1
    }
    out
  }

  /** numerically invert a linear 16->16 map (Gauss-Jordan). */
  private def invertLinear(f: Array[Double] => Array[Double]): Array[Array[Double]] = {
    val n = 16
    val a = Array.ofDim[Double](n, 2 * n)
    var j = 0
    while (j < n) {
      val e = new Array[Double](n); e(j) = 1.0
      val col = f(e)
      var i = 0
      while (i < n) { a(i)(j) = col(i); i += 1 }
      j += 1
    }
    var i = 0
    while (i < n) { a(i)(n + i) = 1.0; i += 1 }
    var col = 0
    while (col < n) {
      var piv = col
      var best = math.abs(a(col)(col))
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > best) { best = math.abs(a(r)(col)); piv = r }; r += 1 }
      val t = a(col); a(col) = a(piv); a(piv) = t
      val d = a(col)(col)
      var k = 0
      while (k < 2 * n) { a(col)(k) /= d; k += 1 }
      r = 0
      while (r < n) {
        if (r != col && a(r)(col) != 0) {
          val m = a(r)(col)
          k = 0
          while (k < 2 * n) { a(r)(k) -= m * a(col)(k); k += 1 }
        }
        r += 1
      }
      col += 1
    }
    Array.tabulate(n, n)((r0, c0) => a(r0)(n + c0))
  }

  private def applyMat(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](16)
    var r = 0
    while (r < 16) {
      var s = 0.0
      var c = 0
      while (c < 16) { s += m(r)(c) * v(c); c += 1 }
      out(r) = s
      r += 1
    }
    out
  }

  /** token-encode one block's quantized LEVELS (raster order, already
    * divided by the quantizer). Mirrors [[decodeCoeffs]]. */
  private def encodeCoeffs(
      be: BoolEnc, probs: Array[Int], blockType: Int, first: Int, ctx0: Int,
      levels: Array[Int]): Boolean = {
    var last = -1
    var n = first
    while (n < 16) { if (levels(Zigzag(n)) != 0) last = n; n += 1 }
    var ctx = ctx0
    var prevZero = false
    n = first
    while (n <= last) {
      val v = levels(Zigzag(n))
      val pOff = ((blockType * 8 + Bands(n)) * 3 + ctx) * 11
      val start = if (prevZero) 2 else 0
      val av = math.abs(v)
      val tok =
        if (av == 0) 0
        else if (av <= 4) av
        else if (av <= 6) 5
        else if (av <= 10) 6
        else if (av <= 18) 7
        else if (av <= 34) 8
        else if (av <= 66) 9
        else 10
      be.tree(CoeffTree, probs, pOff, tok, start)
      if (av > 0) {
        if (tok >= 5) {
          val cat = tok - 5
          val extra = av - CatBase(cat)
          val cp = CatProbs(cat)
          var i = 0
          while (i < cp.length) { be.put(cp(i), (extra >> (cp.length - 1 - i)) & 1); i += 1 }
        }
        be.put(128, if (v < 0) 1 else 0)
      }
      prevZero = av == 0
      ctx = if (av == 0) 0 else if (av == 1) 1 else 2
      n += 1
    }
    if (last + 1 < 16) {
      // EOB never directly follows a ZERO token (trailing zeros are
      // simply not coded), so start node 0 is always legal here
      val pOff = ((blockType * 8 + Bands(last + 1 max first)) * 3 + ctx) * 11
      be.tree(CoeffTree, probs, pOff, DCT_EOB, 0)
    }
    last >= first
  }

  /** Encode planes as one VP8 keyframe (raw frame payload, no RIFF).
    * All MBs 16x16 DC_PRED + chroma DC_PRED, flat quantizer `qIndex`
    * (0..127, smaller = finer), loop filter level 0, one token
    * partition, default probabilities. */
  def encodeFrame(y: Array[Byte], u: Array[Byte], v: Array[Byte], width: Int, height: Int, qIndex: Int = 8): Array[Byte] = {
    require(width > 0 && height > 0 && width < 16384 && height < 16384, "bad dimensions")
    require(qIndex >= 0 && qIndex <= 127, "qIndex out of range")
    val cw = (width + 1) / 2; val chh = (height + 1) / 2
    require(y.length == width * height && u.length == cw * chh && v.length == cw * chh, "plane sizes")
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4

    // padded planes (edge replication)
    val pw = mbW * 16; val ph = mbH * 16
    val pcw = mbW * 8; val pch = mbH * 8
    def pad(src: Array[Byte], sw: Int, sh: Int, dw: Int, dh: Int): Array[Byte] = {
      val out = new Array[Byte](dw * dh)
      var r = 0
      while (r < dh) {
        val sr = if (r < sh) r else sh - 1
        var c = 0
        while (c < dw) {
          val sc = if (c < sw) c else sw - 1
          out(r * dw + c) = src(sr * sw + sc)
          c += 1
        }
        r += 1
      }
      out
    }
    val py = pad(y, width, height, pw, ph)
    val pu = pad(u, cw, chh, pcw, pch)
    val pv = pad(v, cw, chh, pcw, pch)

    // quantizers (no deltas, no segments)
    val dcT = Vp8Tables.DcQLookup; val acT = Vp8Tables.AcQLookup
    val y1dc = dcT(qIndex); val y1ac = acT(qIndex)
    val y2dc = dcT(qIndex) * 2
    val y2ac = { val t = acT(qIndex) * 155 / 100; if (t < 8) 8 else t }
    val uvdc = { val t = dcT(qIndex); if (t > 132) 132 else t }
    val uvac = acT(qIndex)

    // reconstruction planes mirror the decoder's (1-pixel boundary)
    val yStride = pw + 8; val cStride = pcw + 8
    val ry = new Array[Byte]((ph + 1) * yStride)
    val ru = new Array[Byte]((pch + 1) * cStride)
    val rv = new Array[Byte]((pch + 1) * cStride)
    java.util.Arrays.fill(ry, 0, yStride, 127.toByte)
    java.util.Arrays.fill(ru, 0, cStride, 127.toByte)
    java.util.Arrays.fill(rv, 0, cStride, 127.toByte)
    var r0 = 1
    while (r0 <= ph) { ry(r0 * yStride) = 129.toByte; r0 += 1 }
    r0 = 1
    while (r0 <= pch) { ru(r0 * cStride) = 129.toByte; rv(r0 * cStride) = 129.toByte; r0 += 1 }
    val yOrigin = yStride + 1; val cOrigin = cStride + 1

    val head = new BoolEnc
    val toks = new BoolEnc
    val probs = Vp8Tables.CoeffProbs

    // --- keyframe header ---
    head.literal(0, 1) // color space
    head.literal(0, 1) // clamping
    head.put(128, 0) // segmentation off
    head.literal(0, 1) // filter type: normal (level 0 => unused)
    head.literal(0, 6) // filter level 0
    head.literal(0, 3) // sharpness
    head.put(128, 0) // lf deltas off
    head.literal(0, 2) // one token partition
    head.literal(qIndex, 7)
    var i = 0
    while (i < 5) { head.put(128, 0); i += 1 } // no quant deltas
    head.literal(0, 1) // refresh entropy probs
    val upd = Vp8Tables.CoeffUpdateProbs
    i = 0
    while (i < upd.length) { head.put(upd(i), 0); i += 1 } // keep defaults
    head.put(128, 0) // mb_no_coeff_skip off: every MB codes tokens

    // --- per-MB: modes into head, tokens into toks ---
    val aboveNz = Array.ofDim[Int](mbW, 9)
    val leftNz = new Array[Int](9)
    val resid = new Array[Double](16)
    val levels = Array.ofDim[Int](16, 16) // quantized levels per y block
    val uvLevels = Array.ofDim[Int](8, 16)
    val y2Levels = new Array[Int](16)
    val recCoeffs = new Array[Int](16)
    val block = new Array[Int](16)
    val dcBuf = new Array[Int](16)

    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      var mbX = 0
      while (mbX < mbW) {
        // modes: DC_PRED (bits 1,0,0 on the kf ymode tree) + uv DC
        head.tree(KfYModeTree, KfYModeProb, 0, DC_PRED, 0)
        head.tree(UvModeTree, KfUvModeProb, 0, DC_PRED, 0)

        val yo = yOrigin + mbY * 16 * yStride + mbX * 16
        val co = cOrigin + mbY * 8 * cStride + mbX * 8
        val hasAbove = mbY > 0
        val hasLeft = mbX > 0

        // luma: DC prediction from the RECONSTRUCTED neighbors
        predDc(ry, yStride, yo, 16, hasAbove, hasLeft)
        // per-4x4 forward transform of (src - pred)
        val dcVals = new Array[Double](16)
        var b = 0
        while (b < 16) {
          val bx = (b & 3) * 4; val by = (b >> 2) * 4
          var k = 0
          while (k < 16) {
            val xx = bx + (k & 3); val yy = by + (k >> 2)
            resid(k) = (py(( mbY * 16 + yy) * pw + mbX * 16 + xx) & 0xff) -
              (ry(yo + yy * yStride + xx) & 0xff)
            k += 1
          }
          val c = applyMat(FwdDct, resid)
          dcVals(b) = c(0)
          k = 1
          while (k < 16) {
            val q = if (k == 0) y1dc else y1ac
            var lvl = math.round(c(k) / q).toInt
            if (lvl > 2047) lvl = 2047; if (lvl < -2047) lvl = -2047
            levels(b)(k) = lvl
            k += 1
          }
          levels(b)(0) = 0 // DC goes through Y2
          b += 1
        }
        // Y2: forward WHT of the 16 DC values
        val y2c = applyMat(FwdWht, dcVals)
        var k = 0
        while (k < 16) {
          val q = if (k == 0) y2dc else y2ac
          var lvl = math.round(y2c(k) / q).toInt
          if (lvl > 2047) lvl = 2047; if (lvl < -2047) lvl = -2047
          y2Levels(k) = lvl
          k += 1
        }
        // chroma
        predDc(ru, cStride, co, 8, hasAbove, hasLeft)
        predDc(rv, cStride, co, 8, hasAbove, hasLeft)
        b = 0
        while (b < 8) {
          val plane = b >> 2; val bi = b & 3
          val bx = (bi & 1) * 4; val by = (bi >> 1) * 4
          val (src, rec, ro) = if (plane == 0) (pu, ru, co) else (pv, rv, co)
          var k2 = 0
          while (k2 < 16) {
            val xx = bx + (k2 & 3); val yy = by + (k2 >> 2)
            resid(k2) = (src((mbY * 8 + yy) * pcw + mbX * 8 + xx) & 0xff) -
              (rec(ro + yy * cStride + xx) & 0xff)
            k2 += 1
          }
          val c = applyMat(FwdDct, resid)
          k2 = 0
          while (k2 < 16) {
            val q = if (k2 == 0) uvdc else uvac
            var lvl = math.round(c(k2) / q).toInt
            if (lvl > 2047) lvl = 2047; if (lvl < -2047) lvl = -2047
            uvLevels(b)(k2) = lvl
            k2 += 1
          }
          b += 1
        }

        // tokens: y2 (type 1), 16 luma (type 0, from coeff 1), 8 chroma
        val ctxY2 = aboveNz(mbX)(8) + leftNz(8)
        val nzY2 = encodeCoeffs(toks, probs, 1, 0, ctxY2, y2Levels)
        aboveNz(mbX)(8) = if (nzY2) 1 else 0
        leftNz(8) = if (nzY2) 1 else 0
        var nzMask = 0
        b = 0
        while (b < 16) {
          val bx = b & 3; val by = b >> 2
          val ctx = (if (by == 0) aboveNz(mbX)(bx) else (nzMask >> ((by - 1) * 4 + bx)) & 1) +
            (if (bx == 0) leftNz(by) else (nzMask >> (by * 4 + bx - 1)) & 1)
          val nz = encodeCoeffs(toks, probs, 0, 1, ctx, levels(b))
          if (nz) nzMask |= 1 << b
          b += 1
        }
        i = 0
        while (i < 4) {
          aboveNz(mbX)(i) = (nzMask >> (12 + i)) & 1
          leftNz(i) = (nzMask >> (i * 4 + 3)) & 1
          i += 1
        }
        var uvNzMask = 0
        b = 0
        while (b < 8) {
          val plane = b >> 2; val bi = b & 3
          val bx = bi & 1; val by = bi >> 1
          val ctx = (if (by == 0) aboveNz(mbX)(4 + plane * 2 + bx) else (uvNzMask >> (plane * 4 + bx)) & 1) +
            (if (bx == 0) leftNz(4 + plane * 2 + by) else (uvNzMask >> (plane * 4 + by * 2)) & 1)
          val nz = encodeCoeffs(toks, probs, 2, 0, ctx, uvLevels(b))
          if (nz) uvNzMask |= 1 << (plane * 4 + by * 2 + bx)
          b += 1
        }
        i = 0
        while (i < 2) {
          var k3 = 0
          while (k3 < 2) {
            aboveNz(mbX)(4 + i * 2 + k3) = (uvNzMask >> (i * 4 + 2 + k3)) & 1
            leftNz(4 + i * 2 + k3) = (uvNzMask >> (i * 4 + k3 * 2 + 1)) & 1
            k3 += 1
          }
          i += 1
        }

        // --- reconstruct exactly like the decoder (drives the next
        //     MB's prediction) ---
        k = 0
        while (k < 16) { recCoeffs(k) = y2Levels(k) * (if (k == 0) y2dc else y2ac); k += 1 }
        iwht4x4(recCoeffs, dcBuf)
        b = 0
        while (b < 16) {
          var k4 = 0
          while (k4 < 16) { recCoeffs(k4) = levels(b)(k4) * (if (k4 == 0) y1dc else y1ac); k4 += 1 }
          recCoeffs(0) = dcBuf(b)
          idct4x4(recCoeffs, block)
          addResidual(ry, yStride, yo + (b >> 2) * 4 * yStride + (b & 3) * 4, block)
          b += 1
        }
        b = 0
        while (b < 8) {
          val plane = b >> 2; val bi = b & 3
          var k5 = 0
          while (k5 < 16) { recCoeffs(k5) = uvLevels(b)(k5) * (if (k5 == 0) uvdc else uvac); k5 += 1 }
          idct4x4(recCoeffs, block)
          val rec = if (plane == 0) ru else rv
          addResidual(rec, cStride, co + (bi >> 1) * 4 * cStride + (bi & 1) * 4, block)
          b += 1
        }
        mbX += 1
      }
      // right-edge above-right replication, like the decoder
      val lastRowOff = yOrigin + (mbY * 16 + 15) * yStride + mbW * 16
      val repl = ry(lastRowOff - 1)
      var kk = 0
      while (kk < 4) { ry(lastRowOff + kk) = repl; kk += 1 }
      mbY += 1
    }

    val part0 = head.flush()
    val part1 = toks.flush()
    val out = new java.io.ByteArrayOutputStream()
    val tag = (part0.length << 5) | (1 << 4) // keyframe(0), version 0, show_frame
    out.write(tag & 0xff); out.write((tag >> 8) & 0xff); out.write((tag >> 16) & 0xff)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(width & 0xff); out.write((width >> 8) & 0x3f)
    out.write(height & 0xff); out.write((height >> 8) & 0x3f)
    out.write(part0, 0, part0.length)
    out.write(part1, 0, part1.length)
    out.toByteArray
  }
}
