package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{crc32, le32, le32u, le64, setLe32, writeLe32}

/** XZ / LZMA decoder — pure JVM: the LZMA range coder and state
  * machine (public LZMA specification), LZMA2 chunking (dict/state/
  * props resets, uncompressed chunks), the `.xz` container (stream
  * header/footer, block headers with filter chains, index, CRC32/
  * CRC64/SHA256 integrity checks, multi-block streams, concatenated
  * streams with padding) and the legacy `.lzma` "alone" format.
  *
  * Why it's front-door: public-dataset shards ship `.jsonl.xz` /
  * `.xml.xz` routinely (wiki dumps, HF mirrors of The Pile era
  * corpora). The JDK has no xz.
  *
  * Scale shape: one `.xz` STREAM is sequential (LZMA is not
  * splittable), but xz files are legally CONCATENATIONS of streams,
  * and shard producers exploit that. [[streamsOf]] walks stream
  * boundaries backward from footers using only metadata (each footer
  * names its index size; each index names its blocks), so the driver
  * plans per-stream ranges without decompressing anything, and each
  * task decodes exactly its own streams — the seekable-zstd shape.
  * Single-stream files degrade to one task per file (the honest
  * limit; the file set is then the parallelism unit).
  *
  * XzSpec pins the decoder byte-exactly against REAL liblzma output
  * (python's stdlib `lzma` is a liblzma binding) across presets,
  * check types, custom lc/lp/pb filter chains, the alone format and
  * concatenated streams. The in-task q_xz cycle uses
  * [[encodeRawXz]] — valid xz built from LZMA2 UNCOMPRESSED chunks
  * (the format's storage escape hatch) with real CRCs/index/footer.
  */
object Xz {

  final class XzError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new XzError(msg)

  // ------------------------------------------------------------------
  // CRC64 (ECMA-182 reflected, the xz variant)
  // ------------------------------------------------------------------

  private val Crc64Table: Array[Long] = {
    val poly = 0xC96C5795D7870F42L
    Array.tabulate(256) { i =>
      var crc = i.toLong
      var k = 0
      while (k < 8) {
        crc = if ((crc & 1L) != 0) (crc >>> 1) ^ poly else crc >>> 1
        k += 1
      }
      crc
    }
  }

  def crc64(b: Array[Byte], off: Int, len: Int): Long = {
    var crc = ~0L
    var i = off
    val end = off + len
    while (i < end) {
      crc = Crc64Table(((crc ^ b(i)) & 0xff).toInt) ^ (crc >>> 8)
      i += 1
    }
    ~crc
  }

  // ------------------------------------------------------------------
  // LZMA core (public LZMA specification)
  // ------------------------------------------------------------------

  private final class RangeDec(b: Array[Byte], var pos: Int, end: Int) {
    var range: Int = -1 // 0xFFFFFFFF
    var code: Int = 0
    def init(): Unit = {
      if (pos >= end) fail("lzma: range coder init past end")
      if (b(pos) != 0) fail("lzma: first range byte must be 0")
      pos += 1
      var i = 0
      while (i < 4) { code = (code << 8) | (b(pos) & 0xff); pos += 1; i += 1 }
    }
    @inline private def normalize(): Unit =
      if ((range & 0xff000000) == 0) {
        range <<= 8
        code = (code << 8) | (if (pos < end) b(pos) & 0xff else 0)
        pos += 1
      }
    def bit(probs: Array[Short], idx: Int): Int = {
      val p = probs(idx)
      val bound = (range >>> 11) * p
      // unsigned compare
      if ((code ^ Int.MinValue) < (bound ^ Int.MinValue)) {
        probs(idx) = (p + ((2048 - p) >>> 5)).toShort
        range = bound
        normalize()
        0
      } else {
        probs(idx) = (p - (p >>> 5)).toShort
        range -= bound
        code -= bound
        normalize()
        1
      }
    }
    def directBits(n: Int): Int = {
      var res = 0
      var i = n
      while (i > 0) {
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31) // 0 if code >= 0 (bit 1), -1 if negative (bit 0)
        code += range & t
        res = (res << 1) + t + 1
        normalize()
        i -= 1
      }
      res
    }
    def bitTree(probs: Array[Short], off: Int, nbits: Int): Int = {
      var m = 1
      var i = 0
      while (i < nbits) { m = (m << 1) + bit(probs, off + m); i += 1 }
      m - (1 << nbits)
    }
    def bitTreeReverse(probs: Array[Short], off: Int, nbits: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < nbits) {
        val bb = bit(probs, off + m)
        m = (m << 1) + bb
        sym |= bb << i
        i += 1
      }
      sym
    }
  }

  private val InitProb: Short = 1024

  /** LZMA decoder state persisting across LZMA2 chunks. */
  private final class LzmaState(var lc: Int, var lp: Int, var pb: Int) {
    var state = 0
    var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
    var lit: Array[Short] = _
    val isMatch = new Array[Short](12 << 4)
    val isRep = new Array[Short](12)
    val isRepG0 = new Array[Short](12)
    val isRepG1 = new Array[Short](12)
    val isRepG2 = new Array[Short](12)
    val isRep0Long = new Array[Short](12 << 4)
    val posSlot = new Array[Short](4 * 64)
    val specPos = new Array[Short](115)
    val align = new Array[Short](16)
    // len coders: [0]=choice [1]=choice2 [2..2+16*8) low [..mid) [..+256) high
    val lenProbs = new Array[Short](2 + 16 * 8 + 16 * 8 + 256)
    val repLenProbs = new Array[Short](2 + 16 * 8 + 16 * 8 + 256)
    resetState()
    def resetProps(lc0: Int, lp0: Int, pb0: Int): Unit = { lc = lc0; lp = lp0; pb = pb0; resetState() }
    def resetState(): Unit = {
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      lit = Array.fill[Short](0x300 << (lc + lp))(InitProb)
      java.util.Arrays.fill(isMatch, InitProb)
      java.util.Arrays.fill(isRep, InitProb)
      java.util.Arrays.fill(isRepG0, InitProb)
      java.util.Arrays.fill(isRepG1, InitProb)
      java.util.Arrays.fill(isRepG2, InitProb)
      java.util.Arrays.fill(isRep0Long, InitProb)
      java.util.Arrays.fill(posSlot, InitProb)
      java.util.Arrays.fill(specPos, InitProb)
      java.util.Arrays.fill(align, InitProb)
      java.util.Arrays.fill(lenProbs, InitProb)
      java.util.Arrays.fill(repLenProbs, InitProb)
    }
  }

  private def decodeLen(rc: RangeDec, probs: Array[Short], posState: Int): Int =
    if (rc.bit(probs, 0) == 0) 2 + rc.bitTree(probs, 2 + posState * 8, 3)
    else if (rc.bit(probs, 1) == 0) 10 + rc.bitTree(probs, 2 + 16 * 8 + posState * 8, 3)
    else 18 + rc.bitTree(probs, 2 + 16 * 8 + 16 * 8, 8)

  /** Decode one LZMA stream segment into `out` (append), producing
    * exactly `limit` bytes unless `limit < 0` (then until end marker).
    * `out.len` position participates in lp/pb masks and the window. */
  private def lzmaRun(rc: RangeDec, st: LzmaState, out: XOut, limit: Long): Unit = {
    val pbMask = (1 << st.pb) - 1
    val lpMask = (1 << st.lp) - 1
    val target = if (limit < 0) Long.MaxValue else out.total + limit
    var endMarker = false
    while (out.total < target && !endMarker) {
      val posState = (out.total & pbMask).toInt
      if (rc.bit(st.isMatch, (st.state << 4) + posState) == 0) {
        // literal
        val prev = if (out.total > 0) out.last & 0xff else 0
        val litState = (((out.total & lpMask).toInt) << st.lc) + (prev >>> (8 - st.lc))
        val off = 0x300 * litState
        var sym = 1
        if (st.state >= 7) {
          // matched literal
          var matchByte = out.byteBack(st.rep0 + 1) & 0xff
          var break = false
          while (sym < 0x100 && !break) {
            val matchBit = (matchByte >> 7) & 1
            matchByte <<= 1
            val bb = rc.bit(st.lit, off + ((1 + matchBit) << 8) + sym)
            sym = (sym << 1) | bb
            if (matchBit != bb) break = true
          }
        }
        while (sym < 0x100) sym = (sym << 1) | rc.bit(st.lit, off + sym)
        out.add((sym & 0xff).toByte)
        st.state = if (st.state < 4) 0 else if (st.state < 10) st.state - 3 else st.state - 6
      } else {
        var len = 0
        if (rc.bit(st.isRep, st.state) == 1) {
          // rep match
          if (rc.bit(st.isRepG0, st.state) == 0) {
            if (rc.bit(st.isRep0Long, (st.state << 4) + posState) == 0) {
              // short rep
              st.state = if (st.state < 7) 9 else 11
              out.add(out.byteBack(st.rep0 + 1))
              len = -1 // handled
            }
          } else {
            val dist =
              if (rc.bit(st.isRepG1, st.state) == 0) st.rep1
              else if (rc.bit(st.isRepG2, st.state) == 0) { val d = st.rep2; st.rep2 = st.rep1; d }
              else { val d = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1; d }
            st.rep1 = st.rep0
            st.rep0 = dist
          }
          if (len == 0) {
            len = decodeLen(rc, st.repLenProbs, posState)
            st.state = if (st.state < 7) 8 else 11
          }
        } else {
          // new match
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
          len = decodeLen(rc, st.lenProbs, posState)
          val lenToPos = math.min(len - 2, 3)
          val slot = rc.bitTree(st.posSlot, lenToPos * 64, 6)
          if (slot < 4) st.rep0 = slot
          else {
            val numDirect = (slot >> 1) - 1
            var dist = (2 | (slot & 1)) << numDirect
            if (slot < 14)
              dist += rc.bitTreeReverse(st.specPos, dist - slot - 1, numDirect)
            else {
              dist += rc.directBits(numDirect - 4) << 4
              dist += rc.bitTreeReverse(st.align, 0, 4)
            }
            st.rep0 = dist
          }
          if (st.rep0 == -1) {
            // end-of-stream marker (0xFFFFFFFF)
            endMarker = true
            len = -1
          } else st.state = if (st.state < 7) 7 else 10
        }
        if (len > 0) {
          if (st.rep0 < 0 || st.rep0.toLong + 1 > out.total) fail("lzma: distance beyond window")
          if (out.total + len > target && limit >= 0) fail("lzma: match overruns chunk size")
          var i = 0
          while (i < len) { out.add(out.byteBack(st.rep0 + 1)); i += 1 }
        }
      }
    }
    if (limit >= 0 && out.total != target) fail("lzma: chunk produced wrong size")
  }

  /** output buffer: whole-payload (crawl-shard scale) */
  private final class XOut(hint: Int) {
    var buf = new Array[Byte](math.max(64, hint))
    var total: Long = 0
    private def len = total.toInt
    def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length * 2
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def add(v: Byte): Unit = { ensure(1); buf(len) = v; total += 1 }
    def addAll(src: Array[Byte], off: Int, n: Int): Unit = { ensure(n); System.arraycopy(src, off, buf, len, n); total += n }
    def last: Byte = buf(len - 1)
    def byteBack(dist: Int): Byte = {
      if (dist > total) fail("lzma: window underrun")
      buf(len - dist)
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ------------------------------------------------------------------
  // LZMA2
  // ------------------------------------------------------------------

  /** Decode an LZMA2 chunk sequence (ends at control byte 0). */
  private def lzma2Run(b: Array[Byte], off: Int, end: Int, out: XOut): Int = {
    var p = off
    var st: LzmaState = null
    var needProps = true
    while (p < end) {
      val c = b(p) & 0xff
      p += 1
      if (c == 0) return p
      else if (c <= 2) {
        // uncompressed chunk; 0x01 resets dict (we keep the whole
        // output, so a dict reset only gates copy distances — not
        // enforced here; liblzma output never violates it)
        val n = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        p += 2
        if (p + n > end) fail("lzma2: uncompressed chunk past end")
        out.addAll(b, p, n)
        p += n
        if (st != null) st.resetState() // spec: state resets after an uncompressed chunk
      } else if (c >= 0x80) {
        val unpack = (((c & 0x1f) << 16) | ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        val pack = (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)) + 1
        p += 4
        val mode = (c >> 5) & 3
        if (mode >= 2) {
          val props = b(p) & 0xff
          p += 1
          if (props > 224) fail("lzma2: bad props byte")
          val lc = props % 9
          val lp = (props / 9) % 5
          val pb = props / 45
          if (lc + lp > 4) fail("lzma2: lc+lp > 4")
          if (st == null) st = new LzmaState(lc, lp, pb) else st.resetProps(lc, lp, pb)
          needProps = false
        } else {
          if (st == null || needProps) fail("lzma2: chunk needs props before data")
          if (mode == 1) st.resetState()
        }
        if (p + pack > end) fail("lzma2: packed chunk past end")
        val rc = new RangeDec(b, p, p + pack)
        rc.init()
        lzmaRun(rc, st, out, unpack)
        p += pack
      } else fail(s"lzma2: bad control byte $c")
    }
    fail("lzma2: missing end marker")
  }

  // ------------------------------------------------------------------
  // xz container
  // ------------------------------------------------------------------

  private val Magic = Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0)
  private val FooterMagic = Array[Byte]('Y', 'Z')

  private def varint(b: Array[Byte], p0: Int): (Long, Int) = {
    var v = 0L
    var p = p0
    var shift = 0
    while (shift < 63) {
      val x = b(p) & 0xff
      p += 1
      v |= (x & 0x7fL) << shift
      if ((x & 0x80) == 0) return (v, p)
      shift += 7
    }
    fail("xz: varint too long")
  }

  /** Decode ONE xz stream starting at `off`; returns (payload, bytes
    * consumed incl. the footer). */
  def decodeStream(b: Array[Byte], off: Int): (Array[Byte], Int) = {
    var p = off
    if (p + 12 > b.length || !java.util.Arrays.equals(java.util.Arrays.copyOfRange(b, p, p + 6), Magic))
      fail("xz: bad stream magic")
    val flagsHi = b(p + 6) & 0xff
    val check = b(p + 7) & 0xff
    if (flagsHi != 0) fail("xz: reserved stream flags")
    if (crc32(b, p + 6, 2).toInt != le32(b, p + 8)) fail("xz: stream header CRC mismatch")
    p += 12
    val out = new XOut(1 << 16)
    var lastBlockEnd = p
    // blocks until the index indicator (0x00)
    while ((b(p) & 0xff) != 0) {
      val headerSize = ((b(p) & 0xff) + 1) * 4
      if (crc32(b, p, headerSize - 4).toInt != le32(b, p + headerSize - 4)) fail("xz: block header CRC mismatch")
      val flags = b(p + 1) & 0xff
      val numFilters = (flags & 3) + 1
      if ((flags & 0x3c) != 0) fail("xz: reserved block flags")
      // all variable fields must fit BEFORE the trailing header CRC —
      // without this bound a crafted header's filter parse silently
      // reads into the CRC region (or past the buffer)
      val fieldsEnd = p + headerSize - 4
      var q = p + 2
      if ((flags & 0x40) != 0) q = varint(b, q)._2 // compressed size (informative)
      var declaredUnpacked = -1L
      if ((flags & 0x80) != 0) { val (v, q2) = varint(b, q); declaredUnpacked = v; q = q2 }
      if (q > fieldsEnd) fail("xz: block header size fields overrun header")
      var lzma2 = false
      var f = 0
      // non-LZMA2 chain entries in declared (encode) order: delta and
      // the BCJ branch converters. Decoding undoes them in REVERSE.
      val pre = List.newBuilder[(Long, Long)] // (filter id, delta dist | bcj start offset)
      while (f < numFilters) {
        val (id, q2) = varint(b, q)
        val (propsLen, q3) = varint(b, q2)
        if (q3 > fieldsEnd || propsLen < 0 || propsLen > fieldsEnd - q3)
          fail("xz: filter fields overrun block header")
        if (id == 0x21 && f == numFilters - 1) lzma2 = true
        else if (id == 0x03 && propsLen == 1) pre += ((id, (b(q3) & 0xff) + 1L))
        else if (id >= 0x04 && id <= 0x0b && propsLen == 0) pre += ((id, 0L))
        else if (id >= 0x04 && id <= 0x0b && propsLen == 4) {
          // spec: a BCJ start offset must be a multiple of the filter's
          // instruction alignment (liblzma rejects misaligned offsets)
          val start = le32u(b, q3)
          if (start % bcjAlignment(id) != 0)
            fail(s"xz: BCJ start offset $start not aligned to filter $id's instruction size")
          pre += ((id, start))
        } else fail(s"xz: unsupported filter id $id")
        q = q3 + propsLen.toInt
        f += 1
      }
      if (!lzma2) fail("xz: block without LZMA2 filter")
      // spec: bytes between the last filter entry and the header CRC
      // are padding and MUST be zero (liblzma rejects nonzero padding;
      // without this check some malformed headers decode silently)
      while (q < fieldsEnd) {
        if (b(q) != 0) fail("xz: nonzero block header padding")
        q += 1
      }
      val dataStart = p + headerSize
      val before = out.total
      val dataEnd = lzma2Run(b, dataStart, b.length, out)
      pre.result().reverse.foreach {
        case (0x03, dist) => applyDeltaDecode(out, before, dist.toInt)
        case (id, start) =>
          Bcj(id, out.buf, before.toInt, (out.total - before).toInt, start, encode = false)
      }
      if (declaredUnpacked >= 0 && out.total - before != declaredUnpacked)
        fail("xz: block uncompressed size mismatch")
      // pad to 4
      var pad = dataEnd
      while (((pad - dataStart + headerSize) & 3) != 0) {
        if (b(pad) != 0) fail("xz: nonzero block padding")
        pad += 1
      }
      // integrity check over this block's output
      val produced = (out.total - before).toInt
      val checkLen = check match {
        case 0 => 0
        case 1 =>
          if (crc32(out.buf, before.toInt, produced).toInt != le32(b, pad)) fail("xz: block CRC32 mismatch")
          4
        case 4 =>
          if (crc64(out.buf, before.toInt, produced) != le64(b, pad)) fail("xz: block CRC64 mismatch")
          8
        case 10 =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          md.update(out.buf, before.toInt, produced)
          if (!java.util.Arrays.equals(md.digest(), java.util.Arrays.copyOfRange(b, pad, pad + 32)))
            fail("xz: block SHA-256 mismatch")
          32
        case other => fail(s"xz: unsupported check type $other")
      }
      p = pad + checkLen
      lastBlockEnd = p
    }
    // index: skip to footer (validated structurally)
    val (nRec, p1) = varint(b, p + 1)
    var q = p1
    var r = 0L
    while (r < nRec) { q = varint(b, varint(b, q)._2)._2; r += 1 }
    while (((q - p) & 3) != 0) { if (b(q) != 0) fail("xz: nonzero index padding"); q += 1 }
    if (crc32(b, p, q - p).toInt != le32(b, q)) fail("xz: index CRC mismatch")
    q += 4
    // footer
    if (crc32(b, q + 4, 6).toInt != le32(b, q)) fail("xz: footer CRC mismatch")
    val backward = le32u(b, q + 4)
    if ((backward + 1) * 4 != (q - p)) fail("xz: footer backward size disagrees with index")
    if (b(q + 8) != 0 || b(q + 9) != check.toByte) fail("xz: footer flags disagree with header")
    if (b(q + 10) != FooterMagic(0) || b(q + 11) != FooterMagic(1)) fail("xz: bad footer magic")
    (out.toArray, q + 12 - off)
  }

  private def applyDeltaDecode(out: XOut, from: Long, dist: Int): Unit = {
    var i = from.toInt
    val end = out.total.toInt
    while (i < end) {
      if (i - dist >= from) out.buf(i) = (out.buf(i) + out.buf(i - dist)).toByte
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // BCJ branch filters (the xz "simple" filters, ids 0x04..0x0B):
  // position-dependent rewrites of relative branch/call targets to
  // absolute form so identical call sites compress alike. Algorithms
  // per the published xz file format / public-domain xz-utils simple
  // filters; every one is gated byte-exact against real liblzma
  // output in XzSpec. Filter state is per BLOCK (each block decodes
  // independently), and both directions are the same transform with
  // the sign of the position term flipped.
  // ------------------------------------------------------------------

  /** Instruction alignment per BCJ filter id — the unit a start
    * offset must be a multiple of (xz file-format spec §5.3.2). */
  private def bcjAlignment(id: Long): Int = id match {
    case 0x04 => 1 // x86
    case 0x05 => 4 // PowerPC
    case 0x06 => 16 // IA-64 bundle
    case 0x07 => 4 // ARM
    case 0x08 => 2 // ARM-Thumb
    case 0x09 => 4 // SPARC
    case 0x0a => 4 // ARM64
    case 0x0b => 2 // RISC-V (compressed instructions are 2-byte)
    case _ => 1
  }

  /** Apply BCJ filter `id` in place over `b[off, off+len)`. `start`
    * is the filter's start-offset property (position of the first
    * byte in the pre-filtered stream); `encode = false` undoes what
    * the compressor's filter did. Exposed for spec round-trips. */
  private[graft] def Bcj(id: Long, b: Array[Byte], off: Int, len: Int, start: Long, encode: Boolean): Unit =
    id match {
      case 0x04 => bcjX86(b, off, len, start.toInt, encode)
      case 0x05 => bcjPowerPc(b, off, len, start.toInt, encode)
      case 0x06 => bcjIa64(b, off, len, start.toInt, encode)
      case 0x07 => bcjArm(b, off, len, start.toInt, encode)
      case 0x08 => bcjArmThumb(b, off, len, start.toInt, encode)
      case 0x09 => bcjSparc(b, off, len, start.toInt, encode)
      case 0x0a => bcjArm64(b, off, len, start.toInt, encode)
      case 0x0b => bcjRiscV(b, off, len, start.toInt, encode)
      case other => fail(s"xz: unsupported BCJ filter id $other")
    }

  /** x86: E8/E9 call/jump rel32 ↔ abs32 with the 5-byte sliding
    * validity mask (uint32 arithmetic via Int wraparound; unsigned
    * compares explicit). */
  private def bcjX86(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    if (len < 5) return
    val maskAllowed = Array(true, true, true, false, true, false, false, false)
    val maskBit = Array(0, 1, 2, 2, 3, 3, 3, 3)
    @inline def msb(x: Int) = x == 0 || x == 0xff
    var prevMask = 0
    var prevPos = nowPos0 - 5
    var i = 0
    val limit = len - 5
    while (i <= limit) {
      if ((b(off + i) & 0xfe) != 0xe8) i += 1
      else {
        val d = (nowPos0 + i) - prevPos
        prevPos = nowPos0 + i
        if (Integer.compareUnsigned(d, 5) > 0) prevMask = 0
        else {
          var k = 0
          while (k < d) { prevMask &= 0x77; prevMask <<= 1; k += 1 }
        }
        var bb = b(off + i + 4) & 0xff
        if (msb(bb) && maskAllowed((prevMask >>> 1) & 7) && (prevMask >>> 1) < 0x10) {
          var src = (bb << 24) | ((b(off + i + 3) & 0xff) << 16) |
            ((b(off + i + 2) & 0xff) << 8) | (b(off + i + 1) & 0xff)
          var dest = 0
          var done = false
          while (!done) {
            dest = if (enc) src + (nowPos0 + i + 5) else src - (nowPos0 + i + 5)
            if (prevMask == 0) done = true
            else {
              val idx = maskBit(prevMask >>> 1)
              bb = (dest >>> (24 - idx * 8)) & 0xff
              if (!msb(bb)) done = true
              else src = dest ^ ((1 << (32 - idx * 8)) - 1)
            }
          }
          b(off + i + 4) = (0 - ((dest >>> 24) & 1)).toByte // 0x00 or 0xFF sign byte
          b(off + i + 3) = (dest >>> 16).toByte
          b(off + i + 2) = (dest >>> 8).toByte
          b(off + i + 1) = dest.toByte
          i += 5
          prevMask = 0
        } else {
          prevMask |= 1
          if (msb(bb)) prevMask |= 0x10
          i += 1
        }
      }
    }
  }

  /** PowerPC: big-endian `bl` (0b010010..._..01) 24-bit word target. */
  private def bcjPowerPc(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    var i = 0
    while (i + 4 <= len) {
      if (((b(off + i) & 0xfc) == 0x48) && ((b(off + i + 3) & 3) == 1)) {
        val src = ((b(off + i) & 3) << 24) | ((b(off + i + 1) & 0xff) << 16) |
          ((b(off + i + 2) & 0xff) << 8) | (b(off + i + 3) & 0xfc)
        val dest = if (enc) nowPos0 + i + src else src - (nowPos0 + i)
        b(off + i) = (0x48 | ((dest >>> 24) & 3)).toByte
        b(off + i + 1) = (dest >>> 16).toByte
        b(off + i + 2) = (dest >>> 8).toByte
        b(off + i + 3) = ((b(off + i + 3) & 3) | (dest & 0xfc)).toByte
      }
      i += 4
    }
  }

  /** IA-64: 16-byte bundles; template selects which 41-bit slots hold
    * branches; mpr.b slots (major opcode 5, low 27 imm bits clear)
    * carry a 21-bit 16-byte-unit target. */
  private def bcjIa64(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    val branchTable = Array(
      0, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0,
      4, 4, 6, 6, 0, 0, 7, 7,
      4, 4, 0, 0, 4, 4, 0, 0)
    var i = 0
    while (i + 16 <= len) {
      val mask = branchTable(b(off + i) & 0x1f)
      var slot = 0
      var bitPos = 5
      while (slot < 3) {
        if (((mask >> slot) & 1) != 0) {
          val bytePos = bitPos >> 3
          val bitRes = bitPos & 7
          var instruction = 0L
          var j = 0
          while (j < 6) { instruction |= (b(off + i + j + bytePos) & 0xffL) << (8 * j); j += 1 }
          var instNorm = instruction >>> bitRes
          if (((instNorm >>> 37) & 0xf) == 5 && ((instNorm >>> 9) & 0x7) == 0) {
            var src = ((instNorm >>> 13) & 0xfffff).toInt
            src |= (((instNorm >>> 36) & 1) << 20).toInt
            src <<= 4
            var dest = if (enc) nowPos0 + i + src else src - (nowPos0 + i)
            dest >>>= 4
            instNorm &= ~(0x8fffffL << 13)
            instNorm |= (dest & 0xfffffL) << 13
            instNorm |= (dest & 0x100000L) << (36 - 20)
            instruction &= (1L << bitRes) - 1
            instruction |= instNorm << bitRes
            j = 0
            while (j < 6) { b(off + i + j + bytePos) = (instruction >>> (8 * j)).toByte; j += 1 }
          }
        }
        slot += 1
        bitPos += 41
      }
      i += 16
    }
  }

  /** ARM: little-endian word whose top byte is 0xEB (BL), 24-bit
    * word-shifted target, PC 8 ahead. */
  private def bcjArm(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    var i = 0
    while (i + 4 <= len) {
      if ((b(off + i + 3) & 0xff) == 0xeb) {
        var src = ((b(off + i + 2) & 0xff) << 16) | ((b(off + i + 1) & 0xff) << 8) | (b(off + i) & 0xff)
        src <<= 2
        var dest = if (enc) nowPos0 + i + 8 + src else src - (nowPos0 + i + 8)
        dest >>>= 2
        b(off + i + 2) = (dest >>> 16).toByte
        b(off + i + 1) = (dest >>> 8).toByte
        b(off + i) = dest.toByte
      }
      i += 4
    }
  }

  /** ARM Thumb: BL instruction PAIR (0xF0xx 0xF8xx halfwords), 22-bit
    * halfword-shifted target, PC 4 ahead. */
  private def bcjArmThumb(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    var i = 0
    while (i + 4 <= len) {
      if ((b(off + i + 1) & 0xf8) == 0xf0 && (b(off + i + 3) & 0xf8) == 0xf8) {
        var src = ((b(off + i + 1) & 7) << 19) | ((b(off + i) & 0xff) << 11) |
          ((b(off + i + 3) & 7) << 8) | (b(off + i + 2) & 0xff)
        src <<= 1
        var dest = if (enc) nowPos0 + i + 4 + src else src - (nowPos0 + i + 4)
        dest >>>= 1
        b(off + i + 1) = (0xf0 | ((dest >>> 19) & 7)).toByte
        b(off + i) = (dest >>> 11).toByte
        b(off + i + 3) = (0xf8 | ((dest >>> 8) & 7)).toByte
        b(off + i + 2) = dest.toByte
        i += 2
      }
      i += 2
    }
  }

  /** SPARC: big-endian CALL (0x40...) / the sign-collapsed 0x7F form,
    * 22 significant word-shifted bits re-sign-folded on write. */
  private def bcjSparc(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    var i = 0
    while (i + 4 <= len) {
      val b0 = b(off + i) & 0xff
      val b1 = b(off + i + 1) & 0xff
      if ((b0 == 0x40 && (b1 & 0xc0) == 0x00) || (b0 == 0x7f && (b1 & 0xc0) == 0xc0)) {
        var src = (b0 << 24) | (b1 << 16) | ((b(off + i + 2) & 0xff) << 8) | (b(off + i + 3) & 0xff)
        src <<= 2
        var dest = if (enc) nowPos0 + i + src else src - (nowPos0 + i)
        dest >>>= 2
        dest = ((0x40000000 - (dest & 0x400000)) | 0x40000000 | (dest & 0x3fffff))
        b(off + i) = (dest >>> 24).toByte
        b(off + i + 1) = (dest >>> 16).toByte
        b(off + i + 2) = (dest >>> 8).toByte
        b(off + i + 3) = dest.toByte
      }
      i += 4
    }
  }

  /** ARM64: BL (26-bit ±128 MiB) and ADRP (±512 MiB page window)
    * immediates, little-endian 4-byte instructions. */
  private def bcjArm64(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    var i = 0
    while (i + 4 <= len) {
      var pc = nowPos0 + i
      val instr = le32(b, off + i)
      if ((instr >>> 26) == 0x25) {
        val src = instr
        pc >>>= 2
        if (!enc) pc = 0 - pc
        val out = 0x94000000 | ((src + pc) & 0x03ffffff)
        b(off + i) = out.toByte
        b(off + i + 1) = (out >>> 8).toByte
        b(off + i + 2) = (out >>> 16).toByte
        b(off + i + 3) = (out >>> 24).toByte
      } else if ((instr & 0x9f000000) == 0x90000000) {
        val src = ((instr >>> 29) & 3) | ((instr >>> 3) & 0x001ffffc)
        if (((src + 0x00020000) & 0x001c0000) == 0) {
          var out = instr & 0x9000001f
          pc >>>= 12
          if (!enc) pc = 0 - pc
          val dest = src + pc
          out |= (dest & 3) << 29
          out |= (dest & 0x0003fffc) << 3
          out |= (0 - (dest & 0x00020000)) & 0x00e00000
          b(off + i) = out.toByte
          b(off + i + 1) = (out >>> 8).toByte
          b(off + i + 2) = (out >>> 16).toByte
          b(off + i + 3) = (out >>> 24).toByte
        }
      }
      i += 4
    }
  }

  /** RISC-V (id 0x0B, alignment 2): converts the targets of JAL with
    * rd = x1/x5 (the link registers) and of AUIPC + 12-bit-immediate
    * pairs (rs1 of the next instruction == AUIPC's rd, rd not x0/x2)
    * to absolute form. JAL stores the 20-bit halved target big-endian
    * across the upper 2.5 bytes; a pair packs into a fake
    * `auipc x2`-shaped word (0x117 | inst2<<12) + the byte-swapped
    * 32-bit address. Raw input that LOOKS like a packed artifact is
    * escaped with the arithmetic-free reshuffle of the opposite map,
    * so encode/decode stay mutually inverse on every byte sequence.
    *
    * No published spec text documents this conversion (it postdates
    * the xz file-format spec's algorithm sections); the algorithm here
    * was extracted BEHAVIORALLY from the in-container liblzma 5.8.2
    * via chosen-plaintext differential probing (single-bit basis over
    * every field, branch/step probes through the CLI with the LZMA2
    * layer stripped), then validated byte-exact against the CLI on
    * 1200 adversarial corpora in both directions — fixtures pinned by
    * tools/gen_bcj_fixtures.py, probe log in NOTES_r17. */
  private def bcjRiscV(b: Array[Byte], off: Int, len: Int, nowPos0: Int, enc: Boolean): Unit = {
    var i = 0
    while (i + 8 <= len) {
      val b0 = b(off + i) & 0xff
      if (b0 == 0xEF) {
        val b1 = b(off + i + 1) & 0xff
        if ((b1 & 0x0D) != 0) i += 2 // rd is not x1/x5
        else {
          val pc = nowPos0 + i
          val w = le32(b, off + i)
          if (enc) {
            // J-immediate: inst[31]=imm20, [30:21]=imm10:1, [20]=imm11, [19:12]=imm19:12
            val imm = (((w >>> 31) & 1) << 20) | (((w >>> 21) & 0x3FF) << 1) |
              (((w >>> 20) & 1) << 11) | (((w >>> 12) & 0xFF) << 12)
            val a = ((imm + pc) & 0x1FFFFF) >>> 1 // 20-bit halved target
            setLe32(b, off + i, (w & 0x0FFF) | (((a >>> 16) & 0xF) << 12) | (((a >>> 8) & 0xFF) << 16) | ((a & 0xFF) << 24))
          } else {
            val a = (((w >>> 12) & 0xF) << 16) | (((w >>> 16) & 0xFF) << 8) | ((w >>> 24) & 0xFF)
            val imm = ((a << 1) - pc) & 0x1FFFFF
            setLe32(b, off + i, (w & 0x0FFF) | (((imm >>> 20) & 1) << 31) | (((imm >>> 1) & 0x3FF) << 21) |
              (((imm >>> 11) & 1) << 20) | (((imm >>> 12) & 0xFF) << 12))
          }
          i += 4
        }
      } else if ((b0 & 0x7F) == 0x17) {
        val w1 = le32(b, off + i)
        val w2 = le32(b, off + i + 4)
        val rd = (w1 >>> 7) & 0x1F
        val pc = nowPos0 + i
        // real pair (rd not x0/x2, next insn is 32-bit with rs1 == rd)
        val pairOk = (w1 & 0xE80) != 0 && ((w2 >>> 15) & 0x1F) == rd && (w2 & 3) == 3
        // packed-artifact shape (fake auipc x2, inst2 low bits 11, fake rs1 not x0/x2)
        val artOk = (w1 & 0xE80) == 0 && (w1 & 0x3F80) == 0x3100 && (w1 & 0xE8000000) != 0
        def pack(): Unit = { // forward pair conversion (address arithmetic)
          val imm12 = w2 >>> 20
          val s = if ((imm12 & 0x800) != 0) imm12 - 0x1000 else imm12
          val addr = (w1 & 0xFFFFF000) + s + pc
          setLe32(b, off + i, 0x117 | (w2 << 12))
          setLe32(b, off + i + 4, Integer.reverseBytes(addr))
        }
        def unpack(): Unit = { // inverse pair conversion
          val lo20 = w1 >>> 12
          val addr = Integer.reverseBytes(w2) - pc
          val hi = ((addr + 0x800) >>> 12) & 0xFFFFF
          setLe32(b, off + i, (hi << 12) | (((lo20 >>> 15) & 0x1F) << 7) | 0x17)
          setLe32(b, off + i + 4, ((addr & 0xFFF) << 20) | lo20)
        }
        def reshUnpack(): Unit = { // arithmetic-free escape of artifact-shaped raw bytes
          val lo20 = w1 >>> 12
          setLe32(b, off + i, (w2 & 0xFFFFF000) | (((lo20 >>> 15) & 0x1F) << 7) | 0x17)
          setLe32(b, off + i + 4, ((w2 & 0xFFF) << 20) | lo20)
        }
        def reshPack(): Unit = { // arithmetic-free inverse escape
          setLe32(b, off + i, ((w2 & 0xFFFFF) << 12) | 0x117)
          setLe32(b, off + i + 4, (w1 & 0xFFFFF000) | ((w2 >>> 20) & 0xFFF))
        }
        if (enc) {
          if (pairOk) { pack(); i += 8 }
          else if (artOk) { reshUnpack(); i += 8 }
          else i += (if ((w1 & 0xE80) != 0) 6 else 4)
        } else {
          if (artOk) { unpack(); i += 8 }
          else if (pairOk) { reshPack(); i += 8 }
          else i += (if ((w1 & 0xE80) != 0) 6 else 4)
        }
      } else i += 2
    }
  }

  /** Decode a whole `.xz` file: every concatenated stream, skipping
    * 4-aligned zero padding between them. */
  def decode(b: Array[Byte]): Array[Byte] = decode(b, null)

  private def decode(b: Array[Byte], sink: java.io.ByteArrayOutputStream): Array[Byte] =
    try {
      val out = if (sink == null) new java.io.ByteArrayOutputStream() else sink
      var p = 0
      while (p < b.length) {
        if (b(p) == 0) {
          // stream padding: 4-aligned zeros
          if ((p & 3) != 0) fail("xz: misaligned stream padding")
          while (p < b.length && b(p) == 0) p += 1
          if (p < b.length && ((p & 3) != 0)) fail("xz: stream padding not multiple of 4")
        } else {
          val (payload, consumed) = decodeStream(b, p)
          out.write(payload)
          p += consumed
        }
      }
      out.toByteArray
    } catch {
      case e: XzError => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("xz: malformed input (out-of-range field)")
    }

  /** Raw LZMA2 chunk sequence ending at the zero control byte — the
    * payload shape the 7z LZMA2 coder carries (no xz container).
    * `outSize >= 0` is verified after decode. */
  def decodeLzma2Raw(b: Array[Byte], outSize: Long): Array[Byte] =
    try {
      val out = new XOut(
        if (outSize >= 0) math.min(outSize, 1L << 22).toInt else 1 << 16)
      lzma2Run(b, 0, b.length, out)
      if (outSize >= 0 && out.total != outSize)
        fail(s"lzma2: produced ${out.total} of declared $outSize bytes")
      out.toArray
    } catch {
      case e: XzError => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("lzma2: malformed input (out-of-range field)")
    }

  /** Raw LZMA1 stream — the payload shape ZIP method 14 and 7z LZMA1
    * coders carry (props byte out-of-band, no container): decodes
    * exactly `outSize` bytes (`-1` = until the end marker; a trailing
    * EOS marker after `outSize` bytes is simply not read, matching
    * reference decoders given a known size). */
  def decodeLzma1(props: Int, b: Array[Byte], off: Int, end: Int, outSize: Long): Array[Byte] =
    try {
      if (props < 0 || props > 224) fail("lzma: bad props byte")
      val lc = props % 9
      val lp = (props / 9) % 5
      val pb = props / 45
      val st = new LzmaState(lc, lp, pb)
      // initial allocation capped: outSize may be attacker-declared
      val out = new XOut(
        if (outSize >= 0) math.min(outSize, 1L << 22).toInt else 1 << 16)
      val rc = new RangeDec(b, off, end)
      rc.init()
      lzmaRun(rc, st, out, outSize)
      out.toArray
    } catch {
      case e: XzError => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("lzma: malformed input (out-of-range field)")
    }

  /** Legacy `.lzma` (alone) format: 5-byte props+dictsize header,
    * 8-byte LE uncompressed size (-1 = until end marker). */
  def decodeAlone(b: Array[Byte]): Array[Byte] =
    try {
      if (b.length < 13) fail("lzma-alone: too short")
      val props = b(0) & 0xff
      if (props > 224) fail("lzma-alone: bad props")
      val lc = props % 9
      val lp = (props / 9) % 5
      val pb = props / 45
      var size = 0L
      var i = 0
      while (i < 8) { size |= (b(5 + i) & 0xffL) << (8 * i); i += 1 }
      val st = new LzmaState(lc, lp, pb)
      val out = new XOut(if (size > 0 && size < Int.MaxValue) size.toInt else 1 << 16)
      val rc = new RangeDec(b, 13, b.length)
      rc.init()
      lzmaRun(rc, st, out, if (size == -1L) -1 else size)
      out.toArray
    } catch {
      case e: XzError => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("lzma-alone: malformed input (out-of-range field)")
    }

  // ------------------------------------------------------------------
  // stream-boundary walk (metadata only) + Spark face
  // ------------------------------------------------------------------

  /** (offset, length) of each concatenated stream, discovered by
    * walking BACKWARD from footers: footer -> backward size -> index
    * start; the index's own records then give the block region, so no
    * payload bytes are touched. */
  def streamsOf(b: Array[Byte]): Seq[(Long, Long)] = {
    val out = List.newBuilder[(Long, Long)]
    var end = b.length
    while (end > 0) {
      // strip stream padding (zeros; a footer never ends in 0x00 — 'Z')
      while (end > 0 && b(end - 1) == 0) end -= 1
      if (end == 0) return out.result()
      if (end < 12 || b(end - 1) != 'Z' || b(end - 2) != 'Y') fail("xz: bad footer magic in walk")
      val backward = le32u(b, end - 8)
      val indexStart = end - 12 - (backward + 1) * 4
      if (indexStart < 0 || b(indexStart.toInt) != 0) fail("xz: index indicator missing")
      // sum block sizes from index records
      var (nRec, p) = varint(b, indexStart.toInt + 1)
      var blockBytes = 0L
      var r = 0L
      while (r < nRec) {
        val (unpadded, p2) = varint(b, p)
        val (_, p3) = varint(b, p2)
        blockBytes += ((unpadded + 3) / 4) * 4
        p = p3
        r += 1
      }
      val start = indexStart - blockBytes - 12
      if (start < 0) fail("xz: stream start out of range")
      out += ((start, end - start))
      end = start.toInt
    }
    out.result().reverse // walked backward; return in file order
  }

  /** Stream boundaries via RANGED reads only — the driver-side plan
    * for huge files: each stream's footer and index sit at its END,
    * and the footer names the index size while the index names the
    * block bytes, so walking backward touches ~KB of metadata per
    * stream regardless of stream size. `read(off, n)` supplies file
    * bytes. */
  def streamsOfRanged(read: (Long, Int) => Array[Byte], len: Long): Seq[(Long, Long)] = {
    val out = List.newBuilder[(Long, Long)]
    var end = len
    while (end > 0) {
      var w = math.min(end, 256L << 10).toInt
      var ok = false
      while (!ok) {
        val bufStart = end - w
        val buf = read(bufStart, w)
        var e = w
        while (e > 0 && buf(e - 1) == 0) e -= 1
        if (e == 0) {
          if (bufStart == 0) return out.result().reverse
          // whole window is zeros: keep walking back (padding exceeding
          // a window only occurs in pathological files)
          end = bufStart
          w = math.min(end, 256L << 10).toInt
        } else {
          val fileEnd = bufStart + e
          if (e < 12) { if (w.toLong < end) { w = math.min(end, w.toLong * 4).toInt } else fail("xz: truncated footer") }
          else if (buf(e - 1) != 'Z' || buf(e - 2) != 'Y') fail("xz: bad footer magic in ranged walk")
          else {
            val backward = le32u(buf, e - 8)
            val indexStart = fileEnd - 12 - (backward + 1) * 4
            if (indexStart < bufStart) {
              if (w.toLong >= end) fail("xz: index larger than file prefix")
              w = math.min(end, w.toLong * 4).toInt
            } else {
              val rel = (indexStart - bufStart).toInt
              if (buf(rel) != 0) fail("xz: index indicator missing (ranged walk)")
              var (nRec, p) = varint(buf, rel + 1)
              var blockBytes = 0L
              var r = 0L
              while (r < nRec) {
                val (unpadded, p2) = varint(buf, p)
                val (_, p3) = varint(buf, p2)
                blockBytes += ((unpadded + 3) / 4) * 4
                p = p3
                r += 1
              }
              val start = indexStart - blockBytes - 12
              if (start < 0) fail("xz: stream start out of range (ranged walk)")
              out += ((start, fileEnd - start))
              end = start
              ok = true
            }
          }
        }
      }
    }
    out.result().reverse
  }

  /** Lines of a (possibly multi-stream) `.jsonl.xz` on any Hadoop
    * filesystem: the driver plans stream boundaries from RANGED
    * metadata reads only (footers + indexes, ~KB per stream — no
    * payload bytes touched), then each task decodes exactly the
    * streams whose start lands in its range. Output:
    * (stream_idx, line). */
  def jsonlLines(spark: SparkSession, path: String, splitSize: Long = 64L << 20): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    val ranged: (Long, Int) => Array[Byte] = { (off, n) =>
      val in = fs.open(hp)
      try { val a = new Array[Byte](n); in.readFully(off, a); a } finally in.close()
    }
    val streams = streamsOfRanged(ranged, len).zipWithIndex
    val plan = (0L until len by splitSize).map(s => (s, math.min(s + splitSize, len))).flatMap {
      case (s, e) =>
        val own = streams.filter { case ((o, _), _) => o >= s && o < e }
        if (own.nonEmpty) Some(own.map { case ((o, l), i) => (i, o, l) }) else None
    }
    spark.sparkContext
      .parallelize(plan, math.max(1, plan.size))
      .flatMap { owned =>
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        try {
          owned.iterator.flatMap { case (idx, o, l) =>
            val buf = new Array[Byte](l.toInt)
            in.readFully(o, buf)
            val (payload, _) = decodeStream(buf, 0)
            new String(payload, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n", -1)
              .iterator
              .filter(_.nonEmpty)
              .map(line => (idx, line))
              .toSeq
          }.toSeq
        } finally in.close()
      }
      .toDF("stream_idx", "line")
  }

  // ------------------------------------------------------------------
  // raw writer (cycles): LZMA2 uncompressed chunks in a real container
  // ------------------------------------------------------------------

  /** Valid single-stream xz holding `data` in LZMA2 UNCOMPRESSED
    * chunks, with real CRC32 block check, index and footer — the
    * format's storage escape hatch; drives in-task cycles. */
  def encodeRawXz(data: Array[Byte]): Array[Byte] = encodeRawXz(data, 0L)

  /** Like [[encodeRawXz]] with an optional BCJ pre-filter (`bcjId` in
    * 0x04..0x0A, 0 = none): the payload is branch-converted exactly as
    * liblzma's filter would and the block header declares the
    * two-entry chain, so decoding exercises the real filtered-stream
    * path. The block check stays over the ORIGINAL bytes (the xz check
    * covers fully-unfiltered output). */
  def encodeRawXz(data0: Array[Byte], bcjId: Long): Array[Byte] = {
    val data =
      if (bcjId == 0L) data0
      else { val c = data0.clone(); Bcj(bcjId, c, 0, c.length, 0L, encode = true); c }
    val out = new java.io.ByteArrayOutputStream()
    // stream header (check = CRC32)
    out.write(Magic)
    val flags = Array[Byte](0, 1)
    out.write(flags)
    writeLe32(out, crc32(flags, 0, 2))
    // block header: size 12 (3 units) — 1-filter chain [LZMA2 id 0x21,
    // propsLen 1, props 0x16 (8 MiB dict)] or 2-filter chain [BCJ id,
    // propsLen 0, then LZMA2]; zero padding, CRC32 of the first 8
    // bytes in bytes 8..11. (An 8-byte header has no room for even the
    // single filter entry: its props byte would sit where the CRC
    // goes — liblzma rejects that as corrupt.)
    val header =
      if (bcjId == 0L) Array[Byte](2, 0, 0x21, 1, 0x16, 0, 0, 0, 0, 0, 0, 0) // size=(2+1)*4=12
      else Array[Byte](2, 1, bcjId.toByte, 0, 0x21, 1, 0x16, 0, 0, 0, 0, 0)
    setLe32(header, 8, crc32(header, 0, 8).toInt)
    out.write(header)
    // LZMA2 uncompressed chunks (first resets the dict), then the
    // end-of-chunks marker
    val body = new java.io.ByteArrayOutputStream()
    var off = 0
    var first = true
    while (off < data.length) {
      val n = math.min(1 << 16, data.length - off)
      body.write(if (first) 0x01 else 0x02)
      body.write((n - 1) >> 8); body.write((n - 1) & 0xff)
      body.write(data, off, n)
      off += n
      first = false
    }
    body.write(0)
    val bodyBytes = body.toByteArray
    out.write(bodyBytes)
    // pad block to 4 (header 12 + body)
    var total = 12 + bodyBytes.length
    while ((total & 3) != 0) { out.write(0); total += 1 }
    writeLe32(out, crc32(data0, 0, data0.length)) // block check: the UNFILTERED bytes
    val unpadded = 12L + bodyBytes.length + 4 // header + data (unpadded) + check
    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0)
    def iVarint(v0: Long): Unit = { var v = v0; while (v >= 0x80) { idx.write(((v & 0x7f) | 0x80).toInt); v >>= 7 }; idx.write(v.toInt) }
    iVarint(1)
    iVarint(unpadded)
    iVarint(data.length.toLong)
    while ((idx.size() & 3) != 0) idx.write(0)
    val idxBytes = idx.toByteArray
    out.write(idxBytes)
    writeLe32(out, crc32(idxBytes, 0, idxBytes.length))
    // footer
    val tail = new Array[Byte](6)
    val backward = (idxBytes.length + 4) / 4 - 1
    tail(0) = (backward & 0xff).toByte; tail(1) = ((backward >> 8) & 0xff).toByte
    tail(2) = ((backward >> 16) & 0xff).toByte; tail(3) = ((backward >> 24) & 0xff).toByte
    tail(4) = 0; tail(5) = 1
    writeLe32(out, crc32(tail, 0, 6))
    out.write(tail, 0, 6)
    out.write(FooterMagic)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // q_xz — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the shard's jsonl splits into
    * four real xz streams ([[encodeRawXz]] — genuine container with
    * CRC32 blocks, index, footer), concatenates with stream padding,
    * then cycles: whole-file [[decode]] byte-equal, the metadata-only
    * [[streamsOf]] walk finds exactly the four boundaries, and a
    * split-ownership sweep at three split sizes reproduces the stream
    * set exactly once. Counts/char sums have closed forms the oracle
    * states; shard sums add. Real-ENCODER conformance is XzSpec's
    * liblzma fixture gate. */
  def xzQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 83}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(utf8)
      val groups = if (lines.isEmpty) Seq(Seq.empty) else lines.grouped(math.max(1, (lines.size + 3) / 4)).toSeq
      // filtered-stream lane (r15 verdict #5): the four streams cycle
      // through BCJ chains — plain, x86, ARM, ARM64 — so every decode
      // exercises the branch-filter undo path, not just plain LZMA2
      val bcjLane = Array(0L, 0x04L, 0x07L, 0x0aL, 0x0bL)
      val file = {
        val o = new java.io.ByteArrayOutputStream()
        groups.zipWithIndex.foreach { case (g, i) =>
          o.write(encodeRawXz(g.mkString("", "\n", "\n").getBytes(utf8), bcjLane(i % 5)))
          if (i % 2 == 1) o.write(new Array[Byte](4))
        }
        o.toByteArray
      }
      require(java.util.Arrays.equals(Xz.decode(file), payload), "xz: whole-file decode drift")
      val streams = streamsOf(file)
      require(streams.length == groups.length, "xz: stream walk count drift")
      for (split <- Seq(file.length.toLong + 5, math.max(64L, file.length.toLong / 3), 111L)) {
        val got = (0L until file.length.toLong by split).flatMap { st =>
          streams.filter { case (o2, _) => o2 >= st && o2 < math.min(st + split, file.length.toLong) }
        }
        require(got == streams, s"xz: split $split ownership not exactly-once")
      }
      Seq(lines.length.toLong, lines.map(_.length.toLong).sum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_lines"), sum($"a".getItem(1)).as("line_chars"))
      .orderBy($"event_type")
  }
}
