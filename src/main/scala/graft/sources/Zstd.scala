package graft.sources

import graft.sources.Bytes.{le16, le32, le32u, le64, writeLe32}

/** Pure-JVM Zstandard (RFC 8878) — full decoder and a minimal
  * conforming encoder, plus the public SEEKABLE framing
  * (facebook/zstd `contrib/seekable_format`) that makes `.zst`
  * splittable: a skippable footer indexes independent frames, so a
  * Spark scan plans frame ranges from METADATA only and each task
  * decompresses exactly the frames starting in its byte range — the
  * WARC split-scan shape, for the `.jsonl.zst` containers training
  * corpora actually ship in. The JDK has no zstd; this fills that
  * front-door gap.
  *
  * Decoder coverage: raw/RLE/compressed blocks; literals raw, RLE,
  * Huffman-compressed (1- and 4-stream) and treeless (tree reuse);
  * Huffman tree descriptions with DIRECT weights and FSE-COMPRESSED
  * weights (two interleaved states); sequences with predefined, RLE,
  * FSE_Compressed and Repeat table modes; the 3-slot repeat-offset
  * history including the literals_length==0 shift; single-segment and
  * windowed frame headers; xxhash64 content checksum; skippable
  * frames. Dictionaries are supported both flavors, auto-detected
  * like libzstd: RAW-CONTENT (patch-from style) bytes pre-load the
  * match window; TRAINED dictionaries (magic 0xEC30A437) additionally
  * prime the entropy state — huffman + FSE tables for the first
  * block's treeless/Repeat modes — and the rep-offset history, with
  * the frame's Dictionary_ID checked against the dict's. A frame
  * naming a dictionary that was not supplied is a named failure.
  * ZstdSpec pins the decoder against REAL reference-encoder
  * output captured as fixtures (multiple levels, so predefined tables,
  * FSE header conventions and Huffman code assignment are all checked
  * against ground truth, not a mirror of this code).
  *
  * Encoder (the cycle driver, Vorbis/H264 pattern): greedy hash-chain
  * LZ matcher, Huffman literals (1- or 4-stream, direct or
  * FSE-compressed weights), predefined-mode FSE sequence coding,
  * RLE/raw fallbacks, 128 KiB block split, optional checksum. Output
  * is standard zstd.
  */
object Zstd {

  final class ZstdError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new ZstdError(msg)

  // ------------------------------------------------------------------
  // xxhash64 (public algorithm; content checksum = low 32 bits, seed 0)
  // ------------------------------------------------------------------

  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  def xxh64(b: Array[Byte], off: Int, len: Int, seed: Long = 0L): Long = {
    def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)
    def round(acc: Long, in: Long): Long = rotl(acc + in * P2, 31) * P1
    def merge(acc0: Long, v: Long): Long = (acc0 ^ round(0L, v)) * P1 + P4

    var p = off
    val end = off + len
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2; var v3 = seed; var v4 = seed - P1
        while (p + 32 <= end) {
          v1 = round(v1, le64(b, p)); v2 = round(v2, le64(b, p + 8))
          v3 = round(v3, le64(b, p + 16)); v4 = round(v4, le64(b, p + 24))
          p += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        acc = merge(acc, v1); acc = merge(acc, v2); acc = merge(acc, v3); acc = merge(acc, v4)
        acc
      } else seed + P5
    h += len.toLong
    while (p + 8 <= end) { h = rotl(h ^ round(0L, le64(b, p)), 27) * P1 + P4; p += 8 }
    if (p + 4 <= end) { h = rotl(h ^ (le32u(b, p) * P1), 23) * P2 + P3; p += 4 }
    while (p < end) { h = rotl(h ^ ((b(p) & 0xffL) * P5), 11) * P1; p += 1 }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ------------------------------------------------------------------
  // bit readers
  // ------------------------------------------------------------------

  /** FSE/Huffman payload stream: written forward, READ BACKWARD from
    * the final 1 padding bit. read(n) yields the n bits just below the
    * current position (the spec's up-to-front order). */
  private final class BackBits(b: Array[Byte], start: Int, len: Int) {
    private var bitsLeft: Int = {
      if (len <= 0) fail("empty bitstream")
      val last = b(start + len - 1) & 0xff
      if (last == 0) fail("bitstream has no padding bit")
      len * 8 - (Integer.numberOfLeadingZeros(last) - 23)
    }
    def remaining: Int = bitsLeft
    def read(n: Int): Int = {
      if (n == 0) return 0
      if (n > bitsLeft) fail("bitstream exhausted")
      var v = 0
      var i = n - 1
      while (i >= 0) {
        val bit = bitsLeft - n + i
        v = (v << 1) | ((b(start + (bit >>> 3)) >>> (bit & 7)) & 1)
        i -= 1
      }
      bitsLeft -= n
      v
    }
  }

  /** forward little-endian bit reader (FSE table descriptions) */
  private final class FwdBits(b: Array[Byte], start: Int) {
    private var pos = 0
    def bitPosition: Int = pos
    def read(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bit = pos + i
        v |= ((b(start + (bit >>> 3)) >>> (bit & 7)) & 1) << i
        i += 1
      }
      pos += n
      v
    }
    def rewind(n: Int): Unit = pos -= n
  }

  // ------------------------------------------------------------------
  // FSE
  // ------------------------------------------------------------------

  private[sources] final class FseTable(
      val accuracyLog: Int,
      val symbol: Array[Int],
      val nbBits: Array[Int],
      val baseline: Array[Int]
  )

  /** Parse an FSE table description (normalized counts). Returns the
    * table and the number of BYTES consumed. RFC 8878 §4.1.1: each
    * value is coded in bits or bits-1 depending on a low/high split;
    * value 0 encodes probability -1 ("less than one"). */
  private[sources] def readFseTable(b: Array[Byte], off: Int, maxSymbol: Int, maxAccuracy: Int): (FseTable, Int) = {
    val in = new FwdBits(b, off)
    val al = in.read(4) + 5
    if (al > maxAccuracy) fail(s"FSE accuracy $al > $maxAccuracy")
    val tableSize = 1 << al
    var remaining = tableSize + 1
    val counts = new Array[Int](maxSymbol + 1)
    var s = 0
    while (remaining > 1) {
      if (s > maxSymbol) fail("FSE counts exceed symbol range")
      val bits = 32 - Integer.numberOfLeadingZeros(remaining) // bits for values in [0, remaining]
      val full = in.read(bits)
      val lowMask = (1 << (bits - 1)) - 1
      val threshold = (1 << bits) - 1 - remaining
      val value =
        if ((full & lowMask) < threshold) { in.rewind(1); full & lowMask }
        else if (full > lowMask) full - threshold
        else full
      val count = value - 1
      counts(s) = count
      remaining -= (if (count < 0) 1 else count)
      s += 1
      if (count == 0) {
        var rep = in.read(2)
        while (rep == 3) {
          if (s + 3 > maxSymbol + 1) fail("FSE zero-repeat overruns alphabet")
          s += 3
          rep = in.read(2)
        }
        s += rep
        if (s > maxSymbol + 1) fail("FSE zero-repeat overruns alphabet")
      }
    }
    if (remaining != 1) fail("FSE counts do not sum to table size")
    (buildFseTable(al, counts), (in.bitPosition + 7) >>> 3)
  }

  private[sources] def buildFseTable(al: Int, counts: Array[Int]): FseTable = {
    val tableSize = 1 << al
    val symbol = new Array[Int](tableSize)
    // less-than-one symbols occupy the table's end, one cell each
    var high = tableSize - 1
    var s = 0
    while (s < counts.length) {
      if (counts(s) == -1) { symbol(high) = s; high -= 1 }
      s += 1
    }
    val mask = tableSize - 1
    val step = (tableSize >>> 1) + (tableSize >>> 3) + 3
    var pos = 0
    s = 0
    while (s < counts.length) {
      var c = counts(s)
      while (c > 0) {
        symbol(pos) = s
        pos = (pos + step) & mask
        while (pos > high) pos = (pos + step) & mask
        c -= 1
      }
      s += 1
    }
    if (pos != 0) fail("FSE spread did not return to zero")
    val nbBits = new Array[Int](tableSize)
    val baseline = new Array[Int](tableSize)
    val next = counts.map(c => math.abs(c))
    var i = 0
    while (i < tableSize) {
      val sym = symbol(i)
      val x = next(sym); next(sym) += 1
      val nb = al - (31 - Integer.numberOfLeadingZeros(x))
      nbBits(i) = nb
      baseline(i) = (x << nb) - tableSize
      i += 1
    }
    new FseTable(al, symbol, nbBits, baseline)
  }

  private def rleFseTable(sym: Int): FseTable = new FseTable(0, Array(sym), Array(0), Array(0))

  // ------------------------------------------------------------------
  // Huffman
  // ------------------------------------------------------------------

  private[sources] final class HuffTable(val maxBits: Int, val symbol: Array[Int], val length: Array[Int])

  /** canonical decode table from weights: rank 1 = longest code;
    * within a weight, symbols ascend; lookup by maxBits-bit prefix */
  private[sources] def buildHuffTable(weights: Array[Int]): HuffTable = {
    var total = 0L
    weights.foreach(w => if (w > 0) total += 1L << (w - 1))
    if (total == 0 || java.lang.Long.bitCount(total) != 1) fail("huffman weights must sum to a power of two")
    val maxBits = java.lang.Long.numberOfTrailingZeros(total).toInt
    if (maxBits < 1 || maxBits > 11) fail(s"huffman maxBits $maxBits out of range")
    val size = 1 << maxBits
    val symbol = new Array[Int](size)
    val length = new Array[Int](size)
    var pos = 0
    var w = 1
    while (w <= maxBits) {
      var s = 0
      while (s < weights.length) {
        if (weights(s) == w) {
          val bits = maxBits + 1 - w
          val n = 1 << (maxBits - bits)
          var j = 0
          while (j < n) { symbol(pos) = s; length(pos) = bits; pos += 1; j += 1 }
        }
        s += 1
      }
      w += 1
    }
    if (pos != size) fail(s"huffman weights inconsistent: filled $pos of $size")
    new HuffTable(maxBits, symbol, length)
  }

  /** Huffman tree description → (weights INCLUDING the implied last
    * symbol, bytes consumed) */
  private[sources] def readHuffWeights(b: Array[Byte], off: Int): (Array[Int], Int) = {
    val header = b(off) & 0xff
    val (raw, consumed) =
      if (header >= 128) {
        val n = header - 127
        val w = new Array[Int](n)
        var i = 0
        while (i < n) {
          val by = b(off + 1 + (i >> 1)) & 0xff
          w(i) = if ((i & 1) == 0) by >>> 4 else by & 0xf
          i += 1
        }
        (w, 1 + ((n + 1) >> 1))
      } else {
        // FSE-compressed weights: one table, two interleaved states
        val csize = header
        val (tbl, tblBytes) = readFseTable(b, off + 1, 255, 6)
        if (tblBytes >= csize) fail("huffman weight stream empty")
        val stream = new BackBits(b, off + 1 + tblBytes, csize - tblBytes)
        var st0 = stream.read(tbl.accuracyLog)
        var st1 = stream.read(tbl.accuracyLog)
        val buf = scala.collection.mutable.ArrayBuffer[Int]()
        var done = false
        while (!done) {
          buf += tbl.symbol(st0)
          if (tbl.nbBits(st0) > stream.remaining) {
            buf += tbl.symbol(st1)
            done = true
          } else {
            st0 = tbl.baseline(st0) + stream.read(tbl.nbBits(st0))
            buf += tbl.symbol(st1)
            if (tbl.nbBits(st1) > stream.remaining) {
              buf += tbl.symbol(st0)
              done = true
            } else st1 = tbl.baseline(st1) + stream.read(tbl.nbBits(st1))
          }
        }
        (buf.toArray, 1 + csize)
      }
    var total = 0L
    raw.foreach { w => if (w > 11) fail("huffman weight > 11"); if (w > 0) total += 1L << (w - 1) }
    if (total == 0) fail("huffman: zero total weight")
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(total)
    val restVal = (1L << maxBits) - total
    if (restVal <= 0 || java.lang.Long.bitCount(restVal) != 1) fail("huffman: implied weight impossible")
    val lastW = java.lang.Long.numberOfTrailingZeros(restVal).toInt + 1
    (raw :+ lastW, consumed)
  }

  // ------------------------------------------------------------------
  // predefined sequence tables + code baselines (RFC 8878)
  // ------------------------------------------------------------------

  private val LlDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MlDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OfDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)

  private def checkDefault(counts: Array[Int], al: Int, name: String): Unit = {
    val sum = counts.map(c => if (c < 0) 1 else c).sum
    require(sum == (1 << al), s"$name predefined distribution must sum to 2^$al, got $sum")
  }
  checkDefault(LlDefault, 6, "LL")
  checkDefault(MlDefault, 6, "ML")
  checkDefault(OfDefault, 5, "OF")

  private[sources] lazy val LlDefaultTable = buildFseTable(6, LlDefault)
  private[sources] lazy val MlDefaultTable = buildFseTable(6, MlDefault)
  private[sources] lazy val OfDefaultTable = buildFseTable(5, OfDefault)

  private[sources] val LlBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536)
  private[sources] val LlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private[sources] val MlBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
    19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 37, 39, 41,
    43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)
  private[sources] val MlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1,
    2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // ------------------------------------------------------------------
  // frame / block decode
  // ------------------------------------------------------------------

  val Magic = 0xFD2FB528
  private val SkippableMagicBase = 0x184D2A50

  final case class Decoded(bytes: Array[Byte], consumed: Int)

  /** growable decode buffer with random access (match copies) */
  private final class Out(hint: Int) {
    var buf = new Array[Byte](math.max(hint, 64))
    var len = 0
    def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length * 2
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def add(v: Byte): Unit = { ensure(1); buf(len) = v; len += 1 }
    def addAll(src: Array[Byte], off: Int, n: Int): Unit = { ensure(n); System.arraycopy(src, off, buf, len, n); len += n }
    def fill(v: Byte, n: Int): Unit = { ensure(n); java.util.Arrays.fill(buf, len, len + n, v); len += n }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  private final class FrameState {
    var huff: HuffTable = null
    var ll: FseTable = null
    var ml: FseTable = null
    var of: FseTable = null
    val rep = Array(1, 4, 8)
  }

  /** A parsed TRAINED dictionary (RFC 8878 §5 / zstd
    * dictionary_format.md): entropy tables prime the first block's
    * treeless-literal and FSE-repeat paths, the rep offsets seed the
    * history, and the content pre-loads the match window. */
  final case class TrainedDict(
      id: Long,
      huff: HuffTable,
      of: FseTable,
      ml: FseTable,
      ll: FseTable,
      rep: Array[Int],
      content: Array[Byte])

  private val DictMagic = 0xEC30A437

  /** Parse dictionary bytes: `Some(trained)` when the trained-dict
    * magic is present, `None` for a raw-content dictionary (whose
    * bytes are used verbatim as the window prefix — the libzstd
    * auto-detection convention). */
  def parseDict(d: Array[Byte]): Option[TrainedDict] = {
    if (d.length < 8 || le32(d, 0) != DictMagic) return None
    val id = le32u(d, 4)
    var p = 8
    val (weights, consumed) = readHuffWeights(d, p)
    p += consumed
    val huff = buildHuffTable(weights)
    val (ofT, c1) = readFseTable(d, p, 31, 8); p += c1
    val (mlT, c2) = readFseTable(d, p, 52, 9); p += c2
    val (llT, c3) = readFseTable(d, p, 35, 9); p += c3
    val rep = Array(le32(d, p), le32(d, p + 4), le32(d, p + 8))
    p += 12
    val content = java.util.Arrays.copyOfRange(d, p, d.length)
    rep.foreach(r0 => if (r0 <= 0 || r0 > content.length + (1 << 20)) fail(s"dictionary rep offset $r0 out of range"))
    Some(TrainedDict(id, huff, ofT, mlT, llT, rep, content))
  }

  /** Decode ONE frame starting at `off` (leading skippable frames are
    * skipped). Returns payload + total bytes consumed from `off`.
    * Untrusted-bytes contract: malformed input of ANY shape raises
    * [[ZstdError]] — explicit validation covers the structured cases
    * and a uniform conversion catches residual out-of-range indexing,
    * so callers (e.g. the `jsonlLines` tail-grow retry) need only one
    * catch. */
  def decodeFrame(b: Array[Byte], off: Int): Decoded = decodeFrame(b, off, null)

  /** Like [[decodeFrame]] with a dictionary. Raw-content dictionaries
    * (RFC 8878 patch-from style, negotiated out-of-band) pre-load the
    * match window, so sequences may copy from them as if they preceded
    * the frame. TRAINED dictionaries (RFC 8878 §5: magic 0xEC30A437,
    * Dictionary_ID, huffman + 3 FSE entropy tables, rep-offset seeding)
    * are auto-detected by [[parseDict]] — their entropy tables prime the
    * first block's treeless/Repeat modes exactly like libzstd. */
  def decodeFrame(b: Array[Byte], off: Int, dict: Array[Byte]): Decoded =
    try decodeFrameImpl(b, off, dict)
    catch {
      case e: ZstdError => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("malformed zstd input (out-of-range field)")
    }

  private def decodeFrameImpl(b: Array[Byte], off: Int, dict: Array[Byte]): Decoded = {
    val trained: Option[TrainedDict] = if (dict == null) None else parseDict(dict)
    val windowPrefix: Array[Byte] =
      if (dict == null) null else trained.map(_.content).getOrElse(dict)
    var p = off
    while (p + 8 <= b.length && (le32(b, p) & 0xfffffff0) == SkippableMagicBase) {
      // size is UNSIGNED; a signed read of crafted input walks p
      // backwards (infinite loop) or misparses legal sizes >= 2^31
      val next = p + 8L + le32u(b, p + 4)
      if (next > b.length) fail("skippable frame size out of range")
      p = next.toInt
    }
    if (p + 4 > b.length || le32(b, p) != Magic) fail("bad zstd magic")
    p += 4
    val fhd = b(p) & 0xff; p += 1
    if ((fhd & 0x08) != 0) fail("reserved FHD bit set")
    val fcsFlag = fhd >>> 6
    val singleSegment = (fhd & 0x20) != 0
    val hasChecksum = (fhd & 0x04) != 0
    val dictFlag = fhd & 0x03
    if (!singleSegment) p += 1 // window descriptor: sizing handled by growth
    val dictBytes = Array(0, 1, 2, 4)(dictFlag)
    if (dictBytes > 0) {
      var id = 0L
      var i = 0
      while (i < dictBytes) { id |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      if (id != 0L && !trained.exists(_.id == id))
        fail(s"frame needs trained dictionary id $id (none or a different one supplied)")
      p += dictBytes
    }
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    var fcs = -1L
    if (fcsBytes > 0) {
      fcs = 0L
      var i = 0
      while (i < fcsBytes) { fcs |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      if (fcsBytes == 2) fcs += 256
      p += fcsBytes
    }
    val dictLen = if (windowPrefix == null) 0 else windowPrefix.length
    val out = new Out(dictLen + (if (fcs >= 0 && fcs < (1L << 30)) fcs.toInt else 1 << 16))
    if (dictLen > 0) out.addAll(windowPrefix, 0, dictLen) // window prefix
    val st = new FrameState
    trained.foreach { t =>
      // entropy priming: the first block may use treeless literals and
      // Repeat-mode FSE tables straight from the dictionary
      st.huff = t.huff
      st.of = t.of; st.ml = t.ml; st.ll = t.ll
      st.rep(0) = t.rep(0); st.rep(1) = t.rep(1); st.rep(2) = t.rep(2)
    }
    var last = false
    while (!last) {
      if (p + 3 > b.length) fail("truncated block header")
      val bh = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)
      p += 3
      last = (bh & 1) != 0
      val btype = (bh >>> 1) & 3
      val bsize = bh >>> 3
      btype match {
        case 0 =>
          if (p + bsize > b.length) fail("raw block past input end")
          out.addAll(b, p, bsize); p += bsize
        case 1 =>
          if (p >= b.length) fail("RLE block past input end")
          out.fill(b(p), bsize); p += 1
        case 2 =>
          if (p + bsize > b.length) fail("compressed block past input end")
          decodeCompressedBlock(b, p, bsize, out, st); p += bsize
        case _ => fail("reserved block type")
      }
    }
    if (fcs >= 0 && out.len - dictLen != fcs)
      fail(s"frame content size mismatch: ${out.len - dictLen} vs $fcs")
    val bytes = if (dictLen == 0) out.toArray
      else java.util.Arrays.copyOfRange(out.buf, dictLen, out.len)
    if (hasChecksum) {
      val want = le32(b, p); p += 4
      val got = (xxh64(bytes, 0, bytes.length) & 0xffffffffL).toInt
      if (want != got) fail("content checksum mismatch")
    }
    Decoded(bytes, p - off)
  }

  /** Decode every frame in `b` and concatenate payloads. The optional
    * raw-content dictionary applies to EACH frame (patch-from model). */
  def decode(b: Array[Byte], dict: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < b.length) {
      if (p + 8 <= b.length && (le32(b, p) & 0xfffffff0) == SkippableMagicBase) {
        val next = p + 8L + le32u(b, p + 4) // unsigned size
        if (next > b.length) fail("skippable frame size out of range")
        p = next.toInt
      } else {
        val d = decodeFrame(b, p, dict)
        out.write(d.bytes)
        p += d.consumed
      }
    }
    out.toByteArray
  }

  private def decodeCompressedBlock(b: Array[Byte], off: Int, size: Int, out: Out, st: FrameState): Unit = {
    var p = off
    val end = off + size
    // ---- literals
    val lh0 = b(p) & 0xff
    val litType = lh0 & 3
    val sizeFormat = (lh0 >>> 2) & 3
    var regen = 0
    var cmpSize = 0
    var streams4 = false
    if (litType <= 1) {
      sizeFormat match {
        case 0 | 2 => regen = lh0 >>> 3; p += 1
        case 1     => regen = (lh0 >>> 4) | ((b(p + 1) & 0xff) << 4); p += 2
        case _     => regen = (lh0 >>> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 0xff) << 12); p += 3
      }
    } else {
      sizeFormat match {
        case 0 | 1 =>
          streams4 = sizeFormat == 1
          regen = (lh0 >>> 4) | ((b(p + 1) & 0x3f) << 4)
          cmpSize = ((b(p + 1) & 0xff) >>> 6) | ((b(p + 2) & 0xff) << 2)
          p += 3
        case 2 =>
          streams4 = true
          regen = (lh0 >>> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 3) << 12)
          cmpSize = ((b(p + 2) & 0xff) >>> 2) | ((b(p + 3) & 0xff) << 6)
          p += 4
        case _ =>
          streams4 = true
          regen = (lh0 >>> 4) | ((b(p + 1) & 0xff) << 4) | ((b(p + 2) & 0x3f) << 12)
          cmpSize = ((b(p + 2) & 0xff) >>> 6) | ((b(p + 3) & 0xff) << 2) | ((b(p + 4) & 0xff) << 10)
          p += 5
      }
    }
    if (regen < 0 || regen > (1 << 20)) fail(s"literal regenerated size out of range: $regen")
    val literals = new Array[Byte](regen)
    litType match {
      case 0 =>
        if (p + regen > end) fail("raw literals past block end")
        System.arraycopy(b, p, literals, 0, regen); p += regen
      case 1 =>
        if (p >= end) fail("RLE literals past block end")
        java.util.Arrays.fill(literals, b(p)); p += 1
      case t =>
        val litEnd = p + cmpSize
        if (cmpSize < 0 || litEnd > end) fail("compressed literals past block end")
        var hp = p
        val tbl =
          if (t == 2) {
            val (weights, consumed) = readHuffWeights(b, hp)
            hp += consumed
            val built = buildHuffTable(weights)
            st.huff = built
            built
          } else {
            if (st.huff == null) fail("treeless literals with no previous tree")
            st.huff
          }
        if (!streams4) huffDecode(b, hp, litEnd - hp, tbl, literals, 0, regen)
        else {
          // RFC 8878 §3.1.1.3.1.6: the first three streams each carry
          // ceil(regen/4) literals and the fourth the remainder, so
          // regen < 4 would make the fourth stream's count negative —
          // malformed, not merely empty
          if (regen < 4) fail("4-stream literals need >= 4 regenerated bytes")
          if (hp + 6 > litEnd) fail("4-stream jump table past literals section")
          val s1 = le16(b, hp)
          val s2 = le16(b, hp + 2)
          val s3 = le16(b, hp + 4)
          hp += 6
          val part = (regen + 3) >>> 2
          val last = litEnd - hp - s1 - s2 - s3
          if (last <= 0 || hp + s1 + s2 + s3 > litEnd) fail("4-stream jump table inconsistent")
          var o = 0
          var sp = hp
          val lens = Array(s1, s2, s3, last)
          var i = 0
          while (i < 4) {
            val n = if (i == 3) regen - 3 * part else part
            huffDecode(b, sp, lens(i), tbl, literals, o, n)
            sp += lens(i); o += n
            i += 1
          }
        }
        p = litEnd
    }
    // ---- sequences
    val nb0 = b(p) & 0xff; p += 1
    var nSeq = 0
    if (nb0 < 128) nSeq = nb0
    else if (nb0 < 255) { nSeq = ((nb0 - 128) << 8) | (b(p) & 0xff); p += 1 }
    else { nSeq = le16(b, p) + 0x7f00; p += 2 }
    if (nSeq == 0) {
      out.addAll(literals, 0, literals.length)
      return
    }
    val modes = b(p) & 0xff; p += 1
    if ((modes & 3) != 0) fail("reserved sequence-mode bits")
    def tableFor(mode: Int, defTbl: => FseTable, prev: FseTable, maxSym: Int, maxAl: Int, name: String): FseTable =
      mode match {
        case 0 => defTbl
        case 1 => val t = rleFseTable(b(p) & 0xff); p += 1; t
        case 2 => val (t, consumed) = readFseTable(b, p, maxSym, maxAl); p += consumed; t
        case _ => if (prev == null) fail(s"$name repeat mode with no previous table") else prev
      }
    val llT = tableFor((modes >>> 6) & 3, LlDefaultTable, st.ll, 35, 9, "LL")
    val ofT = tableFor((modes >>> 4) & 3, OfDefaultTable, st.of, 31, 8, "OF")
    val mlT = tableFor((modes >>> 2) & 3, MlDefaultTable, st.ml, 52, 9, "ML")
    st.ll = llT; st.of = ofT; st.ml = mlT
    val bits = new BackBits(b, p, end - p)
    var llState = bits.read(llT.accuracyLog)
    var ofState = bits.read(ofT.accuracyLog)
    var mlState = bits.read(mlT.accuracyLog)
    var litPos = 0
    val rep = st.rep
    var seq = 0
    while (seq < nSeq) {
      val ofCode = ofT.symbol(ofState)
      if (ofCode > 31) fail("offset code out of range")
      val ofValue = (1L << ofCode) + (if (ofCode > 0) bits.read(ofCode).toLong & ((1L << ofCode) - 1) else 0L)
      val mlCode = mlT.symbol(mlState)
      if (mlCode > 52) fail("match-length code out of range")
      val ml = MlBase(mlCode) + (if (MlBits(mlCode) > 0) bits.read(MlBits(mlCode)) else 0)
      val llCode = llT.symbol(llState)
      if (llCode > 35) fail("literal-length code out of range")
      val ll = LlBase(llCode) + (if (LlBits(llCode) > 0) bits.read(LlBits(llCode)) else 0)
      // repeat offsets (RFC 8878 §3.1.1.5)
      var offset = 0
      if (ofValue > 3) {
        offset = (ofValue - 3).toInt
        rep(2) = rep(1); rep(1) = rep(0); rep(0) = offset
      } else {
        val idx = if (ll == 0) ofValue.toInt + 1 else ofValue.toInt
        idx match {
          case 1 => offset = rep(0)
          case 2 => offset = rep(1); rep(1) = rep(0); rep(0) = offset
          case 3 => offset = rep(2); rep(2) = rep(1); rep(1) = rep(0); rep(0) = offset
          case _ =>
            offset = rep(0) - 1
            if (offset <= 0) fail("repeat offset underflow")
            rep(2) = rep(1); rep(1) = rep(0); rep(0) = offset
        }
      }
      if (litPos + ll > literals.length) fail("literal run past literals buffer")
      out.addAll(literals, litPos, ll)
      litPos += ll
      if (offset > out.len) fail(s"match offset $offset beyond history ${out.len}")
      var i = 0
      while (i < ml) { out.add(out.buf(out.len - offset)); i += 1 }
      seq += 1
      if (seq < nSeq) {
        llState = llT.baseline(llState) + (if (llT.nbBits(llState) > 0) bits.read(llT.nbBits(llState)) else 0)
        mlState = mlT.baseline(mlState) + (if (mlT.nbBits(mlState) > 0) bits.read(mlT.nbBits(mlState)) else 0)
        ofState = ofT.baseline(ofState) + (if (ofT.nbBits(ofState) > 0) bits.read(ofT.nbBits(ofState)) else 0)
      }
    }
    out.addAll(literals, litPos, literals.length - litPos)
  }

  /** Huffman stream decode: big local bit cache, MSB-first. The final
    * symbols may straddle the stream end; per spec the stream is sized
    * so the LAST symbol ends exactly at the padding bit. */
  private def huffDecode(
      b: Array[Byte], off: Int, len: Int, tbl: HuffTable, out: Array[Byte], outOff: Int, outLen: Int): Unit = {
    val s = new BackBits(b, off, len)
    var acc = 0L
    var accBits = 0
    var produced = 0
    while (produced < outLen) {
      while (accBits < tbl.maxBits && s.remaining > 0) {
        val take = math.min(16, s.remaining)
        acc = ((acc << take) | s.read(take).toLong) & 0xffffffffffffL
        accBits += take
      }
      val idx =
        if (accBits >= tbl.maxBits) ((acc >>> (accBits - tbl.maxBits)) & ((1 << tbl.maxBits) - 1)).toInt
        else ((acc << (tbl.maxBits - accBits)) & ((1 << tbl.maxBits) - 1)).toInt
      val bitsUsed = tbl.length(idx)
      if (bitsUsed > accBits) {
        if (s.remaining > 0) fail("huffman refill invariant broken")
        if (accBits == 0) fail("huffman stream exhausted early")
        accBits = 0 // final symbol consumed the zero-padded tail
      } else accBits -= bitsUsed
      out(outOff + produced) = tbl.symbol(idx).toByte
      produced += 1
    }
    if (accBits > 0 || s.remaining > 0) {
      // surplus bits are a stream-construction error — the reference
      // encoder never produces them, and tolerating them would hide
      // desync; reject loudly.
      if (accBits + s.remaining >= 8) fail(s"huffman stream has ${accBits + s.remaining} surplus bits")
    }
  }

  // ------------------------------------------------------------------
  // encoder
  // ------------------------------------------------------------------

  /** Encoder knobs — every combination produces standard zstd; the
    * spec cycles them to drive each decode path. */
  final case class EncOpts(
      checksum: Boolean = true,
      fourStreams: Boolean = false,
      fseWeights: Boolean = false,
      blockSize: Int = 128 << 10
  )

  /** Bits the DECODER will read first are pushed first; pack() lays
    * tokens out so a BackBits reader returns them in push order, and
    * appends the 1 padding bit. */
  private final class BackWriter {
    private val tokens = scala.collection.mutable.ArrayBuffer[(Int, Int)]() // (value, nbits)
    def push(value: Int, nbits: Int): Unit = if (nbits > 0) tokens += ((value, nbits))
    def pack(): Array[Byte] = {
      var total = 1 // padding bit
      tokens.foreach(total += _._2)
      val out = new Array[Byte]((total + 7) >>> 3)
      var pos = 0 // next free LOW bit; tokens fill from the top down
      // write tokens in REVERSE push order starting at bit 0
      var i = tokens.length - 1
      while (i >= 0) {
        val (v, n) = tokens(i)
        var j = 0
        while (j < n) {
          if (((v >>> j) & 1) != 0) out((pos + j) >>> 3) = (out((pos + j) >>> 3) | (1 << ((pos + j) & 7))).toByte
          j += 1
        }
        pos += n
        i -= 1
      }
      out(pos >>> 3) = (out(pos >>> 3) | (1 << (pos & 7))).toByte // padding bit
      out
    }
  }

  /** per-symbol encode view of an FSE decode table: cells listed in
    * ascending state order for each symbol (their baseline intervals
    * partition the state space) */
  private final class FseEncoder(tbl: FseTable) {
    val cellsOf: Map[Int, Array[Int]] = {
      val m = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < tbl.symbol.length) {
        m.getOrElseUpdate(tbl.symbol(i), scala.collection.mutable.ArrayBuffer[Int]()) += i
        i += 1
      }
      m.map { case (k, v) => k -> v.toArray }.toMap
    }
    def accuracyLog: Int = tbl.accuracyLog
    /** the unique cell of `sym` whose transition interval contains `nextState` */
    def cellFor(sym: Int, nextState: Int): (Int, Int, Int) = { // (cell, bitsValue, nbBits)
      val cells = cellsOf.getOrElse(sym, fail(s"FSE encode: symbol $sym has no cells"))
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        val lo = tbl.baseline(c)
        val hi = lo + (1 << tbl.nbBits(c))
        if (nextState >= lo && nextState < hi) return (c, nextState - lo, tbl.nbBits(c))
        i += 1
      }
      fail(s"FSE encode: no cell of $sym reaches state $nextState")
    }
    def anyCell(sym: Int): Int = cellsOf(sym)(0)
  }

  private def hash4(b: Array[Byte], i: Int): Int = {
    val v = le32(b, i)
    (v * -1640531535) >>> 17 // fibonacci hash to 15 bits
  }

  private final case class Seq3(ll: Int, offset: Int, ml: Int)

  /** greedy single-slot hash-table LZ parse over one block */
  private def lzParse(data: Array[Byte], dataOff: Int, dataLen: Int,
      prefix: Array[Byte] = Array.emptyByteArray): (Array[Seq3], Array[Byte]) = {
    // with a raw-content dictionary the matchable space is dict ++
    // block: positions inside the prefix only seed the hash table;
    // emission starts at the block. Offsets i-cand are then exactly
    // the decoder's window distances (the dict directly precedes the
    // frame output).
    val pl = prefix.length
    val len = pl + dataLen
    val b = if (pl == 0) data else {
      val t = new Array[Byte](len)
      System.arraycopy(prefix, 0, t, 0, pl)
      System.arraycopy(data, dataOff, t, pl, dataLen)
      t
    }
    val off = if (pl == 0) dataOff else 0
    val table = new Array[Int](1 << 15)
    java.util.Arrays.fill(table, -1)
    val seqs = scala.collection.mutable.ArrayBuffer[Seq3]()
    val lits = new java.io.ByteArrayOutputStream()
    var i = 0
    var litStart = pl
    while (i + 4 <= len && i < pl) { table(hash4(b, off + i)) = i; i += 1 }
    while (i + 4 <= len) {
      val h = hash4(b, off + i)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 &&
        b(off + cand) == b(off + i) && b(off + cand + 1) == b(off + i + 1) &&
        b(off + cand + 2) == b(off + i + 2) && b(off + cand + 3) == b(off + i + 3)) {
        var ml = 4
        while (i + ml < len && b(off + cand + ml) == b(off + i + ml)) ml += 1
        lits.write(b, off + litStart, i - litStart)
        seqs += Seq3(i - litStart, i - cand, ml)
        i += ml
        litStart = i
      } else i += 1
    }
    lits.write(b, off + litStart, len - litStart)
    (seqs.toArray, lits.toByteArray)
  }

  private def codeFor(v: Int, base: Array[Int]): Int = {
    var c = base.length - 1
    while (base(c) > v) c -= 1
    c
  }

  /** canonical codes in the decoder's layout: (code, bits) per symbol */
  private def huffCodes(weights: Array[Int], maxBits: Int): Array[(Int, Int)] = {
    val codes = new Array[(Int, Int)](256)
    var pos = 0
    var w = 1
    while (w <= maxBits) {
      var s = 0
      while (s < weights.length) {
        if (weights(s) == w) {
          val bits = maxBits + 1 - w
          codes(s) = (pos >>> (maxBits - bits), bits)
          pos += 1 << (maxBits - bits)
        }
        s += 1
      }
      w += 1
    }
    codes
  }

  /** Huffman code lengths (≤ maxDepth) via plain Huffman; None if the
    * optimal tree is deeper (caller falls back to raw literals). */
  private def huffLengths(freq: Array[Int], maxDepth: Int): Option[Array[Int]] = {
    final case class Node(f: Long, sym: Int, l: Node, r: Node)
    val pq = scala.collection.mutable.PriorityQueue.empty[Node](Ordering.by(n => -n.f))
    var nSyms = 0
    var i = 0
    while (i < 256) { if (freq(i) > 0) { pq.enqueue(Node(freq(i), i, null, null)); nSyms += 1 }; i += 1 }
    if (nSyms < 2) return None
    while (pq.size > 1) {
      val a = pq.dequeue(); val b = pq.dequeue()
      pq.enqueue(Node(a.f + b.f, -1, a, b))
    }
    val lengths = new Array[Int](256)
    var deep = false
    def walk(n: Node, d: Int): Unit =
      if (n.sym >= 0) { lengths(n.sym) = math.max(d, 1); if (d > maxDepth) deep = true }
      else { walk(n.l, d + 1); walk(n.r, d + 1) }
    walk(pq.dequeue(), 0)
    if (deep) None else Some(lengths)
  }

  /** normalize counts to sum 2^tableLog, present symbols ≥ 1, every
    * count ≤ 2^(tableLog-1) so every decode cell reads ≥ 1 bit (the
    * interleaved-weight stream termination relies on it) */
  private def normalizeCounts(freq: Array[Int], tableLog: Int): Array[Int] = {
    val total = freq.map(_.toLong).sum
    val target = 1 << tableLog
    val cap = 1 << (tableLog - 1)
    val out = new Array[Int](freq.length)
    var assigned = 0
    var i = 0
    while (i < freq.length) {
      if (freq(i) > 0) {
        out(i) = math.max(1, math.min(cap, ((freq(i).toLong * target) / total).toInt))
        assigned += out(i)
      }
      i += 1
    }
    // largest-remainder fixup toward the exact target, respecting the cap
    while (assigned != target) {
      val dir = if (assigned < target) 1 else -1
      var best = -1
      var bestScore = Long.MinValue
      i = 0
      while (i < freq.length) {
        if (out(i) > 0) {
          val can = if (dir > 0) out(i) < cap else out(i) > 1
          if (can) {
            val score = if (dir > 0) freq(i).toLong * target - out(i).toLong * total
            else out(i).toLong * total - freq(i).toLong * target
            if (score > bestScore) { bestScore = score; best = i }
          }
        }
        i += 1
      }
      if (best < 0) fail(s"FSE normalization stuck: freq=${freq.toList} out=${out.toList} target=$target")
      out(best) += dir
      assigned += dir
    }
    out
  }

  /** FSE table-description bytes for normalized counts (RFC 8878 §4.1.1) */
  private def writeFseHeader(counts: Array[Int], tableLog: Int): Array[Byte] = {
    val bits = scala.collection.mutable.ArrayBuffer[(Int, Int)]() // (value, nbits) forward LE
    bits += ((tableLog - 5, 4))
    var remaining = (1 << tableLog) + 1
    var s = 0
    var maxSym = counts.length - 1
    while (maxSym > 0 && counts(maxSym) == 0) maxSym -= 1
    while (remaining > 1 && s <= maxSym) {
      val nb = 32 - Integer.numberOfLeadingZeros(remaining)
      val lowMask = (1 << (nb - 1)) - 1
      val threshold = (1 << nb) - 1 - remaining
      val count = counts(s)
      val value = count + 1 // -1 → 0
      if (value < threshold) bits += ((value, nb - 1))
      else if (value <= lowMask) {
        // values in [threshold, lowMask] use nb bits with a 0 top bit
        bits += ((value, nb))
      } else bits += ((value + threshold, nb))
      remaining -= (if (count < 0) 1 else count)
      s += 1
      if (count == 0 && remaining > 1) {
        // zero-repeat flags: count following zeros in [0,2], 3 continues
        var zeros = 0
        while (s + zeros <= maxSym && counts(s + zeros) == 0) zeros += 1
        var left = zeros
        while (left >= 3) { bits += ((3, 2)); left -= 3 }
        bits += ((left, 2))
        s += zeros
      }
    }
    // pack forward little-endian
    var totalBits = 0
    bits.foreach(totalBits += _._2)
    val out = new Array[Byte]((totalBits + 7) >>> 3)
    var pos = 0
    bits.foreach { case (v, n) =>
      var j = 0
      while (j < n) {
        if (((v >>> j) & 1) != 0) out((pos + j) >>> 3) = (out((pos + j) >>> 3) | (1 << ((pos + j) & 7))).toByte
        j += 1
      }
      pos += n
    }
    out
  }

  /** Huffman tree description: direct 4-bit weights, or FSE-compressed
    * when requested and applicable. `weights` includes the last symbol
    * (implied on the wire). */
  /** Huffman weight description, or null when the weights cannot be
    * described (caller falls back to raw literals). The DIRECT form
    * (headerByte 128..255 = 127+N) caps at 128 weights — any literal
    * alphabet whose highest symbol exceeds 128 (e.g. UTF-8 text with
    * bytes >= 0x80) MUST take the FSE form regardless of `fse`. */
  private def writeHuffDescription(weights: Array[Int], fse: Boolean): Array[Byte] = {
    var last = weights.length - 1
    while (last > 0 && weights(last) == 0) last -= 1
    val towrite = weights.slice(0, last) // implied final weight
    val directOk = towrite.length <= 128
    val distinct = towrite.distinct.count(_ => true)
    if ((fse || !directOk) && towrite.length >= 4 && distinct >= 2) {
      val freq = new Array[Int](16)
      towrite.foreach(w => freq(w) += 1)
      val counts = normalizeCounts(freq, 6)
      val header = writeFseHeader(counts, 6)
      val tbl = buildFseTable(6, counts)
      val enc = new FseEncoder(tbl)
      // interleaved two-state encode: st0 emits even indices, st1 odd;
      // updates exist for emissions 0..m-3 in emission order
      val m = towrite.length
      val even = (0 until m by 2).map(towrite(_)).toArray
      val odd = (1 until m by 2).map(towrite(_)).toArray
      // chain states backward per parity
      val evenStates = new Array[Int](even.length)
      val oddStates = new Array[Int](odd.length)
      val evenBits = new Array[(Int, Int)](math.max(0, even.length - 1))
      val oddBits = new Array[(Int, Int)](math.max(0, odd.length - 1))
      if (even.nonEmpty) {
        evenStates(even.length - 1) = enc.anyCell(even(even.length - 1))
        var i = even.length - 2
        while (i >= 0) {
          val (cell, bv, nb) = enc.cellFor(even(i), evenStates(i + 1))
          evenStates(i) = cell
          evenBits(i) = (bv, nb)
          i -= 1
        }
      }
      if (odd.nonEmpty) {
        oddStates(odd.length - 1) = enc.anyCell(odd(odd.length - 1))
        var i = odd.length - 2
        while (i >= 0) {
          val (cell, bv, nb) = enc.cellFor(odd(i), oddStates(i + 1))
          oddStates(i) = cell
          oddBits(i) = (bv, nb)
          i -= 1
        }
      }
      val w = new BackWriter
      w.push(evenStates(0), 6)
      w.push(if (odd.nonEmpty) oddStates(0) else 0, 6)
      // updates in emission order: after emission i (i ≤ m-3), the
      // emitting state's transition bits
      var i = 0
      while (i <= m - 3) {
        val t = if (i % 2 == 0) evenBits(i / 2) else oddBits(i / 2)
        w.push(t._1, t._2)
        i += 1
      }
      val payload = w.pack()
      val body = header ++ payload
      if (body.length < 128 && (!directOk || body.length < 1 + ((towrite.length + 1) >> 1)))
        return Array(body.length.toByte) ++ body
      // fall through to direct if FSE did not help
    }
    if (!directOk) return null // caller emits raw literals instead
    val out = new Array[Byte](1 + ((towrite.length + 1) >> 1))
    out(0) = (127 + towrite.length).toByte
    var i = 0
    while (i < towrite.length) {
      val shift = if ((i & 1) == 0) 4 else 0
      out(1 + (i >> 1)) = (out(1 + (i >> 1)) | (towrite(i) << shift)).toByte
      i += 1
    }
    out
  }

  private def huffEncodeStream(data: Array[Byte], from: Int, until: Int, codes: Array[(Int, Int)]): Array[Byte] = {
    val w = new BackWriter
    var i = from
    while (i < until) {
      val (c, n) = codes(data(i) & 0xff)
      w.push(c, n)
      i += 1
    }
    w.pack()
  }

  /** literals section (header + optionally compressed payload) */
  private def encodeLiterals(lits: Array[Byte], opts: EncOpts): Array[Byte] = {
    val n = lits.length
    def rawSection: Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      if (n < 32) out.write((n << 3) | 0) // size_format 00, type 00
      else if (n < 4096) { out.write(((n & 0xf) << 4) | 4 | 0); out.write(n >>> 4) }
      else { out.write(((n & 0xf) << 4) | 12 | 0); out.write((n >>> 4) & 0xff); out.write(n >>> 12) }
      out.write(lits, 0, n)
      out.toByteArray
    }
    if (n == 0) return rawSection
    var allSame = true
    var i = 1
    while (allSame && i < n) { allSame = lits(i) == lits(0); i += 1 }
    if (allSame && n >= 2) {
      val out = new java.io.ByteArrayOutputStream()
      if (n < 32) out.write((n << 3) | 1)
      else if (n < 4096) { out.write(((n & 0xf) << 4) | 4 | 1); out.write(n >>> 4) }
      else { out.write(((n & 0xf) << 4) | 12 | 1); out.write((n >>> 4) & 0xff); out.write(n >>> 12) }
      out.write(lits(0))
      return out.toByteArray
    }
    if (n < 32) return rawSection // not worth a tree
    val freq = new Array[Int](256)
    lits.foreach(b => freq(b & 0xff) += 1)
    huffLengths(freq, 11) match {
      case None => rawSection
      case Some(lengths) =>
        val maxBits = lengths.max
        val weights = lengths.map(l => if (l == 0) 0 else maxBits + 1 - l)
        val desc = writeHuffDescription(weights, opts.fseWeights)
        if (desc == null) return rawSection // alphabet not describable
        val codes = huffCodes(weights, maxBits)
        val four = opts.fourStreams && n >= 16
        val payload =
          if (!four) desc ++ huffEncodeStream(lits, 0, n, codes)
          else {
            val part = (n + 3) >>> 2
            val s1 = huffEncodeStream(lits, 0, part, codes)
            val s2 = huffEncodeStream(lits, part, 2 * part, codes)
            val s3 = huffEncodeStream(lits, 2 * part, 3 * part, codes)
            val s4 = huffEncodeStream(lits, 3 * part, n, codes)
            val jump = Array(
              (s1.length & 0xff).toByte, ((s1.length >>> 8) & 0xff).toByte,
              (s2.length & 0xff).toByte, ((s2.length >>> 8) & 0xff).toByte,
              (s3.length & 0xff).toByte, ((s3.length >>> 8) & 0xff).toByte)
            desc ++ jump ++ s1 ++ s2 ++ s3 ++ s4
          }
        val cmp = payload.length
        if (cmp >= n) return rawSection
        val out = new java.io.ByteArrayOutputStream()
        val t = 2 // Compressed_Literals_Block
        if (!four && n < 1024 && cmp < 1024) {
          // size_format 00: 10+10 bits
          out.write(((n & 0xf) << 4) | (0 << 2) | t)
          out.write((n >>> 4) | ((cmp & 3) << 6))
          out.write(cmp >>> 2)
        } else if (n < 16384 && cmp < 16384) {
          // size_format 10: 4 streams, 14+14 bits
          if (!four) return rawSection // keep stream count and format consistent
          out.write(((n & 0xf) << 4) | (2 << 2) | t)
          out.write((n >>> 4) & 0xff)
          out.write(((n >>> 12) & 3) | ((cmp & 0x3f) << 2))
          out.write((cmp >>> 6) & 0xff)
        } else {
          // size_format 11: 4 streams, 18+18 bits
          if (!four) return rawSection
          out.write(((n & 0xf) << 4) | (3 << 2) | t)
          out.write((n >>> 4) & 0xff)
          out.write(((n >>> 12) & 0x3f) | ((cmp & 3) << 6))
          out.write((cmp >>> 2) & 0xff)
          out.write((cmp >>> 10) & 0xff)
        }
        out.write(payload, 0, payload.length)
        out.toByteArray
    }
  }

  /** sequences section: predefined tables, backward bitstream */
  private def encodeSequences(seqs: Array[Seq3]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = seqs.length
    if (n < 128) out.write(n)
    else if (n < 0x7f00) { out.write((n >>> 8) + 128); out.write(n & 0xff) }
    else { out.write(255); out.write((n - 0x7f00) & 0xff); out.write(((n - 0x7f00) >>> 8) & 0xff) }
    if (n == 0) return out.toByteArray
    out.write(0) // all predefined
    val llE = new FseEncoder(LlDefaultTable)
    val ofE = new FseEncoder(OfDefaultTable)
    val mlE = new FseEncoder(MlDefaultTable)
    val llCodes = seqs.map(s => codeFor(s.ll, LlBase))
    val mlCodes = seqs.map(s => codeFor(s.ml, MlBase))
    val ofCodes = seqs.map { s =>
      val v = s.offset + 3
      31 - Integer.numberOfLeadingZeros(v)
    }
    // state chains backward (decoder reads init LL, OF, ML then per-seq)
    val llStates = new Array[Int](n)
    val ofStates = new Array[Int](n)
    val mlStates = new Array[Int](n)
    val llUpd = new Array[(Int, Int)](math.max(0, n - 1))
    val ofUpd = new Array[(Int, Int)](math.max(0, n - 1))
    val mlUpd = new Array[(Int, Int)](math.max(0, n - 1))
    llStates(n - 1) = llE.anyCell(llCodes(n - 1))
    ofStates(n - 1) = ofE.anyCell(ofCodes(n - 1))
    mlStates(n - 1) = mlE.anyCell(mlCodes(n - 1))
    var i = n - 2
    while (i >= 0) {
      val (lc, lb, ln) = llE.cellFor(llCodes(i), llStates(i + 1)); llStates(i) = lc; llUpd(i) = (lb, ln)
      val (mc, mb, mn) = mlE.cellFor(mlCodes(i), mlStates(i + 1)); mlStates(i) = mc; mlUpd(i) = (mb, mn)
      val (oc, ob, on) = ofE.cellFor(ofCodes(i), ofStates(i + 1)); ofStates(i) = oc; ofUpd(i) = (ob, on)
      i -= 1
    }
    val w = new BackWriter
    w.push(llStates(0), LlDefaultTable.accuracyLog)
    w.push(ofStates(0), OfDefaultTable.accuracyLog)
    w.push(mlStates(0), MlDefaultTable.accuracyLog)
    i = 0
    while (i < n) {
      val s = seqs(i)
      val ofCode = ofCodes(i)
      w.push((s.offset + 3) - (1 << ofCode), ofCode)
      w.push(s.ml - MlBase(mlCodes(i)), MlBits(mlCodes(i)))
      w.push(s.ll - LlBase(llCodes(i)), LlBits(llCodes(i)))
      if (i < n - 1) {
        w.push(llUpd(i)._1, llUpd(i)._2)
        w.push(mlUpd(i)._1, mlUpd(i)._2)
        w.push(ofUpd(i)._1, ofUpd(i)._2)
      }
      i += 1
    }
    out.write(w.pack())
    out.toByteArray
  }

  /** standard zstd frame for `data`. An optional RAW-CONTENT
    * dictionary lets the first block's matcher reference the dict
    * bytes (later blocks match within themselves, as before); the
    * output stays a standard frame a dict-aware decoder reads with
    * the same dict. */
  def encode(data: Array[Byte], opts: EncOpts = EncOpts(), dict: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    writeLe32(out, Magic)
    // single-segment, 4-byte FCS, optional checksum
    out.write(0x80 | 0x20 | (if (opts.checksum) 0x04 else 0))
    writeLe32(out, data.length)
    var off = 0
    var emitted = false
    while (off < data.length || !emitted) {
      val len = math.min(opts.blockSize, data.length - off)
      val lastFlag = if (off + len >= data.length) 1 else 0
      emitted = true
      var allSame = len >= 2
      var i = 1
      while (allSame && i < len) { allSame = data(off + i) == data(off); i += 1 }
      if (len == 0) {
        out.write(lastFlag); out.write(0); out.write(0) // empty raw block
      } else if (allSame) {
        val bh = lastFlag | (1 << 1) | (len << 3)
        out.write(bh & 0xff); out.write((bh >>> 8) & 0xff); out.write((bh >>> 16) & 0xff)
        out.write(data(off))
      } else {
        val (seqs, lits) = lzParse(data, off, len, if (off == 0) dict else Array.emptyByteArray)
        val litSec = encodeLiterals(lits, opts)
        val seqSec = encodeSequences(seqs)
        val body = litSec ++ seqSec
        if (body.length >= len) {
          val bh = lastFlag | (0 << 1) | (len << 3)
          out.write(bh & 0xff); out.write((bh >>> 8) & 0xff); out.write((bh >>> 16) & 0xff)
          out.write(data, off, len)
        } else {
          val bh = lastFlag | (2 << 1) | (body.length << 3)
          out.write(bh & 0xff); out.write((bh >>> 8) & 0xff); out.write((bh >>> 16) & 0xff)
          out.write(body, 0, body.length)
        }
      }
      off += len
    }
    if (opts.checksum) writeLe32(out, xxh64(data, 0, data.length))
    out.toByteArray
  }
}
