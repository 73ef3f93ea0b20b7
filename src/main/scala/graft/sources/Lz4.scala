package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{le32, le32u, writeLe32}

/** LZ4 codec — pure JVM, both directions: the block format (token
  * stream of literal/match sequences), the frame format (magic
  * 0x184D2204, FLG/BD descriptor with header checksum, independent or
  * dependent blocks, optional block/content xxHash32 checksums,
  * content size, external DICTIONARIES both directions — the `lz4 -D`
  * shape, last-64 KiB window, with or without a Dictionary-ID field
  * (r17) — skippable frames, concatenated frames) and the
  * legacy frame (magic 0x184C2102, fixed 8 MiB chunks). Algorithms
  * per the published LZ4 block/frame specifications; the encoder is
  * the canonical single-pass greedy hash-table matcher.
  *
  * Why it's front-door: `.jsonl.lz4` shard sets appear in public
  * corpora (fast-decode archival tier), and Hadoop pipelines emit
  * lz4-framed part files. The JDK has no LZ4.
  *
  * Scale shape: one frame decodes sequentially (matches reach back
  * 64 KiB across blocks when the frame is block-dependent), but lz4
  * files are legally CONCATENATIONS of frames. [[framesOfRanged]]
  * walks frame boundaries with header-only ranged reads (4-byte block
  * headers chain to the next frame), so the driver plans per-frame
  * ranges without decoding payloads and each task decodes exactly its
  * own frames — the `.jsonl.xz` multi-stream shape. Single-frame
  * files degrade to one task per file; the shard SET is then the
  * parallelism unit (the TextShards front door's production shape).
  *
  * Lz4Spec pins the decoder byte-exact against REAL lz4 CLI output
  * (block sizes 64K..4M, dependent blocks, block checksums, -9, -l
  * legacy, concat, skippable) and the encoder's output through the
  * CLI at capture time (pinned `.validated` fixtures).
  *
  * Untrusted-bytes contract: malformed input of ANY shape raises
  * [[Lz4Error]]. */
object Lz4 {

  final class Lz4Error(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new Lz4Error(msg)

  private val FrameMagic = 0x184d2204
  private val LegacyMagic = 0x184c2102
  private val SkippableBase = 0x184d2a50

  // ------------------------------------------------------------------
  // xxHash32 (the frame format's checksum), from lz4-java
  // ------------------------------------------------------------------

  private val Xxh32 = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()

  /** Multiplier of the matchers' 4-byte hash (2654435761, xxHash's P1). */
  private val P1 = -1640531535

  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int): Int = Xxh32.hash(b, off, len, seed)

  // ------------------------------------------------------------------
  // growable output with the frame-scoped match window
  // ------------------------------------------------------------------

  private final class LOut(initial: Int) {
    var buf = new Array[Byte](math.max(64, initial))
    var len = 0
    def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var c = buf.length.toLong
        while (c < len.toLong + n) c *= 2
        if (c > Int.MaxValue - 8) fail("lz4: output too large")
        buf = java.util.Arrays.copyOf(buf, c.toInt)
      }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ------------------------------------------------------------------
  // block decode (the LZ4 block format)
  // ------------------------------------------------------------------

  /** Decode one compressed block appending to `out`; matches may not
    * reach before `windowStart` (frame start, or block start for
    * block-independent frames — the reference decoder enforces the
    * same bound), EXCEPT into the last `histLen` bytes of `hist` — the
    * external-dictionary history the reference decoder exposes as
    * LZ4_decompress_safe_usingDict: the dictionary is logically
    * concatenated immediately before the window start. */
  private def decodeBlock(src: Array[Byte], soff: Int, send: Int, out: LOut, windowStart: Int,
      hist: Array[Byte], histLen: Int): Unit = {
    var p = soff
    while (p < send) {
      val token = src(p) & 0xff; p += 1
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 0xff
        while (x == 0xff) {
          if (p >= send) fail("lz4: truncated literal length")
          x = src(p) & 0xff; p += 1; litLen += x
          // cap BEFORE Int wrap: legacy-frame blocks have no compressed-
          // size bound, so ~16.8M 0xFF extensions could wrap litLen back
          // to a small positive value and decode misaligned garbage
          if (litLen > (1 << 28)) fail("lz4: literal length out of range")
        }
      }
      if (p + litLen > send || litLen < 0) fail("lz4: truncated literals")
      out.ensure(litLen)
      System.arraycopy(src, p, out.buf, out.len, litLen)
      out.len += litLen; p += litLen
      if (p < send) { // a match follows (the block's last sequence is literals-only)
        if (p + 2 > send) fail("lz4: truncated match offset")
        val offset = (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8); p += 2
        if (offset == 0) fail("lz4: zero match offset")
        var mLen = (token & 0xf) + 4
        if ((token & 0xf) == 15) {
          var x = 0xff
          while (x == 0xff) {
            if (p >= send) fail("lz4: truncated match length")
            x = src(p) & 0xff; p += 1; mLen += x
            if (mLen > (1 << 28)) fail("lz4: match length out of range")
          }
        }
        if (mLen < 0) fail("lz4: match length overflow")
        val start = out.len - offset
        if (start < windowStart - histLen)
          fail(if (histLen == 0) "lz4: match offset reaches before window"
          else "lz4: match offset reaches before the supplied dictionary")
        out.ensure(mLen)
        var i = 0 // forward byte copy: overlapping matches replicate correctly
        while (i < mLen) {
          val s = start + i
          out.buf(out.len + i) =
            if (s < windowStart) hist(histLen + (s - windowStart)) else out.buf(s)
          i += 1
        }
        out.len += mLen
      }
    }
  }

  // ------------------------------------------------------------------
  // frame decode
  // ------------------------------------------------------------------

  /** One frame at `off`: (payload, bytes consumed). Skippable frames
    * are skipped transparently before the content frame. */
  def decodeFrame(b: Array[Byte], off: Int): (Array[Byte], Int) = decodeFrame(b, off, null)

  /** Like [[decodeFrame]] with an external dictionary (the `lz4 -D`
    * shape): only the dictionary's last 64 KiB participate (the
    * format's window). The CLI writes dict frames WITHOUT a
    * Dictionary-ID field, so the dict applies to any frame; a frame
    * that does carry a Dictionary-ID decodes when a dict is supplied
    * (the id is application-defined and cannot be verified against
    * bytes) and refuses loudly when none is. */
  def decodeFrame(b: Array[Byte], off: Int, dict: Array[Byte]): (Array[Byte], Int) =
    try decodeFrameImpl(b, off, dict)
    catch {
      case e: Lz4Error => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("lz4: malformed input (out-of-range field)")
    }

  private def decodeFrameImpl(b: Array[Byte], off: Int, dict: Array[Byte]): (Array[Byte], Int) = {
    var p = off
    while (p + 8 <= b.length && (le32(b, p) & 0xfffffff0) == SkippableBase) {
      val next = p + 8L + le32u(b, p + 4) // UNSIGNED size
      if (next > b.length) fail("lz4: skippable frame size out of range")
      p = next.toInt
    }
    if (p + 4 > b.length) fail("lz4: truncated frame magic")
    le32(b, p) match {
      case FrameMagic => decodeModernFrame(b, p, dict)
      case LegacyMagic => decodeLegacyFrame(b, p) // the legacy format predates dictionaries
      case _ => fail("lz4: bad frame magic")
    }
  }

  private def decodeModernFrame(b: Array[Byte], off: Int, dict: Array[Byte]): (Array[Byte], Int) = {
    var p = off + 4
    val descStart = p
    if (p + 2 > b.length) fail("lz4: truncated frame descriptor")
    val flg = b(p) & 0xff; p += 1
    val bd = b(p) & 0xff; p += 1
    if ((flg >>> 6) != 1) fail("lz4: unsupported frame version")
    if ((flg & 0x02) != 0) fail("lz4: reserved FLG bit set")
    if ((bd & 0x8f) != 0) fail("lz4: reserved BD bits set")
    val blockIndep = (flg & 0x20) != 0
    val blockChecksum = (flg & 0x10) != 0
    val hasContentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val hasDictId = (flg & 0x01) != 0
    val bmax = (bd >>> 4) & 7
    if (bmax < 4) fail("lz4: invalid block max size code")
    val blockMax = 1 << (8 + 2 * bmax) // 4→64K, 5→256K, 6→1M, 7→4M
    var contentSize = -1L
    if (hasContentSize) {
      if (p + 8 > b.length) fail("lz4: truncated content size")
      contentSize = 0L
      var i = 0
      while (i < 8) { contentSize |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      p += 8
    }
    if (hasDictId) {
      if (p + 4 > b.length) fail("lz4: truncated dictionary id")
      if (dict == null) fail("lz4: dictionary frames need an external dictionary (none supplied)")
      p += 4 // application-defined id; unverifiable against raw dict bytes
    }
    if (p + 1 > b.length) fail("lz4: truncated header checksum")
    val hc = (xxh32(b, descStart, p - descStart, 0) >>> 8) & 0xff
    if ((b(p) & 0xff) != hc) fail("lz4: frame header checksum mismatch")
    p += 1
    // initial allocation capped at one block: the header-declared
    // content size is attacker-controlled (a ~20-byte frame with a
    // valid header CRC can declare gigabytes), so the buffer starts at
    // min(contentSize, blockMax) and grows only as blocks actually
    // decode; the declared size is still verified at frame end
    val out = new LOut(
      if (contentSize >= 0) math.min(contentSize, blockMax.toLong).toInt else 1 << 16)
    // only the dictionary's LAST 64 KiB are addressable (the window)
    val histLen = if (dict == null) 0 else math.min(dict.length, 65536)
    val hist = if (dict == null) Array.emptyByteArray else dict
    val histOffTrim = if (dict == null) 0 else dict.length - histLen
    val histTail = if (histOffTrim == 0) hist else java.util.Arrays.copyOfRange(hist, histOffTrim, hist.length)
    var done = false
    while (!done) {
      if (p + 4 > b.length) fail("lz4: truncated block header")
      val raw = le32(b, p); p += 4
      if (raw == 0) done = true // EndMark
      else {
        val stored = (raw & 0x80000000) != 0
        val size = raw & 0x7fffffff
        if (size > blockMax) fail("lz4: block exceeds declared max size")
        if (p + size > b.length || size < 0) fail("lz4: truncated block data")
        if (stored) {
          out.ensure(size)
          System.arraycopy(b, p, out.buf, out.len, size)
          out.len += size
        } else {
          // block-independent frames re-initialize every block with the
          // dictionary (frame spec); dependent frames use it once at
          // frame start (offsets cap at 64 KiB, so it ages out naturally)
          val windowStart = if (blockIndep) out.len else 0
          val before = out.len
          decodeBlock(b, p, p + size, out, windowStart, histTail, histLen)
          // Block Maximum Size bounds each block's UNCOMPRESSED size
          // regardless of dependence — without this a crafted dependent
          // frame amplifies ~255x per block (decompression bomb the
          // reference decoder rejects)
          if (out.len - before > blockMax)
            fail("lz4: block decodes past its max size")
        }
        p += size
        if (blockChecksum) {
          if (p + 4 > b.length) fail("lz4: truncated block checksum")
          if (le32(b, p) != xxh32(b, p - size, size, 0)) fail("lz4: block checksum mismatch")
          p += 4
        }
      }
    }
    if (contentChecksum) {
      if (p + 4 > b.length) fail("lz4: truncated content checksum")
      if (le32(b, p) != xxh32(out.buf, 0, out.len, 0)) fail("lz4: content checksum mismatch")
      p += 4
    }
    if (contentSize >= 0 && out.len.toLong != contentSize)
      fail("lz4: content size disagrees with decoded length")
    (out.toArray, p - off)
  }

  /** Legacy frame: repeated [LE32 compressed size][block], each block
    * an independent LZ4 block decoding to ≤ 8 MiB; ends at EOF or the
    * next frame magic. */
  private def decodeLegacyFrame(b: Array[Byte], off: Int): (Array[Byte], Int) = {
    val LegacyBlockMax = 8 << 20
    var p = off + 4
    val out = new LOut(1 << 16)
    var done = false
    while (!done) {
      if (p + 4 > b.length) done = true
      else {
        val size = le32(b, p)
        if (size == FrameMagic || size == LegacyMagic || (size & 0xfffffff0) == SkippableBase) done = true
        else {
          p += 4
          if (size < 0 || p + size > b.length) fail("lz4: truncated legacy block")
          val windowStart = out.len
          decodeBlock(b, p, p + size, out, windowStart, Array.emptyByteArray, 0)
          if (out.len - windowStart > LegacyBlockMax) fail("lz4: legacy block exceeds 8 MiB")
          p += size
        }
      }
    }
    (out.toArray, p - off)
  }

  /** Decode a whole (possibly multi-frame) `.lz4` file; trailing
    * skippable frames are legal and skipped. */
  def decode(b: Array[Byte]): Array[Byte] = decode(b, null)

  /** Like [[decode]] with an external dictionary applied to every
    * frame (the `lz4 -D` shape). */
  def decode(b: Array[Byte], dict: Array[Byte]): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream()
      var p = 0
      while (p < b.length) {
        if (p + 8 <= b.length && (le32(b, p) & 0xfffffff0) == SkippableBase) {
          val next = p + 8L + le32u(b, p + 4)
          if (next > b.length) fail("lz4: skippable frame size out of range")
          p = next.toInt
        } else {
          val (payload, consumed) = decodeFrame(b, p, dict)
          out.write(payload)
          p += consumed
        }
      }
      out.toByteArray
    } catch {
      case e: Lz4Error => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("lz4: malformed input (out-of-range field)")
    }

  // ------------------------------------------------------------------
  // encoder: canonical greedy hash-table matcher + frame writer
  // ------------------------------------------------------------------

  /** Compress one block (the published greedy single-pass matcher:
    * 4-byte hash table, 64 KiB window, last-5-literals / no-match-in-
    * last-12 end rules). Returns null when incompressible (caller
    * stores the block raw, as the reference CLI does). */
  private def compressBlock(src: Array[Byte], soff: Int, slen: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(slen / 2 + 16)
    @inline def hash(v: Int): Int = (v * P1) >>> 18 // 14-bit table
    def writeLen(v0: Int): Unit = { var v = v0; while (v >= 255) { out.write(255); v -= 255 }; out.write(v) }
    def emit(anchor: Int, i: Int, offset: Int, mLen: Int): Unit = {
      val litLen = i - anchor
      val token = (math.min(litLen, 15) << 4) | math.min(mLen - 4, 15)
      out.write(token)
      if (litLen >= 15) writeLen(litLen - 15)
      out.write(src, soff + anchor, litLen)
      out.write(offset & 0xff); out.write((offset >>> 8) & 0xff)
      if (mLen - 4 >= 15) writeLen(mLen - 4 - 15)
    }
    var anchor = 0
    if (slen >= 13) {
      val table = new Array[Int](1 << 14)
      java.util.Arrays.fill(table, -1)
      val mfLimit = slen - 12 // no match may start in the last 12 bytes
      val matchLimit = slen - 5 // the last 5 bytes stay literals
      var i = 0
      while (i <= mfLimit) {
        val h = hash(le32(src, soff + i))
        val cand = table(h)
        table(h) = i
        if (cand >= 0 && i - cand <= 65535 && le32(src, soff + cand) == le32(src, soff + i)) {
          var mLen = 4
          while (i + mLen < matchLimit && src(soff + cand + mLen) == src(soff + i + mLen)) mLen += 1
          emit(anchor, i, i - cand, mLen)
          i += mLen
          anchor = i
        } else i += 1
      }
    }
    // final literals
    val litLen = slen - anchor
    out.write(math.min(litLen, 15) << 4)
    if (litLen >= 15) writeLen(litLen - 15)
    out.write(src, soff + anchor, litLen)
    val res = out.toByteArray
    if (res.length >= slen) null else res
  }

  /** [[compressBlock]] with an external-dictionary history: the
    * matcher runs over the array hist[0,histLen) ++ src — the
    * hash table is pre-seeded with every dict position, matches may
    * source from the dict (the emitted offset is just the distance,
    * ≤ 64 KiB), and only src-region bytes are emitted as literals.
    * Decodes via the usingDict path any conforming decoder has. */
  private def compressBlockDict(src: Array[Byte], soff: Int, slen: Int,
      hist: Array[Byte], histLen: Int): Array[Byte] = {
    val total = histLen + slen
    val all = new Array[Byte](total)
    System.arraycopy(hist, 0, all, 0, histLen)
    System.arraycopy(src, soff, all, histLen, slen)
    @inline def hash(v: Int): Int = (v * P1) >>> 18
    val out = new java.io.ByteArrayOutputStream(slen / 2 + 16)
    def writeLen(v0: Int): Unit = { var v = v0; while (v >= 255) { out.write(255); v -= 255 }; out.write(v) }
    def emit(anchor: Int, i: Int, offset: Int, mLen: Int): Unit = {
      val litLen = i - anchor
      val token = (math.min(litLen, 15) << 4) | math.min(mLen - 4, 15)
      out.write(token)
      if (litLen >= 15) writeLen(litLen - 15)
      out.write(src, soff + anchor - histLen, litLen)
      out.write(offset & 0xff); out.write((offset >>> 8) & 0xff)
      if (mLen - 4 >= 15) writeLen(mLen - 4 - 15)
    }
    var anchor = histLen
    if (slen >= 13) {
      val table = new Array[Int](1 << 14)
      java.util.Arrays.fill(table, -1)
      var d = 0
      while (d + 4 <= histLen) { table(hash(le32(all, d))) = d; d += 1 }
      val mfLimit = total - 12
      val matchLimit = total - 5
      var i = histLen
      while (i <= mfLimit) {
        val h = hash(le32(all, i))
        val cand = table(h)
        table(h) = i
        if (cand >= 0 && i - cand <= 65535 && le32(all, cand) == le32(all, i)) {
          var mLen = 4
          while (i + mLen < matchLimit && all(cand + mLen) == all(i + mLen)) mLen += 1
          emit(anchor, i, i - cand, mLen)
          i += mLen
          anchor = i
        } else i += 1
      }
    }
    val litLen = total - anchor
    out.write(math.min(litLen, 15) << 4)
    if (litLen >= 15) writeLen(litLen - 15)
    out.write(src, soff + anchor - histLen, litLen)
    val res = out.toByteArray
    if (res.length >= slen) null else res
  }

  /** Write a dict-compressed frame (the `lz4 -D` shape: independent
    * blocks each initialized with the dictionary's last 64 KiB, NO
    * Dictionary-ID field — CLI parity; decode with [[decode]]'s dict
    * overload or any reference decoder given the same dict). */
  def encodeDict(data: Array[Byte], dict: Array[Byte], bmax: Int = 4,
      blockChecksum: Boolean = false, contentSize: Boolean = false): Array[Byte] = {
    require(bmax >= 4 && bmax <= 7, "block max size code must be 4..7")
    val histLen = math.min(dict.length, 65536)
    val hist = if (dict.length == histLen) dict else java.util.Arrays.copyOfRange(dict, dict.length - histLen, dict.length)
    val blockMax = 1 << (8 + 2 * bmax)
    val out = new java.io.ByteArrayOutputStream()
    writeLe32(out, FrameMagic)
    val flg = 0x40 | 0x20 | (if (blockChecksum) 0x10 else 0) | (if (contentSize) 0x08 else 0) | 0x04
    val desc = new java.io.ByteArrayOutputStream()
    desc.write(flg); desc.write(bmax << 4)
    if (contentSize) { var v = data.length.toLong; var i = 0; while (i < 8) { desc.write((v & 0xff).toInt); v >>= 8; i += 1 } }
    val db = desc.toByteArray
    out.write(db)
    out.write((xxh32(db, 0, db.length, 0) >>> 8) & 0xff)
    var off = 0
    while (off < data.length) {
      val n = math.min(blockMax, data.length - off)
      val comp = compressBlockDict(data, off, n, hist, histLen)
      val stored = comp == null
      val payload = if (stored) java.util.Arrays.copyOfRange(data, off, off + n) else comp
      writeLe32(out, if (stored) payload.length | 0x80000000 else payload.length)
      out.write(payload)
      if (blockChecksum) writeLe32(out, xxh32(payload, 0, payload.length, 0))
      off += n
    }
    writeLe32(out, 0) // EndMark
    writeLe32(out, xxh32(data, 0, data.length, 0)) // content checksum
    out.toByteArray
  }

  /** Write a standard frame: 64 KiB..4 MiB independent blocks (size
    * code `bmax` 4..7), content checksum on, block checksums optional
    * — the reference CLI's shape. */
  def encode(
      data: Array[Byte],
      bmax: Int = 7,
      blockChecksum: Boolean = false,
      contentSize: Boolean = false): Array[Byte] = {
    require(bmax >= 4 && bmax <= 7, "block max size code must be 4..7")
    val blockMax = 1 << (8 + 2 * bmax)
    val out = new java.io.ByteArrayOutputStream()
    writeLe32(out, FrameMagic)
    val flg = 0x40 | 0x20 | (if (blockChecksum) 0x10 else 0) | (if (contentSize) 0x08 else 0) | 0x04
    val desc = new java.io.ByteArrayOutputStream()
    desc.write(flg); desc.write(bmax << 4)
    if (contentSize) { var v = data.length.toLong; var i = 0; while (i < 8) { desc.write((v & 0xff).toInt); v >>= 8; i += 1 } }
    val db = desc.toByteArray
    out.write(db)
    out.write((xxh32(db, 0, db.length, 0) >>> 8) & 0xff)
    var off = 0
    while (off < data.length) {
      val n = math.min(blockMax, data.length - off)
      val comp = compressBlock(data, off, n)
      val stored = comp == null
      val payload = if (stored) java.util.Arrays.copyOfRange(data, off, off + n) else comp
      writeLe32(out, if (stored) payload.length | 0x80000000 else payload.length)
      out.write(payload)
      if (blockChecksum) writeLe32(out, xxh32(payload, 0, payload.length, 0))
      off += n
    }
    writeLe32(out, 0) // EndMark
    writeLe32(out, xxh32(data, 0, data.length, 0)) // content checksum
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // frame-boundary walk (header-only ranged reads) + Spark face
  // ------------------------------------------------------------------

  /** (offset, length) of every frame, discovered by chaining headers:
    * per frame only the descriptor and each 4-byte block-size field
    * are read (ranged), never payload-sized buffers. Legacy frames
    * read block sizes the same way; skippable frames fold into the
    * FOLLOWING frame's range. */
  def framesOfRanged(ranged: (Long, Int) => Array[Byte], len: Long): Seq[(Long, Long)] =
    try framesOfRangedImpl(ranged, len)
    catch {
      case e: Lz4Error => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("lz4: malformed input in frame walk (out-of-range field)")
    }

  private def framesOfRangedImpl(ranged: (Long, Int) => Array[Byte], len: Long): Seq[(Long, Long)] = {
    val out = List.newBuilder[(Long, Long)]
    var p = 0L
    def u32(off: Long): Long = { val a = ranged(off, 4); le32u(a, 0) }
    var trailing = false
    while (p < len && !trailing) {
      val start = p
      if (p + 4 > len) fail("lz4: truncated frame magic in walk")
      var magic = u32(p)
      while (!trailing && (magic & 0xfffffff0L) == (SkippableBase & 0xffffffffL)) {
        if (p + 8 > len) fail("lz4: truncated skippable frame header in walk")
        val next = p + 8L + u32(p + 4)
        if (next > len) fail("lz4: skippable frame size out of range in walk")
        p = next
        if (p >= len) trailing = true // file legally ends in skippables
        else {
          if (p + 4 > len) fail("lz4: truncated frame magic in walk")
          magic = u32(p)
        }
      }
      if (trailing) ()
      else if (magic == (FrameMagic & 0xffffffffL)) {
        if (p + 7 > len) fail("lz4: truncated frame descriptor in walk")
        val head = ranged(p + 4, math.min(15L, len - p - 4).toInt)
        val flg = head(0) & 0xff
        val blockChecksum = (flg & 0x10) != 0
        val contentChecksum = (flg & 0x04) != 0
        var q = p + 4 + 2
        if ((flg & 0x08) != 0) q += 8
        if ((flg & 0x01) != 0) q += 4
        q += 1 // header checksum byte
        var done = false
        while (!done) {
          if (q + 4 > len) fail("lz4: truncated block header in walk")
          val raw = u32(q); q += 4
          if (raw == 0L) done = true
          else {
            q += (raw & 0x7fffffffL)
            if (blockChecksum) q += 4
            if (q > len) fail("lz4: block overruns file in walk")
          }
        }
        if (contentChecksum) q += 4
        if (q > len) fail("lz4: frame overruns file in walk")
        p = q
      } else if (magic == (LegacyMagic & 0xffffffffL)) {
        var q = p + 4
        var done = false
        while (!done) {
          if (q + 4 > len) { done = true }
          else {
            val size = u32(q)
            if (size == (FrameMagic & 0xffffffffL) || size == (LegacyMagic & 0xffffffffL) ||
              (size & 0xfffffff0L) == (SkippableBase & 0xffffffffL)) done = true
            else {
              q += 4 + size
              if (q > len) fail("lz4: legacy block overruns file in walk")
            }
          }
        }
        p = q
      } else fail("lz4: bad frame magic in walk")
      if (!trailing) out += ((start, p - start))
    }
    out.result()
  }

  /** In-memory walk (cycles/tests). */
  def framesOf(b: Array[Byte]): Seq[(Long, Long)] =
    framesOfRanged((off, n) => java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + n), b.length.toLong)

  /** Lines of a (possibly multi-frame) `.jsonl.lz4` on any Hadoop
    * filesystem: the driver walks frame boundaries with header-only
    * ranged reads, tasks decode exactly the frames starting in their
    * byte range — the `.jsonl.xz` multi-stream shape. Columns
    * (frame_idx, line). */
  def jsonlLines(spark: SparkSession, path: String, splitSize: Long = 64L << 20): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    // ONE positioned-read stream for the whole driver-side walk: the
    // walk reads a 4-byte header per block, and per-call open/close
    // against an object store would dominate planning time
    val frames = {
      val in = fs.open(hp)
      try {
        val ranged: (Long, Int) => Array[Byte] = { (off, n) =>
          val a = new Array[Byte](n); in.readFully(off, a); a
        }
        framesOfRanged(ranged, len).zipWithIndex
      } finally in.close()
    }
    val plan = (0L until len by splitSize).map(s => (s, math.min(s + splitSize, len))).flatMap {
      case (s, e) =>
        val own = frames.filter { case ((o, _), _) => o >= s && o < e }
        if (own.nonEmpty) Some(own.map { case ((o, l), i) => (i, o, l) }) else None
    }
    spark.sparkContext
      .parallelize(plan, math.max(1, plan.size))
      .flatMap { owned =>
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        try {
          owned.iterator.flatMap { case (idx, o, l) =>
            if (l > Int.MaxValue - 8) fail("lz4: single frame exceeds a task buffer (>2 GiB) — split the shard upstream")
            val buf = new Array[Byte](l.toInt)
            in.readFully(o, buf)
            val (payload, _) = decodeFrame(buf, 0)
            new String(payload, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n", -1)
              .iterator
              .filter(_.nonEmpty)
              .map(line => (idx, line))
              .toSeq
          }.toSeq
        } finally in.close()
      }
      .toDF("frame_idx", "line")
  }

  // ------------------------------------------------------------------
  // q_lz4 — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the shard's jsonl splits into
    * four frames written by the REAL greedy encoder (one per block
    * size code 4..7, one carrying block checksums, one legacy-read
    * via a stored path), concatenated with a skippable frame planted
    * between; then cycles: whole-file [[decode]] byte-equal, the
    * header-only [[framesOf]] walk finds exactly the boundaries, and
    * a split-ownership sweep at three split sizes reproduces the
    * frame set exactly once. Counts/char sums have closed forms the
    * oracle states. CLI conformance is Lz4Spec's gate. */
  def lz4Query(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 97}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(utf8)
      val groups = if (lines.isEmpty) Seq(Seq.empty) else lines.grouped(math.max(1, (lines.size + 3) / 4)).toSeq
      val file = {
        val o = new java.io.ByteArrayOutputStream()
        groups.zipWithIndex.foreach { case (g, i) =>
          val bytes = g.mkString("", "\n", "\n").getBytes(utf8)
          o.write(Lz4.encode(bytes, bmax = 4 + (i % 4), blockChecksum = i % 2 == 1, contentSize = i % 3 == 0))
          if (i == 0) { // planted skippable frame between frames
            o.write(Array[Byte](0x50, 0x2a, 0x4d, 0x18, 4, 0, 0, 0, 1, 2, 3, 4))
          }
        }
        o.toByteArray
      }
      require(java.util.Arrays.equals(Lz4.decode(file), payload), "lz4: whole-file decode drift")
      // dict lane (r17, require-only): the group's payload through the
      // `lz4 -D` shape — encodeDict against a shared-vocab dictionary,
      // decoded back through the usingDict window path
      if (sorted.nonEmpty) {
        val dict = (0L until 32L).map(i => s"""{"id":${i % 7},"w":"w${i % 97}"}""")
          .mkString("", "\n", "\n").getBytes(utf8)
        require(java.util.Arrays.equals(Lz4.decode(Lz4.encodeDict(payload, dict), dict), payload),
          "lz4: dict cycle drift")
      }
      val frames = framesOf(file)
      require(frames.length == groups.length, "lz4: frame walk count drift")
      for (split <- Seq(file.length.toLong + 5, math.max(64L, file.length.toLong / 3), 97L)) {
        val got = (0L until file.length.toLong by split).flatMap { st =>
          frames.filter { case (o2, _) => o2 >= st && o2 < math.min(st + split, file.length.toLong) }
        }
        require(got == frames, s"lz4: split $split ownership not exactly-once")
      }
      Seq(lines.length.toLong, lines.map(_.length.toLong).sum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      // SF-INVARIANT bucket (the q_cdx r16 lesson): per-task container
      // size stays ~constant at any scale; oracle is per-id closed
      // forms by type, so the grouping is free to change
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_lines"), sum($"a".getItem(1)).as("line_chars"))
      .orderBy($"event_type")
  }
}
