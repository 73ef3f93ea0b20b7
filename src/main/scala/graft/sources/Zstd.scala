package graft.sources

import com.github.luben.zstd.{ZstdCompressCtx, ZstdDecompressCtx, ZstdException, ZstdInputStreamNoFinalizer, Zstd => Libzstd}

import graft.sources.Bytes.{le16, le32, le32u, le64}

/** Zstandard (RFC 8878) through zstd-jni, the libzstd binding Spark
  * ships: this object is the one place main code reaches it. What it
  * adds on top of the library is the frame walk callers need and the
  * untrusted-bytes contract:
  *
  *  - [[decodeFrame]] decodes ONE frame and reports the bytes it
  *    consumed (leading skippable frames included), which the
  *    seekable container ([[ZstdSeek]]) and `.warc.zst` ([[WarcZst]])
  *    scans are built on; [[decode]] walks every frame of a buffer and
  *    steps over skippable ones.
  *  - Dictionaries are auto-detected like libzstd does: TRAINED ones
  *    (magic 0xEC30A437) prime the entropy state, anything else is raw
  *    content that pre-loads the match window. A frame naming a
  *    Dictionary_ID the caller did not supply is refused by name
  *    before any decode.
  *  - A declared Frame_Content_Size is checked against what the
  *    frame's bytes can hold (every block costs at least 3 header
  *    bytes plus 1 payload byte and yields at most 128 KiB) before the
  *    output is allocated, so a 20-byte frame cannot demand gigabytes.
  *    Frames without a declared size stream into a growing buffer.
  *  - Every failure, library or ours, is a [[ZstdError]].
  *
  * Conformance: ZstdSpec decodes captured zstd-CLI and ZDICT fixtures
  * byte-exactly through this facade. */
object Zstd {

  final class ZstdError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new ZstdError(msg)

  val Magic = 0xFD2FB528
  private val SkippableMagicBase = 0x184D2A50
  private val DictMagic = 0xEC30A437
  private val BlockMax = 128 << 10
  private val Level = 3

  final case class Decoded(bytes: Array[Byte], consumed: Int)

  /** Encoder knob: whether frames carry the xxhash64 content checksum. */
  final case class EncOpts(checksum: Boolean = true)

  /** A TRAINED dictionary's Dictionary_ID (RFC 8878 §5). */
  final case class TrainedDict(id: Long)

  /** Runs a library call, turning every libzstd failure into a [[ZstdError]]. */
  private def lib[A](f: => A): A =
    try f
    catch {
      case e: ZstdException => fail(s"zstd: ${e.getMessage}")
      case e: java.io.IOException => fail(s"zstd: ${e.getMessage}")
    }

  /** A fresh decompression context with `dict` loaded (none when null
    * or empty), closed after `f`: contexts hold native memory that only
    * `close` frees. */
  private def withDctx[A](dict: Array[Byte])(f: ZstdDecompressCtx => A): A = lib {
    val c = new ZstdDecompressCtx()
    try { if (dict != null && dict.nonEmpty) c.loadDict(dict); f(c) }
    finally c.close()
  }

  private def dictionaryId(dict: Array[Byte]): Long =
    if (dict == null) 0L else parseDict(dict).fold(0L)(_.id)

  /** `Some(trained)` when `d` carries the trained-dictionary magic (its
    * entropy tables and rep offsets are validated by loading it),
    * `None` for a raw-content dictionary, whose bytes are used verbatim
    * as the window prefix. */
  def parseDict(d: Array[Byte]): Option[TrainedDict] =
    if (d.length < 8 || le32(d, 0) != DictMagic) None
    else {
      // libzstd reports a corrupt trained dictionary as an allocation error
      try withDctx(d)(_ => ())
      catch { case e: ZstdError => fail(s"zstd: corrupt trained dictionary (${e.getMessage})") }
      Some(TrainedDict(le32u(d, 4)))
    }

  /** First offset at or after `p` that is not inside a skippable frame. */
  private def skipSkippable(b: Array[Byte], p0: Int): Int = {
    var p = p0
    while (p + 8 <= b.length && (le32(b, p) & 0xfffffff0) == SkippableMagicBase) {
      // size is UNSIGNED; a signed read of crafted input walks p
      // backwards (infinite loop) or misparses legal sizes >= 2^31
      val next = p + 8L + le32u(b, p + 4)
      if (next > b.length) fail("skippable frame size out of range")
      p = next.toInt
    }
    p
  }

  /** (Dictionary_ID, Frame_Content_Size or -1) of the frame header at `p`. */
  private def frameHeader(b: Array[Byte], p: Int): (Long, Long) = {
    if (p + 5 > b.length || le32(b, p) != Magic) fail("bad zstd magic")
    val fhd = b(p + 4) & 0xff
    val singleSegment = (fhd & 0x20) != 0
    val dictBytes = Array(0, 1, 2, 4)(fhd & 3)
    val fcsBytes = Array(if (singleSegment) 1 else 0, 2, 4, 8)(fhd >>> 6)
    val q = p + 5 + (if (singleSegment) 0 else 1)
    if (q + dictBytes + fcsBytes > b.length) fail("truncated zstd frame header")
    def field(at: Int, n: Int): Long = n match {
      case 0 => 0L
      case 1 => b(at) & 0xffL
      case 2 => le16(b, at).toLong
      case 4 => le32u(b, at)
      case _ => le64(b, at)
    }
    val fcs = if (fcsBytes == 0) -1L else field(q + dictBytes, fcsBytes) + (if (fcsBytes == 2) 256 else 0)
    (field(q, dictBytes), fcs)
  }

  /** Decode ONE frame starting at `off` (leading skippable frames are
    * skipped). Returns payload + total bytes consumed from `off`.
    * Malformed input of ANY shape raises [[ZstdError]], so callers
    * (e.g. the `jsonlLines` tail-grow retry) need only one catch. */
  def decodeFrame(b: Array[Byte], off: Int): Decoded = decodeFrame(b, off, null)

  /** Like [[decodeFrame]] with a dictionary, raw-content or trained
    * (auto-detected, see the object doc). */
  def decodeFrame(b: Array[Byte], off: Int, dict: Array[Byte]): Decoded = {
    val p = skipSkippable(b, off)
    val (id, fcs) = frameHeader(b, p)
    if (id != 0L && dictionaryId(dict) != id)
      fail(s"frame needs trained dictionary id $id (none or a different one supplied)")
    val n = lib(Libzstd.findFrameCompressedSize(b, p, b.length - p)).toInt
    val useDict = dict != null && dict.nonEmpty
    val bytes =
      if (fcs >= 0) {
        if (fcs > (n / 4 + 1).toLong * BlockMax || fcs > Int.MaxValue - 8)
          fail(s"zstd: declared content size $fcs impossible from a $n-byte frame")
        val out = new Array[Byte](fcs.toInt)
        val got = withDctx(dict)(_.decompressByteArray(out, 0, out.length, b, p, n))
        if (got != fcs) fail(s"frame content size mismatch: $got vs $fcs")
        out
      } else
        lib {
          val in = new ZstdInputStreamNoFinalizer(new java.io.ByteArrayInputStream(b, p, n))
          try { if (useDict) in.setDict(dict); in.readAllBytes() }
          finally in.close()
        }
    Decoded(bytes, p + n - off)
  }

  /** Decode every frame in `b` and concatenate payloads, stepping over
    * skippable frames. The optional dictionary applies to EACH frame. */
  def decode(b: Array[Byte], dict: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = skipSkippable(b, 0)
    while (p < b.length) {
      val d = decodeFrame(b, p, dict)
      out.write(d.bytes)
      p = skipSkippable(b, p + d.consumed)
    }
    out.toByteArray
  }

  /** One standard zstd frame for `data` (libzstd level 3, content size
    * declared). An optional dictionary, raw-content or trained, is
    * loaded into the compressor; decode with the same one. */
  def encode(data: Array[Byte], opts: EncOpts = EncOpts(), dict: Array[Byte] = Array.emptyByteArray): Array[Byte] =
    lib {
      val c = new ZstdCompressCtx()
      try {
        c.setLevel(Level).setChecksum(opts.checksum)
        if (dict.nonEmpty) c.loadDict(dict)
        c.compress(data)
      } finally c.close()
    }
}
