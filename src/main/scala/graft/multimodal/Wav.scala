package graft.multimodal

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{le16, le32u, putLe16, putLe32}

/** Pure-JVM WAV/PCM audio codec — the audio half of the multimodal
  * decode tier (previously fully stubbed; images went real in r10 via
  * Png/Jpeg). RIFF/WAVE container, integer PCM 8/16/24-bit, mono or
  * interleaved multi-channel; both directions. Conformance fixture:
  * the JDK's own `javax.sound.sampled` reads and writes WAV, so
  * WavSpec proves the triangle the same way JpegSpec does.
  *
  * r12 adds the compressed-WAV tags: IMA/DVI ADPCM (0x11,
  * block-structured 4-bit, the published IMA step/index tables),
  * G.711 µ-law (0x07) and A-law (0x06) — decode for all three plus
  * encoders, so the round-trip and the G.711 involution
  * (encode∘decode == id on the 8-bit code domain) are spec-provable
  * without external fixtures.
  */
object Wav {

  /** Interleaved integer PCM. `samples` hold native-domain values
    * (8-bit: 0..255; 16-bit: −32768..32767; 24-bit: signed). */
  final case class Audio(sampleRate: Int, channels: Int, bitsPerSample: Int, samples: Array[Int]) {
    def frames: Int = samples.length / channels
    def durationMs: Long = if (sampleRate == 0) 0L else frames.toLong * 1000 / sampleRate
    /** RMS over all channels, normalized to [-1, 1]. */
    def rms: Double = {
      if (samples.isEmpty) return 0.0
      val (scale, center) = bitsPerSample match {
        case 8 => (128.0, 128.0)
        case 16 => (32768.0, 0.0)
        case _ => (8388608.0, 0.0)
      }
      var sq = 0.0
      samples.foreach { s => val v = (s - center) / scale; sq += v * v }
      math.sqrt(sq / samples.length)
    }
  }

  /** Decode a RIFF/WAVE integer-PCM stream. None for anything else
    * (compressed formats, float PCM, malformed or truncated
    * containers — flag, don't abort the scan). */
  def decode(bytes: Array[Byte]): Option[Audio] =
    try decode0(bytes)
    catch { case _: Exception => None }

  private def decode0(bytes: Array[Byte]): Option[Audio] = {
    if (bytes.length < 44) return None
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F')) return None
    if (!(bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E')) return None
    var pos = 12
    var fmtOk = false
    var fmtTag = 0
    var channels = 0
    var rate = 0
    var bits = 0
    var blockAlign = 0
    var audio: Option[Audio] = None
    while (pos + 8 <= bytes.length && audio.isEmpty) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val len = le32u(bytes, pos + 4).toInt
      if (len < 0) return None // a 2^31+ chunk length would stall the walk
      val body = pos + 8
      if (id == "fmt " && len >= 16) {
        fmtTag = le16(bytes, body)
        channels = le16(bytes, body + 2)
        rate = le32u(bytes, body + 4).toInt
        blockAlign = le16(bytes, body + 12)
        bits = le16(bytes, body + 14)
        // 1 = integer PCM; 0xFFFE = extensible (sub-format unchecked —
        // the JDK writes plain PCM this way for >2 channels);
        // 6/7 = G.711 A-law/µ-law (8-bit codes); 0x11 = IMA ADPCM.
        fmtOk = fmtTag match {
          case 1 | 0xFFFE => (bits == 8 || bits == 16 || bits == 24) && channels >= 1 && rate >= 1
          case 6 | 7 => bits == 8 && channels >= 1 && rate >= 1
          case 0x11 => bits == 4 && channels >= 1 && rate >= 1 && blockAlign >= 4 * channels
          case _ => false
        }
      } else if (id == "data") {
        if (!fmtOk) return None
        val dataLen = math.min(len, bytes.length - body)
        audio = fmtTag match {
          case 6 =>
            val out = new Array[Int](dataLen)
            var i = 0
            while (i < dataLen) { out(i) = aLawDecode(bytes(body + i)); i += 1 }
            Some(Audio(rate, channels, 16, out))
          case 7 =>
            val out = new Array[Int](dataLen)
            var i = 0
            while (i < dataLen) { out(i) = muLawDecode(bytes(body + i)); i += 1 }
            Some(Audio(rate, channels, 16, out))
          case 0x11 =>
            Some(Audio(rate, channels, 16, imaAdpcmDecodeBlocks(bytes, body, dataLen, channels, blockAlign)))
          case _ =>
            val bytesPer = bits / 8
            val n = dataLen / bytesPer
            val out = new Array[Int](n)
            var i = 0
            while (i < n) {
              val at = body + i * bytesPer
              out(i) = bits match {
                case 8 => bytes(at) & 0xff
                case 16 => (le16(bytes, at) << 16) >> 16
                case _ => ((bytes(at) & 0xff) | ((bytes(at + 1) & 0xff) << 8) | (bytes(at + 2) << 16))
              }
              i += 1
            }
            Some(Audio(rate, channels, bits, out))
        }
      }
      pos = body + len + (len & 1) // RIFF chunks are word-aligned
    }
    audio
  }

  /** Encode interleaved 16-bit PCM as a canonical 44-byte-header WAV. */
  def encode(sampleRate: Int, channels: Int, samples: Array[Int]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && samples.length % channels == 0)
    val dataLen = samples.length * 2
    val out = new ArrayBuffer[Byte](44 + dataLen)
    def str(s: String): Unit = out ++= s.getBytes("US-ASCII")
    str("RIFF"); putLe32(out, 36L + dataLen); str("WAVE")
    str("fmt "); putLe32(out, 16L)
    putLe16(out, 1); putLe16(out, channels); putLe32(out, sampleRate.toLong)
    putLe32(out, sampleRate.toLong * channels * 2); putLe16(out, channels * 2); putLe16(out, 16)
    str("data"); putLe32(out, dataLen.toLong)
    samples.foreach(putLe16(out, _))
    out.toArray
  }

  // ------------------------------------------------------------ G.711

  /** µ-law byte → 16-bit linear (G.711, bias-132 expansion in the
    * 16-bit domain; the classic CCITT/Sun tables). */
  def muLawDecode(code: Byte): Int = {
    val u = ~code & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u >> 4) & 0x07
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** 16-bit linear → µ-law byte (clip ±32635, bias 132). */
  def muLawEncode(pcm: Int): Byte = {
    var x = pcm
    val sign = if (x < 0) { x = -x; 0x80 } else 0
    if (x > 32635) x = 32635
    x += 0x84
    var seg = 0
    while (seg < 7 && x >= (0x100 << seg)) seg += 1
    val mant = (x >> (seg + 3)) & 0x0f
    (~(sign | (seg << 4) | mant)).toByte
  }

  /** A-law byte → 16-bit linear (even-bit inversion 0x55; sign bit
    * set after the inversion means positive — the G.711 polarity). */
  def aLawDecode(code: Byte): Int = {
    val a = (code ^ 0x55) & 0xff
    val mant = (a & 0x0f) << 4
    val seg = (a >> 4) & 0x07
    val mag = if (seg == 0) mant + 8 else (mant + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) mag else -mag
  }

  /** 16-bit linear → A-law byte. */
  def aLawEncode(pcm: Int): Byte = {
    var x = pcm
    val mask = if (x >= 0) 0xd5 else { x = -x - 1; 0x55 }
    if (x > 0x7fff) x = 0x7fff
    var seg = 0
    while (seg < 7 && x >= (0x100 << seg)) seg += 1
    val mant = if (seg == 0) (x >> 4) & 0x0f else (x >> (seg + 3)) & 0x0f
    (((seg << 4) | mant) ^ mask).toByte
  }

  // ------------------------------------------------------------ IMA / DVI ADPCM

  private val imaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190, 209, 230,
    253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963,
    1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
    3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794,
    32767)

  private val imaIndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private def clamp16(v: Int): Int = if (v < -32768) -32768 else if (v > 32767) 32767 else v
  private def clampIdx(v: Int): Int = if (v < 0) 0 else if (v > 88) 88 else v

  private def imaDecodeNibble(n: Int, predIdx: Array[Int]): Int = {
    val step = imaStep(predIdx(1))
    var delta = step >> 3
    if ((n & 1) != 0) delta += step >> 2
    if ((n & 2) != 0) delta += step >> 1
    if ((n & 4) != 0) delta += step
    if ((n & 8) != 0) delta = -delta
    predIdx(0) = clamp16(predIdx(0) + delta)
    predIdx(1) = clampIdx(predIdx(1) + imaIndexAdj(n))
    predIdx(0)
  }

  private def imaEncodeNibble(sample: Int, predIdx: Array[Int]): Int = {
    val step = imaStep(predIdx(1))
    var diff = sample - predIdx(0)
    var n = if (diff < 0) { diff = -diff; 8 } else 0
    var s = step
    if (diff >= s) { n |= 4; diff -= s }
    s >>= 1
    if (diff >= s) { n |= 2; diff -= s }
    s >>= 1
    if (diff >= s) n |= 1
    imaDecodeNibble(n, predIdx) // advances predictor/index identically to the decoder
    n
  }

  private def imaAdpcmDecodeBlocks(b: Array[Byte], body: Int, dataLen: Int, channels: Int, blockAlign: Int): Array[Int] = {
    val samplesPerBlock = (blockAlign - 4 * channels) * 2 / channels + 1
    val blocks = dataLen / blockAlign
    val out = ArrayBuffer.empty[Int]
    out.sizeHint(blocks * samplesPerBlock * channels)
    var blk = 0
    while (blk < blocks) {
      val at = body + blk * blockAlign
      val state = Array.tabulate(channels) { c =>
        val h = at + 4 * c
        Array((le16(b, h) << 16) >> 16, b(h + 2) & 0xff)
      }
      // header carries sample 0 per channel
      state.foreach(s => out += s(0))
      // payload: 4-byte words per channel, interleaved; 8 nibbles per word, low first
      val wordsPerRow = (blockAlign - 4 * channels) / (4 * channels)
      var emitted = 1
      var row = 0
      while (row < wordsPerRow) {
        val rowSamples = Array.ofDim[Int](channels, 8)
        var c = 0
        while (c < channels) {
          val w = at + 4 * channels + row * 4 * channels + 4 * c
          var k = 0
          while (k < 4) {
            val byte = b(w + k) & 0xff
            rowSamples(c)(2 * k) = imaDecodeNibble(byte & 0x0f, state(c))
            rowSamples(c)(2 * k + 1) = imaDecodeNibble(byte >> 4, state(c))
            k += 1
          }
          c += 1
        }
        var k = 0
        while (k < 8) {
          if (emitted < samplesPerBlock) {
            var cc = 0
            while (cc < channels) { out += rowSamples(cc)(k); cc += 1 }
          }
          emitted += 1
          k += 1
        }
        row += 1
      }
      blk += 1
    }
    out.toArray
  }

  /** Encode interleaved 16-bit PCM as an IMA-ADPCM WAV (fmt 0x11).
    * `samplesPerBlock` must be 1 + a multiple of 8. */
  def encodeImaAdpcm(sampleRate: Int, channels: Int, samples: Array[Int], samplesPerBlock: Int = 505): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && samples.length % channels == 0)
    require(samplesPerBlock > 1 && (samplesPerBlock - 1) % 8 == 0, "samplesPerBlock must be 1+8k")
    val blockAlign = 4 * channels + (samplesPerBlock - 1) / 2 * channels
    val frames = samples.length / channels
    val nBlocks = (frames + samplesPerBlock - 1) / samplesPerBlock
    val data = new ArrayBuffer[Byte](nBlocks * blockAlign)
    val carryIdx = new Array[Int](channels) // adapted step index persists across blocks (canonical encoders)
    var blk = 0
    while (blk < nBlocks) {
      val start = blk * samplesPerBlock
      val state = Array.tabulate(channels) { c => Array(samples((start) * channels + c), carryIdx(c)) }
      var c = 0
      while (c < channels) {
        val p = state(c)(0)
        data += p.toByte; data += (p >> 8).toByte; data += state(c)(1).toByte; data += 0.toByte
        c += 1
      }
      val wordsPerRow = (blockAlign - 4 * channels) / (4 * channels)
      var row = 0
      while (row < wordsPerRow) {
        c = 0
        while (c < channels) {
          var k = 0
          while (k < 4) {
            def sampleAt(j: Int): Int = {
              val idx = start + 1 + row * 8 + j
              if (idx < frames) samples(idx * channels + c) else state(c)(0) // pad with predictor
            }
            val lo = imaEncodeNibble(sampleAt(2 * k), state(c))
            val hi = imaEncodeNibble(sampleAt(2 * k + 1), state(c))
            data += (lo | (hi << 4)).toByte
            k += 1
          }
          c += 1
        }
        row += 1
      }
      var cc = 0
      while (cc < channels) { carryIdx(cc) = state(cc)(1); cc += 1 }
      blk += 1
    }
    val out = new ArrayBuffer[Byte](60 + data.length)
    def str(s: String): Unit = out ++= s.getBytes("US-ASCII")
    str("RIFF"); putLe32(out, 4 + 28 + 12 + 8L + data.length); str("WAVE")
    str("fmt "); putLe32(out, 20L)
    putLe16(out, 0x11); putLe16(out, channels); putLe32(out, sampleRate.toLong)
    putLe32(out, sampleRate.toLong * blockAlign / samplesPerBlock); putLe16(out, blockAlign); putLe16(out, 4)
    putLe16(out, 2); putLe16(out, samplesPerBlock) // cbSize, samplesPerBlock
    str("fact"); putLe32(out, 4L); putLe32(out, frames.toLong)
    str("data"); putLe32(out, data.length.toLong)
    out ++= data
    out.toArray
  }

  /** Encode 16-bit PCM as a G.711 WAV (fmt 6 = A-law, 7 = µ-law). */
  def encodeG711(sampleRate: Int, channels: Int, samples: Array[Int], aLaw: Boolean): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && samples.length % channels == 0)
    val out = new ArrayBuffer[Byte](58 + samples.length)
    def str(s: String): Unit = out ++= s.getBytes("US-ASCII")
    str("RIFF"); putLe32(out, 4 + 26 + 12 + 8L + samples.length); str("WAVE")
    str("fmt "); putLe32(out, 18L)
    putLe16(out, if (aLaw) 6 else 7); putLe16(out, channels); putLe32(out, sampleRate.toLong)
    putLe32(out, sampleRate.toLong * channels); putLe16(out, channels); putLe16(out, 8); putLe16(out, 0)
    str("fact"); putLe32(out, 4L); putLe32(out, (samples.length / channels).toLong)
    str("data"); putLe32(out, samples.length.toLong)
    samples.foreach(s => out += (if (aLaw) aLawEncode(s) else muLawEncode(s)))
    out.toArray
  }
}
