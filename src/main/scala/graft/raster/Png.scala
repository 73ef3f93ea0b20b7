package graft.raster

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

import graft.sources.Bytes.{be32, setBe32, writeBe32}

/** Minimal deterministic PNG codec (public spec, RFC 2083) — the byte
  * encoder that completes the tiler path (`gdaltiler.cpp:200-400`
  * emits PNG tiles). Hand-rolled rather than ImageIO so the output
  * bytes are deterministic across JVMs: fixed Deflater level, no
  * ancillary chunks, filter type 0 on every scanline.
  *
  * Encode supports 8-bit greyscale (tiler band output) and 8-bit RGB
  * (colormapped output). Decode covers the full 8-bit baseline —
  * colour types 0/2/3/4/6, all five row filters including Paeth —
  * so EXTERNAL PNGs (ImageIO output, real corpora) decode too;
  * PngSpec proves exact agreement against ImageIO both directions
  * (PNG is lossless, so equality is bitwise).
  */
object Png {

  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  private def chunk(out: ByteArrayOutputStream, tag: String, data: Array[Byte]): Unit = {
    writeBe32(out, data.length)
    val tb = tag.getBytes("US-ASCII")
    out.write(tb)
    out.write(data)
    val crc = new CRC32()
    crc.update(tb); crc.update(data)
    writeBe32(out, crc.getValue.toInt)
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_SPEED) // fixed level → deterministic bytes
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Encode an 8-bit image; `channels` = 1 (grey) or 3 (RGB), pixels
    * row-major, `pixels.length == width*height*channels`. */
  def encode(width: Int, height: Int, channels: Int, pixels: Array[Byte]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels must be 1 or 3, got $channels")
    require(pixels.length == width * height * channels, "pixel buffer size mismatch")
    val out = new ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = new Array[Byte](13)
    setBe32(ihdr, 0, width); setBe32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = if (channels == 1) 0 else 2 // colour type: grey | truecolour
    // compression 0, filter 0, interlace 0 already zeroed
    chunk(out, "IHDR", ihdr)
    // raw scanlines: filter byte 0 + row bytes
    val stride = width * channels
    val raw = new Array[Byte](height * (stride + 1))
    var y = 0
    while (y < height) {
      raw(y * (stride + 1)) = 0
      System.arraycopy(pixels, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    chunk(out, "IDAT", deflate(raw))
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  def encodeGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] =
    encode(width, height, 1, pixels)

  final case class Image(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  def isPng(b: Array[Byte]): Boolean =
    b != null && b.length > 8 && (0 until 8).forall(i => b(i) == Signature(i))

  /** Decode the full 8-bit baseline: colour types 0 (grey), 2 (RGB),
    * 3 (palette, expanded to RGB), 4/6 (alpha stripped), all five
    * per-row filters including Paeth. 16-bit and Adam7 interlace
    * return None (flag, don't abort). */
  def decode(bytes: Array[Byte]): Option[Image] = {
    if (!isPng(bytes)) return None
    try {
      var i = 8
      var width = 0; var height = 0
      var rawCh = 0 // channels in the filtered stream (incl. alpha / palette index)
      var outCh = 0
      var interlace = 0
      var palette: Array[Byte] = null
      val idat = new ByteArrayOutputStream()
      var done = false
      while (!done && i + 8 <= bytes.length) {
        val len = be32(bytes, i)
        val tag = new String(bytes, i + 4, 4, "US-ASCII")
        val data = i + 8
        tag match {
          case "IHDR" =>
            width = be32(bytes, data); height = be32(bytes, data + 4)
            val bitDepth = bytes(data + 8) & 0xff
            val colour = bytes(data + 9) & 0xff
            interlace = bytes(data + 12) & 0xff
            if (bitDepth != 8 || interlace > 1) return None
            colour match {
              case 0 => rawCh = 1; outCh = 1
              case 2 => rawCh = 3; outCh = 3
              case 3 => rawCh = 1; outCh = 3 // palette indices
              case 4 => rawCh = 2; outCh = 1 // grey + alpha (alpha stripped)
              case 6 => rawCh = 4; outCh = 3 // RGBA (alpha stripped)
              case _ => return None
            }
            if (colour != 3) palette = null
          case "PLTE" => palette = java.util.Arrays.copyOfRange(bytes, data, data + len)
          case "IDAT" => idat.write(bytes, data, len)
          case "IEND" => done = true
          case _ => () // ancillary chunks skipped
        }
        i = data + len + 4
      }
      if (width <= 0 || height <= 0 || rawCh == 0) return None
      if (outCh == 3 && rawCh == 1 && palette == null) return None // type 3 needs PLTE
      val stride = width * rawCh
      // pass layout: one full pass, or the seven Adam7 sub-images
      val passes: Seq[(Int, Int, Int, Int)] =
        if (interlace == 0) Seq((0, 0, 1, 1))
        else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      val passDims = passes.map { case (x0, y0, dx, dy) =>
        val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
        val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
        (pw, ph)
      }
      val rawLen = passDims.map { case (pw, ph) => if (pw == 0 || ph == 0) 0L else ph.toLong * (pw * rawCh + 1) }.sum
      if (rawLen <= 0 || rawLen > Int.MaxValue - 8) return None // implausible dims: refuse, don't allocate
      val inf = new Inflater()
      inf.setInput(idat.toByteArray)
      val raw = new Array[Byte](rawLen.toInt)
      var off = 0
      var stuck = false
      while (!inf.finished() && off < raw.length && !stuck) {
        val n = inf.inflate(raw, off, raw.length - off)
        // truncated/garbled stream: inflate yields nothing and wants
        // more input that doesn't exist — flag, don't spin
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
        off += n
      }
      inf.end()
      if (off < raw.length) return None
      // defilter each pass, then scatter its samples to final positions
      val px = new Array[Byte](height * stride)
      var rawOff = 0
      passes.zip(passDims).foreach { case ((x0, y0, dx, dy), (pw, ph)) =>
        if (pw > 0 && ph > 0) {
          val sub = defilter(raw, rawOff, pw, ph, rawCh)
          if (sub == null) return None
          var j = 0
          while (j < ph) {
            var i = 0
            while (i < pw) {
              var c = 0
              while (c < rawCh) {
                px((y0 + j * dy) * stride + (x0 + i * dx) * rawCh + c) = sub((j * pw + i) * rawCh + c)
                c += 1
              }
              i += 1
            }
            j += 1
          }
          rawOff += ph * (pw * rawCh + 1)
        }
      }
      // project the raw stream to the output channels
      val out =
        if (rawCh == outCh) px
        else {
          val o = new Array[Byte](width * height * outCh)
          var p = 0
          while (p < width * height) {
            if (palette != null) { // palette index → RGB
              val idx = (px(p) & 0xff) * 3
              o(3 * p) = palette(idx); o(3 * p + 1) = palette(idx + 1); o(3 * p + 2) = palette(idx + 2)
            } else {
              var c = 0
              while (c < outCh) { o(p * outCh + c) = px(p * rawCh + c); c += 1 }
            }
            p += 1
          }
          o
        }
      Some(Image(width, height, outCh, out))
    } catch { case _: Exception => None }
  }

  /** Defilter one (sub-)image of `pw`×`ph` pixels at `off` in the
    * inflated stream (1 filter byte + pw·ch samples per row). Null on
    * an unknown filter type (caller refuses the file). */
  private def defilter(raw: Array[Byte], off: Int, pw: Int, ph: Int, ch: Int): Array[Byte] = {
    val stride = pw * ch
    val out = new Array[Byte](ph * stride)
    var y = 0
    while (y < ph) {
      val f = raw(off + y * (stride + 1)) & 0xff
      val row = off + y * (stride + 1) + 1
      var x = 0
      while (x < stride) {
        val cur = raw(row + x) & 0xff
        val left = if (x >= ch) out(y * stride + x - ch) & 0xff else 0
        val up = if (y > 0) out((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= ch) out((y - 1) * stride + x - ch) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => (cur + left) & 0xff // Sub
          case 2 => (cur + up) & 0xff // Up
          case 3 => (cur + (left + up) / 2) & 0xff // Average
          case 4 => // Paeth
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            (cur + pred) & 0xff
          case _ => return null
        }
        out(y * stride + x) = v.toByte
        x += 1
      }
      y += 1
    }
    out
  }
}
