package graft.raster

import graft.sources.Bytes.{be16, le16, le32, putLe16}

/** GIF (87a/89a) and BMP decoders — the last two sniffable still
  * formats that previously only yielded header dimensions. GIF:
  * variable-width LZW per the published spec (clear/EOI codes,
  * 12-bit cap), global/local palettes, interlace reordering; first
  * frame only (animation = repeated frames of the same machinery).
  * BMP: BITMAPINFOHEADER 8-bit palette / 24-bit / 32-bit
  * uncompressed, bottom-up and top-down. Both decode to the same
  * byte-plane Image as Png/Jpeg/Jp2, so stats/phash/resize/thumbs
  * operate on real pixels for every sniffable format.
  */
object GifBmp {

  // --------------------------------------------------------------- GIF

  def decodeGif(b: Array[Byte]): Option[Png.Image] = gifFrames(b, 1).headOption

  /** Up to `maxFrames` frames of a (possibly animated) GIF — each
    * frame rect composited onto the logical-screen canvas, disposal
    * method 2 (restore-to-background) clearing its rect to the
    * background color. The frame-sampling twin of [[graft.multimodal.Multimodal.mjpegFrames]]. */
  def gifFrames(b: Array[Byte], maxFrames: Int = 64): Seq[Png.Image] =
    try gifFrames0(b, maxFrames)
    catch { case _: Exception => Seq.empty }

  private def gifFrames0(b: Array[Byte], maxFrames: Int): Seq[Png.Image] = {
    if (b.length < 13 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F') return Seq.empty
    var pos = 6
    def u16(): Int = { val v = le16(b, pos); pos += 2; v }
    val sw = u16(); val sh = u16()
    val packed = b(pos) & 0xff
    val bgIndex = b(pos + 1) & 0xff
    pos += 3 // packed, bg index, aspect
    require(sw > 0 && sh > 0 && sw.toLong * sh < (1 << 26), "gif: bad screen size")
    var palette: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      palette = readPalette(b, pos, n)
      pos += 3 * n
    }
    val canvas = new Array[Byte](sw * sh * 3)
    if (palette != null && bgIndex < palette.length) {
      val c = palette(bgIndex)
      var i = 0
      while (i < sw * sh) {
        canvas(3 * i) = (c >> 16).toByte; canvas(3 * i + 1) = (c >> 8).toByte; canvas(3 * i + 2) = c.toByte
        i += 1
      }
    }
    val frames = scala.collection.mutable.ArrayBuffer.empty[Png.Image]
    var pendingDisposal = 0 // from the GCE preceding the NEXT frame: how that frame is disposed
    var prevDisposal = 0 // how the PREVIOUS (already drawn) frame is disposed
    var prevRect: (Int, Int, Int, Int) = null
    while (pos < b.length && frames.length < maxFrames) {
      (b(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          val label = if (pos + 1 < b.length) b(pos + 1) & 0xff else 0
          if (label == 0xF9 && pos + 4 < b.length) pendingDisposal = (b(pos + 3) >> 2) & 7
          pos += 2
          while (pos < b.length && b(pos) != 0) pos += 1 + (b(pos) & 0xff)
          pos += 1
        case 0x2C => // image descriptor
          pos += 1
          // dispose of the PREVIOUS frame (per ITS GCE) before drawing this one
          if (prevDisposal == 2 && prevRect != null && palette != null && bgIndex < palette.length) {
            val (rx, ry, rw, rh) = prevRect
            val c = palette(bgIndex)
            var y = ry
            while (y < math.min(ry + rh, sh)) {
              var x = rx
              while (x < math.min(rx + rw, sw)) {
                val o = 3 * (y * sw + x)
                canvas(o) = (c >> 16).toByte; canvas(o + 1) = (c >> 8).toByte; canvas(o + 2) = c.toByte
                x += 1
              }
              y += 1
            }
          }
          val ix = u16(); val iy = u16(); val iw = u16(); val ih = u16()
          val ip = b(pos) & 0xff; pos += 1
          var pal = palette
          if ((ip & 0x80) != 0) {
            val n = 2 << (ip & 7)
            pal = readPalette(b, pos, n)
            pos += 3 * n
          }
          require(pal != null, "gif: no color table")
          require(iw > 0 && ih > 0 && iw.toLong * ih < (1 << 26), "gif: bad frame rect")
          val interlaced = (ip & 0x40) != 0
          val minCode = b(pos) & 0xff; pos += 1
          // concatenate sub-blocks
          val data = new scala.collection.mutable.ArrayBuffer[Byte]()
          while (pos < b.length && b(pos) != 0) {
            val len = b(pos) & 0xff
            data ++= b.slice(pos + 1, pos + 1 + len)
            pos += 1 + len
          }
          pos += 1
          val idx = lzw(data.toArray, minCode, iw * ih)
          val rows =
            if (!interlaced) idx
            else {
              val out = new Array[Byte](idx.length)
              var src = 0
              Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
                var y = start
                while (y < ih) {
                  System.arraycopy(idx, src * iw, out, y * iw, math.min(iw, idx.length - src * iw))
                  src += 1; y += step
                }
              }
              out
            }
          var y = 0
          while (y < ih && iy + y < sh) {
            var x = 0
            while (x < iw && ix + x < sw) {
              val c = pal(math.min(rows(y * iw + x) & 0xff, pal.length - 1))
              val o = 3 * ((iy + y) * sw + (ix + x))
              canvas(o) = (c >> 16).toByte; canvas(o + 1) = (c >> 8).toByte; canvas(o + 2) = c.toByte
              x += 1
            }
            y += 1
          }
          prevRect = (ix, iy, iw, ih)
          prevDisposal = pendingDisposal
          pendingDisposal = 0
          frames += Png.Image(sw, sh, 3, canvas.clone())
        case 0x3B => return frames.toSeq // trailer
        case _ => return frames.toSeq
      }
    }
    frames.toSeq
  }

  private def readPalette(b: Array[Byte], at: Int, n: Int): Array[Int] =
    Array.tabulate(n) { i =>
      (be16(b, at + 3 * i) << 8) | (b(at + 3 * i + 2) & 0xff)
    }

  /** GIF variable-width LZW (little-endian bit packing). */
  private def lzw(data: Array[Byte], minCodeSize: Int, maxOut: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8, "gif: bad LZW min code size")
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](maxOut)
    var outAt = 0
    var codeSize = minCodeSize + 1
    var next = eoi + 1
    var oldCode = -1
    var acc = 0L
    var nbits = 0
    var pos = 0
    var firstByte = 0.toByte
    while (outAt < maxOut) {
      while (nbits < codeSize && pos < data.length) {
        acc |= (data(pos) & 0xffL) << nbits
        nbits += 8; pos += 1
      }
      if (nbits < codeSize) return out // truncated: emit what we have
      val code = (acc & ((1 << codeSize) - 1)).toInt
      acc >>>= codeSize; nbits -= codeSize
      if (code == clear) {
        codeSize = minCodeSize + 1; next = eoi + 1; oldCode = -1
      } else if (code == eoi) {
        return out
      } else {
        var sp = 0
        var cur = code
        if (code >= next) { // KwKwK case
          require(oldCode >= 0 && code == next, "gif: invalid LZW code")
          stack(sp) = firstByte; sp += 1
          cur = oldCode
        }
        while (cur >= clear + 2) {
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        firstByte = cur.toByte
        stack(sp) = firstByte; sp += 1
        while (sp > 0 && outAt < maxOut) { sp -= 1; out(outAt) = stack(sp); outAt += 1 }
        if (oldCode >= 0 && next < 4096) {
          prefix(next) = oldCode; suffix(next) = firstByte
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        oldCode = code
      }
    }
    out
  }

  /** Encode an indexed image as a GIF89a (real dictionary LZW, the
    * encoder twin of [[lzw]]): `palette` as 0xRRGGBB, `idx` w×h
    * palette indexes. Palette is padded to a power of two ≥ 2. */
  def encodeGif(w: Int, h: Int, palette: Array[Int], idx: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && idx.length == w * h, "gif: bad frame shape")
    require(palette.nonEmpty && palette.length <= 256, "gif: palette 1..256")
    // out-of-range indexes would alias the LZW CLEAR/EOI codes
    require(idx.forall(i => (i & 0xff) < palette.length), "gif: pixel index outside the palette")
    var bits = 1
    while ((1 << bits) < palette.length) bits += 1
    if (bits < 1) bits = 1
    val palSize = 1 << bits
    val out = new scala.collection.mutable.ArrayBuffer[Byte](idx.length / 2 + 64)
    out ++= "GIF89a".getBytes("US-ASCII")
    putLe16(out, w); putLe16(out, h)
    out += (0x80 | ((bits - 1) & 7)).toByte; out += 0; out += 0
    (0 until palSize).foreach { i =>
      val c = if (i < palette.length) palette(i) else 0
      out += (c >> 16).toByte; out += (c >> 8).toByte; out += c.toByte
    }
    out += 0x2C; putLe16(out, 0); putLe16(out, 0); putLe16(out, w); putLe16(out, h); out += 0
    val minCode = math.max(2, bits)
    out += minCode.toByte
    out ++= lzwEncode(idx, minCode)
    out += 0 // block terminator
    out += 0x3B
    out.toArray
  }

  /** Grayscale convenience: 256-entry gray ramp palette. */
  def encodeGifGray(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] =
    encodeGif(w, h, Array.tabulate(256)(i => (i << 16) | (i << 8) | i), pixels)

  /** GIF variable-width LZW encoder with the real growing dictionary
    * (hash map keyed (prefixCode << 8 | byte)), emitted as sub-blocks. */
  private def lzwEncode(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val body = new scala.collection.mutable.ArrayBuffer[Byte](data.length / 2 + 16)
    var acc = 0L
    var nbits = 0
    var codeSize = minCodeSize + 1
    def put(code: Int): Unit = {
      acc |= (code.toLong & ((1L << codeSize) - 1)) << nbits
      nbits += codeSize
      while (nbits >= 8) { body += (acc & 0xff).toByte; acc >>>= 8; nbits -= 8 }
    }
    val dict = new java.util.HashMap[Int, Int]()
    var next = eoi + 1
    put(clear)
    if (data.nonEmpty) {
      var prefix = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val c = data(i) & 0xff
        val key = (prefix << 8) | c
        val hit = dict.getOrDefault(key, -1)
        if (hit >= 0) prefix = hit
        else {
          put(prefix)
          if (next < 4096) {
            dict.put(key, next)
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
            next += 1
          } else { // dictionary full: reset (decoder mirrors on CLEAR)
            put(clear)
            dict.clear()
            codeSize = minCodeSize + 1
            next = eoi + 1
          }
          prefix = c
        }
        i += 1
      }
      put(prefix)
    }
    put(eoi)
    if (nbits > 0) body += (acc & 0xff).toByte
    val out = new scala.collection.mutable.ArrayBuffer[Byte](body.length + body.length / 255 + 2)
    var at = 0
    while (at < body.length) {
      val len = math.min(255, body.length - at)
      out += len.toByte
      out ++= body.slice(at, at + len)
      at += len
    }
    out.toArray
  }

  /** q_gif: per (event_type, id%16 shard), a deterministic gray plane
    * built from the shard's own event ids cycles through the GIF codec
    * in-task (the palette is the identity ramp, so indexes == gray
    * values and the cycle is lossless); the decoded sum must equal the
    * oracle's direct aggregate. Shard sums re-aggregate per group
    * (additive — oracle unchanged). */
  def gifQuery(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val n = sorted.length
      val w = 64
      val h = math.max(1, (n + w - 1) / w)
      val px = new Array[Byte](w * h)
      var i = 0
      while (i < n) { px(i) = ((sorted(i) * 37) % 256).toByte; i += 1 }
      val dec = decodeGif(encodeGifGray(w, h, px)).getOrElse(sys.error("gif cycle failed"))
      require(dec.width == w && dec.height == h && dec.channels == 3, "gif meta drift")
      var sum = 0L
      i = 0
      while (i < w * h) {
        val r = dec.pixels(3 * i) & 0xff
        require(r == (dec.pixels(3 * i + 1) & 0xff) && r == (dec.pixels(3 * i + 2) & 0xff), "gray ramp broken")
        sum += r
        i += 1
      }
      Seq(n.toLong, sum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_px"), sum($"a".getItem(1)).as("gray_sum"))
      .orderBy($"event_type")
  }

  // --------------------------------------------------------------- BMP

  def decodeBmp(b: Array[Byte]): Option[Png.Image] =
    try decodeBmp0(b)
    catch { case _: Exception => None }

  private def decodeBmp0(b: Array[Byte]): Option[Png.Image] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dataAt = le32(b, 10)
    val hdrSize = le32(b, 14)
    if (hdrSize < 40) return None // BITMAPCOREHEADER out of scope
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h == 0 || w.toLong * h > (1L << 26)) return None
    if (le16(b, 26) != 1) return None // planes
    val bpp = le16(b, 28)
    if (le32(b, 30) != 0) return None // compressed BMP (RLE/bitfields) out of scope
    val palAt = 14 + hdrSize
    val palCount = { val c = le32(b, 46); if (c != 0) c else if (bpp == 8) 256 else 0 }
    val rowBytes = (w * bpp / 8 + 3) & ~3
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataAt + (if (topDown) y else h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        val (r, g, bb) = bpp match {
          case 8 =>
            val i = b(srcRow + x) & 0xff
            if (i < palCount) {
              val p = palAt + 4 * i // BGRA quads
              ((b(p + 2) & 0xff), (b(p + 1) & 0xff), (b(p) & 0xff))
            } else (0, 0, 0)
          case 24 =>
            val p = srcRow + 3 * x
            ((b(p + 2) & 0xff), (b(p + 1) & 0xff), (b(p) & 0xff))
          case 32 =>
            val p = srcRow + 4 * x
            ((b(p + 2) & 0xff), (b(p + 1) & 0xff), (b(p) & 0xff))
          case _ => return None
        }
        val o = 3 * (y * w + x)
        px(o) = r.toByte; px(o + 1) = g.toByte; px(o + 2) = bb.toByte
        x += 1
      }
      y += 1
    }
    Some(Png.Image(w, h, 3, px))
  }
}
