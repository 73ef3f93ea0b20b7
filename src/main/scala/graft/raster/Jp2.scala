package graft.raster

import scala.collection.mutable.ArrayBuffer

import Jp2Codec._

import graft.sources.Bytes.{be16, be32, be32u, be64, putBe16, putBe32}

/** JPEG 2000 Part-1 codestream + JP2 container (ISO/IEC 15444-1 /
  * ITU-T T.800) — the lossless profile the reference's GeoRaster path
  * consumes via GDAL/OpenJPEG (entry.cpp routes .jp2 rasters through
  * GDAL; we decode natively like Png/Jpeg/Tiff).
  *
  * Encoder subset (a valid Part-1 codestream): single tile at the
  * origin, reversible 5/3 transform, RCT when 3 components, one
  * quality layer, LRCP progression, maximal precincts, 64×64
  * code-blocks, no coder bypass/termination options, lossless (all
  * bitplanes, all passes) — plus [[encodeJ2k97]], the lossy path:
  * irreversible 9/7 (Annex F), ICT (G.3), expounded scalar
  * quantization (Annex E) at a caller-chosen step. Decoder accepts
  * both wavelets generally (any decomposition count, code-block
  * size, depth ≤ 16, any component count; 9/7 requires expounded
  * QCD) and fails with named errors on features outside the subset
  * (multiple tiles with origins, scalar-derived QCD, multiple
  * layers).
  *
  * Layout references: markers A.5–A.6, packet headers B.10, tag
  * trees B.10.2, code-block passes Annex D, 5/3 lifting Annex F,
  * RCT G.2; JP2 boxes I.4–I.5.
  */
object Jp2 {

  final case class Image(width: Int, height: Int, depth: Int, comps: Array[Array[Int]]) {
    def channels: Int = comps.length
  }

  private val GuardBits = 3
  private val CbExp = 6 // 64×64 code-blocks

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** (orientCode, level) pairs for resolution r of an N-level tile;
    * orientCode: 0=LL, 1=HL, 2=LH, 3=HH. */
  private def bandsOf(r: Int, levels: Int): Seq[Int] =
    if (r == 0) Seq(0) else Seq(1, 2, 3)

  /** Band geometry in the Mallat layout: (x0, y0, bw, bh). */
  private def bandRect(orient: Int, lev: Int, w: Int, h: Int): (Int, Int, Int, Int) = {
    def llw(l: Int): Int = { var v = w; var i = 0; while (i < l) { v = (v + 1) / 2; i += 1 }; v }
    def llh(l: Int): Int = { var v = h; var i = 0; while (i < l) { v = (v + 1) / 2; i += 1 }; v }
    orient match {
      case 0 => (0, 0, llw(lev), llh(lev))
      case 1 => (llw(lev), 0, llw(lev - 1) - llw(lev), llh(lev))
      case 2 => (0, llh(lev), llw(lev), llh(lev - 1) - llh(lev))
      case _ => (llw(lev), llh(lev), llw(lev - 1) - llw(lev), llh(lev - 1) - llh(lev))
    }
  }

  private def orientOf(bandCode: Int): Int = bandCode match {
    case 1 => OrientHL
    case 3 => OrientHH
    case _ => OrientLL // LL and LH share the context table (LH = vertical high-pass)
  }

  private def gainOf(bandCode: Int): Int = bandCode match {
    case 0 => 0
    case 3 => 2
    case _ => 1
  }

  // ------------------------------------------------------------ encode

  /** Lossless encode to a raw J2K codestream. `comps`: per-component
    * row-major unsigned samples in [0, 2^depth). */
  /** Main-header bytes (SOC..QCD). Shared by the single-shot encoder
    * and the distributed tiled writer. */
  def headerBytes(width: Int, height: Int, depth: Int, nc: Int, mct: Boolean,
                  levels: Int, tileW: Int, tileH: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](64)
    def u8(v: Int): Unit = out += v.toByte
    putBe16(out, 0xFF4F)
    putBe16(out, 0xFF51); putBe16(out, 38 + 3 * nc)
    putBe16(out, 0) // Rsiz
    putBe32(out, width); putBe32(out, height); putBe32(out, 0); putBe32(out, 0) // image, origin
    putBe32(out, tileW); putBe32(out, tileH); putBe32(out, 0); putBe32(out, 0) // tile grid at the origin
    putBe16(out, nc)
    (0 until nc).foreach { _ => u8(depth - 1); u8(1); u8(1) }
    putBe16(out, 0xFF52); putBe16(out, 12)
    u8(0) // Scod: default precincts, no SOP/EPH
    u8(0) // progression LRCP
    putBe16(out, 1) // layers
    u8(if (mct) 1 else 0)
    u8(levels)
    u8(CbExp - 2); u8(CbExp - 2)
    u8(0) // code-block style
    u8(1) // 5/3 reversible
    putBe16(out, 0xFF5C); putBe16(out, 3 + 3 * levels + 1)
    u8((GuardBits << 5) | 0)
    u8(depth << 3) // LL_N
    var r = 1
    while (r <= levels) {
      Seq(1, 2, 3).foreach(b => u8((depth + gainOf(b)) << 3))
      r += 1
    }
    out.toArray
  }

  /** One complete tile-part (SOT..end of packet data) for tile
    * `tileIdx`. `tileComps` hold the tile's own pixels (tw×th,
    * row-major, unsigned). Pure function of the tile — the
    * distributed writer maps tiles to this on executors and the
    * driver concatenates parts in index order. */
  def tilePart(tileIdx: Int, tw: Int, th: Int, depth: Int, tileComps: Array[Array[Int]],
               levels: Int, mct: Boolean): Array[Byte] = {
    require(tileComps.forall(_.length == tw * th), "jp2: tile shape mismatch")
    val nc = tileComps.length
    val planes = tileComps.map { c =>
      val a = new Array[Int](c.length)
      val shift = 1 << (depth - 1)
      var i = 0
      while (i < c.length) { a(i) = c(i) - shift; i += 1 }
      a
    }
    if (mct) {
      val (r, g, b) = (planes(0), planes(1), planes(2))
      var i = 0
      while (i < r.length) {
        val y = (r(i) + 2 * g(i) + b(i)) >> 2
        val cb = b(i) - g(i)
        val cr = r(i) - g(i)
        r(i) = y; g(i) = cb; b(i) = cr
        i += 1
      }
    }
    planes.foreach(p => fdwt53(p, tw, th, levels))

    val out = new ArrayBuffer[Byte](tw * th * nc / 2 + 64)
    def u8(v: Int): Unit = out += v.toByte
    putBe16(out, 0xFF90); putBe16(out, 10); putBe16(out, tileIdx); putBe32(out, 0); u8(0); u8(1) // SOT, Psot patched below
    putBe16(out, 0xFF93) // SOD
    var r = 0
    while (r <= levels) {
      var c = 0
      while (c < nc) {
        out ++= encodePacket(planes(c), tw, th, levels, r, b => depth + gainOf(b) + GuardBits - 1)
        c += 1
      }
      r += 1
    }
    val psot = out.length
    out(6) = (psot >> 24).toByte
    out(7) = (psot >> 16).toByte
    out(8) = (psot >> 8).toByte
    out(9) = psot.toByte
    out.toArray
  }

  /** Lossless encode to a raw J2K codestream. `comps`: per-component
    * row-major unsigned samples in [0, 2^depth). `tileSize` 0 = one
    * tile spanning the image; otherwise a tileSize×tileSize grid from
    * the origin — each tile codes independently (the scale shape: on
    * a cluster, tiles are a `mapPartitions` over tile ids and this
    * function's body IS the per-task kernel via [[tilePart]]). */
  def encodeJ2k(width: Int, height: Int, depth: Int, comps: Array[Array[Int]], levels: Int = 3,
                tileSize: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0 && width < 32768 && height < 32768, "jp2: size out of supported range")
    require(depth >= 1 && depth <= 16, "jp2: depth 1..16")
    require(comps.nonEmpty && comps.forall(_.length == width * height), "jp2: component shape mismatch")
    require(levels >= 0 && levels <= 10, "jp2: 0..10 decomposition levels")
    require(tileSize == 0 || tileSize >= 16, "jp2: tiles must be >= 16 px")
    val nc = comps.length
    val mct = nc == 3
    val tileW = if (tileSize > 0) tileSize else width
    val tileH = if (tileSize > 0) tileSize else height
    val ntx = ceilDiv(width, tileW)
    val nty = ceilDiv(height, tileH)
    require(ntx * nty <= 65535, "jp2: too many tiles")

    val out = new ArrayBuffer[Byte](width * height * nc / 2 + 512)
    out ++= headerBytes(width, height, depth, nc, mct, levels, tileW, tileH)
    var t = 0
    while (t < ntx * nty) {
      val tx = t % ntx; val ty = t / ntx
      val x0 = tx * tileW; val y0 = ty * tileH
      val tw = math.min(tileW, width - x0)
      val th = math.min(tileH, height - y0)
      val tileComps = comps.map { c =>
        val a = new Array[Int](tw * th)
        var y = 0
        while (y < th) { System.arraycopy(c, (y0 + y) * width + x0, a, y * tw, tw); y += 1 }
        a
      }
      out ++= tilePart(t, tw, th, depth, tileComps, levels, mct)
      t += 1
    }
    out += 0xFF.toByte; out += 0xD9.toByte // EOC
    out.toArray
  }

  // ------------------------------------------------------------ 9/7 lossy encode

  /** (ε, µ) whose step 2^(Rb−ε)(1+µ/2048) best matches `step`. */
  private def quantParams(rb: Int, step: Double): (Int, Int) = {
    val e = math.floor(math.log(step) / math.log(2.0)).toInt
    var eps = rb - e
    var mu = math.round((step / math.pow(2.0, e) - 1.0) * 2048.0).toInt
    if (mu >= 2048) { mu = 0; eps -= 1 } // rounding rolled into the next octave
    require(eps >= 1 && eps <= 31, s"jp2: quantization step $step out of range for Rb=$rb")
    (eps, math.max(0, mu))
  }

  private def deltaFrom(rb: Int, eps: Int, mu: Int): Double =
    math.pow(2.0, rb - eps) * (1.0 + mu / 2048.0)

  /** Lossy encode: irreversible 9/7 wavelet + ICT + expounded scalar
    * quantization (uniform absolute step across bands — the DC-gain-1
    * normalization makes that a flat spatial error), single tile,
    * LRCP, all coding passes of the quantized magnitudes. `step` in
    * sample units: ~1.0 is visually tight at depth 8; larger = lossier
    * and smaller output. */
  /** Per-subband (ε, µ) for a uniform absolute step at `depth`. */
  private def quantTable(depth: Int, levels: Int, step: Double): Array[(Int, Int)] =
    Array.tabulate(3 * levels + 1) { i =>
      val bandCode = if (i == 0) 0 else (i - 1) % 3 + 1
      quantParams(depth + gainOf(bandCode), step)
    }

  private def qIdx97(r: Int, bandCode: Int): Int = if (r == 0) 0 else 3 * (r - 1) + bandCode

  /** Main-header bytes for the 9/7 path (COD transform 0, expounded
    * QCD). Shared by the single-shot and distributed tiled writers. */
  def headerBytes97(width: Int, height: Int, depth: Int, nc: Int, mct: Boolean,
                    levels: Int, tileW: Int, tileH: Int, step: Double): Array[Byte] = {
    val quant = quantTable(depth, levels, step)
    val out = new ArrayBuffer[Byte](64)
    def u8(v: Int): Unit = out += v.toByte
    putBe16(out, 0xFF4F)
    putBe16(out, 0xFF51); putBe16(out, 38 + 3 * nc)
    putBe16(out, 0)
    putBe32(out, width); putBe32(out, height); putBe32(out, 0); putBe32(out, 0)
    putBe32(out, tileW); putBe32(out, tileH); putBe32(out, 0); putBe32(out, 0)
    putBe16(out, nc)
    (0 until nc).foreach { _ => u8(depth - 1); u8(1); u8(1) }
    putBe16(out, 0xFF52); putBe16(out, 12)
    u8(0); u8(0); putBe16(out, 1)
    u8(if (mct) 1 else 0)
    u8(levels)
    u8(CbExp - 2); u8(CbExp - 2)
    u8(0)
    u8(0) // 9/7 irreversible
    putBe16(out, 0xFF5C); putBe16(out, 3 + 2 * (3 * levels + 1))
    u8((GuardBits << 5) | 2) // scalar expounded
    quant.foreach { case (eps, mu) => putBe16(out, (eps << 11) | mu) }
    out.toArray
  }

  /** One complete 9/7 tile-part (SOT..end of packet data), a pure
    * function of the tile — ICT + forward 9/7 + quantization + Tier-1
    * run on the executor, the driver only concatenates (the
    * distributed-orthophoto shape: lossy coding is the expensive step
    * and it parallelizes per tile with zero coordination). */
  def tilePart97(tileIdx: Int, tw: Int, th: Int, depth: Int, tileComps: Array[Array[Int]],
                 levels: Int, mct: Boolean, step: Double): Array[Byte] = {
    require(tileComps.forall(_.length == tw * th), "jp2: tile shape mismatch")
    val nc = tileComps.length
    val quant = quantTable(depth, levels, step)
    val shift = 1 << (depth - 1)
    val planesD = tileComps.map { c =>
      val a = new Array[Double](c.length)
      var i = 0
      while (i < c.length) { a(i) = c(i) - shift; i += 1 }
      a
    }
    if (mct) { // ICT forward (G.3)
      val (r, g, b) = (planesD(0), planesD(1), planesD(2))
      var i = 0
      while (i < r.length) {
        val y = 0.299 * r(i) + 0.587 * g(i) + 0.114 * b(i)
        val cb = -0.168736 * r(i) - 0.331264 * g(i) + 0.5 * b(i)
        val cr = 0.5 * r(i) - 0.418688 * g(i) - 0.081312 * b(i)
        r(i) = y; g(i) = cb; b(i) = cr
        i += 1
      }
    }
    planesD.foreach(p => fdwt97(p, tw, th, levels))
    // quantize the Mallat layout band-by-band into signed indices
    val planes = planesD.map { dp =>
      val q = new Array[Int](dp.length)
      var r = 0
      while (r <= levels) {
        val lev = if (r == 0) levels else levels - r + 1
        bandsOf(r, levels).foreach { bandCode =>
          val (bx0, by0, bw, bh) = bandRect(bandCode, lev, tw, th)
          val (eps, mu) = quant(qIdx97(r, bandCode))
          val delta = deltaFrom(depth + gainOf(bandCode), eps, mu)
          var y = 0
          while (y < bh) {
            var x = 0
            while (x < bw) {
              val v = dp((by0 + y) * tw + (bx0 + x))
              val m = math.floor(math.abs(v) / delta).toInt
              q((by0 + y) * tw + (bx0 + x)) = if (v < 0) -m else m
              x += 1
            }
            y += 1
          }
        }
        r += 1
      }
      q
    }
    val out = new ArrayBuffer[Byte](tw * th * nc / 4 + 64)
    def u8(v: Int): Unit = out += v.toByte
    putBe16(out, 0xFF90); putBe16(out, 10); putBe16(out, tileIdx); putBe32(out, 0); u8(0); u8(1)
    putBe16(out, 0xFF93)
    var r = 0
    while (r <= levels) {
      var c = 0
      while (c < nc) {
        val rr = r
        out ++= encodePacket(planes(c), tw, th, levels, r,
          b => GuardBits + quant(qIdx97(rr, b))._1 - 1)
        c += 1
      }
      r += 1
    }
    val psot = out.length
    out(6) = (psot >> 24).toByte
    out(7) = (psot >> 16).toByte
    out(8) = (psot >> 8).toByte
    out(9) = psot.toByte
    out.toArray
  }

  def encodeJ2k97(width: Int, height: Int, depth: Int, comps: Array[Array[Int]],
                  levels: Int = 3, step: Double = 1.0): Array[Byte] = {
    require(width > 0 && height > 0 && width < 32768 && height < 32768, "jp2: size out of supported range")
    require(depth >= 1 && depth <= 16, "jp2: depth 1..16")
    require(comps.nonEmpty && comps.forall(_.length == width * height), "jp2: component shape mismatch")
    require(levels >= 0 && levels <= 10, "jp2: 0..10 decomposition levels")
    require(step > 0 && step.isFinite, "jp2: bad quantization step")
    val mct = comps.length == 3
    headerBytes97(width, height, depth, comps.length, mct, levels, width, height, step) ++
      tilePart97(0, width, height, depth, comps, levels, mct, step) ++
      Array(0xFF.toByte, 0xD9.toByte)
  }

  /** Distributed tiled 9/7 encode: executors run [[tilePart97]] per
    * tile (the expensive ICT/DWT/Tier-1 work), the driver assembles
    * header + parts — byte-identical to a single-shot tiled encode.
    * Single-component tiles (the ortho-band shape). */
  def encodeTiled97Distributed(s: org.apache.spark.sql.SparkSession, width: Int, height: Int,
                               depth: Int, levels: Int, tileSize: Int, step: Double,
                               tiles: org.apache.spark.sql.Dataset[(Int, Array[Int])]): Array[Byte] = {
    val ntx = ceilDiv(width, tileSize)
    val nty = ceilDiv(height, tileSize)
    val (w, h, d, lv, ts, st) = (width, height, depth, levels, tileSize, step)
    import s.implicits._
    val parts = tiles
      .map { case (t, px) =>
        val tx = t % ntx; val ty = t / ntx
        val tw = math.min(ts, w - tx * ts)
        val th = math.min(ts, h - ty * ts)
        (t, Jp2.tilePart97(t, tw, th, d, Array(px), lv, mct = false, st))
      }
      .collect()
      .sortBy(_._1)
    require(parts.length == ntx * nty && parts.map(_._1).toSeq == (0 until ntx * nty),
      "jp2: tile set incomplete")
    headerBytes97(w, h, d, 1, mct = false, lv, ts, ts, st) ++ parts.flatMap(_._2) ++
      Array(0xFF.toByte, 0xD9.toByte)
  }

  /** One LRCP packet: all bands of resolution r for one component.
    * `mbOf` gives the band's bit-plane count Mb (reversible:
    * depth+gain+guard−1; quantized: guard+ε_b−1). */
  private def encodePacket(plane: Array[Int], w: Int, h: Int, levels: Int, r: Int,
                           mbOf: Int => Int): Array[Byte] = {
    val lev = if (r == 0) levels else levels - r + 1
    final case class Blk(bx: Int, by: Int, nbps: Int, missing: Int, data: Array[Byte], npasses: Int)
    val perBand = bandsOf(r, levels).map { bandCode =>
      val (x0, y0, bw, bh) = bandRect(bandCode, lev, w, h)
      val orient = orientOf(bandCode)
      val mb = mbOf(bandCode)
      val nbx = if (bw == 0) 0 else ceilDiv(bw, 1 << CbExp)
      val nby = if (bh == 0) 0 else ceilDiv(bh, 1 << CbExp)
      val blks = for (by <- 0 until nby; bx <- 0 until nbx) yield {
        val cx0 = bx << CbExp; val cy0 = by << CbExp
        val cw = math.min(1 << CbExp, bw - cx0)
        val ch = math.min(1 << CbExp, bh - cy0)
        val mag = new Array[Int](cw * ch)
        val sgn = new Array[Int](cw * ch)
        var y = 0
        while (y < ch) {
          var x = 0
          while (x < cw) {
            val v = plane((y0 + cy0 + y) * w + (x0 + cx0 + x))
            mag(y * cw + x) = math.abs(v)
            sgn(y * cw + x) = if (v < 0) 1 else 0
            x += 1
          }
          y += 1
        }
        val (nbps, data) = encodeBlock(cw, ch, orient, mag, sgn)
        require(nbps <= mb, s"jp2: coefficient overflow band=$bandCode nbps=$nbps Mb=$mb")
        Blk(bx, by, nbps, mb - nbps, data, if (nbps == 0) 0 else 3 * nbps - 2)
      }
      (nbx, nby, blks)
    }

    val anyIncluded = perBand.exists(_._3.exists(_.nbps > 0))
    val hw = new HeaderWriter
    if (!anyIncluded) {
      hw.bit(0)
      return hw.flush()
    }
    hw.bit(1)
    perBand.foreach { case (nbx, nby, blks) =>
      if (nbx > 0 && nby > 0) {
        val incl = new TagTree(nbx, nby)
        val zbp = new TagTree(nbx, nby)
        incl.build((x, y) => if (blks(y * nbx + x).nbps > 0) 0 else 1)
        zbp.build((x, y) => blks(y * nbx + x).missing)
        blks.foreach { b =>
          incl.encode(b.bx, b.by, 1, hw)
          if (b.nbps > 0) {
            // zero-bitplane tag tree: drive thresholds until the leaf pins
            var t = 1
            while (t <= b.missing + 1) { zbp.encode(b.bx, b.by, t, hw); t += 1 }
            writePasses(hw, b.npasses)
            var lblock = 3
            val len = b.data.length
            val lenBits = math.max(1, 32 - Integer.numberOfLeadingZeros(if (len == 0) 1 else len))
            val passBits = 31 - Integer.numberOfLeadingZeros(b.npasses)
            while (lblock + passBits < lenBits) { hw.bit(1); lblock += 1 }
            hw.bit(0)
            hw.bits(len.toLong, lblock + passBits)
          }
        }
      }
    }
    val header = hw.flush()
    val body = perBand.flatMap(_._3).filter(_.nbps > 0).flatMap(_.data).toArray
    header ++ body
  }

  private def writePasses(hw: HeaderWriter, n: Int): Unit = {
    if (n == 1) hw.bit(0)
    else if (n == 2) { hw.bit(1); hw.bit(0) }
    else if (n <= 5) { hw.bits(0x3, 2); hw.bits(n - 3, 2) }
    else if (n <= 36) { hw.bits(0xF, 4); hw.bits(n - 6, 5) }
    else { hw.bits(0x1FF, 9); hw.bits(n - 37, 7) }
  }

  private def readPasses(hr: HeaderReader): Int = {
    if (hr.bit() == 0) 1
    else if (hr.bit() == 0) 2
    else {
      val t = hr.bits(2).toInt
      if (t < 3) 3 + t
      else {
        val t2 = hr.bits(5).toInt
        if (t2 < 31) 6 + t2
        else 37 + hr.bits(7).toInt
      }
    }
  }

  // ------------------------------------------------------------ decode

  /** Decode a raw J2K codestream (the encoder's subset, generalized). */
  def decodeJ2k(bytes: Array[Byte]): Image = decodeJ2kReduced(bytes, 0)

  /** Resolution-progressive decode: reconstruct the image with the
    * top `discard` resolutions dropped — size ceil(w/2^d) × ceil(h/2^d).
    * Only the low-resolution packets are entropy-decoded; the rest of
    * each tile is SKIPPED via Psot, so an overview/thumbnail read of a
    * huge tiled ortho touches a small fraction of the bytes (the
    * COG-overview access pattern, native to JPEG 2000). */
  def decodeJ2kReduced(bytes: Array[Byte], discard: Int): Image =
    try decodeJ2k0(bytes, discard)
    catch {
      case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("jp2: malformed or truncated codestream", e)
      case e: NegativeArraySizeException =>
        throw new IllegalArgumentException("jp2: malformed size field", e)
    }

  private def decodeJ2k0(bytes: Array[Byte], discard: Int): Image = {
    var pos = 0
    def u16(): Int = { val v = be16(bytes, pos); pos += 2; v }
    def u32(): Int = { val v = be32(bytes, pos); pos += 4; v }
    def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }

    require(bytes.length > 4 && u16() == 0xFF4F, "jp2: missing SOC")
    var width = 0; var height = 0; var nc = 0; var depth = 0
    var tileW = 0; var tileH = 0
    var levels = -1; var mct = false; var cbExpX = CbExp; var cbExpY = CbExp
    var sawSiz = false; var sawCod = false
    var guard = GuardBits
    var reversible = true
    var quantStyle = 0
    var quantRaw: Array[Byte] = null
    var sotStart = -1
    var tilePsot = 0L

    var tileIdx = -1
    while (tileIdx < 0) {
      val marker = u16()
      marker match {
        case 0xFF51 => // SIZ
          val l = u16(); val end = pos + l - 2
          val rsiz = u16()
          require(rsiz == 0 || rsiz == 1 || rsiz == 2, "jp2: unknown Rsiz")
          width = u32(); height = u32()
          require(width > 0 && height > 0 && width < 32768 && height < 32768,
            "jp2: image size out of supported range")
          require(u32() == 0 && u32() == 0, "jp2: non-zero image origin unsupported")
          tileW = u32(); tileH = u32()
          require(u32() == 0 && u32() == 0, "jp2: non-zero tile origin unsupported")
          require(tileW > 0 && tileH > 0, "jp2: bad tile grid")
          nc = u16()
          require(nc >= 1 && nc <= 16384, "jp2: bad component count")
          // combined pixel budget: bound nc*w*h before any allocation so a
          // crafted SIZ header can't request terabytes (each bound alone passes)
          require(nc.toLong * width * height <= (1L << 30),
            "jp2: total sample count exceeds decoder budget")
          depth = -1
          (0 until nc).foreach { _ =>
            val ssiz = u8()
            require((ssiz & 0x80) == 0, "jp2: signed components unsupported")
            val d = (ssiz & 0x7f) + 1
            if (depth < 0) depth = d else require(depth == d, "jp2: mixed depths unsupported")
            require(u8() == 1 && u8() == 1, "jp2: subsampled components unsupported")
          }
          require(depth <= 16, "jp2: depth > 16 unsupported")
          pos = end
          sawSiz = true
        case 0xFF52 => // COD
          val l = u16(); val end = pos + l - 2
          val scod = u8()
          require((scod & 0x01) == 0, "jp2: explicit precinct sizes unsupported")
          require(u8() == 0 || true, "jp2: progression") // any order accepted: 1 layer, 1 precinct
          require(u16() == 1, "jp2: multiple layers unsupported")
          mct = u8() == 1
          levels = u8()
          require(levels <= 32, "jp2: decomposition level count out of range")
          cbExpX = u8() + 2; cbExpY = u8() + 2
          require(cbExpX <= 10 && cbExpY <= 10, "jp2: code-block size out of range")
          require(u8() == 0, "jp2: code-block style options unsupported")
          val wt = u8()
          require(wt == 0 || wt == 1, "jp2: unknown wavelet transform")
          reversible = wt == 1
          pos = end
          sawCod = true
        case 0xFF5C => // QCD
          val l = u16(); val end = pos + l - 2
          val sq = u8()
          quantStyle = sq & 0x1f
          require(quantStyle == 0 || quantStyle == 2,
            "jp2: scalar-derived QCD (style 1) unsupported") // expounded (2) + none (0) only
          guard = (sq >> 5) & 0x7
          if (quantStyle == 2) {
            // (ε<<11 | µ) per subband, LL then HL/LH/HH per resolution;
            // count is levels-dependent — parse after the header loop
            quantRaw = java.util.Arrays.copyOfRange(bytes, pos, end)
          }
          pos = end
        case 0xFF90 => // first SOT
          sotStart = pos - 2
          val l = u16()
          require(l == 10, "jp2: bad SOT")
          tileIdx = u16()
          tilePsot = u32().toLong & 0xffffffffL
          require(u8() == 0 && u8() <= 1, "jp2: tile parts unsupported")
          require(u16() == 0xFF93, "jp2: missing SOD")
        case 0xFF64 | 0xFF63 | 0xFF55 | 0xFF57 => // COM, CRG, TLM, PLM: informative, skippable
          val l = u16(); pos += l - 2
        case 0xFF53 | 0xFF5D =>
          throw new IllegalArgumentException("jp2: per-component COC/QCC overrides unsupported")
        case m =>
          throw new IllegalArgumentException(f"jp2: unexpected marker 0x$m%04X")
      }
    }
    require(sawSiz && sawCod && levels >= 0, "jp2: incomplete header")
    require(reversible == (quantStyle == 0),
      "jp2: wavelet/quantization mismatch (9/7 needs expounded QCD, 5/3 needs none)")
    // expounded quantization: (ε, µ) per subband in QCD order
    val quant: Array[(Int, Int)] =
      if (quantStyle != 2) null
      else {
        require(quantRaw != null && quantRaw.length >= 2 * (3 * levels + 1), "jp2: QCD too short")
        Array.tabulate(3 * levels + 1) { i =>
          val v = be16(quantRaw, 2 * i)
          ((v >> 11) & 0x1f, v & 0x7ff)
        }
      }
    // subband index in QCD order for (resolution r, bandCode)
    def qIdx(r: Int, bandCode: Int): Int = if (r == 0) 0 else 3 * (r - 1) + bandCode
    def deltaOf(r: Int, bandCode: Int): Double = {
      val (eps, mu) = quant(qIdx(r, bandCode))
      val rb = depth + gainOf(bandCode)
      math.pow(2.0, rb - eps) * (1.0 + mu / 2048.0)
    }
    val ntx = ceilDiv(width, tileW)
    val nty = ceilDiv(height, tileH)
    val d = math.min(discard, levels)
    val sc = 1 << d
    require(d == 0 || ntx * nty == 1 || tileW % sc == 0 && tileH % sc == 0,
      "jp2: reduced decode needs the tile size divisible by 2^discard")
    val rLevels = levels - d
    val rWidth = ceilDiv(width, sc)
    val rHeight = ceilDiv(height, sc)

    val planes = Array.fill(nc)(new Array[Int](rWidth * rHeight))
    // irreversible path accumulates dequantized doubles until the final
    // ICT + rounding (rounding per tile would lose cross-tile precision)
    val planesD = if (reversible) null else Array.fill(nc)(new Array[Double](rWidth * rHeight))
    // tile loop: decode the current tile's packets (only the first
    // levels−discard resolutions when reducing — the remaining
    // packets are skipped via Psot, the progressive-read payoff),
    // then expect the next SOT (any Isot order) or EOC
    var done = false
    val seen = new Array[Boolean](ntx * nty)
    while (!done) {
      require(tileIdx >= 0 && tileIdx < ntx * nty, s"jp2: tile index $tileIdx out of grid")
      require(!seen(tileIdx), s"jp2: duplicate tile $tileIdx")
      seen(tileIdx) = true
      val tx = tileIdx % ntx; val ty = tileIdx / ntx
      val x0 = tx * tileW / sc; val y0 = ty * tileH / sc
      val tw = math.min(ceilDiv(tileW, sc), rWidth - x0)
      val th = math.min(ceilDiv(tileH, sc), rHeight - y0)
      val tilePlanes = Array.fill(nc)(new Array[Int](tw * th))
      var r = 0
      while (r <= rLevels) {
        var c = 0
        while (c < nc) {
          val mbOf: Int => Int =
            if (reversible) b => depth + gainOf(b) + guard - 1
            else { val rr = r; b => guard + quant(qIdx(rr, b))._1 - 1 }
          pos = decodePacket(bytes, pos, tilePlanes(c), tw, th, rLevels, r, mbOf, cbExpX, cbExpY)
          c += 1
        }
        r += 1
      }
      if (d > 0) {
        require(tilePsot > 0, "jp2: reduced decode needs explicit Psot")
        pos = sotStart + tilePsot.toInt // skip the discarded high-resolution packets
      }
      var c = 0
      while (c < nc) {
        if (reversible) {
          idwt53(tilePlanes(c), tw, th, rLevels)
          var y = 0
          while (y < th) {
            System.arraycopy(tilePlanes(c), y * tw, planes(c), (y0 + y) * rWidth + x0, tw)
            y += 1
          }
        } else {
          // dequantize per band (midpoint reconstruction, T.800 E.1),
          // then the irreversible synthesis transform
          val dp = new Array[Double](tw * th)
          var rr = 0
          while (rr <= rLevels) {
            val lev = if (rr == 0) rLevels else rLevels - rr + 1
            bandsOf(rr, rLevels).foreach { bandCode =>
              val (bx0, by0, bw, bh) = bandRect(bandCode, lev, tw, th)
              val delta = deltaOf(rr, bandCode)
              var y = 0
              while (y < bh) {
                var x = 0
                while (x < bw) {
                  val q = tilePlanes(c)((by0 + y) * tw + (bx0 + x))
                  dp((by0 + y) * tw + (bx0 + x)) =
                    if (q == 0) 0.0
                    else if (q > 0) (q + 0.5) * delta
                    else (q - 0.5) * delta
                  x += 1
                }
                y += 1
              }
            }
            rr += 1
          }
          idwt97(dp, tw, th, rLevels)
          var y = 0
          while (y < th) {
            System.arraycopy(dp, y * tw, planesD(c), (y0 + y) * rWidth + x0, tw)
            y += 1
          }
        }
        c += 1
      }
      require(pos + 2 <= bytes.length, "jp2: truncated after tile")
      val marker = be16(bytes, pos)
      pos += 2
      if (marker == 0xFFD9) done = true
      else if (marker == 0xFF90) {
        sotStart = pos - 2
        require(u16() == 10, "jp2: bad SOT")
        tileIdx = u16()
        tilePsot = u32().toLong & 0xffffffffL
        require(u8() == 0 && u8() <= 1, "jp2: tile parts unsupported")
        require(u16() == 0xFF93, "jp2: missing SOD")
      } else throw new IllegalArgumentException(f"jp2: unexpected marker 0x$marker%04X after tile")
    }
    require(seen.forall(identity), "jp2: missing tiles")

    val shift = 1 << (depth - 1)
    if (reversible) {
      if (mct) { // RCT inverse (G.2, exact integers)
        require(nc >= 3, "jp2: MCT with <3 components")
        val (y, cb, cr) = (planes(0), planes(1), planes(2))
        var i = 0
        while (i < y.length) {
          val g = y(i) - ((cb(i) + cr(i)) >> 2)
          val rr = cr(i) + g
          val bb = cb(i) + g
          y(i) = rr; cb(i) = g; cr(i) = bb
          i += 1
        }
      }
      planes.foreach { p => var i = 0; while (i < p.length) { p(i) += shift; i += 1 } }
    } else {
      if (mct) { // ICT inverse (G.3, floating YCbCr)
        require(nc >= 3, "jp2: MCT with <3 components")
        val (y, cb, cr) = (planesD(0), planesD(1), planesD(2))
        var i = 0
        while (i < y.length) {
          val rr = y(i) + 1.402 * cr(i)
          val g = y(i) - 0.344136 * cb(i) - 0.714136 * cr(i)
          val bb = y(i) + 1.772 * cb(i)
          y(i) = rr; cb(i) = g; cr(i) = bb
          i += 1
        }
      }
      val maxV = (1 << depth) - 1
      var c = 0
      while (c < nc) {
        var i = 0
        while (i < planes(c).length) {
          val v = math.round(planesD(c)(i) + shift).toInt
          planes(c)(i) = if (v < 0) 0 else if (v > maxV) maxV else v
          i += 1
        }
        c += 1
      }
    }
    Image(rWidth, rHeight, depth, planes)
  }

  private def decodePacket(bytes: Array[Byte], start: Int, plane: Array[Int], w: Int, h: Int,
                           levels: Int, r: Int, mbOf: Int => Int, cbx: Int, cby: Int): Int = {
    val lev = if (r == 0) levels else levels - r + 1
    val hr = new HeaderReader(bytes, start)
    if (hr.bit() == 0) return hr.align()

    final case class Pend(bandCode: Int, x0: Int, y0: Int, cx0: Int, cy0: Int, cw: Int, ch: Int,
                          nbps: Int, len: Int)
    val pending = ArrayBuffer.empty[Pend]
    bandsOf(r, levels).foreach { bandCode =>
      val (x0, y0, bw, bh) = bandRect(bandCode, lev, w, h)
      val mb = mbOf(bandCode)
      val nbx = if (bw == 0) 0 else ceilDiv(bw, 1 << cbx)
      val nby = if (bh == 0) 0 else ceilDiv(bh, 1 << cby)
      if (nbx > 0 && nby > 0) {
        val incl = new TagTree(nbx, nby)
        val zbp = new TagTree(nbx, nby)
        var by = 0
        while (by < nby) {
          var bx = 0
          while (bx < nbx) {
            if (incl.decode(bx, by, 1, hr) == 1) {
              val missing = zbp.decodeValue(bx, by, hr)
              val npasses = readPasses(hr)
              var lblock = 3
              while (hr.bit() == 1) { lblock += 1; require(lblock <= 32, "jp2: Lblock out of range") }
              val passBits = 31 - Integer.numberOfLeadingZeros(npasses)
              require(lblock + passBits <= 31, "jp2: codeword length field out of range")
              val len = hr.bits(lblock + passBits).toInt
              require(len >= 0 && len <= bytes.length, "jp2: codeword length out of range")
              val cx0 = bx << cbx; val cy0 = by << cby
              val cw = math.min(1 << cbx, bw - cx0)
              val ch = math.min(1 << cby, bh - cy0)
              val nbps = mb - missing
              require(nbps >= 0, "jp2: negative bitplane count")
              require(npasses == math.max(3 * nbps - 2, 0) || nbps == 0,
                s"jp2: pass count $npasses does not cover $nbps bitplanes losslessly")
              pending += Pend(bandCode, x0, y0, cx0, cy0, cw, ch, nbps, len)
            }
            bx += 1
          }
          by += 1
        }
      }
    }
    var pos = hr.align()
    pending.foreach { p =>
      require(pos + p.len <= bytes.length, "jp2: truncated packet body")
      val data = java.util.Arrays.copyOfRange(bytes, pos, pos + p.len)
      pos += p.len
      val (mag, sgn) = decodeBlock(p.cw, p.ch, orientOf(p.bandCode), p.nbps, data)
      var y = 0
      while (y < p.ch) {
        var x = 0
        while (x < p.cw) {
          val v = mag(y * p.cw + x)
          plane((p.y0 + p.cy0 + y) * w + (p.x0 + p.cx0 + x)) = if (sgn(y * p.cw + x) == 1) -v else v
          x += 1
        }
        y += 1
      }
    }
    pos
  }

  // ------------------------------------------------------------ JP2 container

  private val Jp2Sig = Array[Byte](0, 0, 0, 12, 'j', 'P', ' ', ' ', 0x0D, 0x0A, 0x87.toByte, 0x0A)

  /** Wrap a codestream in the JP2 box structure (signature, ftyp,
    * jp2h/ihdr+colr, jp2c). */
  def encodeJp2(width: Int, height: Int, depth: Int, comps: Array[Array[Int]], levels: Int = 3): Array[Byte] = {
    val j2k = encodeJ2k(width, height, depth, comps, levels)
    val out = new ArrayBuffer[Byte](j2k.length + 96)
    def tag(s: String): Unit = out ++= s.getBytes("US-ASCII")
    out ++= Jp2Sig
    putBe32(out, 20); tag("ftyp"); tag("jp2 "); putBe32(out, 0); tag("jp2 ")
    val ihdrLen = 22
    val colrLen = 15
    putBe32(out, 8 + ihdrLen + colrLen); tag("jp2h")
    putBe32(out, ihdrLen); tag("ihdr")
    putBe32(out, height); putBe32(out, width)
    out += (comps.length >> 8).toByte; out += comps.length.toByte
    out += (depth - 1).toByte
    out += 7 // compression type: jpeg2000
    out += 0; out += 0 // UnkC, IPR
    putBe32(out, colrLen); tag("colr")
    out += 1; out += 0; out += 0 // meth=enumerated, prec, approx
    putBe32(out, if (comps.length >= 3) 16 else 17) // sRGB | greyscale
    putBe32(out, 8L + j2k.length); tag("jp2c")
    out ++= j2k
    out.toArray
  }

  def isJp2(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && (0 until 12).forall(i => bytes(i) == Jp2Sig(i))

  def isJ2k(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (bytes(0) & 0xff) == 0xFF && (bytes(1) & 0xff) == 0x4F &&
      (bytes(2) & 0xff) == 0xFF && (bytes(3) & 0xff) == 0x51

  /** Decode either a JP2 file or a bare J2K codestream. */
  def decode(bytes: Array[Byte]): Image =
    try decode0(bytes)
    catch {
      case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("jp2: malformed container", e)
      case e: NegativeArraySizeException =>
        throw new IllegalArgumentException("jp2: malformed box size", e)
    }

  private def decode0(bytes: Array[Byte]): Image = decode0(bytes, 0)

  /** Resolution-progressive decode of either container — see
    * [[decodeJ2kReduced]]. */
  def decodeReduced(bytes: Array[Byte], discard: Int): Image =
    try decode0(bytes, discard)
    catch {
      case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("jp2: malformed container", e)
      case e: NegativeArraySizeException =>
        throw new IllegalArgumentException("jp2: malformed box size", e)
    }

  private def decode0(bytes: Array[Byte], discard: Int): Image = {
    if (isJ2k(bytes)) return decodeJ2kReduced(bytes, discard)
    require(isJp2(bytes), "jp2: neither JP2 box file nor J2K codestream")
    var pos = 0
    while (pos + 8 <= bytes.length) {
      val len = ((bytes(pos) & 0xffL) << 24) | ((bytes(pos + 1) & 0xffL) << 16) |
        ((bytes(pos + 2) & 0xffL) << 8) | (bytes(pos + 3) & 0xffL)
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val (body, next) =
        if (len == 0) (pos + 8, bytes.length.toLong)
        else if (len == 1) {
          var xl = 0L
          (0 until 8).foreach(i => xl = (xl << 8) | (bytes(pos + 8 + i) & 0xffL))
          (pos + 16, pos + xl)
        } else (pos + 8, pos + len)
      require(next > pos && next <= bytes.length, "jp2: box size escapes the file")
      if (typ == "jp2c")
        return decodeJ2kReduced(java.util.Arrays.copyOfRange(bytes, body, next.toInt), discard)
      pos = next.toInt
    }
    throw new IllegalArgumentException("jp2: no jp2c codestream box")
  }

  /** Distributed tiled write (the COG-writer shape): one row per tile
    * — (tileIdx, gray pixels) — runs the heavy Tier-1 entropy coding
    * in [[tilePart]] on executors; the driver collects only the
    * COMPRESSED parts (output-sized, not pixels-sized) and does the
    * byte assembly. Byte-identical to the single-shot
    * `encodeJ2k(..., tileSize)`. */
  def encodeTiledDistributed(s: org.apache.spark.sql.SparkSession, width: Int, height: Int, depth: Int,
                             levels: Int, tileSize: Int,
                             tiles: org.apache.spark.sql.Dataset[(Int, Array[Int])]): Array[Byte] = {
    val ntx = ceilDiv(width, tileSize)
    val nty = ceilDiv(height, tileSize)
    val (w, h, d, lv, ts) = (width, height, depth, levels, tileSize)
    import s.implicits._
    val parts = tiles
      .map { case (t, px) =>
        val tx = t % ntx; val ty = t / ntx
        val tw = math.min(ts, w - tx * ts)
        val th = math.min(ts, h - ty * ts)
        (t, Jp2.tilePart(t, tw, th, d, Array(px), lv, mct = false))
      }
      .collect()
      .sortBy(_._1)
    require(parts.length == ntx * nty && parts.map(_._1).toSeq == (0 until ntx * nty),
      "jp2: tile set incomplete")
    headerBytes(w, h, d, 1, mct = false, lv, ts, ts) ++ parts.flatMap(_._2) ++
      Array(0xFF.toByte, 0xD9.toByte)
  }

  /** q_jp2: per (event_type, id%16 shard), deterministic 8-bit images
    * built from the shard's own event ids cycle through BOTH containers
    * in-task — a gray plane through the JP2 box file and an RGB triplet
    * (RCT path) through the raw J2K codestream — and the decoded pixel
    * sums must match the oracle's direct aggregates (lossless 5/3).
    * Shard sums re-aggregate per group (count and sums are additive, so
    * the oracle is unchanged); the explicit repartition stops AQE from
    * coalescing the byte-tiny collect_list shuffle into a handful of
    * tasks and serializing the CPU-heavy EBCOT cycles. */
  def jp2Query(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val n = sorted.length
      val w = 64
      val h = math.max(1, (n + w - 1) / w)
      def plane(mul: Long): Array[Int] = {
        val a = new Array[Int](w * h) // zero padding beyond n keeps the sums oracle-equal
        var i = 0
        while (i < n) { a(i) = ((sorted(i) * mul) % 256).toInt; i += 1 }
        a
      }
      val gray = plane(37L)
      val gImg = Jp2.decode(encodeJp2(w, h, 8, Array(gray), 3))
      require(gImg.width == w && gImg.height == h && gImg.channels == 1, "jp2 gray meta drift")
      require(gImg.comps(0).toSeq == gray.toSeq, "jp2 gray cycle not lossless")
      val (r, g, b) = (plane(11L), plane(29L), plane(53L))
      val cImg = decodeJ2k(encodeJ2k(w, h, 8, Array(r, g, b), 3))
      require(cImg.comps(0).toSeq == r.toSeq && cImg.comps(1).toSeq == g.toSeq && cImg.comps(2).toSeq == b.toSeq,
        "j2k RCT cycle not lossless")
      val graySum = gImg.comps(0).map(_.toLong).sum
      val rgbSum = cImg.comps.map(_.map(_.toLong).sum).sum
      Seq(n.toLong, graySum, rgbSum)
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
        sum($"a".getItem(1)).as("gray_sum"),
        sum($"a".getItem(2)).as("rgb_sum"))
      .orderBy($"event_type")
  }

  /** q_jp2_lossy: per (event_type, id%16 shard), a deterministic gray
    * plane built from the shard's own event ids cycles through the
    * IRREVERSIBLE 9/7 + quantization path in-task; the decode must land
    * within the quantization error bound of every source pixel (a
    * require — the spatial error of a step-Δ expounded scalar quantizer
    * under the DC-gain-1 wavelet is small and bounded), so the oracle
    * can state the SOURCE pixel sum in closed form. Shard sums
    * re-aggregate per group (additive — oracle unchanged). */
  def jp2LossyQuery(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val n = sorted.length
      val w = 64
      val h = math.max(1, (n + w - 1) / w)
      val gray = new Array[Int](w * h)
      var i = 0
      while (i < n) { gray(i) = ((sorted(i) * 37) % 256).toInt; i += 1 }
      val dec = decodeJ2k(encodeJ2k97(w, h, 8, Array(gray), 3, step = 0.25))
      require(dec.width == w && dec.height == h && dec.channels == 1, "jp2 lossy meta drift")
      var maxErr = 0
      var se = 0.0
      i = 0
      while (i < w * h) {
        val e = math.abs(dec.comps(0)(i) - gray(i))
        if (e > maxErr) maxErr = e
        se += e.toDouble * e
        i += 1
      }
      // step 0.25 on noise-like 8-bit data: reconstruction stays within a
      // few quantizer steps everywhere (MSE well under 1)
      require(maxErr <= 4 && se / (w * h) < 1.0, s"jp2 9/7 error bound violated: max=$maxErr mse=${se / (w * h)}")
      Seq(n.toLong, gray.map(_.toLong).sum)
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

  /** Header-only metadata probe (ihdr or SIZ), no entropy decode. */
  def probe(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = { // (w, h, channels, depth)
    try {
      if (isJ2k(bytes)) {
        val w = be32(bytes, 8)
        val h = be32(bytes, 12)
        val nc = be16(bytes, 40)
        val d = (bytes(42) & 0x7f) + 1
        Some((w, h, nc, d))
      } else if (isJp2(bytes)) {
        var pos = 0
        while (pos + 8 <= bytes.length) {
          val len = be32u(bytes, pos)
          val typ = new String(bytes, pos + 4, 4, "US-ASCII")
          if (typ == "jp2h") {
            // first sub-box must be ihdr
            val b = pos + 8
            val st = new String(bytes, b + 4, 4, "US-ASCII")
            if (st != "ihdr") return None
            val h = be32(bytes, b + 8)
            val w = be32(bytes, b + 12)
            val nc = be16(bytes, b + 16)
            val d = (bytes(b + 18) & 0x7f) + 1
            return Some((w, h, nc, d))
          }
          pos =
            if (len == 0) bytes.length
            else if (len == 1) { // XLBox: 64-bit length follows the type
              val xl = be64(bytes, pos + 8)
              if (xl < 16) return None
              (pos + xl).toInt
            } else (pos + len).toInt
        }
        None
      } else None
    } catch { case _: Exception => None }
  }
}
