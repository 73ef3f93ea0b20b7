package graft.multimodal

import scala.collection.mutable.ArrayBuffer

import graft.core.MiniJson
import graft.sources.Bytes.{le32u, leF32, putLe32, putLe64}

/** RAD Gaussian-splat LOD preview container — reference
  * `rad.cpp` / `rad.h` (`readRadCoarseSplats`: "reading only the
  * coarse octree levels of a COPC point cloud"): 'RAD0' file magic +
  * JSON header with a chunks array (8-byte-aligned sections), 'RADC'
  * chunk magic + JSON chunk meta (count + properties), per-property
  * encodings f32 / f16 / f32_lebytes / f16_lebytes (byte-planar
  * splits) / r8 / r8_delta (min-max quantized, per-dim wrapping-delta)
  * and optional raw-DEFLATE ("gz") property compression. IEEE-754
  * half decode matches the Rust `half` semantics incl. subnormals and
  * inf/nan, exactly as rad.cpp:36-73 ports it.
  *
  * Both directions: the reader mirrors the reference's error behavior
  * (bad magic, truncated meta, .radc external chunks, out-of-range
  * properties, missing centers — all named errors); the writer emits
  * single-file RADs the reader round-trips, which is also the LOD
  * preview EXPORT face the reference delegates to its vendored Rust.
  *
  * Scale shape: one .rad is one artifact; chunks are independent
  * sections, so a multi-chunk preview decodes chunk-parallel like
  * every other container here.
  */
object Rad {

  private val FileMagic = 0x30444152L // 'RAD0'
  private val ChunkMagic = 0x43444152L // 'RADC'

  final case class Property(
      name: String,
      encoding: String,
      values: Array[Float], // interleaved [splat * dims + dim]
      dims: Int,
      min: Float = 0f,
      max: Float = 1f,
      gz: Boolean = false
  )

  final case class Chunk(count: Int, properties: Seq[Property])

  final case class CoarseSplats(
      count: Int,
      positions: Array[Float], // count * 3
      colors: Array[Float], // count * 3 (mid-grey default)
      opacities: Array[Float] // count (opaque default)
  )

  // ---- primitives -----------------------------------------------------

  private def roundUp8(n: Int): Int = (n + 7) & ~7

  private def pad8(out: ArrayBuffer[Byte]): Unit = while (out.length % 8 != 0) out += 0

  /** IEEE-754 half → float (rad.cpp:36-73, `half`-crate semantics). */
  def halfToFloat(h: Int): Float = {
    val sign = (h & 0x8000) << 16
    val exp = (h >> 10) & 0x1f
    val mant = h & 0x3ff
    val bits =
      if (exp == 0) {
        if (mant == 0) sign
        else {
          var e = -1
          var m = mant
          while ((m & 0x400) == 0) { m <<= 1; e += 1 }
          m &= 0x3ff
          sign | ((127 - 15 - e) << 23) | (m << 13)
        }
      } else if (exp == 0x1f) sign | 0x7f800000 | (mant << 13)
      else sign | ((exp + (127 - 15)) << 23) | (mant << 13)
    java.lang.Float.intBitsToFloat(bits)
  }

  /** float → half (round-to-nearest-even), for the writer. */
  def floatToHalf(f: Float): Int = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val e = ((bits >>> 23) & 0xff) - 127 + 15
    val m = bits & 0x7fffff
    if (((bits >>> 23) & 0xff) == 0xff) return sign | 0x7c00 | (if (m != 0) 0x200 else 0) // inf/nan
    if (e >= 0x1f) return sign | 0x7c00 // overflow → inf
    if (e <= 0) {
      if (e < -10) return sign // underflow → 0
      val mm = (m | 0x800000) >>> (1 - e)
      return sign | ((mm + 0x1000 + (((mm >>> 13) & 1))) >>> 13)
    }
    sign | (e << 10) | ((m + 0x1000 + ((m >>> 13) & 1)) >>> 13)
  }

  private def inflateRaw(data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true) // raw deflate
    inf.setInput(data, off, len)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](16384)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) throw new IllegalArgumentException("RAD: truncated gz property stream")
        out.write(buf, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"RAD: raw inflate failed (${e.getMessage})")
    } finally inf.end()
    out.toByteArray
  }

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](16384)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  // ---- property decode (rad.cpp:109-215, layouts per rad.rs) ----------

  private def decodeProperty(raw: Array[Byte], encoding: String, dims: Int, count: Int, mn: Float, mx: Float): Array[Float] = {
    val out = new Array[Float](dims * count)
    def check(perElem: Int): Unit =
      require(raw.length >= dims * count * perElem, s"RAD: property payload too small for encoding $encoding")
    encoding match {
      case "f32" =>
        check(4)
        var i = 0
        while (i < count) {
          var d = 0
          while (d < dims) {
            val o = (d * count + i) * 4
            out(i * dims + d) = leF32(raw, o)
            d += 1
          }
          i += 1
        }
      case "f16" =>
        check(2)
        var i = 0
        while (i < count) {
          var d = 0
          while (d < dims) {
            val o = (d * count + i) * 2
            out(i * dims + d) = halfToFloat((raw(o) & 0xff) | ((raw(o + 1) & 0xff) << 8))
            d += 1
          }
          i += 1
        }
      case "f32_lebytes" =>
        check(4)
        val stride = count * dims
        var i = 0
        while (i < count) {
          var d = 0
          while (d < dims) {
            val base = count * d + i
            val v = (raw(base) & 0xff) | ((raw(base + stride) & 0xff) << 8) |
              ((raw(base + stride * 2) & 0xff) << 16) | ((raw(base + stride * 3) & 0xff) << 24)
            out(i * dims + d) = java.lang.Float.intBitsToFloat(v)
            d += 1
          }
          i += 1
        }
      case "f16_lebytes" =>
        check(2)
        val stride = count * dims
        var i = 0
        while (i < count) {
          var d = 0
          while (d < dims) {
            val base = count * d + i
            out(i * dims + d) = halfToFloat((raw(base) & 0xff) | ((raw(base + stride) & 0xff) << 8))
            d += 1
          }
          i += 1
        }
      case "r8" =>
        check(1)
        val span = mx - mn
        var i = 0
        while (i < count) {
          var d = 0
          while (d < dims) {
            out(i * dims + d) = ((raw(d * count + i) & 0xff) / 255f) * span + mn
            d += 1
          }
          i += 1
        }
      case "r8_delta" =>
        check(1)
        val span = mx - mn
        val last = new Array[Int](dims)
        var i = 0
        while (i < count) {
          var d = 0
          while (d < dims) {
            val v = (last(d) + (raw(d * count + i) & 0xff)) & 0xff // wrapping add
            last(d) = v
            out(i * dims + d) = (v / 255f) * span + mn
            d += 1
          }
          i += 1
        }
      case other => throw new IllegalArgumentException(s"RAD: unsupported encoding for preview/bounds: $other")
    }
    out
  }

  // ---- reader ---------------------------------------------------------

  private final case class ChunkRef(fileOffset: Int, bytes: Int)

  private def readHeader(b: Array[Byte]): Seq[ChunkRef] = {
    require(b.length >= 8, "RAD: cannot read header")
    require(le32u(b, 0) == FileMagic, "RAD: bad magic (not a .rad payload)")
    val metaLen = le32u(b, 4).toInt
    require(metaLen >= 0 && 8 + metaLen <= b.length, "RAD: truncated header")
    val meta = MiniJson.obj(MiniJson.parse(new String(b, 8, metaLen, "UTF-8")))
    val chunksStart = 8 + roundUp8(metaLen)
    val chunks = meta.get("chunks").map(MiniJson.arr)
      .getOrElse(throw new IllegalArgumentException("RAD: header has no chunks array"))
    chunks.map { c =>
      val m = MiniJson.obj(c)
      if (m.get("filename").exists(_ != null))
        throw new IllegalArgumentException("RAD: chunked (.radc) files are not supported by this reader")
      val ref = ChunkRef(
        chunksStart + m.get("offset").map(MiniJson.num(_).toInt).getOrElse(0),
        m.get("bytes").map(MiniJson.num(_).toInt).getOrElse(0)
      )
      require(ref.fileOffset >= 0 && ref.bytes >= 0, "RAD: negative chunk range (corrupt header)")
      ref
    }
  }

  /** Decode one chunk; colours/opacities only when `wantColor`. */
  private def decodeChunk(b: Array[Byte], ref: ChunkRef, wantColor: Boolean): Chunk = {
    require(ref.bytes >= 16, "RAD: chunk too small")
    require(ref.fileOffset + ref.bytes <= b.length, "RAD: chunk out of range")
    val at = ref.fileOffset
    require(le32u(b, at) == ChunkMagic, "RAD: bad chunk magic")
    val cmetaLen = le32u(b, at + 4).toInt
    require(cmetaLen >= 0 && 8 + cmetaLen <= ref.bytes, "RAD: chunk meta out of range")
    val cmeta = MiniJson.obj(MiniJson.parse(new String(b, at + 8, cmetaLen, "UTF-8")))
    val count = cmeta.get("count").map(MiniJson.num(_).toInt).getOrElse(0)
    require(count >= 0 && count <= ref.bytes * 8, s"RAD: implausible chunk count $count (corrupt chunk meta)")
    if (count == 0) return Chunk(0, Seq.empty)
    val payloadStart = 8 + roundUp8(cmetaLen) + 8 // + u64 payloadBytes field
    val props = cmeta.get("properties").map(MiniJson.arr)
      .getOrElse(throw new IllegalArgumentException("RAD: chunk has no properties array"))
    val out = new ArrayBuffer[Property]()
    props.foreach { pv =>
      val p = MiniJson.obj(pv)
      val name = p.get("property").map(MiniJson.str).getOrElse("")
      val isCenter = name == "center"
      val isRgb = name == "rgb"
      val isAlpha = name == "alpha"
      if (isCenter || (wantColor && (isRgb || isAlpha))) {
        val encoding = p.get("encoding").map(MiniJson.str).getOrElse("")
        val offset = p.get("offset").map(MiniJson.num(_).toInt).getOrElse(0)
        val bytes = p.get("bytes").map(MiniJson.num(_).toInt).getOrElse(0)
        require(offset >= 0 && bytes >= 0, s"RAD: negative property range for '$name' (corrupt chunk meta)")
        val mn = p.get("min").map(MiniJson.num(_).toFloat).getOrElse(0f)
        val mx = p.get("max").map(MiniJson.num(_).toFloat).getOrElse(1f)
        val gz = p.get("compression").map(MiniJson.str).contains("gz")
        val dataStart = at + payloadStart + offset
        require(dataStart + bytes <= at + ref.bytes, s"RAD: property '$name' out of range")
        val raw =
          if (gz) inflateRaw(b, dataStart, bytes)
          else java.util.Arrays.copyOfRange(b, dataStart, dataStart + bytes)
        val dims = if (isAlpha) 1 else 3
        out += Property(name, encoding, decodeProperty(raw, encoding, dims, count, mn, mx), dims, mn, mx, gz)
      }
    }
    require(out.exists(p => p.name == "center" && p.values.length >= count * 3), "RAD: chunk missing center data")
    Chunk(count, out.toSeq)
  }

  /** `readRadCoarseSplats`: first `maxChunks` chunks (≤ 0 = all),
    * mid-grey / opaque defaults when colour data is absent. */
  def coarseSplats(b: Array[Byte], maxChunks: Int = 1): CoarseSplats = {
    val refs = readHeader(b)
    val limit = if (maxChunks <= 0) refs.length else math.min(maxChunks, refs.length)
    var count = 0
    val pos = new ArrayBuffer[Float]()
    val col = new ArrayBuffer[Float]()
    val opa = new ArrayBuffer[Float]()
    refs.take(limit).foreach { ref =>
      val c = decodeChunk(b, ref, wantColor = true)
      if (c.count > 0) {
        count += c.count
        pos ++= c.properties.find(_.name == "center").get.values
        c.properties.find(_.name == "rgb") match {
          case Some(p) if p.values.length == c.count * 3 => col ++= p.values
          case _ => col ++= Array.fill(c.count * 3)(0.5f)
        }
        c.properties.find(_.name == "alpha") match {
          case Some(p) if p.values.length == c.count => opa ++= p.values
          case _ => opa ++= Array.fill(c.count)(1f)
        }
      }
    }
    require(count > 0, "RAD: no splats decoded")
    CoarseSplats(count, pos.toArray, col.toArray, opa.toArray)
  }

  /** Bounds over every chunk's decoded centers. */
  def bounds(b: Array[Byte]): (Array[Double], Array[Double]) = {
    val s = coarseSplats(b, maxChunks = 0)
    val mn = Array.fill(3)(Double.MaxValue)
    val mx = Array.fill(3)(Double.MinValue)
    var i = 0
    while (i < s.count) {
      var d = 0
      while (d < 3) {
        val v = s.positions(i * 3 + d).toDouble
        if (v < mn(d)) mn(d) = v
        if (v > mx(d)) mx(d) = v
        d += 1
      }
      i += 1
    }
    (mn, mx)
  }

  // ---- writer ---------------------------------------------------------

  private def encodeProperty(p: Property, count: Int): Array[Byte] = {
    val dims = p.dims
    p.encoding match {
      case "f32_lebytes" =>
        val stride = count * dims
        val raw = new Array[Byte](stride * 4)
        for (i <- 0 until count; d <- 0 until dims) {
          val bits = java.lang.Float.floatToIntBits(p.values(i * dims + d))
          val base = count * d + i
          raw(base) = bits.toByte
          raw(base + stride) = (bits >> 8).toByte
          raw(base + stride * 2) = (bits >> 16).toByte
          raw(base + stride * 3) = (bits >> 24).toByte
        }
        raw
      case "f32" =>
        val raw = new Array[Byte](dims * count * 4)
        for (i <- 0 until count; d <- 0 until dims) {
          val bits = java.lang.Float.floatToIntBits(p.values(i * dims + d))
          val o = (d * count + i) * 4
          raw(o) = bits.toByte; raw(o + 1) = (bits >> 8).toByte
          raw(o + 2) = (bits >> 16).toByte; raw(o + 3) = (bits >> 24).toByte
        }
        raw
      case "f16" =>
        val raw = new Array[Byte](dims * count * 2)
        for (i <- 0 until count; d <- 0 until dims) {
          val h = floatToHalf(p.values(i * dims + d))
          val o = (d * count + i) * 2
          raw(o) = h.toByte; raw(o + 1) = (h >> 8).toByte
        }
        raw
      case "f16_lebytes" =>
        val stride = count * dims
        val raw = new Array[Byte](stride * 2)
        for (i <- 0 until count; d <- 0 until dims) {
          val h = floatToHalf(p.values(i * dims + d))
          val base = count * d + i
          raw(base) = h.toByte
          raw(base + stride) = (h >> 8).toByte
        }
        raw
      case "r8" =>
        val span = p.max - p.min
        val raw = new Array[Byte](dims * count)
        for (i <- 0 until count; d <- 0 until dims) {
          val q = math.round((p.values(i * dims + d) - p.min) / span * 255f)
          raw(d * count + i) = math.max(0, math.min(255, q)).toByte
        }
        raw
      case "r8_delta" =>
        val span = p.max - p.min
        val raw = new Array[Byte](dims * count)
        val last = new Array[Int](dims)
        for (i <- 0 until count; d <- 0 until dims) {
          val q = math.max(0, math.min(255, math.round((p.values(i * dims + d) - p.min) / span * 255f)))
          raw(d * count + i) = ((q - last(d)) & 0xff).toByte // wrapping delta
          last(d) = q
        }
        raw
      case other => throw new IllegalArgumentException(s"RAD writer: unsupported encoding $other")
    }
  }

  /** Write a single-file RAD with the given chunks. */
  def write(chunks: Seq[Chunk]): Array[Byte] = {
    val chunkBlobs = chunks.map { chunk =>
      // payload first (offsets are relative to the payload start)
      val payload = new ArrayBuffer[Byte]()
      val propMetas = chunk.properties.map { p =>
        val enc0 = encodeProperty(p, chunk.count)
        val enc = if (p.gz) deflateRaw(enc0) else enc0
        val off = payload.length
        payload ++= enc
        pad8(payload)
        val comp = if (p.gz) s""","compression":"gz"""" else ""
        s"""{"property":${MiniJson.quote(p.name)},"encoding":${MiniJson.quote(p.encoding)},""" +
          s""""offset":$off,"bytes":${enc.length},"min":${p.min},"max":${p.max}$comp}"""
      }
      val cmeta = s"""{"count":${chunk.count},"properties":[${propMetas.mkString(",")}]}""".getBytes("UTF-8")
      val blob = new ArrayBuffer[Byte]()
      putLe32(blob, ChunkMagic)
      putLe32(blob, cmeta.length.toLong)
      blob ++= cmeta
      while (blob.length < 8 + roundUp8(cmeta.length)) blob += 0
      putLe64(blob, payload.length.toLong)
      blob ++= payload
      blob.toArray
    }
    val chunkMetas = {
      var off = 0
      chunkBlobs.map { cb =>
        val m = s"""{"offset":$off,"bytes":${cb.length}}"""
        off += cb.length
        m
      }
    }
    val meta = s"""{"version":1,"chunks":[${chunkMetas.mkString(",")}]}""".getBytes("UTF-8")
    val out = new ArrayBuffer[Byte]()
    putLe32(out, FileMagic)
    putLe32(out, meta.length.toLong)
    out ++= meta
    while (out.length < 8 + roundUp8(meta.length)) out += 0
    chunkBlobs.foreach(out ++= _)
    out.toArray
  }
}
