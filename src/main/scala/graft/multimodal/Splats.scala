package graft.multimodal

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{le16, le32, putLe32}
import graft.sources.Ply

/** Gaussian-splat container codecs — the conversion tier behind the
  * reference's `gsplat.cpp` (PLY/.splat → SPZ delivery artifact; the
  * reference vendors the SPZ library and shells the rest):
  *
  *  - **`.splat`** (antimatter15 layout): 32 bytes per primitive —
  *    position f32×3, scale f32×3, RGBA u8×4, rotation quaternion
  *    u8×4 — read AND write (`gsplat.cpp:37` SplatFormat::Splat).
  *  - **SPZ v2**: the gzip container with the "NGSP" header
  *    (magic/version/count/shDegree/fractionalBits/flags) over packed
  *    streams — 24-bit fixed-point positions, u8 alphas, u8 colors,
  *    u8 log-scales, u8 quaternion xyz (w recovered, w ≥ 0
  *    normalized), u8 SH coefficients. Stream ORDER and widths follow
  *    the published container; the exact quantizer constants are this
  *    library's documented choices (no SPZ fixture exists in-sandbox
  *    to bit-compare against, so conformance is layout-level +
  *    round-trip within quantization error, like the LAZ boundary).
  *  - **PLY 3DGS** (INRIA layout) ↔ splat model via [[Ply]] —
  *    `gsplat.cpp` SplatFormat::Ply.
  *
  * Scale shape: one artifact per task, like every codec here.
  */
object Splats {

  /** One Gaussian primitive. `rot` is (x, y, z, w) normalized; `sh`
    * holds the higher-order coefficients, 3 channels interleaved per
    * coefficient (the 3DGS f_rest order), possibly empty. */
  final case class Splat(
      x: Float, y: Float, z: Float,
      scaleX: Float, scaleY: Float, scaleZ: Float, // LOG scales, 3DGS convention
      r: Float, g: Float, b: Float, // f_dc_* SH DC terms
      alpha: Float, // opacity LOGIT, 3DGS convention
      rotX: Float, rotY: Float, rotZ: Float, rotW: Float,
      sh: Seq[Float] = Nil
  )

  // ---- .splat (antimatter15) ------------------------------------------

  private val SH_C0 = 0.28209479177387814f

  /** 32-byte record: f32 pos ×3, f32 LINEAR scale ×3, RGBA u8
    * (color = 0.5 + SH_C0·dc, alpha = sigmoid(logit)), rot u8×4 as
    * (w,x,y,z)·128+128. */
  def writeSplat(splats: Seq[Splat]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(splats.length * 32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    splats.foreach { s =>
      bb.putFloat(s.x).putFloat(s.y).putFloat(s.z)
      bb.putFloat(math.exp(s.scaleX).toFloat).putFloat(math.exp(s.scaleY).toFloat).putFloat(math.exp(s.scaleZ).toFloat)
      def q(v: Float): Byte = math.max(0, math.min(255, math.round((0.5f + SH_C0 * v) * 255f))).toByte
      bb.put(q(s.r)).put(q(s.g)).put(q(s.b))
      val a = 1.0 / (1.0 + math.exp(-s.alpha))
      bb.put(math.max(0, math.min(255, math.round(a * 255f))).toByte)
      def qr(v: Float): Byte = math.max(0, math.min(255, math.round(v * 128f + 128f))).toByte
      bb.put(qr(s.rotW)).put(qr(s.rotX)).put(qr(s.rotY)).put(qr(s.rotZ))
    }
    bb.array()
  }

  def readSplat(bytes: Array[Byte]): Seq[Splat] = {
    require(bytes.length % 32 == 0, s".splat payload not a multiple of 32 bytes: ${bytes.length}")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until bytes.length / 32).map { _ =>
      val x = bb.getFloat(); val y = bb.getFloat(); val z = bb.getFloat()
      val sx = bb.getFloat(); val sy = bb.getFloat(); val sz = bb.getFloat()
      def dq(b: Byte): Float = (((b & 0xff) / 255f) - 0.5f) / SH_C0
      val r = dq(bb.get()); val g = dq(bb.get()); val b2 = dq(bb.get())
      val aRaw = (bb.get() & 0xff) / 255f
      val aClamped = math.max(1e-6f, math.min(1f - 1e-6f, aRaw))
      val alpha = math.log(aClamped / (1f - aClamped)).toFloat
      def dqr(v: Byte): Float = ((v & 0xff) - 128f) / 128f
      val w = dqr(bb.get()); val rx = dqr(bb.get()); val ry = dqr(bb.get()); val rz = dqr(bb.get())
      Splat(x, y, z, math.log(sx).toFloat, math.log(sy).toFloat, math.log(sz).toFloat,
        r, g, b2, alpha, rx, ry, rz, w)
    }
  }

  // ---- SPZ v2 ---------------------------------------------------------

  private val SpzMagic = 0x5053474e // "NGSP" little-endian
  private val SpzVersion = 2

  private def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  private def gunzip(bytes: Array[Byte]): Array[Byte] =
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      try in.readAllBytes()
      finally in.close()
    } catch {
      // corrupt container → the codecs' named-refusal contract
      case e: java.util.zip.ZipException =>
        throw new IllegalArgumentException(s"spz: corrupt gzip container (${e.getMessage})")
      case e: java.io.EOFException =>
        throw new IllegalArgumentException(s"spz: truncated gzip container (${e.getMessage})")
    }

  private def shDegreeOf(shLen: Int): Int = shLen / 3 match {
    case 0 => 0
    case 3 => 1
    case 8 => 2
    case 15 => 3
    case n => throw new IllegalArgumentException(s"spz: $n higher-order SH coeffs per channel is not a 3DGS degree")
  }

  private def shCoeffs(deg: Int): Int = deg match {
    case 0 => 0; case 1 => 3; case 2 => 8; case 3 => 15
  }

  /** Pack to SPZ (gzip over header + per-field streams). Positions are
    * 24-bit signed fixed point with `fractionalBits`; quaternions are
    * normalized with w ≥ 0 and store xyz. */
  def writeSpz(splats: Seq[Splat], fractionalBits: Int = 12): Array[Byte] = {
    val shDeg = shDegreeOf(splats.headOption.map(_.sh.length).getOrElse(0))
    require(splats.forall(_.sh.length == shCoeffs(shDeg) * 3), "spz: ragged SH lengths")
    val raw = new ArrayBuffer[Byte](16 + splats.length * 20)
    putLe32(raw, SpzMagic); putLe32(raw, SpzVersion); putLe32(raw, splats.length)
    raw += shDeg.toByte; raw += fractionalBits.toByte; raw += 0; raw += 0
    val scale = (1 << fractionalBits).toFloat
    splats.foreach { s =>
      Seq(s.x, s.y, s.z).foreach { v =>
        val q = math.round(v * scale)
        require(q >= -(1 << 23) && q < (1 << 23), s"spz: position $v overflows 24-bit fixed point")
        raw += q.toByte; raw += (q >> 8).toByte; raw += (q >> 16).toByte
      }
    }
    splats.foreach { s =>
      val a = 1.0 / (1.0 + math.exp(-s.alpha))
      raw += math.max(0, math.min(255, math.round(a * 255f))).toByte
    }
    splats.foreach { s =>
      Seq(s.r, s.g, s.b).foreach(v => raw += math.max(0, math.min(255, math.round((0.5f + SH_C0 * v) * 255f))).toByte)
    }
    splats.foreach { s =>
      Seq(s.scaleX, s.scaleY, s.scaleZ).foreach(v =>
        raw += math.max(0, math.min(255, math.round((v + 10f) * 16f))).toByte)
    }
    splats.foreach { s =>
      // normalize, flip to w >= 0, store xyz
      val n = math.sqrt(s.rotX * s.rotX + s.rotY * s.rotY + s.rotZ * s.rotZ + s.rotW * s.rotW.toDouble).toFloat
      require(n > 1e-9f, "spz: zero quaternion")
      val sign = if (s.rotW < 0) -1f else 1f
      Seq(s.rotX, s.rotY, s.rotZ).foreach { v =>
        raw += math.max(0, math.min(255, math.round((sign * v / n) * 127.5f + 127.5f))).toByte
      }
    }
    splats.foreach { s =>
      s.sh.foreach(v => raw += math.max(0, math.min(255, math.round(v * 128f) + 128)).toByte)
    }
    gzip(raw.toArray)
  }

  final case class SpzInfo(numPoints: Int, shDegree: Int, fractionalBits: Int, flags: Int)

  def readSpz(bytes: Array[Byte]): (SpzInfo, Seq[Splat]) = {
    val raw = gunzip(bytes)
    require(raw.length >= 16, "spz: truncated header")
    require(le32(raw, 0) == SpzMagic, "spz: bad magic (not an NGSP stream)")
    require(le32(raw, 4) == SpzVersion, s"spz: unsupported version ${le32(raw, 4)}")
    val n = le32(raw, 8)
    val shDeg = raw(12) & 0xff
    val fracBits = raw(13) & 0xff
    val flags = raw(14) & 0xff
    val nsh = shCoeffs(shDeg) * 3
    val need = 16 + n * (9 + 1 + 3 + 3 + 3 + nsh)
    require(raw.length >= need, s"spz: payload ${raw.length} bytes, need $need for $n points")
    val scale = (1 << fracBits).toFloat
    val posAt = 16
    val alphaAt = posAt + 9 * n
    val colorAt = alphaAt + n
    val scaleAt = colorAt + 3 * n
    val rotAt = scaleAt + 3 * n
    val shAt = rotAt + 3 * n
    val out = (0 until n).map { i =>
      // 24-bit signed: the top byte's sign extends through the shift
      def p24(at: Int): Float = (le16(raw, at) | (raw(at + 2) << 16)) / scale
      val x = p24(posAt + 9 * i); val y = p24(posAt + 9 * i + 3); val z = p24(posAt + 9 * i + 6)
      val aRaw = (raw(alphaAt + i) & 0xff) / 255f
      val aC = math.max(1e-6f, math.min(1f - 1e-6f, aRaw))
      val alpha = math.log(aC / (1f - aC)).toFloat
      def dc(at: Int): Float = (((raw(at) & 0xff) / 255f) - 0.5f) / SH_C0
      val r = dc(colorAt + 3 * i); val g = dc(colorAt + 3 * i + 1); val b = dc(colorAt + 3 * i + 2)
      def sc(at: Int): Float = (raw(at) & 0xff) / 16f - 10f
      val sx = sc(scaleAt + 3 * i); val sy = sc(scaleAt + 3 * i + 1); val sz = sc(scaleAt + 3 * i + 2)
      def rq(at: Int): Float = ((raw(at) & 0xff) - 127.5f) / 127.5f
      val rx = rq(rotAt + 3 * i); val ry = rq(rotAt + 3 * i + 1); val rz = rq(rotAt + 3 * i + 2)
      val w2 = math.max(0f, 1f - rx * rx - ry * ry - rz * rz)
      val rw = math.sqrt(w2.toDouble).toFloat
      val sh = (0 until nsh).map(k => ((raw(shAt + nsh * i + k) & 0xff) - 128) / 128f)
      Splat(x, y, z, sx, sy, sz, r, g, b, alpha, rx, ry, rz, rw, sh)
    }
    (SpzInfo(n, shDeg, fracBits, flags), out)
  }

  // ---- conversion dispatch (gsplat.cpp:398-460) ------------------------

  /** The reference's BuildDepMissingException shape: a conversion that
    * needs an optional external tool absent from the deployment. */
  final case class BuildDepMissing(msg: String, tool: String) extends RuntimeException(msg)

  /** `formatOf` (gsplat.cpp:44-56): extension decides, like the
    * reference. */
  def formatOf(name: String): String = {
    val p = name.toLowerCase(java.util.Locale.ROOT)
    val ext = p.substring(p.lastIndexOf('.') + 1)
    ext match {
      case "ply" | "splat" | "spz" | "ksplat" => ext
      case _ => "unknown"
    }
  }

  /** `convertToSpz` (gsplat.cpp:398-460): one artifact in, the gzip
    * SPZ delivery artifact out.
    *
    *  - `.ksplat` refuses with the reference's BuildDepMissing shape
    *    (`gsplat.cpp:402-404` — the optional splat-transform tool is
    *    an external enhancer there too; recognition-without-convert IS
    *    reference parity, pinned like `gsplat_test.cpp:495`);
    *  - unknown extensions refuse
    *    (`gsplat.cpp:406-407` InvalidArgsException);
    *  - gzip SPZ (legacy v1-3 container) copies through unchanged
    *    (`gsplat.cpp:419-423`); raw-NGSP SPZ (v4) transcodes through
    *    readSpz→writeSpz only when it is this library's own gzip
    *    dialect — a true zstd-NGSP stream fails in gunzip with the
    *    named corrupt-container error, mirroring the reference's
    *    loadSpz failure path;
    *  - `.ply` (3DGS layout) and `.splat` decode then re-encode
    *    (`gsplat.cpp:438-452`), refusing when no splats decode. */
  def convertToSpz(name: String, bytes: Array[Byte]): Array[Byte] = formatOf(name) match {
    case "ksplat" =>
      throw BuildDepMissing("Converting .ksplat requires the optional splat-transform tool", "splat-transform")
    case "unknown" =>
      throw new IllegalArgumentException(s"Unsupported Gaussian Splat format: $name")
    case "spz" =>
      require(looksLikeSpz(bytes), s"File does not look like a valid .spz: $name")
      if ((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) bytes // gzip SPZ: viewer-compatible as-is
      else {
        val (info, splats) = readSpz(bytes)
        require(info.numPoints > 0, s"No splats decoded from: $name")
        writeSpz(splats, if (info.fractionalBits > 0) info.fractionalBits else 12)
      }
    case "ply" =>
      // a plain point-cloud/mesh PLY is NOT a splat source — the
      // reference's loadSplatFromPly decodes 0 splats there and throws
      // (gsplat_test.cpp nonSplatPlyConversionThrows)
      val isSplat = Ply.info(bytes).exists(_.isSplat)
      require(isSplat, s"Not a valid Gaussian Splat PLY (no splats decoded): $name")
      val splats = fromPly(bytes)
      require(splats.nonEmpty, s"Not a valid Gaussian Splat PLY (no splats decoded): $name")
      writeSpz(splats)
    case "splat" =>
      val splats = readSplat(bytes)
      require(splats.nonEmpty, s"No splats decoded from: $name")
      writeSpz(splats)
  }

  // ---- lightweight sniffs (gsplat.cpp:274-345) ------------------------

  /** `looksLikeSpz`: NGSP (v4) magic or gzip (legacy v1-3) magic. */
  def looksLikeSpz(bytes: Array[Byte]): Boolean =
    if (bytes == null || bytes.length < 2) false
    else {
      val ngsp = bytes.length >= 4 && bytes(0) == 'N' && bytes(1) == 'G' && bytes(2) == 'S' && bytes(3) == 'P'
      val gz = (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b
      ngsp || gz
    }

  /** `looksLikeSplatBinary`: non-empty and a multiple of 32 bytes. */
  def looksLikeSplatBinary(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length > 0 && bytes.length % 32 == 0

  final case class SplatInfo(splatCount: Long, shDegree: Int)

  /** `getGaussianSplatInfo` for the binary formats: .splat records
    * (count = size/32, SH degree 0) and gzip SPZ (header fields);
    * .ply goes through [[graft.sources.Ply.info]] instead. */
  def binaryInfo(ext: String, bytes: Array[Byte]): Option[SplatInfo] = ext match {
    case "splat" if looksLikeSplatBinary(bytes) => Some(SplatInfo(bytes.length / 32L, 0))
    case "spz" if looksLikeSpz(bytes) =>
      try {
        val (info, _) = readSpz(bytes)
        Some(SplatInfo(info.numPoints.toLong, info.shDegree))
      } catch { case _: Exception => None }
    case _ => None
  }

  // ---- PLY 3DGS bridge ------------------------------------------------

  private def plyNames(shDeg: Int): Seq[String] =
    Seq("x", "y", "z") ++
      (0 until 3).map(i => s"f_dc_$i") ++
      (0 until shCoeffs(shDeg) * 3).map(i => s"f_rest_$i") ++
      Seq("opacity") ++ (0 until 3).map(i => s"scale_$i") ++ (0 until 4).map(i => s"rot_$i")

  /** 3DGS PLY (INRIA layout: rot_0 = w, then xyz) → splat model. */
  def fromPly(bytes: Array[Byte]): Seq[Splat] = {
    val (h, verts, _) = Ply.read(bytes)
    val props = h.elements.find(_.name == "vertex")
      .map(_.props.filterNot(_.isList).map(_.name))
      .getOrElse(throw new IllegalArgumentException("spz: PLY has no vertex element"))
    val idx = props.zipWithIndex.toMap
    def at(v: Array[Double], n: String): Float =
      idx.get(n).map(i => v(i).toFloat).getOrElse(0f)
    val restCount = props.count(_.startsWith("f_rest_"))
    verts.map { v =>
      Splat(
        at(v, "x"), at(v, "y"), at(v, "z"),
        at(v, "scale_0"), at(v, "scale_1"), at(v, "scale_2"),
        at(v, "f_dc_0"), at(v, "f_dc_1"), at(v, "f_dc_2"),
        at(v, "opacity"),
        at(v, "rot_1"), at(v, "rot_2"), at(v, "rot_3"), at(v, "rot_0"),
        (0 until restCount).map(i => at(v, s"f_rest_$i"))
      )
    }
  }

  /** Splat model → binary 3DGS PLY. */
  def toPly(splats: Seq[Splat]): Array[Byte] = {
    val shDeg = shDegreeOf(splats.headOption.map(_.sh.length).getOrElse(0))
    val names = plyNames(shDeg)
    Ply.write(names, splats.map { s =>
      (Array(s.x, s.y, s.z, s.r, s.g, s.b) ++ s.sh.toArray ++
        Array(s.alpha, s.scaleX, s.scaleY, s.scaleZ, s.rotW, s.rotX, s.rotY, s.rotZ))
    })
  }

  /** q_splat: per event_type, splats with INTEGER positions built
    * from the group's own events cycle through all four containers —
    * 3DGS PLY (f32-exact), .splat (f32-exact positions), SPZ (12-bit
    * fixed point, exact on integers |x| < 2048), and a RAD preview
    * chunk (f32 encoding, exact) — and the position sums decoded from
    * EACH container must agree; the oracle computes them once from
    * the raw rows. One group = one task-local artifact cycle. */
  def splatQuery(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val splats = ids.sorted.map { id =>
        Splat(
          x = (id % 1000).toFloat,
          y = ((id * 3) % 1000).toFloat,
          z = ((id * 7) % 500).toFloat,
          scaleX = -4f, scaleY = -4f, scaleZ = -4f,
          r = 0.5f, g = -0.25f, b = 0.125f,
          alpha = 2f,
          rotX = 0f, rotY = 0f, rotZ = 0f, rotW = 1f,
          sh = Nil
        )
      }
      def sums(dec: Seq[Splat]): (Long, Long, Long) =
        (dec.map(_.x.toLong).sum, dec.map(_.y.toLong).sum, dec.map(_.z.toLong).sum)
      val viaPly = Splats.fromPly(Splats.toPly(splats))
      val viaSplat = Splats.readSplat(Splats.writeSplat(splats))
      val (_, viaSpz) = Splats.readSpz(Splats.writeSpz(splats))
      val viaRad = {
        val pos = splats.flatMap(sp => Seq(sp.x, sp.y, sp.z)).toArray
        val rad = Rad.write(Seq(Rad.Chunk(splats.length, Seq(Rad.Property("center", "f32_lebytes", pos, 3)))))
        val c = Rad.coarseSplats(rad)
        (0 until c.count).map(i => splats.head.copy(
          x = c.positions(3 * i), y = c.positions(3 * i + 1), z = c.positions(3 * i + 2)))
      }
      val all = Seq(sums(viaPly), sums(viaSplat), sums(viaSpz), sums(viaRad))
      require(all.distinct.length == 1, s"splat container cycles disagree: $all")
      Seq(splats.length.toLong, all.head._1, all.head._2, all.head._3)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type")
      .agg(collect_list($"event_id").as("ids"))
      .select($"event_type", cycle($"ids").as("a"))
      .select(
        $"event_type",
        $"a".getItem(0).as("n_splats"),
        $"a".getItem(1).as("x_sum"),
        $"a".getItem(2).as("y_sum"),
        $"a".getItem(3).as("z_sum")
      )
      .orderBy($"event_type")
  }
}
