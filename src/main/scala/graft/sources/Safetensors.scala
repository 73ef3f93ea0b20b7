package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{le16, le32u, le64, setLe16, setLe32, setLe64}

/** safetensors — the ML ecosystem's checkpoint/tensor interchange
  * format (HuggingFace model shards ship as `model-*.safetensors`):
  * a u64-LE header length, a JSON header mapping tensor name ->
  * {dtype, shape, data_offsets}, then one contiguous byte buffer the
  * offsets index into. The header IS the index, so the format is
  * ranged by design: the DRIVER reads 8 bytes + the header; fetch
  * tasks read exactly their tensors' extents. A 50 GB checkpoint
  * costs the driver two small reads.
  *
  * Validation follows the published reference rules: header size
  * capped (100 MB, the reference's bound), extents in-bounds and
  * non-overlapping, the buffer covered exactly (no holes — a hole is
  * how a malicious file smuggles bytes), element count x width ==
  * extent length. Dtypes: BOOL, I8/U8, I16/U16, F16, BF16, I32/U32,
  * F32, F64, I64, and the OCP FP8 pair F8_E4M3/F8_E5M2 (every FP8
  * value is exactly representable in Float). U64 (no lossless JVM
  * carrier) refuses loudly by name.
  *
  * No conforming implementation ships in this container (python
  * `safetensors`/`torch` absent — probe in NOTES_r17), so
  * SafetensorsSpec pins the layout against the published spec's own
  * canonical byte layout, builder-vs-reader round-trips, and
  * hand-assembled fixtures whose bytes follow the spec text
  * literally.
  *
  * Untrusted-bytes contract: malformed input raises
  * [[SafetensorsError]]. */
object Safetensors {

  final class SafetensorsError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new SafetensorsError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: SafetensorsError => throw e
      case e @ (_: IndexOutOfBoundsException | _: NegativeArraySizeException |
          _: ArithmeticException | _: IllegalArgumentException | _: ClassCastException) =>
        fail(s"safetensors: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  /** Reference header-size bound (safetensors crate: MAX_HEADER_SIZE). */
  val MaxHeaderSize: Long = 100L << 20

  final case class TensorInfo(name: String, dtype: String, shape: Seq[Long], begin: Long, end: Long) {
    def elems: Long = shape.foldLeft(1L)(_ * _)
    def width: Int = dtypeWidth(dtype)
  }
  final case class Header(tensors: Seq[TensorInfo], metadata: Map[String, String], dataStart: Long)

  def dtypeWidth(d: String): Int = d match {
    case "BOOL" | "I8" | "U8" | "F8_E4M3" | "F8_E5M2" => 1
    case "I16" | "U16" | "F16" | "BF16" => 2
    case "I32" | "U32" | "F32" => 4
    case "I64" | "F64" => 8
    case "U64" => fail("safetensors: U64 has no lossless JVM carrier")
    case other => fail(s"safetensors: unknown dtype '$other'")
  }

  /** OCP FP8 E4M3 (bias 7, NO infinities, S.1111.111 = NaN): every
    * value is exactly representable in Float. */
  private[sources] def e4m3ToFloat(b: Int): Float = {
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val exp = (b >> 3) & 0xf
    val mant = b & 7
    if (exp == 0xf && mant == 7) Float.NaN
    else if (exp == 0) sign * mant * math.pow(2, -9).toFloat
    else sign * (1f + mant / 8f) * math.pow(2, exp - 7).toFloat
  }

  /** FP8 E5M2 (half-precision layout truncated to 2 mantissa bits:
    * bias 15, infinities and NaNs as in IEEE). */
  private[sources] def e5m2ToFloat(b: Int): Float = {
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val exp = (b >> 2) & 0x1f
    val mant = b & 3
    if (exp == 0x1f) { if (mant == 0) sign * Float.PositiveInfinity else Float.NaN }
    else if (exp == 0) sign * mant * math.pow(2, -16).toFloat
    else sign * (1f + mant / 4f) * math.pow(2, exp - 15).toFloat
  }

  /** Parse the header from ranged reads — the only bytes the DRIVER
    * ever touches. Enforces the reference's coverage rule: extents
    * sorted by begin must tile [0, bufferLen) exactly. */
  def header(ranged: (Long, Int) => Array[Byte], fileLen: Long): Header = guarded("header") {
    req(fileLen >= 8, s"safetensors: file too short ($fileLen)")
    val pre = ranged(0L, 8)
    req(pre.length == 8, "safetensors: short length read")
    val hLen = le64(pre, 0)
    req(hLen >= 2 && hLen <= MaxHeaderSize, s"safetensors: header length $hLen out of bounds")
    req(8 + hLen <= fileLen, s"safetensors: header length $hLen exceeds file $fileLen")
    val hBytes = ranged(8L, hLen.toInt)
    req(hBytes.length == hLen.toInt, "safetensors: short header read")
    val json = new String(hBytes, java.nio.charset.StandardCharsets.UTF_8)
    val root = graft.core.MiniJson.obj(graft.core.MiniJson.parse(json))
    val dataStart = 8 + hLen
    val bufLen = fileLen - dataStart
    var metadata = Map.empty[String, String]
    val tensors = scala.collection.mutable.ArrayBuffer.empty[TensorInfo]
    root.foreach {
      case ("__metadata__", v) =>
        metadata = graft.core.MiniJson.obj(v).map { case (k, s) => k -> graft.core.MiniJson.str(s) }
      case (name, v) =>
        val o = graft.core.MiniJson.obj(v)
        val dtype = graft.core.MiniJson.str(o.getOrElse("dtype", fail(s"safetensors: '$name' has no dtype")))
        val shape = graft.core.MiniJson.arr(o.getOrElse("shape", fail(s"safetensors: '$name' has no shape"))).map {
          case l: Long => l
          case d: Double if d.isWhole && d >= 0 => d.toLong
          case other => fail(s"safetensors: '$name' bad dim $other")
        }
        shape.foreach(d => req(d >= 0, s"safetensors: '$name' negative dim"))
        val offs = graft.core.MiniJson.arr(o.getOrElse("data_offsets", fail(s"safetensors: '$name' has no data_offsets")))
        req(offs.length == 2, s"safetensors: '$name' data_offsets arity ${offs.length}")
        def asLong(a: Any): Long = a match {
          case l: Long => l
          case d: Double if d.isWhole && d >= 0 => d.toLong
          case other => fail(s"safetensors: '$name' bad offset $other")
        }
        val begin = asLong(offs(0)); val end = asLong(offs(1))
        val t = TensorInfo(name, dtype, shape, begin, end)
        req(begin >= 0 && end >= begin && end <= bufLen, s"safetensors: '$name' extent [$begin,$end) outside buffer $bufLen")
        val want = t.elems * dtypeWidth(dtype)
        req(end - begin == want, s"safetensors: '$name' extent ${end - begin} != shape bytes $want")
        tensors += t
    }
    // coverage: sorted extents tile [0, bufLen) with no overlap/hole
    val sorted = tensors.sortBy(_.begin)
    var cursor = 0L
    sorted.foreach { t =>
      req(t.begin == cursor, s"safetensors: gap or overlap at ${t.begin} (expected $cursor) before '${t.name}'")
      cursor = t.end
    }
    req(cursor == bufLen, s"safetensors: buffer tail $cursor != $bufLen uncovered")
    Header(tensors.toSeq, metadata, dataStart)
  }

  /** One decoded tensor region with typed accessors (C-order). */
  final case class Tensor(info: TensorInfo, raw: Array[Byte], off: Int) {
    val n: Int = { req(info.elems <= Int.MaxValue, "safetensors: tensor too large to materialize"); info.elems.toInt }
    private val w = info.width
    @inline private def bits(i: Int, width: Int): Long = width match {
      case 2 => le16(raw, off + i * w).toLong
      case 4 => le32u(raw, off + i * w)
      case _ => le64(raw, off + i * w)
    }
    def longAt(i: Int): Long = info.dtype match {
      case "I8" => raw(off + i).toLong
      case "U8" | "BOOL" => (raw(off + i) & 0xff).toLong
      case "I16" => bits(i, 2).toShort.toLong
      case "U16" => bits(i, 2)
      case "I32" => bits(i, 4).toInt.toLong
      case "U32" => bits(i, 4)
      case "I64" => bits(i, 8)
      case d => fail(s"safetensors: longAt on $d")
    }
    def doubleAt(i: Int): Double = info.dtype match {
      case "F16" => graft.multimodal.Rad.halfToFloat(bits(i, 2).toInt).toDouble
      case "BF16" => java.lang.Float.intBitsToFloat(bits(i, 2).toInt << 16).toDouble
      case "F8_E4M3" => e4m3ToFloat(raw(off + i) & 0xff).toDouble
      case "F8_E5M2" => e5m2ToFloat(raw(off + i) & 0xff).toDouble
      case "F32" => java.lang.Float.intBitsToFloat(bits(i, 4).toInt).toDouble
      case "F64" => java.lang.Double.longBitsToDouble(bits(i, 8))
      case _ => longAt(i).toDouble
    }
    def boolAt(i: Int): Boolean = { req(info.dtype == "BOOL", "safetensors: boolAt on non-BOOL"); raw(off + i) != 0 }
    def floats: Array[Float] = Array.tabulate(n)(i => doubleAt(i).toFloat)
    def longs: Array[Long] = Array.tabulate(n)(i => longAt(i))
  }



  /** Decode a whole in-memory file into name -> Tensor. */
  def readBytes(bytes: Array[Byte]): (Header, Map[String, Tensor]) = guarded("file") {
    val ranged: (Long, Int) => Array[Byte] =
      (off, n) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n)
    val h = header(ranged, bytes.length.toLong)
    val m = h.tensors.map(t => t.name -> Tensor(t, bytes, (h.dataStart + t.begin).toInt)).toMap
    (h, m)
  }

  // ----------------------------------------------------------------- writer

  /** Encode tensors (name, dtype, shape, littleEndianPayload) in the
    * given order; extents tile the buffer contiguously as the
    * reference validator requires. */
  def encode(tensors: Seq[(String, String, Seq[Long], Array[Byte])], metadata: Map[String, String] = Map.empty): Array[Byte] =
    guarded("encode") {
      var cursor = 0L
      val entries = tensors.map { case (name, dtype, shape, payload) =>
        val want = shape.foldLeft(1L)(_ * _) * dtypeWidth(dtype)
        req(payload.length.toLong == want, s"safetensors writer: '$name' payload ${payload.length} != $want")
        val begin = cursor
        cursor += payload.length
        val dims = shape.mkString(",")
        s"${graft.core.MiniJson.quote(name)}:{" +
          s""""dtype":"$dtype","shape":[$dims],"data_offsets":[$begin,$cursor]}"""
      }
      val metaPart =
        if (metadata.isEmpty) Seq.empty
        else Seq(s""""__metadata__":{${metadata.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${graft.core.MiniJson.quote(k)}:${graft.core.MiniJson.quote(v)}" }.mkString(",")}}""")
      val json = (metaPart ++ entries).mkString("{", ",", "}").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // pad the header with spaces to 8-align the buffer (the
      // reference writer does the same — trailing spaces are valid
      // JSON whitespace)
      val pad = (8 - ((8 + json.length) % 8)) % 8
      val hLen = json.length + pad
      val out = new java.io.ByteArrayOutputStream(8 + hLen + cursor.toInt)
      var v = hLen.toLong
      var j = 0
      while (j < 8) { out.write((v & 0xff).toInt); v >>= 8; j += 1 }
      out.write(json)
      j = 0
      while (j < pad) { out.write(' '); j += 1 }
      tensors.foreach { case (_, _, _, payload) => out.write(payload) }
      out.toByteArray
    }

  def leI64(values: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](values.length * 8)
    var i = 0
    while (i < values.length) {
      setLe64(out, i * 8, values(i))
      i += 1
    }
    out
  }

  def leF32(values: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](values.length * 4)
    var i = 0
    while (i < values.length) {
      setLe32(out, i * 4, java.lang.Float.floatToIntBits(values(i)))
      i += 1
    }
    out
  }

  /** F16 payload from exactly-representable values (lane/test use). */
  def leF16(values: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](values.length * 2)
    var i = 0
    while (i < values.length) {
      setLe16(out, i * 2, floatToHalf(values(i)))
      i += 1
    }
    out
  }

  private[sources] def floatToHalf(f: Float): Int = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val e = ((bits >>> 23) & 0xff) - 127 + 15
    val m = bits & 0x7fffff
    if (f == 0f) sign
    else if (e >= 31) sign | 0x7c00 | (if ((bits & 0x7fffffff) > 0x7f800000) 0x200 else 0)
    else if (e <= 0) { // subnormal half
      val shift = 14 - e
      if (shift > 24) sign else sign | (((m | 0x800000) >> shift) & 0x3ff)
    } else sign | (e << 10) | (m >>> 13)
  }

  // ------------------------------------------------------------ oracle lane

  /** q_safetensors: per (event_type, shard) bucket, ids become a
    * spec-layout safetensors file (I64 ids + F16 (n,2) features, an
    * "__metadata__" block), read back end to end by OUR header parse
    * + typed decode (requires verify each id/feature + the coverage
    * rule), aggregated in closed form. Feature (i,j) = id%512 + j —
    * exact in F16. */
  def safetensorsQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val n = sorted.length
      val feats = new Array[Float](n * 2)
      var i = 0
      while (i < n) {
        feats(i * 2) = (sorted(i) % 512).toFloat
        feats(i * 2 + 1) = (sorted(i) % 512 + 1).toFloat
        i += 1
      }
      val bytes = Safetensors.encode(
        Seq(
          ("ids", "I64", Seq(n.toLong), leI64(sorted)),
          ("emb", "F16", Seq(n.toLong, 2L), leF16(feats))),
        Map("format" -> "pt", "graft.bucket" -> n.toString))
      val (h, tensors) = readBytes(bytes)
      require(h.metadata.get("graft.bucket").contains(n.toString), "safetensors lane: metadata drift")
      val idsBack = tensors.getOrElse("ids", fail("safetensors lane: missing ids"))
      val embBack = tensors.getOrElse("emb", fail("safetensors lane: missing emb"))
      require(embBack.info.shape == Seq(n.toLong, 2L), "safetensors lane: shape drift")
      var featSum = 0L
      i = 0
      while (i < n) {
        require(idsBack.longAt(i) == sorted(i), s"safetensors lane: id drift at $i")
        val a = embBack.doubleAt(i * 2); val b = embBack.doubleAt(i * 2 + 1)
        require(a == (sorted(i) % 512).toDouble && b == (sorted(i) % 512 + 1).toDouble,
          s"safetensors lane: feature drift at $i")
        featSum += a.toLong + b.toLong
        i += 1
      }
      Seq(n.toLong, featSum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_vectors"),
        sum($"c".getItem(1)).cast("long").as("feat_sum"))
      .orderBy($"event_type")
  }
}
