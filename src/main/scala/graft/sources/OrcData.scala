package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.OrcMeta._

/** ORC stripe DATA decode — completes [[OrcMeta]]'s tail-only catalog
  * surface into a full reader for the second lake format, hand-rolled
  * from the published ORC v1 specification: byte RLE, boolean bit
  * streams, integer RLE v2 (all four sub-encodings — SHORT_REPEAT,
  * DIRECT, PATCHED_BASE with the 255-gap patch protocol, DELTA with
  * fixed and packed deltas), string DIRECT_V2 and DICTIONARY_V2,
  * decimal varint+scale, date, timestamp seconds+nanos (the 3-bit
  * trailing-zero nano packing), list/map/struct nesting, and the
  * chunked compression framing over NONE/ZLIB/SNAPPY/LZ4/ZSTD via the
  * in-tree/JDK codecs.
  *
  * Scale shape: the DRIVER reads file TAILS only (schema + stripe
  * directory); each TASK owns ONE stripe and issues ranged reads for
  * exactly the streams of the columns it was asked for — a pruned
  * column's streams are never fetched, never decompressed (the same
  * poison-provable guarantee as the Arrow/Avro faces). One stripe =
  * one task is the natural 100 TB unit: stripes are self-contained by
  * design (that is why they exist), so a 1000-executor scan needs no
  * coordination beyond the footer listing.
  *
  * Validator: orc-core 2.2.2 is Spark's own ORC reader — OrcDataSpec
  * compares every decoded row LIVE against `spark.read.orc` across
  * codecs, encodings (dictionary AND direct strings), multi-stripe
  * files, nulls, nesting, and negative/pre-base timestamps.
  *
  * Untrusted-bytes contract: malformed stripes raise
  * [[OrcData.OrcDataError]] (or [[OrcMeta.OrcMetaError]] from the
  * shared tail/framing layer) naming the violation. RLE v1 integer
  * encodings (DIRECT/DICTIONARY without _V2) and UNION columns refuse
  * by name — orc-core has written v2 since 0.12 and Spark has no union
  * type. */
object OrcData {

  final class OrcDataError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new OrcDataError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: OrcDataError => throw e
      case e: OrcMeta.OrcMetaError => throw e
      case e: Exception => fail(s"orc data: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  // ------------------------------------------------------- stripe footer

  final case class OStream(kind: Int, column: Int, length: Long)
  final case class OEnc(kind: Int, dictSize: Int)
  final case class OStripeFooter(streams: Seq[OStream], encodings: Seq[OEnc], writerTimezone: String)

  private[sources] def parseStripeFooter(b: Array[Byte]): OStripeFooter = {
    val streams = scala.collection.mutable.ArrayBuffer.empty[OStream]
    val encs = scala.collection.mutable.ArrayBuffer.empty[OEnc]
    var tz = ""
    walk(new Wire(b, 0, b.length)) { (num, wt, w) =>
      num match {
        case 1 =>
          OrcMeta.req(wt == 2, "orc data: stream wire type")
          val (f, u) = w.lenDelim()
          var k = -1; var c = -1; var len = -1L
          walk(new Wire(w.b, f, u)) { (n2, _, d) =>
            n2 match {
              case 1 => k = d.varint().toInt; true
              case 2 => c = d.varint().toInt; true
              case 3 => len = d.varint(); true
              case _ => false
            }
          }
          req(k >= 0 && c >= 0 && len >= 0, "orc data: stream missing kind/column/length")
          streams += OStream(k, c, len)
          true
        case 2 =>
          OrcMeta.req(wt == 2, "orc data: encoding wire type")
          val (f, u) = w.lenDelim()
          var k = 0; var ds = 0
          walk(new Wire(w.b, f, u)) { (n2, _, d) =>
            n2 match {
              case 1 => k = d.varint().toInt; true
              case 2 => ds = d.varint().toInt; true
              case _ => false
            }
          }
          encs += OEnc(k, ds)
          true
        case 3 =>
          OrcMeta.req(wt == 2, "orc data: timezone wire type")
          val (f, u) = w.lenDelim()
          tz = new String(w.b, f, u - f, java.nio.charset.StandardCharsets.UTF_8)
          true
        case _ => false
      }
    }
    OStripeFooter(streams.toSeq, encs.toSeq, tz)
  }

  // -------------------------------------------------- primitive decoders

  /** Hadoop byte RLE: control ≥ 0 → run of control+3 copies of the next
    * byte; control < 0 → −control literal bytes. */
  private[sources] def byteRle(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length * 2)
    var p = 0
    while (p < b.length) {
      val ctrl = b(p)
      if (ctrl >= 0) {
        req(p + 1 < b.length, "orc data: byte-rle run truncated")
        val v = b(p + 1)
        var i = 0; while (i < ctrl + 3) { out.write(v); i += 1 }
        p += 2
      } else {
        val lit = -ctrl
        req(p + 1 + lit <= b.length, "orc data: byte-rle literals truncated")
        out.write(b, p + 1, lit)
        p += 1 + lit
      }
    }
    out.toByteArray
  }

  /** Boolean stream: byte RLE, then bits MSB-first; trailing pad bits
    * beyond `n` are ignored (the writer rounds up to whole bytes). */
  private[sources] def boolBits(b: Array[Byte], n: Int): Array[Boolean] = {
    val bytes = byteRle(b)
    req(bytes.length * 8 >= n, s"orc data: boolean stream has ${bytes.length * 8} bits, need $n")
    val out = new Array[Boolean](n)
    var i = 0
    while (i < n) { out(i) = ((bytes(i >>> 3) >> (7 - (i & 7))) & 1) == 1; i += 1 }
    out
  }

  private def decodeBitWidth(n: Int): Int =
    if (n <= 23) n + 1
    else n match {
      case 24 => 26; case 25 => 28; case 26 => 30; case 27 => 32
      case 28 => 40; case 29 => 48; case 30 => 56; case _ => 64
    }

  private def closestFixedBits(n: Int): Int =
    if (n <= 24) math.max(1, n)
    else if (n <= 26) 26 else if (n <= 28) 28 else if (n <= 30) 30 else if (n <= 32) 32
    else if (n <= 40) 40 else if (n <= 48) 48 else if (n <= 56) 56 else 64

  /** Big-endian bit unpacking of `count` values at `width` bits from
    * `b(p)`; the group is byte-padded, so the returned position is the
    * next whole byte. */
  private def readPacked(b: Array[Byte], p0: Int, until: Int, count: Int, width: Int,
      out: Array[Long], outOff: Int): Int = {
    var p = p0
    var cur = 0
    var bitsLeft = 0
    var i = 0
    while (i < count) {
      var v = 0L
      var need = width
      while (need > 0) {
        if (bitsLeft == 0) {
          req(p < until, "orc data: bit-packed run truncated")
          cur = b(p) & 0xff; p += 1; bitsLeft = 8
        }
        val take = if (need < bitsLeft) need else bitsLeft
        v = (v << take) | ((cur >>> (bitsLeft - take)) & ((1 << take) - 1))
        need -= take
        bitsLeft -= take
      }
      out(outOff + i) = v
      i += 1
    }
    p
  }

  private def varint(b: Array[Byte], pos: Array[Int]): Long = {
    var shift = 0; var acc = 0L; var i = 0
    while (i < 10) {
      req(pos(0) < b.length, "orc data: varint truncated")
      val x = b(pos(0)) & 0xff
      pos(0) += 1
      acc |= (x & 0x7fL) << shift
      if ((x & 0x80) == 0) return acc
      shift += 7; i += 1
    }
    fail("orc data: varint longer than 10 bytes")
  }

  @inline private def unzig(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  /** Integer RLE v2, all four sub-encodings. `signed` applies zigzag
    * where the spec says (SHORT_REPEAT/DIRECT values, DELTA base). */
  private[sources] def rleV2(b: Array[Byte], n: Int, signed: Boolean): Array[Long] = {
    val out = new Array[Long](n)
    var produced = 0
    var p = 0
    while (produced < n) {
      req(p < b.length, s"orc data: rlev2 stream exhausted at $produced of $n")
      val first = b(p) & 0xff
      (first >>> 6) match {
        case 0 => // SHORT_REPEAT
          val w = ((first >>> 3) & 7) + 1
          val rep = (first & 7) + 3
          req(p + 1 + w <= b.length, "orc data: short-repeat truncated")
          var v = 0L
          var i = 0; while (i < w) { v = (v << 8) | (b(p + 1 + i) & 0xffL); i += 1 }
          p += 1 + w
          val sv = if (signed) unzig(v) else v
          req(produced + rep <= n, "orc data: short-repeat overruns the value count")
          i = 0; while (i < rep) { out(produced) = sv; produced += 1; i += 1 }
        case 1 => // DIRECT
          req(p + 1 < b.length, "orc data: direct header truncated")
          val width = decodeBitWidth((first >>> 1) & 0x1f)
          val len = (((first & 1) << 8) | (b(p + 1) & 0xff)) + 1
          p += 2
          req(produced + len <= n, "orc data: direct run overruns the value count")
          p = readPacked(b, p, b.length, len, width, out, produced)
          if (signed) {
            var i = 0; while (i < len) { out(produced + i) = unzig(out(produced + i)); i += 1 }
          }
          produced += len
        case 2 => // PATCHED_BASE
          req(p + 3 < b.length, "orc data: patched-base header truncated")
          val width = decodeBitWidth((first >>> 1) & 0x1f)
          val len = (((first & 1) << 8) | (b(p + 1) & 0xff)) + 1
          val third = b(p + 2) & 0xff
          val bw = ((third >>> 5) & 7) + 1
          val pw = decodeBitWidth(third & 0x1f)
          val fourth = b(p + 3) & 0xff
          val pgw = ((fourth >>> 5) & 7) + 1
          val pll = fourth & 0x1f
          p += 4
          req(p + bw <= b.length, "orc data: patched-base base truncated")
          var base = 0L
          var i = 0; while (i < bw) { base = (base << 8) | (b(p + i) & 0xffL); i += 1 }
          p += bw
          val signMask = 1L << (bw * 8 - 1)
          if ((base & signMask) != 0) base = -(base ^ signMask)
          req(produced + len <= n, "orc data: patched-base run overruns the value count")
          p = readPacked(b, p, b.length, len, width, out, produced)
          val patches = new Array[Long](pll)
          p = readPacked(b, p, b.length, pll, closestFixedBits(pw + pgw), patches, 0)
          val patchMask = (1L << pw) - 1
          var patchIdx = 0
          var gap = 0L
          var patch = 0L
          def advance(fromPos: Long): Long = {
            var actualGap = 0L
            gap = patches(patchIdx) >>> pw
            patch = patches(patchIdx) & patchMask
            while (gap == 255 && patch == 0) {
              actualGap += 255
              patchIdx += 1
              req(patchIdx < pll, "orc data: patch gap chain overruns the patch list")
              gap = patches(patchIdx) >>> pw
              patch = patches(patchIdx) & patchMask
            }
            actualGap + gap + fromPos
          }
          var nextPatch = if (pll > 0) advance(0L) else -1L
          i = 0
          while (i < len) {
            if (i == nextPatch) {
              req(patch != 0, "orc data: zero patch outside a gap chain")
              out(produced + i) = base + (out(produced + i) | (patch << width))
              patchIdx += 1
              nextPatch = if (patchIdx < pll) advance(i.toLong) else -1L
            } else out(produced + i) = base + out(produced + i)
            i += 1
          }
          produced += len
        case _ => // DELTA
          req(p + 1 < b.length, "orc data: delta header truncated")
          val fbw = (first >>> 1) & 0x1f
          val width = if (fbw == 0) 0 else decodeBitWidth(fbw)
          val len = (((first & 1) << 8) | (b(p + 1) & 0xff)) + 1
          p += 2
          val pos = Array(p)
          val raw = varint(b, pos)
          val base = if (signed) unzig(raw) else raw
          val deltaBase = unzig(varint(b, pos))
          p = pos(0)
          req(produced + len <= n, "orc data: delta run overruns the value count")
          out(produced) = base
          if (len > 1) {
            out(produced + 1) = base + deltaBase
            if (len > 2) {
              if (width == 0) {
                var i = 2
                while (i < len) { out(produced + i) = out(produced + i - 1) + deltaBase; i += 1 }
              } else {
                val deltas = new Array[Long](len - 2)
                p = readPacked(b, p, b.length, len - 2, width, deltas, 0)
                val sign = if (deltaBase < 0) -1L else 1L
                var i = 2
                while (i < len) {
                  out(produced + i) = out(produced + i - 1) + sign * deltas(i - 2)
                  i += 1
                }
              }
            }
          }
          produced += len
      }
    }
    out
  }

  // ----------------------------------------------------- column decoding

  private val StrPresent = 0
  private val StrData = 1
  private val StrLength = 2
  private val StrDictData = 3
  private val StrSecondary = 5

  /** Seconds between 1970-01-01 and the ORC timestamp base 2015-01-01
    * (both UTC). */
  private val TsBaseSeconds = 1420070400L

  private def parseNanos(v: Long): Long = {
    val zeros = (v & 7L).toInt
    var r = v >>> 3
    if (zeros != 0) { var i = 0; while (i <= zeros) { r *= 10; i += 1 } }
    r
  }

  /** Per-stripe decode context: lazily fetches + deframes exactly the
    * streams that are asked for (pruning = those ranged reads never
    * happen). */
  private final class StripeCtx(
      raf: java.io.RandomAccessFile,
      types: IndexedSeq[OmType],
      encodings: IndexedSeq[OEnc],
      layout: Map[(Int, Int), (Long, Long)], // (column, kind) -> (absolute offset, length)
      codec: Int,
      blockSize: Long) {

    def enc(col: Int): OEnc = encodings(col)

    def streamOpt(col: Int, kind: Int): Option[Array[Byte]] =
      layout.get((col, kind)).map { case (off, len) =>
        req(len <= Int.MaxValue, s"orc data: stream of $len bytes")
        val raw = new Array[Byte](len.toInt)
        raf.seek(off)
        raf.readFully(raw)
        decompressed(raw, 0, raw.length, codec, blockSize)
      }

    def stream(col: Int, kind: Int): Array[Byte] =
      streamOpt(col, kind).getOrElse(fail(s"orc data: column $col missing stream kind $kind"))

    def typeOf(col: Int): OmType = types(col)
  }

  /** Decode column `col` into `slots` top-level values (null where the
    * present stream says so). */
  private def decodeColumn(ctx: StripeCtx, col: Int, slots: Int): Array[Any] = {
    val present = ctx.streamOpt(col, StrPresent).map(boolBits(_, slots))
    val m = present.map(_.count(identity)).getOrElse(slots)
    val t = ctx.typeOf(col)
    val encKind = ctx.enc(col).kind

    def intStream(kind: Int, count: Int, signed: Boolean): Array[Long] =
      rleV2(ctx.stream(col, kind), count, signed)

    // RLE v1 refusal: integer-bearing kinds written with pre-v2 encodings
    val intBearing = Set(2, 3, 4, 7, 8, 9, 14, 15, 16, 17, 18, 10, 11)
    if (intBearing.contains(t.kind))
      req(encKind == 2 || encKind == 3,
        s"orc data: column $col kind ${t.kind} uses RLE v1 encoding $encKind — only *_V2 (orc >= 0.12) is supported")

    val vals: Array[Any] = t.kind match {
      case 0 => // BOOLEAN
        val bits = boolBits(ctx.stream(col, StrData), m)
        bits.map(b => java.lang.Boolean.valueOf(b): Any)
      case 1 => // BYTE
        val bytes = byteRle(ctx.stream(col, StrData))
        req(bytes.length >= m, "orc data: byte stream short")
        (0 until m).map(i => java.lang.Byte.valueOf(bytes(i)): Any).toArray
      case 2 => intStream(StrData, m, signed = true).map(v => java.lang.Short.valueOf(v.toShort): Any)
      case 3 => intStream(StrData, m, signed = true).map(v => java.lang.Integer.valueOf(v.toInt): Any)
      case 4 =>
        if (isNtzLong(t))
          intStream(StrData, m, signed = true).map { us =>
            java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC): Any
          }
        else intStream(StrData, m, signed = true).map(v => java.lang.Long.valueOf(v): Any)
      case 5 => // FLOAT
        val d = ctx.stream(col, StrData)
        req(d.length >= 4 * m, "orc data: float stream short")
        val bb = java.nio.ByteBuffer.wrap(d).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until m).map(i => java.lang.Float.valueOf(bb.getFloat(i * 4)): Any).toArray
      case 6 => // DOUBLE
        val d = ctx.stream(col, StrData)
        req(d.length >= 8 * m, "orc data: double stream short")
        val bb = java.nio.ByteBuffer.wrap(d).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until m).map(i => java.lang.Double.valueOf(bb.getDouble(i * 8)): Any).toArray
      case 7 | 16 | 17 => // STRING / VARCHAR / CHAR
        if (encKind == 3) { // DICTIONARY_V2
          val dictSize = ctx.enc(col).dictSize
          val lens = rleV2(ctx.stream(col, StrLength), dictSize, signed = false)
          val blob = ctx.stream(col, StrDictData)
          val dict = new Array[String](dictSize)
          var off = 0
          var i = 0
          while (i < dictSize) {
            val l = lens(i).toInt
            req(l >= 0 && off + l <= blob.length, s"orc data: dictionary entry $i overruns")
            dict(i) = new String(blob, off, l, java.nio.charset.StandardCharsets.UTF_8)
            off += l
            i += 1
          }
          intStream(StrData, m, signed = false).map { ix =>
            req(ix >= 0 && ix < dictSize, s"orc data: dictionary index $ix of $dictSize")
            dict(ix.toInt): Any
          }
        } else { // DIRECT_V2
          val lens = rleV2(ctx.stream(col, StrLength), m, signed = false)
          val blob = ctx.stream(col, StrData)
          var off = 0
          val out = new Array[Any](m)
          var i = 0
          while (i < m) {
            val l = lens(i).toInt
            req(l >= 0 && off + l <= blob.length, s"orc data: string value $i overruns")
            out(i) = new String(blob, off, l, java.nio.charset.StandardCharsets.UTF_8)
            off += l
            i += 1
          }
          out
        }
      case 8 => // BINARY
        val lens = rleV2(ctx.stream(col, StrLength), m, signed = false)
        val blob = ctx.stream(col, StrData)
        var off = 0
        val out = new Array[Any](m)
        var i = 0
        while (i < m) {
          val l = lens(i).toInt
          req(l >= 0 && off + l <= blob.length, s"orc data: binary value $i overruns")
          out(i) = java.util.Arrays.copyOfRange(blob, off, off + l)
          off += l
          i += 1
        }
        out
      case 9 | 18 => // TIMESTAMP / TIMESTAMP_INSTANT (both UTC-written here)
        val secs = intStream(StrData, m, signed = true)
        val nanoRaw = rleV2(ctx.stream(col, StrSecondary), m, signed = false)
        (0 until m).map { i =>
          val nanos = parseNanos(nanoRaw(i))
          req(nanos >= 0 && nanos <= 999999999L, s"orc data: nanos $nanos out of range")
          var s = secs(i) + TsBaseSeconds
          // the writer truncated MILLIS toward zero when splitting the
          // sub-second part off a pre-1970 instant; borrow the second
          // back — but only when the nano part carries >= 1 ms (probe:
          // orc-core leaves sub-millisecond nanos unborrowed, because
          // its own truncation happened at millisecond granularity)
          if (s < 0 && nanos > 999999L) s -= 1
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, nanos)): Any
        }.toArray
      case 14 => // DECIMAL
        val data = ctx.stream(col, StrData)
        val scales = rleV2(ctx.stream(col, StrSecondary), m, signed = true)
        val pos = Array(0)
        (0 until m).map { i =>
          // unbounded zigzag varint mantissa
          var acc = java.math.BigInteger.ZERO
          var shift = 0
          var done = false
          while (!done) {
            req(pos(0) < data.length, "orc data: decimal varint truncated")
            val x = data(pos(0)) & 0xff
            pos(0) += 1
            acc = acc.or(java.math.BigInteger.valueOf(x & 0x7fL).shiftLeft(shift))
            shift += 7
            done = (x & 0x80) == 0
          }
          val mant =
            if (acc.testBit(0)) acc.shiftRight(1).not() else acc.shiftRight(1)
          new java.math.BigDecimal(mant, scales(i).toInt)
            .setScale(t.scale, java.math.RoundingMode.UNNECESSARY): Any
        }.toArray
      case 15 => // DATE
        intStream(StrData, m, signed = true).map { d =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)): Any
        }
      case 10 => // LIST
        val lens = rleV2(ctx.stream(col, StrLength), m, signed = false)
        val childSlots = lens.sum
        req(childSlots >= 0 && childSlots <= Int.MaxValue, "orc data: list sizes overflow")
        val child = decodeColumn(ctx, t.subtypes.head, childSlots.toInt)
        var off = 0
        val out = new Array[Any](m)
        var i = 0
        while (i < m) {
          val l = lens(i).toInt
          out(i) = child.slice(off, off + l).toSeq
          off += l
          i += 1
        }
        out
      case 11 => // MAP
        val lens = rleV2(ctx.stream(col, StrLength), m, signed = false)
        val childSlots = lens.sum
        req(childSlots >= 0 && childSlots <= Int.MaxValue, "orc data: map sizes overflow")
        val keys = decodeColumn(ctx, t.subtypes(0), childSlots.toInt)
        val values = decodeColumn(ctx, t.subtypes(1), childSlots.toInt)
        var off = 0
        val out = new Array[Any](m)
        var i = 0
        while (i < m) {
          val l = lens(i).toInt
          out(i) = (off until off + l).map(j => keys(j) -> values(j)).toMap
          off += l
          i += 1
        }
        out
      case 12 => // STRUCT
        val children = t.subtypes.map(c => decodeColumn(ctx, c, m))
        (0 until m).map(i => Row.fromSeq(children.map(_(i))): Any).toArray
      case 13 => fail(s"orc data: UNION column $col is not supported (Spark has no union type)")
      case k => fail(s"orc data: unsupported type kind $k")
    }
    req(vals.length == m, s"orc data: column $col produced ${vals.length} of $m values")

    present match {
      case None => vals
      case Some(bits) =>
        val out = new Array[Any](slots)
        var k = 0
        var i = 0
        while (i < slots) {
          if (bits(i)) { out(i) = vals(k); k += 1 }
          i += 1
        }
        out
    }
  }

  // --------------------------------------------------------- Spark face

  /** Spark tags columns whose Catalyst type has no ORC kind with a
    * `spark.sql.catalyst.type` attribute; TIMESTAMP_NTZ rides a LONG
    * of epoch micros this way. */
  private def isNtzLong(t: OmType): Boolean =
    t.kind == 4 && t.attributes.contains(("spark.sql.catalyst.type", "timestamp_ntz"))

  private[sources] def sparkType(types: IndexedSeq[OmType], col: Int): DataType = {
    val t = types(col)
    t.kind match {
      case 0 => BooleanType
      case 1 => ByteType
      case 2 => ShortType
      case 3 => IntegerType
      case 4 => if (isNtzLong(t)) TimestampNTZType else LongType
      case 5 => FloatType
      case 6 => DoubleType
      case 7 | 16 | 17 => StringType
      case 8 => BinaryType
      case 9 | 18 => TimestampType
      case 14 => DecimalType(t.precision, t.scale)
      case 15 => DateType
      case 10 => ArrayType(sparkType(types, t.subtypes.head))
      case 11 => MapType(sparkType(types, t.subtypes(0)), sparkType(types, t.subtypes(1)))
      case 12 => StructType(t.subtypes.zip(t.fieldNames).map { case (c, n) =>
        StructField(n, sparkType(types, c)) })
      case k => fail(s"orc data: unsupported type kind $k")
    }
  }

  /** Parse stripe `idx`'s footer of an already-tail-read file — the
    * introspection face of the stripe layer (encodings, stream layout),
    * also what the specs use to assert which encodings actually
    * occurred. */
  def stripeFooter(path: String, f: OmFile, idx: Int): OStripeFooter = guarded(s"stripe footer in $path") {
    val s = f.footer.stripes(idx)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      req(s.footerLength > 0 && s.footerLength <= Int.MaxValue, "orc data: stripe footer length")
      val fb = new Array[Byte](s.footerLength.toInt)
      raf.seek(s.offset + s.indexLength + s.dataLength)
      raf.readFully(fb)
      parseStripeFooter(decompressed(fb, 0, fb.length, f.postScript.compression,
        f.postScript.compressionBlockSize))
    } finally raf.close()
  }

  private[graft] final case class StripeDesc(path: String, offset: Long, indexLength: Long,
      dataLength: Long, footerLength: Long, rows: Long, codec: Int, blockSize: Long)

  /** Decode one stripe: ranged stripe-footer read, then per-wanted-column
    * ranged stream reads. `wanted` = root field indices (None = all). */
  private def readStripe(desc: StripeDesc, types: IndexedSeq[OmType],
      wanted: Option[Set[Int]]): Iterator[Row] = guarded(s"stripe in ${desc.path}") {
    val raf = new java.io.RandomAccessFile(desc.path, "r")
    try {
      req(desc.footerLength <= Int.MaxValue && desc.footerLength > 0, "orc data: stripe footer length")
      val fb = new Array[Byte](desc.footerLength.toInt)
      raf.seek(desc.offset + desc.indexLength + desc.dataLength)
      raf.readFully(fb)
      val sf = parseStripeFooter(decompressed(fb, 0, fb.length, desc.codec, desc.blockSize))
      req(sf.encodings.length == types.length,
        s"orc data: ${sf.encodings.length} encodings for ${types.length} columns")
      if (sf.writerTimezone.nonEmpty)
        req(Set("UTC", "GMT", "Etc/UTC").contains(sf.writerTimezone),
          s"orc data: writer timezone '${sf.writerTimezone}' — only UTC-written files are supported")

      var off = desc.offset
      val layout = sf.streams.map { st =>
        val entry = ((st.column, st.kind), (off, st.length))
        off += st.length
        entry
      }.toMap
      req(off == desc.offset + desc.indexLength + desc.dataLength,
        s"orc data: stream lengths (${off - desc.offset}) disagree with the stripe extent " +
          s"(${desc.indexLength + desc.dataLength})")

      val ctx = new StripeCtx(raf, types, sf.encodings.toIndexedSeq, layout, desc.codec, desc.blockSize)
      val root = types(0)
      req(root.kind == 12, "orc data: root type is not a struct")
      val n = desc.rows.toInt
      val fields = root.subtypes.zipWithIndex.filter { case (_, i) => wanted.forall(_.contains(i)) }
      val cols = fields.map { case (c, _) => decodeColumn(ctx, c, n) }
      (0 until n).iterator.map(i => Row.fromSeq(cols.map(_(i))))
    } finally raf.close()
  }

  /** Read ORC files as a DataFrame: driver touches TAILS only, one task
    * per stripe, per-stream ranged reads; `columns` prunes at the
    * STREAM level (a pruned column's bytes are never fetched). */
  /** Inclusive range predicate on an integer-statistics column, used
    * for STRIPE pruning: a stripe whose [min,max] cannot intersect
    * [lo,hi] is never read. Advisory — callers still apply the exact
    * predicate on the returned rows (stats are coarse), exactly like
    * Spark's PushedFilters + Filter node split. */
  final case class ColRange(column: String, lo: Long, hi: Long)

  /** The stripe plan under a filter: (kept descriptors, total stripes).
    * Exposed so the pruning claim is spec-checkable, and used by
    * [[read]] itself — one source of truth. */
  private[graft] def planStripes(tails: Seq[(String, OmFile)], types0: IndexedSeq[OmType],
      filter: Option[ColRange]): (Seq[StripeDesc], Int) = {
    val all = tails.flatMap { case (p, f) =>
      val statsByStripe: Seq[Seq[OmColStats]] =
        filter.map(_ => OrcMeta.readStripeStats(p, f)).getOrElse(Nil)
      f.footer.stripes.zipWithIndex.map { case (s, i) =>
        val keep = filter match {
          case None => true
          case Some(cr) =>
            val fieldIdx = types0(0).fieldNames.indexOf(cr.column)
            req(fieldIdx >= 0, s"orc data: filter column '${cr.column}' not found")
            val colId = types0(0).subtypes(fieldIdx)
            statsByStripe.lift(i).flatMap(_.lift(colId)).flatMap(_.intStats) match {
              case Some(is) =>
                // unknown min/max -> keep (prune only on proof)
                !(is.max.exists(_ < cr.lo) || is.min.exists(_ > cr.hi))
              case None => true
            }
        }
        (keep, StripeDesc(p, s.offset, s.indexLength, s.dataLength, s.footerLength, s.numberOfRows,
          f.postScript.compression, f.postScript.compressionBlockSize))
      }
    }
    (all.collect { case (true, d) => d }, all.length)
  }

  def read(spark: SparkSession, paths: Seq[String], columns: Seq[String] = Nil,
      filter: Option[ColRange] = None): DataFrame = {
    req(paths.nonEmpty, "orc data: no paths")
    val tails = paths.map(p => p -> OrcMeta.readTail(p))
    val types0 = tails.head._2.footer.types.toIndexedSeq
    tails.foreach { case (p, f) =>
      req(f.footer.types == types0.toSeq, s"orc data: schema drift in $p")
    }
    val fullSchema = sparkType(types0, 0).asInstanceOf[StructType]
    val wanted: Option[Set[Int]] =
      if (columns.isEmpty) None
      else Some(columns.map { c =>
        val i = fullSchema.fieldIndex(c)
        i
      }.toSet)
    val schema = wanted match {
      case None => fullSchema
      case Some(ws) => StructType(fullSchema.fields.zipWithIndex.collect {
        case (f, i) if ws.contains(i) => f })
    }
    val (descs, _) = planStripes(tails, types0, filter)
    val typesB = types0
    val rdd = spark.sparkContext
      .parallelize(descs, math.max(1, descs.length))
      .flatMap(d => readStripe(d, typesB, wanted))
    spark.createDataFrame(rdd, schema)
  }

  // ------------------------------------------------------------- q lane

  private val writtenDirs = scala.collection.mutable.Set.empty[String]

  /** ◆ Full ORC cycle under the oracle, BOTH directions: (A) Spark's
    * writer (= orc-core) → OUR stripe decoder; (B) OUR writer → Spark's
    * reader — the same aggregation over both paths, required row-equal
    * in-lane, so a drift in either the reader or the writer fails the
    * oracle, not just the spec. Driver reads tails only, one task per
    * stripe, ranged stream fetches; every value re-derived by DuckDB
    * from the parquet the ORC was written from. Exercises RLEv2 ints,
    * dictionary strings, doubles and timestamp seconds+nanos. */
  def readQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val src = graft.Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    def agg(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        sum(col("user_id")).as("sum_uid"),
        max(col("ts")).as("max_ts"),
        round(sum(col("value")), 3).as("sum_value"))
      .orderBy(col("event_type"))
    val outA = s"/tmp/graft_orc_data/$tag"
    // materialize ONCE per JVM run (bench passes re-enter the lane; the
    // write is the fixture build, not the operator under test) — spread
    // so the read-back side gets one stripe per core
    writtenDirs.synchronized {
      if (!writtenDirs.contains(outA)) {
        src.repartition(s.sparkContext.defaultParallelism)
          .write.mode("overwrite").option("compression", "snappy").orc(outA)
        writtenDirs += outA
      }
    }
    val filesA = new java.io.File(outA).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".orc")).map(_.getPath).sorted.toSeq
    val ourRead = read(s, filesA)
    val resA = agg(ourRead)
    // writer require-lane on a deterministic slice (~1/7): OUR writer's
    // bytes must agree with OUR reader's view of the same rows once
    // Spark's reader (= orc-core) decodes them
    val slice = ourRead.filter(col("event_id") % 7 === 0)
    val outB = s"/tmp/graft_orc_data_w/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outB))
    OrcWrite.writeShards(slice, outB, codec = "snappy")
    val a = agg(slice).collect().toSeq
    val b = agg(s.read.orc(outB)).collect().toSeq
    require(a == b, s"orc cycle drift: our-read slice gave $a, our-write cycle gave $b")
    resA
  }
}
