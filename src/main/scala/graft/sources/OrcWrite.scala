package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** ORC v1 WRITER — the mirror of [[OrcData]], so the second lake
  * format is a source AND a sink like every other interchange lane
  * (Arrow, Avro, npy, SequenceFile): type tree with Spark's
  * NTZ-over-LONG attribute convention, PRESENT bit streams, integer
  * RLEv2 (fixed-delta runs and DIRECT bit-packed chunks — any
  * conforming encoding choice is legal for a writer; the reference
  * reader accepts all), string DIRECT_V2 and DICTIONARY_V2 (sorted
  * dictionary, chosen when the distinct ratio earns it), decimal
  * zigzag-varint mantissas, timestamp seconds+packed-nanos,
  * list/map/struct nesting, per-stream chunked compression framing
  * (NONE/ZLIB/SNAPPY/LZ4/ZSTD), stripes, protobuf footer + postscript.
  *
  * Validator: orc-core 2.2.2 via `spark.read.orc` reads every written
  * file back row-for-row (OrcWriteSpec), across codecs and both
  * string encodings; [[OrcData.read]] round-trips them too, so reader
  * and writer cannot drift apart silently.
  *
  * Scale shape: [[writeShards]] is shard-per-partition with tmp-rename
  * task commit — no driver data path, no coordination; stripes bound
  * executor memory. */
object OrcWrite {

  import OrcData.{OrcDataError => _, _}

  private def fail(msg: String): Nothing = throw new OrcData.OrcDataError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  // ------------------------------------------------------ protobuf emit

  private final class ProtoOut {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def field(num: Int, v: Long): Unit = { varint((num.toLong << 3) | 0); varint(v) }
    def bytes(num: Int, b: Array[Byte]): Unit = {
      varint((num.toLong << 3) | 2); varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def str(num: Int, s: String): Unit = bytes(num, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def msg(num: Int)(f: ProtoOut => Unit): Unit = {
      val inner = new ProtoOut; f(inner); bytes(num, inner.toArray)
    }
    def toArray: Array[Byte] = out.toByteArray
  }

  // ------------------------------------------------------- type tree

  /** Pre-order column ids, Spark-convention kinds (NTZ rides a LONG
    * with the `spark.sql.catalyst.type` attribute, exactly what
    * Spark's own writer emits). */
  private[sources] final case class WType(kind: Int, dt: DataType, children: Seq[Int],
      names: Seq[String], precision: Int, scale: Int, ntz: Boolean)

  private[sources] def buildTypes(schema: StructType): IndexedSeq[WType] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WType]
    def add(dt: DataType): Int = {
      val id = out.length
      out += null // reserve slot; replaced below
      val t = dt match {
        case BooleanType => WType(0, dt, Nil, Nil, 0, 0, ntz = false)
        case ByteType => WType(1, dt, Nil, Nil, 0, 0, ntz = false)
        case ShortType => WType(2, dt, Nil, Nil, 0, 0, ntz = false)
        case IntegerType => WType(3, dt, Nil, Nil, 0, 0, ntz = false)
        case LongType => WType(4, dt, Nil, Nil, 0, 0, ntz = false)
        case FloatType => WType(5, dt, Nil, Nil, 0, 0, ntz = false)
        case DoubleType => WType(6, dt, Nil, Nil, 0, 0, ntz = false)
        case StringType => WType(7, dt, Nil, Nil, 0, 0, ntz = false)
        case BinaryType => WType(8, dt, Nil, Nil, 0, 0, ntz = false)
        case TimestampType => WType(9, dt, Nil, Nil, 0, 0, ntz = false)
        case TimestampNTZType => WType(4, dt, Nil, Nil, 0, 0, ntz = true)
        case d: DecimalType => WType(14, dt, Nil, Nil, d.precision, d.scale, ntz = false)
        case DateType => WType(15, dt, Nil, Nil, 0, 0, ntz = false)
        case ArrayType(et, _) => WType(10, dt, Seq(add(et)), Nil, 0, 0, ntz = false)
        case MapType(kt, vt, _) =>
          val k = add(kt); val v = add(vt)
          WType(11, dt, Seq(k, v), Nil, 0, 0, ntz = false)
        case st: StructType =>
          val kids = st.fields.map(f => add(f.dataType)).toSeq
          WType(12, dt, kids, st.fields.map(_.name).toSeq, 0, 0, ntz = false)
        case other => fail(s"orc write: unsupported Spark type $other")
      }
      out(id) = t
      id
    }
    add(schema)
    out.toIndexedSeq
  }

  // -------------------------------------------------- primitive encoders

  private[sources] def byteRleEncode(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 16)
    var i = 0
    val n = bytes.length
    while (i < n) {
      // measure the run of equal bytes at i
      var run = 1
      while (i + run < n && run < 130 && bytes(i + run) == bytes(i)) run += 1
      if (run >= 3) {
        out.write(run - 3)
        out.write(bytes(i))
        i += run
      } else {
        // literal span: until the next >=3 run or 128 bytes
        var end = i
        var streak = 1
        while (end + 1 < n && end - i + 1 < 128 && streak < 3) {
          if (bytes(end + 1) == bytes(end)) streak += 1 else streak = 1
          end += 1
        }
        if (streak >= 3) end -= streak - 1 // leave the run for the next turn
        val len = end - i + 1
        out.write(-len & 0xff)
        out.write(bytes, i, len)
        i += len
      }
    }
    out.toByteArray
  }

  private[sources] def boolEncode(bits: Array[Boolean]): Array[Byte] = {
    val packed = new Array[Byte]((bits.length + 7) / 8)
    var i = 0
    while (i < bits.length) {
      if (bits(i)) packed(i >>> 3) = (packed(i >>> 3) | (1 << (7 - (i & 7)))).toByte
      i += 1
    }
    byteRleEncode(packed)
  }

  private def encodeBitWidth(w: Int): Int =
    if (w <= 24) w - 1
    else w match {
      case 26 => 24; case 28 => 25; case 30 => 26; case 32 => 27
      case 40 => 28; case 48 => 29; case 56 => 30; case _ => 31
    }

  private def roundWidth(w: Int): Int =
    if (w <= 24) math.max(1, w)
    else if (w <= 26) 26 else if (w <= 28) 28 else if (w <= 30) 30 else if (w <= 32) 32
    else if (w <= 40) 40 else if (w <= 48) 48 else if (w <= 56) 56 else 64

  private def bitsOf(v: Long): Int = if (v == 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(v)

  /** RLE v2 encode: fixed-delta runs (constants included) as DELTA,
    * everything else as DIRECT chunks — a conforming subset; the
    * reference reader takes any mix of sub-encodings. */
  private[sources] def rleV2Encode(vals: Array[Long], signed: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length + 16)
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    @inline def zz(v: Long): Long = (v << 1) ^ (v >> 63)
    val n = vals.length
    var i = 0
    while (i < n) {
      // fixed-delta run length at i (max 512)
      var run = 1
      if (i + 1 < n) {
        val d = vals(i + 1) - vals(i)
        run = 2
        while (i + run < n && run < 512 && vals(i + run) - vals(i + run - 1) == d) run += 1
      }
      if (run >= 3) {
        val d = vals(i + 1) - vals(i)
        out.write((3 << 6) | ((run - 1) >> 8)) // DELTA, width code 0 = fixed delta
        out.write((run - 1) & 0xff)
        if (signed) varint(zz(vals(i)))
        else { req(vals(i) >= 0, "orc write: negative value in an unsigned stream"); varint(vals(i)) }
        varint(zz(d))
        i += run
      } else {
        // DIRECT chunk up to 512 values, stopping early if a fixed run starts
        var end = i + 1
        while (end < n && end - i < 512 &&
            !(end + 2 < n && vals(end + 1) - vals(end) == vals(end + 2) - vals(end + 1) &&
              (end + 3 >= n || vals(end + 3) - vals(end + 2) == vals(end + 1) - vals(end)))) end += 1
        val len = end - i
        var maxBits = 1
        var j = i
        while (j < end) {
          val enc = if (signed) zz(vals(j)) else {
            req(vals(j) >= 0, "orc write: negative value in an unsigned stream"); vals(j)
          }
          val b = bitsOf(enc)
          if (b > maxBits) maxBits = b
          j += 1
        }
        val width = roundWidth(maxBits)
        out.write((1 << 6) | (encodeBitWidth(width) << 1) | ((len - 1) >> 8))
        out.write((len - 1) & 0xff)
        var acc = 0L
        var accBits = 0
        j = i
        while (j < end) {
          val enc = if (signed) zz(vals(j)) else vals(j)
          var left = width
          while (left > 0) {
            val take = math.min(left, 8 - accBits)
            acc = (acc << take) | ((enc >>> (left - take)) & ((1L << take) - 1))
            accBits += take
            left -= take
            if (accBits == 8) { out.write(acc.toInt & 0xff); acc = 0L; accBits = 0 }
          }
          j += 1
        }
        if (accBits > 0) out.write((acc << (8 - accBits)).toInt & 0xff)
        i = end
      }
    }
    out.toByteArray
  }

  // ------------------------------------------------------ codec framing

  private[sources] def frame(codec: Int, blockSize: Int, data: Array[Byte]): Array[Byte] = {
    if (codec == 0) return data
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var p = 0
    while (p < data.length) {
      val n = math.min(blockSize, data.length - p)
      val comp: Array[Byte] = codec match {
        case 1 =>
          val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(data, p, n); d.finish()
            val acc = new java.io.ByteArrayOutputStream(n / 2 + 16)
            val buf = new Array[Byte](64 << 10)
            while (!d.finished()) acc.write(buf, 0, d.deflate(buf))
            acc.toByteArray
          } finally d.end()
        case 2 => Snappy.rawEncode(java.util.Arrays.copyOfRange(data, p, p + n))
        case 4 =>
          val c = Lz4.encodeRawBlock(data, p, n)
          if (c == null) null else c
        case 5 => Zstd.encode(java.util.Arrays.copyOfRange(data, p, p + n))
        case c => fail(s"orc write: unsupported codec $c")
      }
      val useOriginal = comp == null || comp.length >= n
      val (len, flag) = if (useOriginal) (n, 1) else (comp.length, 0)
      val h = (len << 1) | flag
      out.write(h & 0xff); out.write((h >>> 8) & 0xff); out.write((h >>> 16) & 0xff)
      if (useOriginal) out.write(data, p, n) else out.write(comp, 0, comp.length)
      p += n
    }
    out.toByteArray
  }

  // ------------------------------------------------------ column encode

  private val TsBase = 1420070400L

  private def packNanos(nanos: Int): Long = {
    if (nanos == 0) return 0L
    var z = 0
    var v = nanos.toLong
    while (z < 8 && v % 10 == 0) { v /= 10; z += 1 }
    if (z >= 2) (v << 3) | (z - 1).toLong else nanos.toLong << 3
  }

  /** Streams of one column (and its descendants): (col, streamKind,
    * raw bytes) plus per-column encodings. */
  private def encodeColumn(types: IndexedSeq[WType], col: Int, slots: Array[Any],
      streams: scala.collection.mutable.ArrayBuffer[(Int, Int, Array[Byte])],
      encodings: scala.collection.mutable.Map[Int, (Int, Int)]): Unit = {
    val t = types(col)
    val hasNull = slots.exists(_ == null)
    if (hasNull)
      streams += ((col, 0, boolEncode(slots.map(_ != null))))
    val vals: Array[Any] = slots.filter(_ != null)
    val m = vals.length

    def longs(f: Any => Long): Array[Long] = vals.map(v => f(v))

    var enc = 0
    var dictSize = 0
    t.kind match {
      case 0 =>
        streams += ((col, 1, boolEncode(vals.map(_.asInstanceOf[Boolean]))))
      case 1 =>
        streams += ((col, 1, byteRleEncode(vals.map(_.asInstanceOf[Byte]))))
      case 2 => enc = 2; streams += ((col, 1, rleV2Encode(longs(_.asInstanceOf[Short].toLong), signed = true)))
      case 3 => enc = 2; streams += ((col, 1, rleV2Encode(longs(_.asInstanceOf[Int].toLong), signed = true)))
      case 4 =>
        enc = 2
        val xs =
          if (t.ntz) longs { v =>
            val ldt = v.asInstanceOf[java.time.LocalDateTime]
            ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
          }
          else longs(_.asInstanceOf[Long])
        streams += ((col, 1, rleV2Encode(xs, signed = true)))
      case 5 =>
        val bb = java.nio.ByteBuffer.allocate(4 * m).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vals.foreach(v => bb.putFloat(v.asInstanceOf[Float]))
        streams += ((col, 1, bb.array()))
      case 6 =>
        val bb = java.nio.ByteBuffer.allocate(8 * m).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vals.foreach(v => bb.putDouble(v.asInstanceOf[Double]))
        streams += ((col, 1, bb.array()))
      case 7 =>
        val strs = vals.map(_.asInstanceOf[String])
        val distinct = strs.distinct
        if (m >= 16 && distinct.length <= m / 2 && distinct.length <= 65535) {
          enc = 3 // DICTIONARY_V2, sorted dictionary
          val dict = distinct.sorted
          dictSize = dict.length
          val index = dict.zipWithIndex.toMap
          streams += ((col, 1, rleV2Encode(strs.map(s => index(s).toLong), signed = false)))
          val blob = new java.io.ByteArrayOutputStream()
          dict.foreach { s => val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8); blob.write(b, 0, b.length) }
          streams += ((col, 3, blob.toByteArray))
          streams += ((col, 2, rleV2Encode(dict.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong), signed = false)))
        } else {
          enc = 2 // DIRECT_V2
          val blob = new java.io.ByteArrayOutputStream()
          val lens = strs.map { s =>
            val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            blob.write(b, 0, b.length); b.length.toLong
          }
          streams += ((col, 1, blob.toByteArray))
          streams += ((col, 2, rleV2Encode(lens, signed = false)))
        }
      case 8 =>
        enc = 2
        val blob = new java.io.ByteArrayOutputStream()
        val lens = vals.map { v =>
          val b = v.asInstanceOf[Array[Byte]]
          blob.write(b, 0, b.length); b.length.toLong
        }
        streams += ((col, 1, blob.toByteArray))
        streams += ((col, 2, rleV2Encode(lens, signed = false)))
      case 9 =>
        enc = 2
        val secs = new Array[Long](m)
        val nanos = new Array[Long](m)
        var i = 0
        while (i < m) {
          val ts = vals(i).asInstanceOf[java.sql.Timestamp]
          secs(i) = ts.getTime / 1000L - TsBase // truncating division, the reference writer's rule
          nanos(i) = packNanos(ts.getNanos)
          i += 1
        }
        streams += ((col, 1, rleV2Encode(secs, signed = true)))
        streams += ((col, 5, rleV2Encode(nanos, signed = false)))
      case 14 =>
        enc = 2
        val data = new java.io.ByteArrayOutputStream()
        vals.foreach { v =>
          val bd = v.asInstanceOf[java.math.BigDecimal].setScale(t.scale)
          var z = bd.unscaledValue()
          z = if (z.signum() < 0) z.negate().shiftLeft(1).subtract(java.math.BigInteger.ONE)
              else z.shiftLeft(1)
          // little-endian 7-bit groups
          var more = true
          while (more) {
            val low = z.and(java.math.BigInteger.valueOf(0x7f)).intValue()
            z = z.shiftRight(7)
            more = z.signum() != 0
            data.write(if (more) low | 0x80 else low)
          }
        }
        streams += ((col, 1, data.toByteArray))
        streams += ((col, 5, rleV2Encode(Array.fill(m)(t.scale.toLong), signed = true)))
      case 15 =>
        enc = 2
        streams += ((col, 1, rleV2Encode(longs(v => v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay), signed = true)))
      case 10 =>
        enc = 2
        val seqs = vals.map(_.asInstanceOf[scala.collection.Seq[Any]])
        streams += ((col, 2, rleV2Encode(seqs.map(_.length.toLong), signed = false)))
        encodeColumn(types, t.children.head, seqs.flatten.toArray, streams, encodings)
      case 11 =>
        enc = 2
        val maps = vals.map(_.asInstanceOf[scala.collection.Map[Any, Any]].toSeq)
        streams += ((col, 2, rleV2Encode(maps.map(_.length.toLong), signed = false)))
        encodeColumn(types, t.children(0), maps.flatten.map(_._1: Any).toArray, streams, encodings)
        encodeColumn(types, t.children(1), maps.flatten.map(_._2: Any).toArray, streams, encodings)
      case 12 =>
        val rows = vals.map(_.asInstanceOf[Row])
        t.children.zipWithIndex.foreach { case (c, i) =>
          encodeColumn(types, c, rows.map(r => r.get(i)).toArray, streams, encodings)
        }
      case k => fail(s"orc write: unsupported kind $k")
    }
    encodings(col) = (enc, dictSize)
  }

  // ------------------------------------------------------- file assembly

  val CodecIds: Map[String, Int] = Map("none" -> 0, "zlib" -> 1, "snappy" -> 2, "lz4" -> 4, "zstd" -> 5)

  /** Encode one complete ORC file. */
  def encodeFile(rows: Seq[Row], schema: StructType, codec: String = "zstd",
      stripeRows: Int = 100000, blockSize: Int = 256 * 1024): Array[Byte] = {
    val codecId = CodecIds.getOrElse(codec, fail(s"orc write: unknown codec '$codec'"))
    val types = buildTypes(schema)
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('R'); out.write('C')

    final case class SInfo(offset: Long, dataLength: Long, footerLength: Long, rows: Long)
    val stripes = scala.collection.mutable.ArrayBuffer.empty[SInfo]
    val colCount = types.length
    val valueCounts = new Array[Long](colCount)
    val nullSeen = new Array[Boolean](colCount)

    rows.grouped(math.max(1, stripeRows)).foreach { chunk =>
      val offset = out.size().toLong
      val slots: Array[Any] = chunk.map(r => r: Any).toArray
      val streams = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Byte])]
      val encodings = scala.collection.mutable.Map.empty[Int, (Int, Int)]
      // root column: a struct over the row itself, never null
      encodeColumn(types, 0, slots, streams, encodings)
      val framed = streams.map { case (c, k, b) => (c, k, frame(codecId, blockSize, b)) }
        .sortBy { case (c, k, _) => (c, k) }
      framed.foreach { case (_, _, b) => out.write(b, 0, b.length) }
      val dataLength = out.size().toLong - offset
      val sf = new ProtoOut
      framed.foreach { case (c, k, b) =>
        sf.msg(1) { s => s.field(1, k.toLong); s.field(2, c.toLong); s.field(3, b.length.toLong) }
      }
      (0 until colCount).foreach { c =>
        val (e, ds) = encodings.getOrElse(c, (0, 0))
        sf.msg(2) { s => s.field(1, e.toLong); if (ds > 0) s.field(2, ds.toLong) }
      }
      sf.str(3, "UTC")
      val sfBytes = frame(codecId, blockSize, sf.toArray)
      out.write(sfBytes, 0, sfBytes.length)
      stripes += SInfo(offset, dataLength, sfBytes.length.toLong, chunk.length.toLong)
      // column stats bookkeeping (counts + null presence per column)
      def walkStats(col: Int, vals: Array[Any]): Unit = {
        val t = types(col)
        val nn = vals.filter(_ != null)
        valueCounts(col) += nn.length
        if (nn.length != vals.length) nullSeen(col) = true
        t.kind match {
          case 10 => walkStats(t.children.head,
            nn.flatMap(_.asInstanceOf[scala.collection.Seq[Any]]).toArray)
          case 11 =>
            val pairs = nn.flatMap(_.asInstanceOf[scala.collection.Map[Any, Any]].toSeq)
            walkStats(t.children(0), pairs.map(_._1: Any).toArray)
            walkStats(t.children(1), pairs.map(_._2: Any).toArray)
          case 12 =>
            val rs = nn.map(_.asInstanceOf[Row])
            t.children.zipWithIndex.foreach { case (c, i) => walkStats(c, rs.map(_.get(i)).toArray) }
          case _ => ()
        }
      }
      walkStats(0, slots)
    }

    val contentLength = out.size().toLong

    val footer = new ProtoOut
    footer.field(1, 3L) // headerLength ("ORC")
    footer.field(2, contentLength)
    stripes.foreach { s =>
      footer.msg(3) { m =>
        m.field(1, s.offset); m.field(2, 0L); m.field(3, s.dataLength)
        m.field(4, s.footerLength); m.field(5, s.rows)
      }
    }
    types.zipWithIndex.foreach { case (t, id) =>
      footer.msg(4) { m =>
        m.field(1, t.kind.toLong)
        t.children.foreach(c => m.field(2, c.toLong))
        t.names.foreach(n => m.str(3, n))
        if (t.precision > 0) { m.field(5, t.precision.toLong); m.field(6, t.scale.toLong) }
        if (t.ntz) m.msg(7) { a => a.str(1, "spark.sql.catalyst.type"); a.str(2, "timestamp_ntz") }
        // silence "unused" for id
        val _ = id
      }
    }
    footer.field(6, stripes.map(_.rows).sum)
    (0 until colCount).foreach { c =>
      footer.msg(7) { m => m.field(1, valueCounts(c)); m.field(10, if (nullSeen(c)) 1L else 0L) }
    }
    footer.field(8, 0L) // rowIndexStride = 0: no row indexes
    val footerBytes = frame(codecId, blockSize, footer.toArray)
    out.write(footerBytes, 0, footerBytes.length)

    val ps = new ProtoOut
    ps.field(1, footerBytes.length.toLong)
    ps.field(2, codecId.toLong)
    ps.field(3, blockSize.toLong)
    ps.field(4, 0L); ps.field(4, 12L) // file version 0.12
    ps.field(5, 0L) // metadataLength (no file statistics section)
    ps.field(6, 9L) // writerVersion
    ps.str(8000, "ORC")
    val psBytes = ps.toArray
    req(psBytes.length < 256, "orc write: postscript too large")
    out.write(psBytes, 0, psBytes.length)
    out.write(psBytes.length)
    out.toByteArray
  }

  /** Distributed sink: one ORC file per partition, tmp-rename commit —
    * no driver data path. Returns the written file paths. */
  def writeShards(df: DataFrame, dir: String, codec: String = "zstd",
      stripeRows: Int = 100000): Seq[String] = {
    val schema = df.schema
    new java.io.File(dir).mkdirs()
    df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.toSeq
      if (rows.isEmpty) Iterator.empty
      else {
        val bytes = encodeFile(rows, schema, codec, stripeRows)
        val tmp = new java.io.File(dir, f".part-$pid%05d.orc.tmp")
        val dst = new java.io.File(dir, f"part-$pid%05d.orc")
        java.nio.file.Files.write(tmp.toPath, bytes)
        if (!tmp.renameTo(dst)) throw new OrcData.OrcDataError(s"orc write: rename failed for $dst")
        Iterator.single(dst.getPath)
      }
    }.collect().toSeq.sorted
  }
}
