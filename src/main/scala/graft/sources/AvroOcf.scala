package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.MiniJson

/** Avro Object Container File (OCF) source + sink, hand-rolled from
  * the published Avro 1.12 specification (file container + binary
  * encoding + schema JSON). No avro-java in the decode path — the
  * library on the Spark classpath serves as the LIVE producer and
  * validator in AvroOcfSpec (both directions, all six codecs).
  *
  * Scale shape: an OCF is a header (schema JSON + codec + a 16-byte
  * sync marker) followed by independent blocks, each terminated by
  * the sync marker — the format is DESIGNED for byte-range splits.
  * The DSv2 face ([[AvroSource]], `spark.read.format("avroocf")`)
  * gives each task a byte range; the task scans forward to the
  * first sync in its range and decodes blocks while `blockStart <
  * rangeEnd + 16` (the DataFileReader.pastSync rule, which assigns
  * boundary-straddling syncs to exactly one split). The driver reads
  * only each file's header; block payloads never leave the executors.
  *
  * Types: all primitives, record (incl. recursive references), enum
  * (faced as string), fixed, array, map, union — a 2-branch union
  * with null faces as its value type nullable; a general union faces
  * as a `{type_id, member0..}` struct (the same convention as the
  * Arrow union face). Logical-type annotations decode as their
  * underlying type, matching what avro-java's GenericDatumReader
  * yields without conversions.
  *
  * Codecs: null, deflate (raw, JDK Inflater/Deflater), snappy (raw
  * block + big-endian CRC32 of the UNCOMPRESSED bytes), bzip2, xz,
  * zstandard — the last four through the [[Snappy]], [[Bzip2]], [[Xz]]
  * and [[Zstd]] codec objects.
  *
  * Untrusted-bytes contract: malformed input of any shape raises
  * [[AvroOcf.AvroError]]; declared lengths/counts are bounded against
  * the bytes that back them before any allocation. */
object AvroOcf {

  final class AvroError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new AvroError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: AvroError => throw e
      case e: Exception => fail(s"avro: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  // ------------------------------------------------------------ schema AST

  sealed trait AvType
  case object VNull extends AvType
  case object VBool extends AvType
  case object VInt extends AvType
  case object VLong extends AvType
  case object VFloat extends AvType
  case object VDouble extends AvType
  case object VBytes extends AvType
  case object VString extends AvType
  final case class AvField(name: String, tpe: AvType)
  /** mutable `fields` slot so recursive references (a record naming
    * itself inside its own fields) can resolve; identity equality —
    * schema comparison goes through [[canonicalJson]]. */
  final class VRecord(val name: String) extends AvType {
    var fields: Vector[AvField] = Vector.empty
    override def toString = s"VRecord($name)"
  }
  final case class VEnum(name: String, symbols: Vector[String]) extends AvType
  final case class VFixed(name: String, size: Int) extends AvType
  final case class VArray(items: AvType) extends AvType
  final case class VMap(values: AvType) extends AvType
  final case class VUnion(branches: Vector[AvType]) extends AvType {
    /** Some(valueBranch) when this is the common `[null, T]` shape. */
    val nullableOf: Option[AvType] =
      if (branches.length == 2 && branches.count(_ == VNull) == 1) branches.find(_ != VNull)
      else None
  }

  // --------------------------------------------------------- schema parse

  def parseSchema(json: String): AvType = guarded("schema") {
    val reg = scala.collection.mutable.Map.empty[String, AvType]
    parseType(MiniJson.parse(json), reg, ns = "", depth = 0)
  }

  private val Primitives: Map[String, AvType] = Map(
    "null" -> VNull, "boolean" -> VBool, "int" -> VInt, "long" -> VLong,
    "float" -> VFloat, "double" -> VDouble, "bytes" -> VBytes, "string" -> VString)

  private def fullName(name: String, ns: String): String =
    if (name.contains('.') || ns.isEmpty) name else s"$ns.$name"

  private def parseType(v: Any, reg: scala.collection.mutable.Map[String, AvType],
      ns: String, depth: Int): AvType = {
    req(depth < 64, "avro: schema nesting deeper than 64")
    v match {
      case s: String =>
        Primitives.getOrElse(s,
          reg.getOrElse(fullName(s, ns),
            reg.getOrElse(s, fail(s"avro: unresolved type reference '$s'"))))
      case arr: Vector[_] =>
        req(arr.nonEmpty, "avro: empty union")
        val branches = arr.map(b => parseType(b, reg, ns, depth + 1)).toVector
        branches.foreach { b => req(!b.isInstanceOf[VUnion], "avro: unions must not nest directly") }
        VUnion(branches)
      case m: Map[_, _] =>
        val obj = m.asInstanceOf[Map[String, Any]]
        val t = obj.getOrElse("type", fail("avro: schema object without 'type'"))
        t match {
          case "record" | "error" =>
            val name = MiniJson.str(obj.getOrElse("name", fail("avro: record without name")))
            val ns2 = obj.get("namespace").map(MiniJson.str).getOrElse(
              if (name.contains('.')) name.substring(0, name.lastIndexOf('.')) else ns)
            val bare = if (name.contains('.')) name.substring(name.lastIndexOf('.') + 1) else name
            val rec = new VRecord(bare)
            reg(fullName(bare, ns2)) = rec
            reg(bare) = rec
            val fieldsJson = MiniJson.arr(obj.getOrElse("fields", fail(s"avro: record '$bare' without fields")))
            rec.fields = fieldsJson.map { fv =>
              val fo = MiniJson.obj(fv)
              AvField(
                MiniJson.str(fo.getOrElse("name", fail("avro: field without name"))),
                parseType(fo.getOrElse("type", fail("avro: field without type")), reg, ns2, depth + 1))
            }
            req(rec.fields.map(_.name).distinct.length == rec.fields.length,
              s"avro: record '$bare' has duplicate field names")
            rec
          case "enum" =>
            val name = MiniJson.str(obj.getOrElse("name", fail("avro: enum without name")))
            val bare = if (name.contains('.')) name.substring(name.lastIndexOf('.') + 1) else name
            val syms = MiniJson.arr(obj.getOrElse("symbols", fail(s"avro: enum '$bare' without symbols")))
              .map(MiniJson.str).toVector
            req(syms.nonEmpty && syms.distinct.length == syms.length, s"avro: enum '$bare' symbols invalid")
            val e = VEnum(bare, syms)
            reg(fullName(bare, obj.get("namespace").map(MiniJson.str).getOrElse(ns))) = e
            reg(bare) = e
            e
          case "fixed" =>
            val name = MiniJson.str(obj.getOrElse("name", fail("avro: fixed without name")))
            val bare = if (name.contains('.')) name.substring(name.lastIndexOf('.') + 1) else name
            val size = MiniJson.num(obj.getOrElse("size", fail(s"avro: fixed '$bare' without size"))).toInt
            req(size >= 0 && size <= (1 << 24), s"avro: fixed '$bare' size $size")
            val fx = VFixed(bare, size)
            reg(fullName(bare, obj.get("namespace").map(MiniJson.str).getOrElse(ns))) = fx
            reg(bare) = fx
            fx
          case "array" =>
            VArray(parseType(obj.getOrElse("items", fail("avro: array without items")), reg, ns, depth + 1))
          case "map" =>
            VMap(parseType(obj.getOrElse("values", fail("avro: map without values")), reg, ns, depth + 1))
          case _ =>
            // primitive (possibly annotated with a logicalType — decode
            // as the underlying type, the GenericDatumReader behavior)
            parseType(t, reg, ns, depth + 1)
        }
      case x => fail(s"avro: schema node of ${if (x == null) "null" else x.getClass.getSimpleName}")
    }
  }

  /** Emit schema JSON (a parse fixed point; named types referenced by
    * name after their first definition, so recursion terminates). */
  def canonicalJson(t: AvType): String = {
    val seen = scala.collection.mutable.Set.empty[String]
    def go(t: AvType): String = t match {
      case VNull => "\"null\""
      case VBool => "\"boolean\""
      case VInt => "\"int\""
      case VLong => "\"long\""
      case VFloat => "\"float\""
      case VDouble => "\"double\""
      case VBytes => "\"bytes\""
      case VString => "\"string\""
      case r: VRecord =>
        if (!seen.add(r.name)) MiniJson.quote(r.name)
        else {
          val fs = r.fields.map(f => s"""{"name":${MiniJson.quote(f.name)},"type":${go(f.tpe)}}""")
          s"""{"type":"record","name":${MiniJson.quote(r.name)},"fields":[${fs.mkString(",")}]}"""
        }
      case VEnum(name, syms) =>
        if (!seen.add(name)) MiniJson.quote(name)
        else s"""{"type":"enum","name":${MiniJson.quote(name)},"symbols":[${syms.map(MiniJson.quote).mkString(",")}]}"""
      case VFixed(name, size) =>
        if (!seen.add(name)) MiniJson.quote(name)
        else s"""{"type":"fixed","name":${MiniJson.quote(name)},"size":$size}"""
      case VArray(items) => s"""{"type":"array","items":${go(items)}}"""
      case VMap(values) => s"""{"type":"map","values":${go(values)}}"""
      case VUnion(branches) => branches.map(go).mkString("[", ",", "]")
    }
    go(t)
  }

  // -------------------------------------------------------- binary decode

  private final class Dec(val b: Array[Byte], var pos: Int, val end: Int) {
    def varLong(): Long = {
      var shift = 0
      var acc = 0L
      var i = 0
      while (i < 10) {
        req(pos < end, "avro: truncated varint")
        val x = b(pos) & 0xff
        pos += 1
        acc |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) {
          return (acc >>> 1) ^ -(acc & 1) // zigzag
        }
        shift += 7
        i += 1
      }
      fail("avro: varint longer than 10 bytes")
    }
    def varInt(): Int = {
      val v = varLong()
      req(v >= Int.MinValue && v <= Int.MaxValue, s"avro: int value $v outside int32")
      v.toInt
    }
    def take(n: Int): Array[Byte] = {
      req(n >= 0 && n <= end - pos, s"avro: declared length $n with ${end - pos} bytes left")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
      out
    }
  }

  private def decodeValue(t: AvType, d: Dec, depth: Int): Any = {
    req(depth < 64, "avro: value nesting deeper than 64")
    t match {
      case VNull => null
      case VBool =>
        req(d.pos < d.end, "avro: truncated boolean")
        val x = d.b(d.pos); d.pos += 1
        req(x == 0 || x == 1, s"avro: boolean byte $x")
        java.lang.Boolean.valueOf(x == 1)
      case VInt => java.lang.Integer.valueOf(d.varInt())
      case VLong => java.lang.Long.valueOf(d.varLong())
      case VFloat =>
        val bs = d.take(4)
        java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(
          (bs(0) & 0xff) | ((bs(1) & 0xff) << 8) | ((bs(2) & 0xff) << 16) | ((bs(3) & 0xff) << 24)))
      case VDouble =>
        val bs = d.take(8)
        var acc = 0L
        var i = 7
        while (i >= 0) { acc = (acc << 8) | (bs(i) & 0xffL); i -= 1 }
        java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(acc))
      case VBytes => d.take(longLen(d))
      case VString => new String(d.take(longLen(d)), java.nio.charset.StandardCharsets.UTF_8)
      case VFixed(_, size) => d.take(size)
      case VEnum(name, syms) =>
        val i = d.varInt()
        req(i >= 0 && i < syms.length, s"avro: enum '$name' index $i of ${syms.length}")
        syms(i)
      case r: VRecord =>
        val out = new Array[Any](r.fields.length)
        var i = 0
        while (i < r.fields.length) { out(i) = decodeValue(r.fields(i).tpe, d, depth + 1); i += 1 }
        out.toVector
      case VArray(items) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        var count = d.varLong()
        while (count != 0) {
          if (count < 0) { count = -count; d.varLong() } // block byte size — advisory
          req(count <= d.end - d.pos, s"avro: array block of $count items with ${d.end - d.pos} bytes left")
          var i = 0L
          while (i < count) { out += decodeValue(items, d, depth + 1); i += 1 }
          count = d.varLong()
        }
        out.toVector
      case VMap(values) =>
        val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
        var count = d.varLong()
        while (count != 0) {
          if (count < 0) { count = -count; d.varLong() }
          req(count <= d.end - d.pos, s"avro: map block of $count items with ${d.end - d.pos} bytes left")
          var i = 0L
          while (i < count) {
            val k = new String(d.take(longLen(d)), java.nio.charset.StandardCharsets.UTF_8)
            out(k) = decodeValue(values, d, depth + 1)
            i += 1
          }
          count = d.varLong()
        }
        out.toMap
      case u @ VUnion(branches) =>
        val idx = d.varInt()
        req(idx >= 0 && idx < branches.length, s"avro: union branch $idx of ${branches.length}")
        val v = decodeValue(branches(idx), d, depth + 1)
        if (u.nullableOf.isDefined) v // [null, T]: plain value-or-null
        else Vector(idx, v)
    }
  }

  private def longLen(d: Dec): Int = {
    val n = d.varLong()
    req(n >= 0 && n <= d.end - d.pos, s"avro: declared length $n with ${d.end - d.pos} bytes left")
    n.toInt
  }

  /** Wire-level skip: advance past a value HONORING lengths but never
    * materializing or validating content — no UTF-8 decode, no bool/
    * enum range checks, and negative-count array/map blocks skip by
    * their declared byte size without touching the items. This is
    * what column pruning in the DSv2 face rides on (AvroSourceSpec
    * proves it by poisoning a pruned field's value). */
  private def skipValue(t: AvType, d: Dec, depth: Int): Unit = {
    req(depth < 64, "avro: value nesting deeper than 64")
    t match {
      case VNull => ()
      case VBool =>
        req(d.pos < d.end, "avro: truncated boolean")
        d.pos += 1 // content byte not validated — skip semantics
      case VInt | VLong => d.varLong()
      case VFloat => skipN(d, 4)
      case VDouble => skipN(d, 8)
      case VBytes | VString => skipN(d, longLen(d))
      case VFixed(_, size) => skipN(d, size)
      case VEnum(_, _) => d.varLong() // index not range-checked — skip semantics
      case r: VRecord => r.fields.foreach(f => skipValue(f.tpe, d, depth + 1))
      case VArray(items) => skipBlocks(d, depth, bd => skipValue(items, bd, depth + 1))
      case VMap(values) => skipBlocks(d, depth, bd => { skipN(bd, longLen(bd)); skipValue(values, bd, depth + 1) })
      case VUnion(branches) =>
        val idx = d.varInt()
        req(idx >= 0 && idx < branches.length, s"avro: union branch $idx of ${branches.length}")
        skipValue(branches(idx), d, depth + 1)
    }
  }

  @inline private def skipN(d: Dec, n: Int): Unit = {
    req(n >= 0 && n <= d.end - d.pos, s"avro: skip of $n with ${d.end - d.pos} bytes left")
    d.pos += n
  }

  private def skipBlocks(d: Dec, depth: Int, one: Dec => Unit): Unit = {
    var count = d.varLong()
    while (count != 0) {
      if (count < 0) {
        val size = d.varLong() // sized block: skip wholesale, items untouched
        skipN(d, { req(size >= 0 && size <= Int.MaxValue, s"avro: block size $size"); size.toInt })
      } else {
        req(count <= d.end - d.pos, s"avro: block of $count items with ${d.end - d.pos} bytes left")
        var i = 0L
        while (i < count) { one(d); i += 1 }
      }
      count = d.varLong()
    }
  }

  /** Decode `count` records from an inflated block, materializing
    * ONLY the fields `wanted` accepts; the rest wire-skip. Top level
    * must be a record. */
  def decodeBlockPruned(schema: AvType, data: Array[Byte], count: Long,
      wanted: String => Boolean): Iterator[Map[String, Any]] = {
    val rec = schema match {
      case r: VRecord => r
      case t => fail(s"avro: pruned decode needs a top-level record, got $t")
    }
    val d = new Dec(data, 0, data.length)
    (0L until count).iterator.map { _ =>
      guarded("block") {
        val m = Map.newBuilder[String, Any]
        rec.fields.foreach { f =>
          if (wanted(f.name)) m += f.name -> decodeValue(f.tpe, d, 0)
          else skipValue(f.tpe, d, 0)
        }
        m.result()
      }
    }
  }

  // -------------------------------------------------------- binary encode

  private def putVarLong(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var x = (v << 1) ^ (v >> 63) // zigzag
    while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }

  private def encodeValue(t: AvType, v: Any, out: java.io.ByteArrayOutputStream, depth: Int): Unit = {
    req(depth < 64, "avro writer: value nesting deeper than 64")
    t match {
      case VNull => req(v == null, s"avro writer: non-null value for null type")
      case VBool => out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
      case VInt => putVarLong(out, v.asInstanceOf[java.lang.Number].intValue.toLong)
      case VLong => putVarLong(out, v.asInstanceOf[java.lang.Number].longValue)
      case VFloat =>
        val bits = java.lang.Float.floatToIntBits(v.asInstanceOf[java.lang.Number].floatValue)
        out.write(bits & 0xff); out.write((bits >> 8) & 0xff)
        out.write((bits >> 16) & 0xff); out.write((bits >> 24) & 0xff)
      case VDouble =>
        var bits = java.lang.Double.doubleToLongBits(v.asInstanceOf[java.lang.Number].doubleValue)
        var i = 0
        while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
      case VBytes =>
        val bs = v.asInstanceOf[Array[Byte]]
        putVarLong(out, bs.length.toLong); out.write(bs, 0, bs.length)
      case VString =>
        val bs = v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
        putVarLong(out, bs.length.toLong); out.write(bs, 0, bs.length)
      case VFixed(name, size) =>
        val bs = v.asInstanceOf[Array[Byte]]
        req(bs.length == size, s"avro writer: fixed '$name' got ${bs.length} bytes for size $size")
        out.write(bs, 0, bs.length)
      case VEnum(name, syms) =>
        val i = syms.indexOf(v.asInstanceOf[String])
        req(i >= 0, s"avro writer: '$v' is not a symbol of enum '$name'")
        putVarLong(out, i.toLong)
      case r: VRecord =>
        val fs = v.asInstanceOf[Seq[Any]]
        req(fs.length == r.fields.length, s"avro writer: record '${r.name}' arity ${fs.length}")
        var i = 0
        while (i < fs.length) { encodeValue(r.fields(i).tpe, fs(i), out, depth + 1); i += 1 }
      case VArray(items) =>
        val xs = v.asInstanceOf[Seq[Any]]
        if (xs.nonEmpty) {
          putVarLong(out, xs.length.toLong)
          xs.foreach(x => encodeValue(items, x, out, depth + 1))
        }
        putVarLong(out, 0L)
      case VMap(values) =>
        val m = v.asInstanceOf[scala.collection.Map[String, Any]]
        if (m.nonEmpty) {
          putVarLong(out, m.size.toLong)
          m.foreach { case (k, x) =>
            val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            putVarLong(out, kb.length.toLong); out.write(kb, 0, kb.length)
            encodeValue(values, x, out, depth + 1)
          }
        }
        putVarLong(out, 0L)
      case u @ VUnion(branches) =>
        u.nullableOf match {
          case Some(valueBranch) =>
            val nullIdx = branches.indexOf(VNull)
            if (v == null) putVarLong(out, nullIdx.toLong)
            else { putVarLong(out, (1 - nullIdx).toLong); encodeValue(valueBranch, v, out, depth + 1) }
          case None =>
            val p = v.asInstanceOf[Seq[Any]]
            req(p.length == 2, "avro writer: general union value must be Vector(branchIdx, value)")
            val idx = p.head.asInstanceOf[java.lang.Number].intValue
            req(idx >= 0 && idx < branches.length, s"avro writer: union branch $idx of ${branches.length}")
            putVarLong(out, idx.toLong)
            encodeValue(branches(idx), p(1), out, depth + 1)
        }
    }
  }

  // ------------------------------------------------------------- codecs

  private def decompress(codec: String, b: Array[Byte]): Array[Byte] = codec match {
    case "null" => b
    case "deflate" =>
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(b)
        val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 2))
        val buf = new Array[Byte](64 << 10)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          req(n > 0 || !inf.needsInput(), "avro: truncated deflate payload")
          out.write(buf, 0, n)
          req(out.size <= (1 << 30), "avro: deflate block exceeds 1 GiB")
        }
        out.toByteArray
      } finally inf.end()
    case "snappy" =>
      // raw snappy block + big-endian CRC32 of the UNCOMPRESSED bytes
      req(b.length >= 4, "avro: snappy payload shorter than its checksum")
      val data = Snappy.rawDecode(b, 0, b.length - 4)
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val want = ((b(b.length - 4) & 0xffL) << 24) | ((b(b.length - 3) & 0xffL) << 16) |
        ((b(b.length - 2) & 0xffL) << 8) | (b(b.length - 1) & 0xffL)
      req(crc.getValue == want, "avro: snappy block checksum mismatch")
      data
    case "zstandard" => Zstd.decode(b)
    case "bzip2" => Bzip2.decode(b)
    case "xz" => Xz.decode(b)
    case c => fail(s"avro: unsupported codec '$c'")
  }

  private def compress(codec: String, b: Array[Byte]): Array[Byte] = codec match {
    case "null" => b
    case "deflate" =>
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      try {
        d.setInput(b); d.finish()
        val out = new java.io.ByteArrayOutputStream(math.max(64, b.length / 2))
        val buf = new Array[Byte](64 << 10)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    case "snappy" =>
      val comp = Snappy.rawEncode(b)
      val crc = new java.util.zip.CRC32()
      crc.update(b)
      val v = crc.getValue
      comp ++ Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    case "zstandard" => Zstd.encode(b)
    case "bzip2" => Bzip2.encode(b)
    case "xz" => Xz.encodeRawXz(b)
    case c => fail(s"avro writer: unsupported codec '$c'")
  }

  // ------------------------------------------------------------ container

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  final case class Header(schemaJson: String, schema: AvType, codec: String,
      sync: Array[Byte], headerEnd: Long)

  /** Parse the header from a prefix fetcher (driver reads header-scale
    * bytes only; the metadata map is re-fetched with a doubling window
    * if the schema JSON outgrows the initial 64 KiB). */
  def readHeader(prefix: Int => Array[Byte], fileLen: Long): Header = guarded("header") {
    var window = 64 << 10
    var last: AvroError = null
    while (window <= (16 << 20)) {
      val b = prefix(math.min(fileLen, window.toLong).toInt)
      try return parseHeader(b, fileLen)
      catch {
        case e: AvroError if b.length < fileLen && window < (16 << 20) => last = e
        case e: AvroError => throw e
      }
      window *= 4
    }
    throw last
  }

  private def parseHeader(b: Array[Byte], fileLen: Long): Header = {
    req(b.length >= 4 && b(0) == 'O' && b(1) == 'b' && b(2) == 'j' && b(3) == 1,
      "avro: bad container magic")
    val d = new Dec(b, 4, b.length)
    var schemaJson: String = null
    var codec = "null"
    var count = d.varLong()
    while (count != 0) {
      if (count < 0) { count = -count; d.varLong() }
      req(count <= d.end - d.pos, "avro: metadata block overruns header")
      var i = 0L
      while (i < count) {
        val k = new String(d.take(longLen(d)), java.nio.charset.StandardCharsets.UTF_8)
        val v = d.take(longLen(d))
        if (k == "avro.schema") schemaJson = new String(v, java.nio.charset.StandardCharsets.UTF_8)
        else if (k == "avro.codec") codec = new String(v, java.nio.charset.StandardCharsets.UTF_8)
        i += 1
      }
      count = d.varLong()
    }
    req(schemaJson != null, "avro: header carries no avro.schema")
    val sync = d.take(16)
    Header(schemaJson, parseSchema(schemaJson), codec, sync, d.pos.toLong)
  }

  /** Decode the blocks whose start lies in [start, end + 16) — the
    * avro DataFileReader.pastSync split rule, which assigns each
    * boundary-straddling sync to exactly one range. Scans from
    * `start` for the first sync occurrence, then walks blocks. */
  def blocksInRange(raf: java.io.RandomAccessFile, h: Header,
      start: Long, end: Long): Iterator[(Long, Array[Byte])] = {
    val fileLen = raf.length()
    val syncAt = findSync(raf, h.sync, start, fileLen)
    new Iterator[(Long, Array[Byte])] {
      private var blockStart = syncAt.map(_ + 16).getOrElse(fileLen)
      def hasNext: Boolean = blockStart < math.min(fileLen, end + 16) && blockStart < fileLen
      def next(): (Long, Array[Byte]) = guarded("block") {
        raf.seek(blockStart)
        val headBuf = new Array[Byte](20) // two varints fit in 20 bytes
        val got = readUpTo(raf, headBuf)
        val d = new Dec(headBuf, 0, got)
        val count = d.varLong()
        val size = d.varLong()
        req(count >= 0, s"avro: block row count $count")
        req(size >= 0 && size <= fileLen - blockStart, s"avro: block size $size at $blockStart")
        val payload = new Array[Byte](size.toInt)
        raf.seek(blockStart + d.pos)
        raf.readFully(payload)
        val syncBuf = new Array[Byte](16)
        raf.readFully(syncBuf)
        req(java.util.Arrays.equals(syncBuf, h.sync), s"avro: sync mismatch after block at $blockStart")
        blockStart = blockStart + d.pos + size + 16
        (count, decompress(h.codec, payload))
      }
    }
  }

  private def readUpTo(raf: java.io.RandomAccessFile, buf: Array[Byte]): Int = {
    var off = 0
    while (off < buf.length) {
      val n = raf.read(buf, off, buf.length - off)
      if (n < 0) return off
      off += n
    }
    off
  }

  /** First offset >= from where the 16-byte sync occurs (windowed
    * scan with 15-byte overlap), or None. */
  private def findSync(raf: java.io.RandomAccessFile, sync: Array[Byte],
      from: Long, fileLen: Long): Option[Long] = {
    val W = 1 << 20
    var base = math.max(0L, from)
    val buf = new Array[Byte](W + 15)
    while (base < fileLen) {
      raf.seek(base)
      val got = readUpTo(raf, buf)
      var i = 0
      val limit = got - 16
      while (i <= limit) {
        var j = 0
        while (j < 16 && buf(i + j) == sync(j)) j += 1
        if (j == 16) return Some(base + i)
        i += 1
      }
      if (base + got >= fileLen) return None
      base += W // next window re-reads the 15-byte tail
    }
    None
  }

  /** Decode a whole in-memory container (spec/tooling surface). */
  def readFileBytes(bytes: Array[Byte]): (Header, Vector[Any]) = guarded("file") {
    val h = parseHeader(bytes, bytes.length.toLong)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = h.headerEnd
    while (pos < bytes.length) {
      val d = new Dec(bytes, pos.toInt, bytes.length)
      val count = d.varLong()
      val size = d.varLong()
      req(count >= 0, s"avro: block row count $count")
      req(size >= 0 && size <= bytes.length - d.pos, s"avro: block size $size")
      val data = decompress(h.codec, java.util.Arrays.copyOfRange(bytes, d.pos, d.pos + size.toInt))
      val bd = new Dec(data, 0, data.length)
      var i = 0L
      while (i < count) { out += decodeValue(h.schema, bd, 0); i += 1 }
      req(bd.pos == data.length, s"avro: block decoded ${bd.pos} of ${data.length} bytes")
      pos = d.pos + size + 16
      req(pos <= bytes.length, "avro: truncated block sync")
      req(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(bytes, (pos - 16).toInt, pos.toInt), h.sync),
        "avro: sync mismatch")
    }
    (h, out.toVector)
  }

  // ------------------------------------------------------------- writer

  /** Encode rows (raw-value shape: records as Seq, maps as Map, etc.)
    * into an OCF. The sync marker is deterministic (SHA-256 of the
    * schema + codec + row count) so identical inputs produce
    * identical bytes. */
  def encodeFile(schema: AvType, rows: Seq[Any], codec: String = "null",
      blockRows: Int = 4096): Array[Byte] = {
    req(blockRows > 0, "avro writer: blockRows must be positive")
    val schemaJson = canonicalJson(schema)
    val sync = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(schemaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(codec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(rows.length.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.util.Arrays.copyOf(md.digest(), 16)
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    val schemaBytes = schemaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val codecBytes = codec.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    putVarLong(out, 2L)
    putVarLong(out, "avro.schema".length.toLong); out.write("avro.schema".getBytes, 0, 11)
    putVarLong(out, schemaBytes.length.toLong); out.write(schemaBytes, 0, schemaBytes.length)
    putVarLong(out, "avro.codec".length.toLong); out.write("avro.codec".getBytes, 0, 10)
    putVarLong(out, codecBytes.length.toLong); out.write(codecBytes, 0, codecBytes.length)
    putVarLong(out, 0L)
    out.write(sync, 0, 16)
    rows.grouped(blockRows).foreach { group =>
      val body = new java.io.ByteArrayOutputStream()
      group.foreach(r => encodeValue(schema, r, body, 0))
      val payload = compress(codec, body.toByteArray)
      putVarLong(out, group.length.toLong)
      putVarLong(out, payload.length.toLong)
      out.write(payload, 0, payload.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  // ---------------------------------------------------------- Spark face

  def sparkType(t: AvType): DataType = t match {
    case VNull => NullType
    case VBool => BooleanType
    case VInt => IntegerType
    case VLong => LongType
    case VFloat => FloatType
    case VDouble => DoubleType
    case VBytes => BinaryType
    case VString => StringType
    case VFixed(_, _) => BinaryType
    case VEnum(_, _) => StringType
    case r: VRecord =>
      StructType(r.fields.map(f => StructField(f.name, sparkType(f.tpe), nullable = isNullable(f.tpe))))
    case VArray(items) => ArrayType(sparkType(items), containsNull = isNullable(items))
    case VMap(values) => MapType(StringType, sparkType(values), valueContainsNull = isNullable(values))
    case u @ VUnion(branches) =>
      u.nullableOf match {
        case Some(v) => sparkType(v)
        case None =>
          // the Arrow-union face: selecting tag + one nullable member each
          StructType(StructField("type_id", ByteType, nullable = false) +:
            branches.zipWithIndex.map { case (b, i) =>
              StructField(s"member$i", sparkType(b), nullable = true)
            })
      }
  }

  private def isNullable(t: AvType): Boolean = t match {
    case VNull => true
    case VUnion(branches) => branches.contains(VNull)
    case _ => false
  }

  private[sources] def toRowValue(t: AvType, v: Any): Any = (t, v) match {
    case (_, null) => null
    case (r: VRecord, s: Seq[_]) =>
      Row.fromSeq(r.fields.zip(s).map { case (f, x) => toRowValue(f.tpe, x) })
    case (VArray(items), s: Seq[_]) => s.map(x => toRowValue(items, x))
    case (VMap(values), m: Map[_, _]) =>
      m.asInstanceOf[Map[String, Any]].map { case (k, x) => k -> toRowValue(values, x) }
    case (u @ VUnion(branches), x) =>
      u.nullableOf match {
        case Some(valueBranch) => toRowValue(valueBranch, x)
        case None =>
          val p = x.asInstanceOf[Seq[Any]]
          val idx = p.head.asInstanceOf[Int]
          Row.fromSeq(java.lang.Byte.valueOf(idx.toByte) +:
            branches.zipWithIndex.map { case (b, i) => if (i == idx) toRowValue(b, p(1)) else null })
      }
    case (_, x) => x
  }

  // ------------------------------------------------------------ q_avro

  private val QSchemaJson =
    """{"type":"record","name":"Ev","fields":[
      |{"name":"id","type":"long"},{"name":"tag","type":"string"},
      |{"name":"val","type":"double"},{"name":"flag","type":"boolean"}]}""".stripMargin

  /** Per (event_type, id DIV 4096 bucket — SF-invariant task size):
    * avro-java (the LIVE reference implementation, on the classpath)
    * serializes the bucket as a deflate-codec OCF; OUR container walk
    * + binary decoder reads it back, requiring id/tag/val/flag
    * per-row; a require-only zstandard lane round-trips our writer
    * through our reader. Closed forms: tag = "a"+(id%89),
    * val = id%11. Full conformance matrix: AvroOcfSpec. */
  def avroQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val bytes = buildWithAvroJava(sorted)
      val (h, rows) = readFileBytes(bytes)
      req(h.codec == "deflate", "avro lane: codec drift")
      var chars = 0L
      var valSum = 0L
      var i = 0
      while (i < rows.length) {
        val r = rows(i).asInstanceOf[Vector[Any]]
        val id = r(0).asInstanceOf[Long]
        require(id == sorted(i), s"avro lane: id drift at $i")
        val tag = r(1).asInstanceOf[String]
        require(tag == s"a${id % 89}", s"avro lane: tag drift for $id")
        require(r(2).asInstanceOf[Double] == (id % 11).toDouble, s"avro lane: val drift for $id")
        require(r(3).asInstanceOf[Boolean] == (id % 2 == 0), s"avro lane: flag drift for $id")
        chars += tag.length
        valSum += (id % 11)
        i += 1
      }
      require(i == sorted.length, s"avro lane: row count drift $i/${sorted.length}")
      // require-only zstandard lane: our writer -> our reader
      if (sorted.nonEmpty) {
        val k = math.min(64, sorted.length)
        val schema = parseSchema(QSchemaJson)
        val sub = (0 until k).map { j =>
          val id = sorted(j)
          Vector[Any](id, s"a${id % 89}", (id % 11).toDouble, id % 2 == 0)
        }
        val enc = encodeFile(schema, sub, "zstandard", blockRows = 17)
        val (_, back) = readFileBytes(enc)
        require(back.length == k, "avro lane: zstd row drift")
        var j = 0
        while (j < k) {
          require(back(j) == sub(j), s"avro lane: zstd value drift at $j")
          j += 1
        }
      }
      Seq(sorted.length.toLong, chars, valSum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_rows"),
        sum($"c".getItem(1)).cast("long").as("tag_chars"),
        sum($"c".getItem(2)).cast("long").as("val_sum"))
      .orderBy($"event_type")
  }

  /** Streaming twin: continuously ingest `.avro` shards dropped into
    * a landing directory. Structured Streaming is fixed-schema, so
    * the TOP-LEVEL RECORD's Spark schema must be declared up front;
    * shards whose header schema faces differently fail loudly with
    * the path named. Each micro-batch decodes whole files (the
    * binaryFile source's unit); the DSv2 face's ranged splits stay the
    * batch path. */
  def rowsStream(
      spark: SparkSession,
      dir: String,
      expected: StructType,
      globFilter: String = "*.avro"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val outSchema = StructType(StructField("path", StringType) +: expected.fields)
    val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val pairEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", globFilter)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])](pairEnc)
      .flatMap { case (path, content) =>
        val (h, values) = readFileBytes(content)
        val rec = h.schema match {
          case r: VRecord => r
          case t => fail(s"avro stream: $path top level is $t, need a record")
        }
        val got = sparkType(rec) match {
          case s: StructType => s
          case t => fail(s"avro stream: $path faces as $t")
        }
        req(got == expected, s"avro stream: schema drift — $path has $got, stream declared $expected")
        values.iterator.map { v =>
          Row.fromSeq(path +: toRowValue(rec, v).asInstanceOf[Row].toSeq)
        }
      }(outEnc)
      .toDF()
  }

  /** avro-java producer for the lane (runs on executors — the library
    * ships on the Spark classpath). */
  private def buildWithAvroJava(ids: Array[Long]): Array[Byte] = {
    import org.apache.avro.Schema
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new Schema.Parser().parse(QSchemaJson)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.fromString("deflate"))
    val bos = new java.io.ByteArrayOutputStream()
    w.create(schema, bos)
    ids.foreach { id =>
      val r = new GenericData.Record(schema)
      r.put("id", id)
      r.put("tag", s"a${id % 89}")
      r.put("val", (id % 11).toDouble)
      r.put("flag", id % 2 == 0)
      w.append(r)
    }
    w.close()
    bos.toByteArray
  }
}
