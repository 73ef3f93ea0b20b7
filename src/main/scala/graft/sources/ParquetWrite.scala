package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.Bytes.{writeLe32, writeLe64}

/** Parquet v1 WRITER — the mirror of [[ParquetData]], making the
  * primary lake format a source AND a sink like ORC/Arrow/Avro:
  * thrift-compact metadata emit (delta-encoded field ids), Dremel
  * shredding of nested struct/list/map rows into per-leaf
  * (rep, def, value) streams, RLE/bit-packed hybrid level encoding,
  * PLAIN values for every physical type, dictionary encoding for
  * binary-backed columns (dictionary page + RLE_DICTIONARY indices,
  * PLAIN when the dictionary would not pay), logical/converted type
  * annotations as parquet-mr spells them (TIMESTAMP utc/ntz over
  * int64 MICROS, DECIMAL over int32/int64/binary, DATE, int8/16),
  * page compression over UNCOMPRESSED/SNAPPY/GZIP/ZSTD, row-group
  * chunking and the PAR1 footer framing.
  *
  * Validator: `spark.read.parquet` (= parquet-mr) reads every written
  * file back row-for-row (ParquetWriteSpec) across codecs and
  * nesting; [[ParquetData.read]] round-trips the same files, so the
  * reader and writer cannot drift apart silently.
  *
  * Scale shape: [[writeShards]] is shard-per-partition with tmp-rename
  * task commit — no driver data path; row groups bound memory. */
object ParquetWrite {

  import ParquetData.ParquetDataError

  private def fail(msg: String): Nothing = throw new ParquetDataError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  // --------------------------------------------------- thrift compact out

  private final class TOut {
    val out = new java.io.ByteArrayOutputStream()
    def varU(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def zig(v: Long): Unit = varU((v << 1) ^ (v >> 63))
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def toArray: Array[Byte] = out.toByteArray
  }

  /** One compact-protocol struct: tracks the field-id delta chain. */
  private final class SOut(val t: TOut) {
    private var last = 0
    private def header(id: Int, tpe: Int): Unit = {
      val delta = id - last
      if (delta >= 1 && delta <= 15) t.out.write((delta << 4) | tpe)
      else { t.out.write(tpe); t.zig(id.toLong) }
      last = id
    }
    def i32(id: Int, v: Int): Unit = { header(id, 5); t.zig(v.toLong) }
    def i64(id: Int, v: Long): Unit = { header(id, 6); t.zig(v) }
    def bool(id: Int, v: Boolean): Unit = header(id, if (v) 1 else 2)
    def byte(id: Int, v: Int): Unit = { header(id, 3); t.out.write(v) }
    def binary(id: Int, b: Array[Byte]): Unit = { header(id, 8); t.varU(b.length.toLong); t.raw(b) }
    def str(id: Int, s: String): Unit = binary(id, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def listOfI32(id: Int, xs: Seq[Int]): Unit = {
      header(id, 9)
      if (xs.length < 15) t.out.write((xs.length << 4) | 5) else { t.out.write(0xf5); t.varU(xs.length.toLong) }
      xs.foreach(v => t.zig(v.toLong))
    }
    def listOfStr(id: Int, xs: Seq[String]): Unit = {
      header(id, 9)
      if (xs.length < 15) t.out.write((xs.length << 4) | 8) else { t.out.write(0xf8); t.varU(xs.length.toLong) }
      xs.foreach { s => val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8); t.varU(b.length.toLong); t.raw(b) }
    }
    def listOfStruct[A](id: Int, xs: Seq[A])(f: (SOut, A) => Unit): Unit = {
      header(id, 9)
      if (xs.length < 15) t.out.write((xs.length << 4) | 12) else { t.out.write(0xfc); t.varU(xs.length.toLong) }
      xs.foreach { x => val s = new SOut(t); f(s, x); t.out.write(0) }
    }
    def struct(id: Int)(f: SOut => Unit): Unit = {
      header(id, 12)
      val s = new SOut(t); f(s); t.out.write(0)
    }
  }

  // --------------------------------------------------------- schema plan

  private final case class WNode(name: String, repetition: Int, dt: DataType,
      children: IndexedSeq[WNode], defLevel: Int, repLevel: Int, leafIdx: Int)

  private def isLeafType(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => false
    case _ => true
  }

  private def physTypeOf(dt: DataType): Int = dt match {
    case BooleanType => 0
    case ByteType | ShortType | IntegerType | DateType => 1
    case d: DecimalType => if (d.precision <= 9) 1 else if (d.precision <= 18) 2 else 6
    case LongType | TimestampType | TimestampNTZType => 2
    case FloatType => 4
    case DoubleType => 5
    case StringType | BinaryType => 6
    case other => fail(s"parquet write: unsupported Spark type $other")
  }

  private def buildTree(schema: StructType): (WNode, IndexedSeq[WNode]) = {
    val leaves = scala.collection.mutable.ArrayBuffer.empty[WNode]
    def build(name: String, dt: DataType, repetition: Int, defL: Int, repL: Int): WNode = {
      val dd = defL + (if (repetition == 0) 0 else 1)
      val rr = repL + (if (repetition == 2) 1 else 0)
      dt match {
        case st: StructType =>
          val kids = st.fields.map(f => build(f.name, f.dataType, 1, dd, rr)).toIndexedSeq
          WNode(name, repetition, dt, kids, dd, rr, -1)
        case ArrayType(et, _) =>
          val elem = build("element", et, 1, dd + 1, rr + 1)
          val rep = WNode("list", 2, null, IndexedSeq(elem), dd + 1, rr + 1, -1)
          WNode(name, repetition, dt, IndexedSeq(rep), dd, rr, -1)
        case MapType(kt, vt, _) =>
          val key = build("key", kt, 0, dd + 1, rr + 1)
          val value = build("value", vt, 1, dd + 1, rr + 1)
          val rep = WNode("key_value", 2, null, IndexedSeq(key, value), dd + 1, rr + 1, -1)
          WNode(name, repetition, dt, IndexedSeq(rep), dd, rr, -1)
        case prim =>
          val n = WNode(name, repetition, prim, IndexedSeq.empty, dd, rr, leaves.length)
          leaves += n
          n
      }
    }
    val kids = schema.fields.map(f => build(f.name, f.dataType, 1, 0, 0)).toIndexedSeq
    val root = WNode("root", 0, schema, kids, 0, 0, -1)
    (root, leaves.toIndexedSeq)
  }

  /** Leaf path_in_schema (excluding the root). */
  private def leafPaths(root: WNode): IndexedSeq[Seq[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def walk(n: WNode, path: List[String]): Unit =
      if (n.leafIdx >= 0) out += (n.name :: path).reverse
      else n.children.foreach(c => walk(c, n.name :: path))
    root.children.foreach(c => walk(c, Nil))
    out.toIndexedSeq
  }

  private def emitSchema(s: SOut, root: WNode): Unit = {
    val flat = scala.collection.mutable.ArrayBuffer.empty[WNode]
    def collect(n: WNode): Unit = { flat += n; n.children.foreach(collect) }
    collect(root)
    s.listOfStruct(2, flat.toSeq) { (e, n) =>
      val isRoot = n eq root
      if (!isRoot && n.dt != null && isLeafType(n.dt)) e.i32(1, physTypeOf(n.dt))
      if (!isRoot) e.i32(3, n.repetition)
      e.str(4, n.name)
      if (isRoot || n.children.nonEmpty) e.i32(5, n.children.length)
      if (!isRoot && n.dt != null) n.dt match {
        case StringType =>
          e.i32(6, 0) // UTF8
          e.struct(10)(l => l.struct(1)(_ => ()))
        case ByteType =>
          e.i32(6, 15)
          e.struct(10)(l => l.struct(10) { i => i.byte(1, 8); i.bool(2, true) })
        case ShortType =>
          e.i32(6, 16)
          e.struct(10)(l => l.struct(10) { i => i.byte(1, 16); i.bool(2, true) })
        case DateType =>
          e.i32(6, 6)
          e.struct(10)(l => l.struct(6)(_ => ()))
        case TimestampType =>
          e.i32(6, 10) // legacy TIMESTAMP_MICROS + logical TIMESTAMP(utc, MICROS)
          e.struct(10)(l => l.struct(8) { ts => ts.bool(1, true); ts.struct(2)(u => u.struct(2)(_ => ())) })
        case TimestampNTZType =>
          e.struct(10)(l => l.struct(8) { ts => ts.bool(1, false); ts.struct(2)(u => u.struct(2)(_ => ())) })
        case d: DecimalType =>
          e.i32(6, 5)
          e.i32(7, d.scale)
          e.i32(8, d.precision)
          e.struct(10)(l => l.struct(5) { dd => dd.i32(1, d.scale); dd.i32(2, d.precision) })
        case _: ArrayType => e.i32(6, 3) // LIST
        case _: MapType => e.i32(6, 1) // MAP
        case _ => ()
      }
    }
  }

  // ----------------------------------------------------------- shredding

  private final class IntBuf {
    var a = new Array[Int](64); var n = 0
    def +=(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
  }

  private final class LeafBuf {
    val reps = new IntBuf; val defs = new IntBuf
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
  }

  private def shred(node: WNode, value: Any, rep: Int, bufs: IndexedSeq[LeafBuf]): Unit = {
    def emitNull(n: WNode, r: Int, d: Int): Unit =
      if (n.leafIdx >= 0) { bufs(n.leafIdx).reps += r; bufs(n.leafIdx).defs += d }
      else n.children.foreach(c => emitNull(c, r, d))
    if (node.leafIdx >= 0) {
      val b = bufs(node.leafIdx)
      b.reps += rep
      if (value == null) b.defs += node.defLevel - 1
      else { b.defs += node.defLevel; b.values += rawOf(node.dt, value) }
    } else node.dt match {
      case _: StructType =>
        if (value == null) emitNull(node, rep, node.defLevel - 1)
        else {
          val r = value.asInstanceOf[Row]
          node.children.zipWithIndex.foreach { case (c, i) => shred(c, r.get(i), rep, bufs) }
        }
      case _: ArrayType =>
        val repNode = node.children.head
        val elem = repNode.children.head
        if (value == null) emitNull(node, rep, node.defLevel - 1)
        else {
          val xs = value.asInstanceOf[scala.collection.Seq[Any]]
          if (xs.isEmpty) emitNull(node, rep, node.defLevel)
          else xs.zipWithIndex.foreach { case (x, k) =>
            shred(elem, x, if (k == 0) rep else repNode.repLevel, bufs)
          }
        }
      case _: MapType =>
        val repNode = node.children.head
        val key = repNode.children(0)
        val valueN = repNode.children(1)
        if (value == null) emitNull(node, rep, node.defLevel - 1)
        else {
          val m = value.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
          if (m.isEmpty) emitNull(node, rep, node.defLevel)
          else m.zipWithIndex.foreach { case ((k, v), i) =>
            val r = if (i == 0) rep else repNode.repLevel
            shred(key, k, r, bufs)
            shred(valueN, v, r, bufs)
          }
        }
      case other => fail(s"parquet write: unshreddable $other")
    }
  }

  // ------------------------------------------------------- value encoding

  private def rawOf(dt: DataType, v: Any): Any = dt match {
    case BooleanType => v
    case ByteType => v.asInstanceOf[Byte].toInt
    case ShortType => v.asInstanceOf[Short].toInt
    case IntegerType => v
    case DateType => v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt
    case LongType => v
    case TimestampType =>
      val ts = v.asInstanceOf[java.sql.Timestamp]
      Math.addExact(Math.multiplyExact(ts.getTime, 1000L), (ts.getNanos % 1000000L) / 1000L)
    case TimestampNTZType =>
      val ldt = v.asInstanceOf[java.time.LocalDateTime]
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    case d: DecimalType =>
      val bd = v.asInstanceOf[java.math.BigDecimal].setScale(d.scale)
      if (d.precision <= 9) bd.unscaledValue().intValueExact()
      else if (d.precision <= 18) bd.unscaledValue().longValueExact()
      else bd.unscaledValue().toByteArray
    case FloatType => v
    case DoubleType => v
    case StringType => v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case BinaryType => v
    case other => fail(s"parquet write: unsupported $other")
  }

  private def plainEncode(physType: Int, vals: Seq[Any]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length * 8 + 16)
    physType match {
      case 0 =>
        var acc = 0; var bits = 0
        vals.foreach { v =>
          if (v.asInstanceOf[Boolean]) acc |= 1 << bits
          bits += 1
          if (bits == 8) { out.write(acc); acc = 0; bits = 0 }
        }
        if (bits > 0) out.write(acc)
      case 1 => vals.foreach(v => writeLe32(out, v.asInstanceOf[Int]))
      case 2 => vals.foreach(v => writeLe64(out, v.asInstanceOf[Long]))
      case 4 => vals.foreach(v => writeLe32(out, java.lang.Float.floatToIntBits(v.asInstanceOf[Float])))
      case 5 => vals.foreach(v => writeLe64(out, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])))
      case 6 => vals.foreach { v =>
        val b = v.asInstanceOf[Array[Byte]]
        writeLe32(out, b.length); out.write(b, 0, b.length)
      }
      case t => fail(s"parquet write: plain encode of physical type $t")
    }
    out.toByteArray
  }

  /** RLE/bit-packed hybrid encode, processed in 8-value blocks: runs of
    * >= 8 equal values become RLE runs; everything else is emitted as
    * single-group bit-packed runs (full mid-stream groups, the final
    * group zero-padded — exactly the shapes the spec allows). */
  private def rleHybridEncode(vals: Array[Int], n: Int, bitWidth: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(n / 4 + 16)
    def varU(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    if (bitWidth == 0 || n == 0) return out.toByteArray
    val byteW = (bitWidth + 7) / 8
    var i = 0
    while (i < n) {
      var run = 1
      while (i + run < n && vals(i + run) == vals(i)) run += 1
      if (run >= 8) {
        varU(run.toLong << 1)
        var v = vals(i)
        var j = 0
        while (j < byteW) { out.write(v & 0xff); v >>>= 8; j += 1 }
        i += run
      } else {
        val take = math.min(8, n - i)
        varU((1L << 1) | 1) // one bit-packed group of 8
        var acc = 0L
        var accBits = 0
        var k = 0
        while (k < 8) {
          val v = if (k < take) vals(i + k) else 0
          acc |= (v.toLong & ((1L << bitWidth) - 1)) << accBits
          accBits += bitWidth
          while (accBits >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
          k += 1
        }
        if (accBits > 0) out.write((acc & 0xff).toInt)
        i += take
      }
    }
    out.toByteArray
  }

  private def bitWidthFor(m: Int): Int = 32 - Integer.numberOfLeadingZeros(m)

  // -------------------------------------------------------- page assembly

  val CodecIds: Map[String, Int] = Map("none" -> 0, "uncompressed" -> 0, "snappy" -> 1,
    "gzip" -> 2, "zstd" -> 6)

  private def compress(codec: Int, body: Array[Byte]): Array[Byte] = codec match {
    case 0 => body
    case 1 => Snappy.rawEncode(body)
    case 2 =>
      val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 32)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(body); gz.close()
      bos.toByteArray
    case 6 => Zstd.encode(body)
    case c => fail(s"parquet write: codec $c")
  }

  /** One column chunk: optional dictionary page + data page(s).
    * Returns (bytes, encodings, dictUsed, uncompressedTotal). */
  private def encodeChunk(leaf: WNode, buf: LeafBuf, codec: Int): (Array[Byte], Seq[Int], Boolean, Long) = {
    val physType = physTypeOf(leaf.dt)
    val out = new java.io.ByteArrayOutputStream()
    var uncompressed = 0L

    def writePage(pageType: Int, numValues: Int, valueEnc: Int, body: Array[Byte]): Unit = {
      val comp = compress(codec, body)
      val t = new TOut
      val s = new SOut(t)
      s.i32(1, pageType)
      s.i32(2, body.length)
      s.i32(3, comp.length)
      if (pageType == 0) s.struct(5) { d =>
        d.i32(1, numValues); d.i32(2, valueEnc); d.i32(3, 3); d.i32(4, 3)
      }
      else s.struct(7) { d => d.i32(1, numValues); d.i32(2, 0) }
      t.out.write(0)
      out.write(t.toArray, 0, t.toArray.length)
      out.write(comp, 0, comp.length)
      uncompressed += t.toArray.length + body.length
    }

    val slots = buf.defs.n
    val body = new java.io.ByteArrayOutputStream()
    if (leaf.repLevel > 0) {
      val enc = rleHybridEncode(buf.reps.a, slots, bitWidthFor(leaf.repLevel))
      writeLe32(body, enc.length); body.write(enc, 0, enc.length)
    }
    if (leaf.defLevel > 0) {
      val enc = rleHybridEncode(buf.defs.a, slots, bitWidthFor(leaf.defLevel))
      writeLe32(body, enc.length); body.write(enc, 0, enc.length)
    }

    // dictionary decision: binary-backed values, bounded distinct set
    val vals = buf.values
    val dictWorthy = physType == 6 && vals.length >= 16 && {
      val distinct = vals.map(v => new String(v.asInstanceOf[Array[Byte]], java.nio.charset.StandardCharsets.ISO_8859_1)).distinct
      distinct.length <= vals.length / 2 && distinct.length <= 65535
    }
    if (dictWorthy) {
      val keys = vals.map(v => new String(v.asInstanceOf[Array[Byte]], java.nio.charset.StandardCharsets.ISO_8859_1))
      val dict = keys.distinct
      val index = dict.zipWithIndex.toMap
      writePage(2, dict.length, 0,
        plainEncode(6, dict.map(k => k.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1): Any).toSeq))
      val bw = math.max(1, bitWidthFor(math.max(1, dict.length - 1)))
      val idx = new Array[Int](vals.length)
      var i = 0
      while (i < vals.length) { idx(i) = index(keys(i)); i += 1 }
      body.write(bw)
      val enc = rleHybridEncode(idx, idx.length, bw)
      body.write(enc, 0, enc.length)
      writePage(0, slots, 8, body.toByteArray) // RLE_DICTIONARY
      (out.toByteArray, Seq(3, 0, 8), true, uncompressed)
    } else {
      val enc = plainEncode(physType, vals.toSeq)
      body.write(enc, 0, enc.length)
      writePage(0, slots, 0, body.toByteArray)
      (out.toByteArray, Seq(3, 0), false, uncompressed)
    }
  }

  // ------------------------------------------------------- file assembly

  /** Encode one complete parquet file. */
  def encodeFile(rows: Seq[Row], schema: StructType, codec: String = "zstd",
      rowGroupRows: Int = 100000): Array[Byte] = {
    val codecId = CodecIds.getOrElse(codec, fail(s"parquet write: unknown codec '$codec'"))
    val (root, leaves) = buildTree(schema)
    val paths = leafPaths(root)
    val out = new java.io.ByteArrayOutputStream()
    out.write('P'); out.write('A'); out.write('R'); out.write('1')

    final case class ChunkInfo(path: Seq[String], physType: Int, encodings: Seq[Int],
        numValues: Long, uncompressed: Long, compressed: Long,
        dataPageOffset: Long, dictPageOffset: Option[Long])
    final case class GroupInfo(rows: Long, totalBytes: Long, chunks: Seq[ChunkInfo])
    val groups = scala.collection.mutable.ArrayBuffer.empty[GroupInfo]

    rows.grouped(math.max(1, rowGroupRows)).foreach { chunk =>
      val bufs = leaves.map(_ => new LeafBuf)
      chunk.foreach { r => root.children.zipWithIndex.foreach { case (c, i) => shred(c, r.get(i), 0, bufs) } }
      val chunks = leaves.zipWithIndex.map { case (leaf, li) =>
        val start = out.size().toLong
        val (bytes, encs, dictUsed, unc) = encodeChunk(leaf, bufs(li), codecId)
        out.write(bytes, 0, bytes.length)
        // data page offset: after the dictionary page if present
        val dictOff = if (dictUsed) Some(start) else None
        val dataOff = if (dictUsed) {
          // the second page begins after the first: recompute by scanning is
          // overkill — record the chunk start and let the READER walk pages
          // (both ours and parquet-mr start at min(dict, data) and walk).
          start + firstPageSpan(bytes)
        } else start
        ChunkInfo(paths(li), physTypeOf(leaf.dt), encs, bufs(li).defs.n.toLong,
          unc, bytes.length.toLong, dataOff, dictOff)
      }
      groups += GroupInfo(chunk.length.toLong,
        chunks.map(_.uncompressed).sum, chunks.toSeq)
    }
    val t = new TOut
    val s = new SOut(t)
    s.i32(1, 1) // version
    emitSchema(s, root)
    s.i64(3, groups.map(_.rows).sum)
    s.listOfStruct(4, groups.toSeq) { (g, grp) =>
      g.listOfStruct(1, grp.chunks) { (c, ch) =>
        c.i64(2, ch.dictPageOffset.getOrElse(ch.dataPageOffset)) // file_offset
        c.struct(3) { m =>
          m.i32(1, ch.physType)
          m.listOfI32(2, ch.encodings)
          m.listOfStr(3, ch.path)
          m.i32(4, codecId)
          m.i64(5, ch.numValues)
          m.i64(6, ch.uncompressed)
          m.i64(7, ch.compressed)
          m.i64(9, ch.dataPageOffset)
          ch.dictPageOffset.foreach(o => m.i64(11, o))
        }
      }
      g.i64(2, grp.totalBytes)
      g.i64(3, grp.rows)
    }
    s.str(6, "graft parquet writer")
    t.out.write(0)
    val footer = t.toArray
    out.write(footer, 0, footer.length)
    val len = footer.length
    out.write(len & 0xff); out.write((len >>> 8) & 0xff); out.write((len >>> 16) & 0xff); out.write((len >>> 24) & 0xff)
    out.write('P'); out.write('A'); out.write('R'); out.write('1')
    out.toByteArray
  }

  /** Size of the first page (header + compressed body) inside a chunk's
    * byte block — needed to record the data-page offset when a
    * dictionary page precedes it. */
  private def firstPageSpan(chunkBytes: Array[Byte]): Long = {
    val in = new ParquetMeta.TIn(chunkBytes, 0, chunkBytes.length)
    var compressed = -1
    ParquetMeta.walkStruct(in, 0) { (id, tp, d) =>
      id match {
        case 3 => compressed = ParquetMeta.i32Of(tp, d); true
        case _ => false
      }
    }
    req(compressed >= 0, "parquet write: introspecting own page header failed")
    in.pos.toLong + compressed
  }

  /** Distributed sink: one parquet file per partition, tmp-rename
    * commit. Returns the written paths. */
  def writeShards(df: DataFrame, dir: String, codec: String = "zstd",
      rowGroupRows: Int = 100000): Seq[String] = {
    val schema = df.schema
    new java.io.File(dir).mkdirs()
    df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.toSeq
      if (rows.isEmpty) Iterator.empty
      else {
        val bytes = encodeFile(rows, schema, codec, rowGroupRows)
        val tmp = new java.io.File(dir, f".part-$pid%05d.parquet.tmp")
        val dst = new java.io.File(dir, f"part-$pid%05d.parquet")
        java.nio.file.Files.write(tmp.toPath, bytes)
        if (!tmp.renameTo(dst)) throw new ParquetDataError(s"parquet write: rename failed for $dst")
        Iterator.single(dst.getPath)
      }
    }.collect().toSeq.sorted
  }
}
