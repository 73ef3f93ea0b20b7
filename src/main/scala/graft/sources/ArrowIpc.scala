package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.flatbuf.{Footer => FbFooter, Message, MessageHeader, RecordBatch => FbRecordBatch}
import org.apache.arrow.flatbuf.{DictionaryBatch => FbDictionaryBatch}
import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.BufferLayout.BufferType
import org.apache.arrow.vector.complex._
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.compression.NoCompressionCodec
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.arrow.vector.ipc.message.{ArrowFooter, ArrowRecordBatch, IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit, UnionMode}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.Bytes.{le32, le64}

/** Arrow IPC (`.arrow` files / Feather v2, `.arrows` streams — the
  * HuggingFace `datasets` interchange format) through arrow-vector and
  * arrow-compression 18.3 from the Spark classpath. Arrow Java parses
  * the flatbuffers, decompresses LZ4_FRAME / ZSTD bodies and loads the
  * vectors; this facade adds what the library leaves to its caller:
  *
  *  - Bounds. Before the library allocates from a declared size, the
  *    facade checks it against the bytes behind it: the footer length
  *    and both magics, every block's offset, metadata and body length,
  *    every stream message and body length, every buffer extent, every
  *    compressed buffer's declared size (at most `(1L << 31) - 16` and
  *    its codec's largest expansion of the bytes it has), every node's
  *    length against the buffers that must back it and every
  *    variable-width value's length against its data. Vectors draw from
  *    an allocator capped at what the checked sizes need.
  *  - One named error. Every library exception maps to [[ArrowError]],
  *    and the message names the file.
  *  - The Spark face. u64 reads as `decimal(20,0)`, a union as
  *    `{type_id, variants…}`, run-end-encoded columns expand to their
  *    values type, list-views become arrays and views strings or
  *    binary; dictionaries resolve, in child columns too. Interval is
  *    refused (no Spark carrier).
  *  - Pruning. A pruned column's buffers are sliced out of the batch
  *    before loading, so its decompression never runs; dictionaries no
  *    kept column references are skipped by id before their body is
  *    read.
  *
  * The DSv2 face is [[ArrowSource]]; `rowsStream` is the streaming
  * twin and `arrowQuery` the oracle lane. */
object ArrowIpc {

  final class ArrowError(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)
  private def fail(msg: String): Nothing = throw new ArrowError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  /** Run `f` over the bytes of `name`; every failure leaves as one
    * [[ArrowError]] naming it. A flatbuffer whose offsets loop back
    * overflows the library's recursive schema walk, so that maps too. */
  private def guarded[T](name: String)(f: => T): T =
    try f
    catch {
      case e @ (_: Exception | _: StackOverflowError) =>
        val why = if (e.isInstanceOf[ArrowError]) e.getMessage else s"${e.getClass.getSimpleName}: ${e.getMessage}"
        throw new ArrowError(s"arrow: $name: $why", e)
    }

  private val Magic = "ARROW1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  /** The largest uncompressed buffer a declared size may name. */
  private val MaxBuffer = (1L << 31) - 16
  /** The most one compressed byte can expand to: an LZ4 sequence gains
    * at most 255 output bytes per input byte, a zstd RLE block makes at
    * most 128 KiB out of 4 bytes. */
  private def maxRatio(codec: Byte): Long = if (codec == 0) 255L else 32768L
  /** Rows a node may declare when no buffer has to back them (null,
    * run-end-encoded, buffer-less struct and list columns). */
  private val MaxUnbackedRows = 1 << 26
  /** Direct memory one read may hold, whatever the file declares. */
  private val ReadLimit = 1L << 31
  /** The most direct memory a finished read held at once, over all
    * reads since it was last reset; the specs bound it. */
  private[graft] val peakDirect = new java.util.concurrent.atomic.AtomicLong

  // ----------------------------------------------------------------- footer

  /** Parse the file footer from ranged reads of a `len`-byte file: the
    * head magic, the 10-byte tail and the footer flatbuffer are the
    * only bytes touched. Every block extent is bounded here, so fetch
    * tasks can trust them. */
  def footer(ranged: (Long, Int) => Array[Byte], len: Long, name: String): ArrowFooter =
    guarded(name)(footerOf(ranged, len))

  def footer(path: String): ArrowFooter = guarded(path)(withFile(path)(footerOf))

  private def footerOf(ranged: (Long, Int) => Array[Byte], len: Long): ArrowFooter = {
    req(len >= 8 + 10 + 6, s"file too short ($len bytes)")
    val head = ranged(0L, 8)
    req(head.take(6).sameElements(Magic) && head(6) == 0 && head(7) == 0, "bad file magic")
    val tail = ranged(len - 10, 10)
    req(tail.slice(4, 10).sameElements(Magic), "bad trailing magic")
    val fLen = le32(tail, 0)
    req(fLen > 0 && fLen <= len - 8 - 10, s"footer length $fLen out of range")
    val f = new ArrowFooter(FbFooter.getRootAsFooter(ByteBuffer.wrap(ranged(len - 10 - fLen, fLen))))
    val dataEnd = len - 10 - fLen
    (f.getDictionaries.asScala ++ f.getRecordBatches.asScala).foreach { b =>
      // subtract the bounded lengths from the file size instead of
      // summing hostile values that could wrap
      req(b.getOffset >= 8 && b.getMetadataLength > 0 && b.getBodyLength >= 0 &&
        b.getMetadataLength.toLong + b.getBodyLength <= Int.MaxValue &&
        b.getOffset <= dataEnd - b.getMetadataLength - b.getBodyLength,
        s"block (${b.getOffset},${b.getMetadataLength},${b.getBodyLength}) outside file of $len")
    }
    f
  }

  // --------------------------------------------------------------- messages

  /** The framed message at `off` of `b` (continuation or legacy length
    * prefix; `None` at an end-of-stream marker), with the index where
    * its metadata ends. The metadata length is bounded by `end`. */
  private def message(b: Array[Byte], off: Int, end: Int): (Option[Message], Int) = {
    req(end - off >= 4, "truncated message prefix")
    val cont = le32(b, off) == -1
    req(!cont || end - off >= 8, "truncated message prefix")
    val p = if (cont) off + 8 else off + 4
    val len = le32(b, p - 4)
    req(len >= 0 && len <= end - p, s"message length $len exceeds the ${end - p} bytes behind it")
    (if (len == 0) None else Some(Message.getRootAsMessage(ByteBuffer.wrap(b, p, len).slice())), p + len)
  }

  private def header[T <: com.google.flatbuffers.Table](m: Message, tpe: Byte, t: T): T = {
    req(m.headerType == tpe && m.header(t) != null, s"expected message header $tpe, got ${m.headerType}")
    t
  }

  // ------------------------------------------------------- checked loading

  /** The record-batch layout type of a field: a dictionary-encoded
    * field carries its indices. */
  private def layoutType(f: Field): ArrowType =
    Option(f.getDictionary).map(_.getIndexType: ArrowType).getOrElse(f.getType)

  /** In-memory field of a message-format field: dictionary-encoded
    * fields become their index type. */
  private def memField(f: Field): Field = Option(f.getDictionary) match {
    case Some(d) => new Field(f.getName, new FieldType(f.isNullable, d.getIndexType, d, f.getMetadata), null)
    case None => new Field(f.getName, f.getFieldType, f.getChildren.asScala.map(memField).asJava)
  }

  /** The field a dictionary batch carries: the encoded field's values. */
  private def valueField(f: Field): Field =
    new Field(f.getName, new FieldType(f.isNullable, f.getType, null, f.getMetadata), f.getChildren)

  private def encoded(f: Field): Seq[Field] =
    (if (f.getDictionary != null) Seq(f) else Nil) ++ f.getChildren.asScala.flatMap(encoded)

  /** Where a top-level field's nodes, buffers and variadic counts start. */
  private final case class Span(node: Int, buffer: Int, variadic: Int)

  /** Walk `fields` in the IPC pre-order over the batch's nodes and
    * buffers and bound every declared size before anything is
    * allocated from it. Returns each field's span plus the end span,
    * and the bytes the `keep` fields need once loaded. */
  private def plan(fields: IndexedSeq[Field], rb: FbRecordBatch, b: Array[Byte], bodyOff: Int, bodyLen: Int,
      keep: Int => Boolean): (IndexedSeq[Span], Long) = {
    val codec = Option(rb.compression).map { c =>
      req(c.method == 0 && (c.codec == 0 || c.codec == 1), s"body compression ${c.codec}/${c.method}")
      c.codec
    }
    val rows = rb.length
    req(rows >= 0 && rows <= Int.MaxValue, s"batch of $rows rows")
    var node = 0; var buf = 0; var vc = 0; var need = 0L

    def size(i: Int): Long = {
      req(i < rb.buffersLength, "batch declares fewer buffers than its schema needs")
      val x = rb.buffers(i); val off = x.offset; val len = x.length
      req(off >= 0 && len >= 0 && off <= bodyLen && len <= bodyLen - off,
        s"buffer ($off,$len) outside the $bodyLen-byte body")
      codec match {
        case Some(c) if len > 0 =>
          req(len >= 8, "compressed buffer shorter than its length prefix")
          val declared = le64(b, bodyOff + off.toInt)
          if (declared == -1L) len - 8 // an uncompressed buffer
          else {
            req(declared >= 0 && declared <= MaxBuffer && declared <= maxRatio(c) * (len - 8),
              s"compressed buffer of ${len - 8} bytes declares $declared")
            declared
          }
        case _ => len
      }
    }

    /** Checks one field's subtree; returns its node's length. */
    def walk(f: Field, kept: Boolean): Long = {
      req(node < rb.nodesLength, "batch declares fewer nodes than its schema needs")
      val fn = rb.nodes(node); node += 1
      val n = fn.length; val nc = fn.nullCount
      req(n >= 0 && n <= Int.MaxValue && nc >= 0 && nc <= n, s"field '${f.getName}' declares $n rows, $nc nulls")
      val t = layoutType(f)
      val layouts = TypeLayout.getTypeLayout(t).getBufferLayouts.asScala.toSeq
      val offsets = layouts.exists(_.getType == BufferType.OFFSET)
      val listView = t.isInstanceOf[ArrowType.ListView] || t.isInstanceOf[ArrowType.LargeListView]
      // an all-null column may elide everything but its validity bitmap;
      // Arrow then allocates the full buffer itself
      val allNull = n > 0 && nc == n
      var backed = false
      def check(have: Long, full: Long, waived: Boolean): Unit = {
        val minimum = if (waived) 0L else full
        req(have >= minimum, s"field '${f.getName}' declares $n rows; buffer ${buf - 1} holds $have of $minimum bytes")
        if (minimum > 0) backed = true
        if (kept) need += math.max(have, full) + 64
      }
      layouts.foreach { l =>
        val have = size(buf); buf += 1
        val w = l.getTypeBitWidth.toLong
        l.getType match {
          case BufferType.VALIDITY => check(have, (n + 7) / 8, waived = nc == 0)
          case BufferType.TYPE => check(have, n, waived = false)
          case BufferType.VIEWS => check(have, 16 * n, allNull)
          case BufferType.OFFSET if t.isInstanceOf[ArrowType.Union] => check(have, 4 * n, waived = false)
          case BufferType.OFFSET if listView => check(have, n * w / 8, allNull)
          case BufferType.OFFSET => check(have, if (n == 0) 0 else (n + 1) * w / 8, waived = false)
          case BufferType.SIZE => check(have, n * w / 8, allNull)
          case BufferType.DATA if !offsets => check(have, (n * w + 7) / 8, allNull)
          case _ => check(have, 0, waived = false)
        }
      }
      if (t.isInstanceOf[ArrowType.Utf8View] || t.isInstanceOf[ArrowType.BinaryView]) {
        req(vc < rb.variadicBufferCountsLength, s"view field '${f.getName}' has no variadic buffer count")
        val k = rb.variadicBufferCounts(vc); vc += 1
        req(k >= 0 && k <= rb.buffersLength - buf, s"view field '${f.getName}' declares $k data buffers")
        (0 until k.toInt).foreach { _ => val have = size(buf); buf += 1; check(have, 0, waived = false) }
      }
      req(backed || n <= MaxUnbackedRows, s"field '${f.getName}' declares $n rows no buffer backs")
      if (f.getDictionary == null) {
        // struct and sparse-union children are as long as their parent
        val sameLength = t match {
          case _: ArrowType.Struct => true
          case u: ArrowType.Union => u.getMode == UnionMode.Sparse
          case _ => false
        }
        f.getChildren.asScala.foreach { c =>
          val cn = walk(c, kept)
          req(!sameLength || cn == n, s"'${f.getName}' child '${c.getName}' length $cn differs from its $n rows")
        }
      }
      n
    }

    val spans = fields.indices.map { i =>
      val s = Span(node, buf, vc)
      val n = walk(fields(i), keep(i))
      req(n == rows, s"column '${fields(i).getName}' length $n differs from the batch's $rows rows")
      s
    } :+ Span(node, buf, vc)
    (spans, need)
  }

  /** Record-batch vectors loaded from one message, with the capped
    * allocator they draw from. */
  private final class Loaded(val root: VectorSchemaRoot, alloc: BufferAllocator) extends AutoCloseable {
    def close(): Unit = try root.close() finally alloc.close()
  }

  /** Load the `keep` fields of record batch `rb` (body at
    * `b[bodyOff, bodyOff + bodyLen)`) into fresh vectors. The other
    * fields' buffers are dropped before loading, so their
    * decompression never runs. */
  private def load(alloc: BufferAllocator, fields: IndexedSeq[Field], rb: FbRecordBatch,
      b: Array[Byte], bodyOff: Int, bodyLen: Int, keep: Int => Boolean): Loaded = {
    val (spans, need) = plan(fields, rb, b, bodyOff, bodyLen, keep)
    val body = alloc.buffer(bodyLen.toLong)
    body.setBytes(0, b, bodyOff, bodyLen.toLong)
    val all = MessageSerializer.deserializeRecordBatch(rb, body)
    val kept = fields.indices.filter(keep)
    def pick[T](xs: java.util.List[T], at: Span => Int): java.util.List[T] =
      kept.flatMap(i => xs.asScala.slice(at(spans(i)), at(spans(i + 1)))).asJava
    val capped = alloc.newChildAllocator("arrow batch", 0, 2 * need + (1L << 20))
    var root: VectorSchemaRoot = null
    try {
      val pruned = new ArrowRecordBatch(all.getLength, pick(all.getNodes, _.node), pick(all.getBuffers, _.buffer),
        all.getBodyCompression, pick(all.getVariadicBufferCounts, _.variadic), true)
      try {
        root = VectorSchemaRoot.create(new Schema(kept.map(i => memField(fields(i))).asJava), capped)
        new VectorLoader(root, CommonsCompressionFactory.INSTANCE).load(pruned)
      } finally pruned.close()
      new Loaded(root, capped)
    } catch {
      case e: Throwable =>
        quietly(if (root != null) root.close())
        quietly(capped.close())
        throw e
    } finally all.close()
  }

  private def quietly(f: => Unit): Unit = try f catch { case _: Exception => () }

  /** One read: the schema, the kept columns and the dictionaries they
    * need. Closing it frees every vector it loaded. */
  private final class Read(val schema: Schema, keep: String => Boolean) extends AutoCloseable {
    private val alloc = new RootAllocator(ReadLimit)
    private val fields = schema.getFields.asScala.toIndexedSeq
    fields.foreach(sparkType) // refuses unsupported types up front
    private val kept = fields.indices.filter(i => keep(fields(i).getName))
    private val keptSet = kept.toSet
    private val encodings: Map[Long, Field] =
      kept.flatMap(i => encoded(fields(i))).map(f => f.getDictionary.getId -> f).toMap
    private var dicts = Map.empty[Long, Loaded]

    def needs(id: Long): Boolean = encodings.contains(id)

    def dictionary(m: Message, b: Array[Byte], bodyOff: Int, bodyLen: Int): Unit = {
      val db = header(m, MessageHeader.DictionaryBatch, new FbDictionaryBatch)
      val id = db.id
      if (needs(id)) {
        req(!db.isDelta, "delta dictionaries are not supported")
        req(db.data != null, s"dictionary $id has no data")
        val d = load(alloc, IndexedSeq(valueField(encodings(id))), db.data, b, bodyOff, bodyLen, _ => true)
        dicts.get(id).foreach(_.close())
        dicts += id -> d
      }
    }

    def batch(m: Message, b: Array[Byte], bodyOff: Int, bodyLen: Int): IndexedSeq[Row] = {
      val rb = header(m, MessageHeader.RecordBatch, new FbRecordBatch)
      val l = load(alloc, fields, rb, b, bodyOff, bodyLen, keptSet)
      try {
        val values = dicts.map { case (id, d) => id -> d.root.getFieldVectors.get(0) }
        val readers = kept.indices.map(k => reader(fields(kept(k)), l.root.getVector(k), values))
        (0 until l.root.getRowCount).map(r => Row.fromSeq(readers.map(_(r))))
      } finally l.close()
    }

    def close(): Unit = {
      dicts.values.foreach(d => quietly(d.close()))
      peakDirect.accumulateAndGet(alloc.getPeakMemoryAllocation, math.max(_, _))
      alloc.close()
    }
  }

  // ------------------------------------------------------------------ reads

  /** Read a file through ranged reads: the footer, the dictionaries
    * the `keep` columns need, and the record batches `only` names (all
    * when `None`). Rows hold the kept columns in schema order. */
  private def readFile(ranged: (Long, Int) => Array[Byte], len: Long, keep: String => Boolean,
      only: Option[Int]): (Schema, Seq[IndexedSeq[Row]]) = {
    val f = footerOf(ranged, len)
    Using.resource(new Read(f.getSchema, keep)) { rd =>
      f.getDictionaries.asScala.foreach { blk =>
        val meta = ranged(blk.getOffset, blk.getMetadataLength)
        val (m, _) = message(meta, 0, meta.length)
        val id = header(m.getOrElse(fail("empty dictionary message")), MessageHeader.DictionaryBatch,
          new FbDictionaryBatch).id
        // only a needed dictionary's body is read (and decompressed)
        if (rd.needs(id)) {
          val body = ranged(blk.getOffset + blk.getMetadataLength, blk.getBodyLength.toInt)
          rd.dictionary(m.get, body, 0, body.length)
        }
      }
      val blocks = f.getRecordBatches.asScala.toIndexedSeq
      val picked = only.fold(blocks) { i =>
        req(i >= 0 && i < blocks.length, s"batch $i of ${blocks.length}"); IndexedSeq(blocks(i))
      }
      (f.getSchema, picked.map { blk =>
        val metaLen = blk.getMetadataLength
        val b = ranged(blk.getOffset, (metaLen + blk.getBodyLength).toInt)
        rd.batch(message(b, 0, metaLen)._1.getOrElse(fail("empty record batch message")), b, metaLen, b.length - metaLen)
      })
    }
  }

  /** Decode a whole in-memory file: its schema and the rows of every
    * record batch, in the Spark face (see [[sparkSchema]]). */
  def readFileBytes(bytes: Array[Byte], name: String = "arrow file bytes"): (Schema, Seq[IndexedSeq[Row]]) =
    guarded(name) {
      readFile(bounded(bytes.length)((off, n) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n)),
        bytes.length.toLong, _ => true, None)
    }

  /** Decode a whole in-memory stream (`.arrows`): the schema message,
    * then dictionary and record-batch messages until end-of-stream. */
  def readStreamBytes(bytes: Array[Byte], name: String = "arrow stream bytes"): (Schema, Seq[IndexedSeq[Row]]) =
    guarded(name) {
      val (first, afterSchema) = message(bytes, 0, bytes.length)
      val schema = MessageSerializer.deserializeSchema(first.getOrElse(fail("stream has no schema")))
      Using.resource(new Read(schema, _ => true)) { rd =>
        val batches = Vector.newBuilder[IndexedSeq[Row]]
        var off = afterSchema
        var done = false
        while (!done && off < bytes.length) {
          val (m, bodyOff) = message(bytes, off, bytes.length)
          m match {
            case None => done = true
            case Some(msg) =>
              val bodyLen = msg.bodyLength
              req(bodyLen >= 0 && bodyLen <= bytes.length - bodyOff,
                s"body length $bodyLen exceeds the ${bytes.length - bodyOff} bytes behind it")
              msg.headerType match {
                case MessageHeader.DictionaryBatch => rd.dictionary(msg, bytes, bodyOff, bodyLen.toInt)
                case MessageHeader.RecordBatch => batches += rd.batch(msg, bytes, bodyOff, bodyLen.toInt)
                case t => fail(s"unexpected mid-stream header type $t")
              }
              off = bodyOff + bodyLen.toInt
          }
        }
        (schema, batches.result())
      }
    }

  /** One record batch of the file at `path`, with only the named
    * columns decoded (rows hold them in schema order). */
  private[sources] def readBatch(path: String, index: Int, columns: Set[String]): (Schema, IndexedSeq[Row]) =
    guarded(path)(withFile(path) { (ranged, len) =>
      val (schema, batches) = readFile(ranged, len, columns, Some(index))
      (schema, batches.head)
    })

  private def withFile[T](path: String)(f: ((Long, Int) => Array[Byte], Long) => T): T = {
    Using.resource(new java.io.RandomAccessFile(path, "r")) { raf =>
      val len = raf.length()
      f(bounded(len) { (off, n) =>
        val out = new Array[Byte](n)
        raf.seek(off); raf.readFully(out)
        out
      }, len)
    }
  }

  /** `read` behind a check that every range lies inside `len` bytes. */
  private def bounded(len: Long)(read: (Long, Int) => Array[Byte]): (Long, Int) => Array[Byte] = (off, n) => {
    req(n >= 0 && off >= 0 && off <= len - n, s"read ($off,$n) outside $len bytes")
    read(off, n)
  }

  // ------------------------------------------------------------- Spark face

  def sparkType(f: Field): DataType = {
    def kids = f.getChildren.asScala.toSeq
    def one(what: String): Field = { req(kids.length == 1, s"$what '${f.getName}' needs exactly one child"); kids.head }
    f.getType match {
      case _: ArrowType.Null => NullType
      case i: ArrowType.Int => (i.getBitWidth, i.getIsSigned) match {
        case (8, true) => ByteType
        case (8, false) | (16, true) => ShortType
        case (16, false) | (32, true) => IntegerType
        case (32, false) | (64, true) => LongType
        case (64, false) => DecimalType(20, 0) // lossless u64 carrier
        case (b, s) => fail(s"no Spark type for int($b, signed=$s)")
      }
      case fp: ArrowType.FloatingPoint =>
        if (fp.getPrecision == FloatingPointPrecision.DOUBLE) DoubleType else FloatType
      case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 | _: ArrowType.Utf8View => StringType
      case _: ArrowType.Binary | _: ArrowType.LargeBinary | _: ArrowType.BinaryView |
          _: ArrowType.FixedSizeBinary => BinaryType
      case _: ArrowType.Bool => BooleanType
      case d: ArrowType.Decimal =>
        req(d.getBitWidth == 128, s"decimal${d.getBitWidth} field '${f.getName}' is not supported")
        DecimalType(d.getPrecision, d.getScale)
      case _: ArrowType.Date => DateType
      case _: ArrowType.Timestamp => TimestampType
      case t: ArrowType.Time => if (t.getBitWidth == 32) IntegerType else LongType
      case _: ArrowType.Duration => LongType
      case _: ArrowType.List | _: ArrowType.LargeList | _: ArrowType.FixedSizeList |
          _: ArrowType.ListView | _: ArrowType.LargeListView =>
        val c = one("list")
        ArrayType(sparkType(c), containsNull = effNullable(c))
      case _: ArrowType.Struct => StructType(kids.map(c => StructField(c.getName, sparkType(c), effNullable(c))))
      case _: ArrowType.Map =>
        val e = one("map")
        req(!e.isNullable && e.getChildren.size == 2 && !e.getChildren.get(0).isNullable,
          s"map '${f.getName}' must carry non-nullable entries with a non-nullable key and a value")
        val Seq(k, v) = e.getChildren.asScala.toSeq
        MapType(sparkType(k), sparkType(v), valueContainsNull = effNullable(v))
      case u: ArrowType.Union =>
        val ids = unionIds(f)
        req(kids.nonEmpty && ids.length == kids.length && ids.distinct.length == ids.length &&
          ids.forall(t => t >= 0 && t <= 127), s"union '${f.getName}' type ids $ids for ${kids.length} children")
        // Spark has no union type: a struct of the selecting tag plus
        // one nullable field per variant
        StructType(StructField("type_id", ByteType, nullable = false) +:
          kids.map(c => StructField(c.getName, sparkType(c), nullable = true)))
      case _: ArrowType.RunEndEncoded =>
        req(kids.length == 2, s"run-end-encoded '${f.getName}' needs run_ends + values children")
        val re = kids.head
        re.getType match {
          case i: ArrowType.Int if i.getIsSigned && Set(16, 32, 64)(i.getBitWidth) => ()
          case t => fail(s"run-end-encoded '${f.getName}' run_ends must be int16/32/64, got $t")
        }
        req(!re.isNullable && re.getDictionary == null,
          s"run-end-encoded '${f.getName}' run_ends child must be plain and non-nullable")
        sparkType(kids(1)) // reads expand to the values type
      case _: ArrowType.Interval => fail(s"interval field '${f.getName}' is not supported")
      case t => fail(s"unsupported type $t for field '${f.getName}'")
    }
  }

  private def unionIds(f: Field): Seq[Int] = {
    val u = f.getType.asInstanceOf[ArrowType.Union]
    Option(u.getTypeIds).map(_.toSeq).getOrElse(f.getChildren.asScala.indices)
  }

  /** A run-end-encoded field yields nulls whenever its VALUES child
    * does, regardless of the parent's declared nullability. */
  private def effNullable(f: Field): Boolean = f.getType match {
    case _: ArrowType.RunEndEncoded => f.isNullable || effNullable(f.getChildren.get(1))
    case _ => f.isNullable
  }

  def sparkSchema(s: Schema): StructType =
    StructType(s.getFields.asScala.map(f => StructField(f.getName, sparkType(f), effNullable(f))).toSeq)

  /** Row `i` of `v` as a Spark external value, per the message-format
    * field `f` (dictionary-encoded fields resolve through `dicts`). */
  private def reader(f: Field, v: ValueVector, dicts: Map[Long, FieldVector]): Int => Any = {
    def nullable(read: Int => Any): Int => Any = i => if (v.isNull(i)) null else read(i)
    Option(f.getDictionary) match {
      case Some(enc) =>
        val values = dicts.getOrElse(enc.getId, fail(s"field '${f.getName}' references unknown dictionary ${enc.getId}"))
        val value = reader(valueField(f), values, dicts)
        val n = values.getValueCount
        val idx = v.asInstanceOf[BaseIntVector]
        nullable { i =>
          val k = idx.getValueAsLong(i)
          req(k >= 0 && k < n, s"dictionary index $k outside ${n}")
          value(k.toInt)
        }
      case None => v match {
        case _: NullVector => _ => null
        case u: UnionVector => union(f, u, i => i, u.getTypeValue, dicts)
        case u: DenseUnionVector => union(f, u, u.getOffset, u.getTypeId(_).toInt, dicts)
        case r: RunEndEncodedVector => runEnds(f, r, dicts)
        case _ => nullable(plain(f, v, dicts))
      }
    }
  }

  private def plain(f: Field, v: ValueVector, dicts: Map[Long, FieldVector]): Int => Any = v match {
    // getObject already boxes these as their Spark face does
    case x @ (_: TinyIntVector | _: SmallIntVector | _: IntVector | _: BigIntVector | _: Float4Vector |
        _: Float8Vector | _: BitVector | _: FixedSizeBinaryVector | _: DecimalVector | _: TimeSecVector |
        _: TimeMicroVector | _: TimeNanoVector) => x.getObject(_)
    case x: UInt1Vector => i => (x.get(i) & 0xff).toShort
    case x: UInt2Vector => x.get(_).toInt
    case x: UInt4Vector => x.get(_) & 0xffffffffL
    case x: UInt8Vector => i => new java.math.BigDecimal(x.getObjectNoOverflow(i))
    case x: Float2Vector => x.getValueAsFloat(_)
    case x: VariableWidthFieldVector =>
      val bytes = checkedBytes(f, x)
      f.getType match {
        case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 | _: ArrowType.Utf8View => i => new String(bytes(i), UTF_8)
        case _ => bytes
      }
    case x: DateDayVector => i => java.time.LocalDate.ofEpochDay(x.get(i).toLong)
    case x: DateMilliVector => i => java.time.LocalDate.ofEpochDay(Math.floorDiv(x.get(i), 86400000L))
    case x: TimeStampVector =>
      val perSecond = f.getType.asInstanceOf[ArrowType.Timestamp].getUnit match {
        case TimeUnit.SECOND => 1L
        case TimeUnit.MILLISECOND => 1000L
        case TimeUnit.MICROSECOND => 1000000L
        case TimeUnit.NANOSECOND => 1000000000L
      }
      i => {
        val t = x.get(i) // floor, so instants before the epoch stay exact
        java.time.Instant.ofEpochSecond(Math.floorDiv(t, perSecond), Math.floorMod(t, perSecond) * (1000000000L / perSecond))
      }
    case x: TimeMilliVector => x.get(_)
    case x: DurationVector => i => DurationVector.get(x.getDataBuffer, i)
    case x: MapVector =>
      val entries = x.getDataVector.asInstanceOf[StructVector]
      val ef = f.getChildren.get(0)
      val key = reader(ef.getChildren.get(0), entries.getChildByOrdinal(0), dicts)
      val value = reader(ef.getChildren.get(1), entries.getChildByOrdinal(1), dicts)
      val n = entries.getValueCount
      i => {
        val a = x.getElementStartIndex(i); val b = x.getElementEndIndex(i)
        req(a >= 0 && a <= b && b <= n, s"map extent [$a,$b) outside $n entries of '${f.getName}'")
        (a until b).map { j =>
          val k = key(j)
          req(!entries.isNull(j) && k != null, s"map '${f.getName}' has a null entry or key at $j")
          k -> value(j)
        }.toMap
      }
    case x: ListVector => slices(f, x.getDataVector, dicts, i => (x.getElementStartIndex(i), x.getElementEndIndex(i)))
    case x: LargeListVector =>
      slices(f, x.getDataVector, dicts, i => (x.getElementStartIndex(i), x.getElementEndIndex(i)))
    case x: FixedSizeListVector =>
      val k = x.getListSize.toLong
      slices(f, x.getDataVector, dicts, i => (i * k, (i + 1) * k))
    case x: ListViewVector =>
      slices(f, x.getDataVector, dicts, i => {
        val a = x.getOffsetBuffer.getInt(4L * i).toLong
        (a, a + x.getSizeBuffer.getInt(4L * i))
      })
    case x: LargeListViewVector =>
      slices(f, x.getDataVector, dicts, i => {
        val a = x.getOffsetBuffer.getLong(8L * i)
        (a, a + x.getSizeBuffer.getLong(8L * i))
      })
    case x: StructVector =>
      val kids = f.getChildren.asScala.indices.map(j => reader(f.getChildren.get(j), x.getChildByOrdinal(j), dicts))
      i => Row.fromSeq(kids.map(_(i)))
    case x => fail(s"no reader for ${x.getClass.getSimpleName} field '${f.getName}'")
  }

  /** Row `i`'s bytes of a variable-width vector. Arrow Java sizes the
    * array from the row's offsets or view length before its
    * bounds-checked copy, so that size is bounded by the data first. */
  private def checkedBytes(f: Field, x: VariableWidthFieldVector): Int => Array[Byte] = {
    val cap = x match {
      case v: BaseVariableWidthViewVector => v.getDataBuffers.asScala.map(_.capacity).foldLeft(12L)(math.max)
      case _ => x.getDataBuffer.capacity
    }
    i => {
      val n = x.getValueLength(i)
      req(n >= 0 && n <= cap, s"value $i of '${f.getName}' declares $n bytes; its data holds $cap")
      x.get(i)
    }
  }

  /** List-like rows: the child values in `extent(i)`, bounded by the child. */
  private def slices(f: Field, child: ValueVector, dicts: Map[Long, FieldVector],
      extent: Int => (Long, Long)): Int => Any = {
    val c = reader(f.getChildren.get(0), child, dicts)
    val n = child.getValueCount
    i => {
      val (a, b) = extent(i)
      req(a >= 0 && a <= b && b <= n, s"list extent [$a,$b) outside $n children of '${f.getName}'")
      (a.toInt until b.toInt).map(c)
    }
  }

  /** A union row: `{type_id, variants…}` with only the selected variant set. */
  private def union(f: Field, u: ValueVector, slot: Int => Int, typeId: Int => Int,
      dicts: Map[Long, FieldVector]): Int => Any = {
    val ids = unionIds(f)
    val kids = u.asInstanceOf[FieldVector].getChildrenFromFields.asScala.toIndexedSeq
    val readers = kids.indices.map(j => reader(f.getChildren.get(j), kids(j), dicts))
    val byId = ids.zipWithIndex.toMap
    i => {
      val tid = typeId(i)
      val j = byId.getOrElse(tid, fail(s"union '${f.getName}' slot $i has undeclared type id $tid"))
      val s = slot(i)
      req(s >= 0 && s < kids(j).getValueCount, s"union '${f.getName}' offset $s outside its child")
      Row.fromSeq(java.lang.Byte.valueOf(tid.toByte) +: kids.indices.map(k => if (k == j) readers(j)(s) else null))
    }
  }

  /** Run-end-encoded rows expand to their values: run ends must rise
    * strictly and cover every row. */
  private def runEnds(f: Field, r: RunEndEncodedVector, dicts: Map[Long, FieldVector]): Int => Any = {
    val re = r.getRunEndsVector.asInstanceOf[BaseIntVector]
    val runs = r.getRunEndsVector.getValueCount
    req(runs == r.getValuesVector.getValueCount,
      s"run-end-encoded '${f.getName}' has $runs run ends for ${r.getValuesVector.getValueCount} values")
    val ends = Array.tabulate(runs)(j => re.getValueAsLong(j))
    ends.indices.foreach { j =>
      req(ends(j) > (if (j == 0) 0L else ends(j - 1)),
        s"run ends of '${f.getName}' must rise strictly (got ${ends(j)} at run $j)")
    }
    val n = r.getValueCount
    req(n == 0 || (runs > 0 && ends(runs - 1) >= n), s"run-end-encoded '${f.getName}' runs cover fewer than $n rows")
    val value = reader(f.getChildren.get(1), r.getValuesVector, dicts)
    i => {
      val k = java.util.Arrays.binarySearch(ends, i.toLong + 1)
      value(if (k >= 0) k else -k - 1)
    }
  }

  // -------------------------------------------------------- streaming twin

  /** Streaming twin: continuously ingest `.arrow`/`.arrows` shards
    * dropped into a directory (the shard-landing-zone shape). Schema
    * must be declared up front (Structured Streaming is fixed-schema);
    * files whose footer/stream schema drifts fail loudly. File vs
    * stream format dispatches on the leading magic. */
  def rowsStream(
      spark: SparkSession,
      dir: String,
      expected: StructType,
      globFilter: String = "*.arrow*"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val binarySchema = StructType.fromDDL("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
    val outSchema = StructType(StructField("path", StringType) +: expected.fields)
    val outEnc = Encoders.row(outSchema)
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", globFilter)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])](pairEnc)
      .flatMap { case (path, content) =>
        val isFile = content.length >= 8 && content.take(6).sameElements(Magic)
        val (as, batches) = if (isFile) readFileBytes(content, path) else readStreamBytes(content, path)
        val got = sparkSchema(as)
        req(got == expected, s"arrow stream: schema drift — $path has $got, stream declared $expected")
        batches.iterator.flatten.map(r => Row.fromSeq(path +: r.toSeq))
      }(outEnc)
      .toDF()
  }

  // ------------------------------------------------------------ oracle lane

  /** q_arrow: per (event_type, shard) bucket, the bucket's events
    * round-trip through a REAL Arrow file — written by Arrow Java in
    * multiple record batches, then decoded by this facade's ranged
    * reader (footer and block bounds, Arrow Java's message and vector
    * loading, the Spark face; requires verify every row) — plus
    * require-only zstd, map and run-end-encoded lanes over a 64-row
    * prefix, each written by Arrow Java with ZSTD bodies. Aggregates
    * are closed-form so DuckDB recomputes them independently.
    *
    * Scale shape: buckets are `event_id DIV 4096` — task count grows
    * with data (SF-invariant per-task work), the q_cdx/q_zip rule. */
  def arrowQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val (schema, batches) = readFileBytes(buildWithArrowJava(sorted), "q_arrow bucket")
      req(schema.getFields.asScala.map(_.getName) == Seq("id", "tag", "val", "flag"), "arrow lane: schema drift")
      val rows = batches.flatten
      require(rows.length == sorted.length, s"arrow lane: row count drift ${rows.length}/${sorted.length}")
      rows.indices.foreach { i =>
        val id = rows(i).getLong(0)
        require(id == sorted(i), s"arrow lane: id drift at $i")
        require(rows(i).getString(1) == s"t${id % 101}", s"arrow lane: tag drift for $id")
        require(rows(i).getDouble(2) == (id % 7).toDouble, s"arrow lane: val drift for $id")
        require(rows(i).getBoolean(3) == (id % 3 == 0), s"arrow lane: flag drift for $id")
      }
      val chars = rows.map(_.getString(1).length.toLong).sum
      val valSum = sorted.map(_ % 7).sum
      if (sorted.nonEmpty) {
        val prefix = sorted.take(64)
        // require-only lanes: id (zstd), map<utf8,int64> of
        // {"id"-><id>, "mod"-><id%97>} and run-end-encoded (id DIV 16),
        // naturally runny over the sorted bucket
        val back = readFileBytes(buildLanesWithArrowJava(prefix), "q_arrow lanes")._2.flatten
        require(back.length == prefix.length, "arrow lane: compressed row drift")
        back.indices.foreach { j =>
          val r = back(j)
          require(r.getLong(0) == prefix(j), "arrow lane: compressed value drift")
          require(r.getMap[String, Long](1) == Map("id" -> prefix(j), "mod" -> prefix(j) % 97),
            "arrow lane: map entry drift")
          require(r.getLong(2) == prefix(j) / 16, "arrow lane: ree value drift")
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

  private[sources] def fileWriter(root: VectorSchemaRoot, out: java.nio.channels.WritableByteChannel,
      codec: CodecType): ArrowFileWriter =
    new ArrowFileWriter(root, null, out, java.util.Map.of[String, String](), IpcOption.DEFAULT,
      if (codec == CodecType.NO_COMPRESSION) NoCompressionCodec.Factory.INSTANCE else CommonsCompressionFactory.INSTANCE,
      codec)

  /** File-format bytes Arrow Java writes from a fresh root of
    * `schema`: `fill(root, b)` sets batch b's rows, or returns false
    * when there is none. */
  private def javaFile(schema: Schema, codec: CodecType)(fill: (VectorSchemaRoot, Int) => Boolean): Array[Byte] = {
    Using.resource(new RootAllocator()) { alloc =>
      Using.resource(VectorSchemaRoot.create(schema, alloc)) { root =>
        val bos = new java.io.ByteArrayOutputStream()
        val w = fileWriter(root, java.nio.channels.Channels.newChannel(bos), codec)
        w.start()
        var b = 0
        while (fill(root, b)) { w.writeBatch(); b += 1 }
        w.end(); w.close()
        bos.toByteArray
      }
    }
  }

  /** Build the lane file with Arrow Java — the conforming reference
    * producer — in 512-row record batches. */
  private[graft] def buildWithArrowJava(ids: Array[Long]): Array[Byte] =
    javaFile(new Schema(java.util.List.of(
      Field.notNullable("id", new ArrowType.Int(64, true)),
      Field.nullable("tag", ArrowType.Utf8.INSTANCE),
      Field.nullable("val", new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)),
      Field.nullable("flag", ArrowType.Bool.INSTANCE))), CodecType.NO_COMPRESSION) { (root, b) =>
      val p = b * 512
      // an empty bucket still writes one empty batch
      (p < ids.length || (b == 0 && ids.isEmpty)) && {
        val m = math.min(512, ids.length - p)
        root.allocateNew()
        (0 until m).foreach { r =>
          val id = ids(p + r)
          root.getVector(0).asInstanceOf[BigIntVector].setSafe(r, id)
          root.getVector(1).asInstanceOf[VarCharVector].setSafe(r, s"t${id % 101}".getBytes(UTF_8))
          root.getVector(2).asInstanceOf[Float8Vector].setSafe(r, (id % 7).toDouble)
          root.getVector(3).asInstanceOf[BitVector].setSafe(r, if (id % 3 == 0) 1 else 0)
        }
        root.setRowCount(m)
        true
      }
    }

  /** One ZSTD batch of `id: int64`, `m: map<utf8,int64>` and
    * `r: ree<int32, int64>` (id DIV 16, run-length compressed),
    * written by Arrow Java. */
  private def buildLanesWithArrowJava(ids: Array[Long]): Array[Byte] = {
    val int64 = new ArrowType.Int(64, true)
    val entries = new Field("entries", FieldType.notNullable(ArrowType.Struct.INSTANCE), java.util.List.of(
      Field.notNullable("key", ArrowType.Utf8.INSTANCE), Field.nullable("value", int64)))
    javaFile(new Schema(java.util.List.of(
      Field.notNullable("id", int64),
      new Field("m", FieldType.notNullable(new ArrowType.Map(false)), java.util.List.of(entries)),
      new Field("r", FieldType.notNullable(ArrowType.RunEndEncoded.INSTANCE), java.util.List.of(
        Field.notNullable("run_ends", new ArrowType.Int(32, true)), Field.notNullable("values", int64))))),
      CodecType.ZSTD) { (root, b) =>
      b == 0 && {
        root.allocateNew()
        val m = root.getVector(1).asInstanceOf[MapVector]
        val kv = m.getDataVector.asInstanceOf[StructVector]
        ids.indices.foreach { i =>
          root.getVector(0).asInstanceOf[BigIntVector].setSafe(i, ids(i))
          val start = m.startNewValue(i)
          Seq("id" -> ids(i), "mod" -> ids(i) % 97).zipWithIndex.foreach { case ((k, v), j) =>
            kv.setIndexDefined(start + j)
            kv.getChildByOrdinal(0).asInstanceOf[VarCharVector].setSafe(start + j, k.getBytes(UTF_8))
            kv.getChildByOrdinal(1).asInstanceOf[BigIntVector].setSafe(start + j, v)
          }
          m.endValue(i, 2)
        }
        val ree = root.getVector(2).asInstanceOf[RunEndEncodedVector]
        val runs = ids.indices.filter(i => i + 1 == ids.length || ids(i + 1) / 16 != ids(i) / 16)
        runs.zipWithIndex.foreach { case (last, j) =>
          ree.getRunEndsVector.asInstanceOf[IntVector].setSafe(j, last + 1)
          ree.getValuesVector.asInstanceOf[BigIntVector].setSafe(j, ids(last) / 16)
        }
        ree.getRunEndsVector.setValueCount(runs.length)
        ree.getValuesVector.setValueCount(runs.length)
        root.setRowCount(ids.length)
        true
      }
    }
  }
}
