package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex._
import org.apache.arrow.vector.compression.{CompressionCodec, NoCompressionCodec}
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter, ArrowWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

/** Test producer: Arrow Java writes IPC files and streams from columns
  * of plain values, so the specs can build inputs of every type the
  * reader faces with the reference implementation.
  *
  * Values per column: boxed numbers, Boolean, String, Array[Byte];
  * `Seq` for list, fixed-size-list and list-view rows, for struct rows
  * (positional), for map rows (`Seq(key, value)` entries) and for dense
  * union rows (`Seq(typeId, value)`); run-end-encoded columns take their
  * expanded values and are run-length compressed here; null is a null
  * slot. */
object ArrowJava {

  val Lz4: CodecType = CodecType.LZ4_FRAME
  val Zstd: CodecType = CodecType.ZSTD
  val Plain: CodecType = CodecType.NO_COMPRESSION
  val Codecs: Seq[CodecType] = Seq(Plain, Lz4, Zstd)

  // ---------------------------------------------------------- field shorthands

  def field(name: String, t: ArrowType, nullable: Boolean = true, kids: Seq[Field] = Nil): Field =
    new Field(name, new FieldType(nullable, t, null), if (kids.isEmpty) null else kids.asJava)
  def int64(name: String, nullable: Boolean = true): Field = field(name, new ArrowType.Int(64, true), nullable)
  def int32(name: String, nullable: Boolean = true): Field = field(name, new ArrowType.Int(32, true), nullable)
  def utf8(name: String, nullable: Boolean = true): Field = field(name, ArrowType.Utf8.INSTANCE, nullable)
  def float64(name: String, nullable: Boolean = true): Field =
    field(name, new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE), nullable)
  def float32(name: String, nullable: Boolean = true): Field =
    field(name, new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE), nullable)
  def schema(fields: Field*): Schema = new Schema(fields.asJava)

  // ------------------------------------------------------------------ writing

  /** File-format bytes: one record batch per `(columns, rows)`. */
  def file(schema: Schema, batches: Seq[(Array[Array[Any]], Int)], codec: CodecType = Plain): Array[Byte] =
    write(schema, batches, (root, ch) => new ArrowFileWriter(root, null, ch, java.util.Map.of[String, String](),
      IpcOption.DEFAULT, factory(codec), codec))

  /** Stream-format bytes: one record batch per `(columns, rows)`. */
  def stream(schema: Schema, batches: Seq[(Array[Array[Any]], Int)], codec: CodecType = Plain): Array[Byte] =
    write(schema, batches, (root, ch) => new ArrowStreamWriter(root, null, ch, IpcOption.DEFAULT,
      factory(codec), codec))

  private def factory(codec: CodecType): CompressionCodec.Factory =
    if (codec == Plain) NoCompressionCodec.Factory.INSTANCE else CommonsCompressionFactory.INSTANCE

  /** `bytes` (file format) read and written again by Arrow Java with
    * `codec`. Arrow Java's sparse UnionVector writes minor-type ordinals
    * instead of declared type ids, so sparse unions come this way. */
  def rewrite(bytes: Array[Byte], codec: CodecType): Array[Byte] = {
    val alloc = new RootAllocator()
    try {
      val r = new org.apache.arrow.vector.ipc.ArrowFileReader(
        new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes), alloc)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(r.getVectorSchemaRoot, null, java.nio.channels.Channels.newChannel(bos),
          java.util.Map.of[String, String](), IpcOption.DEFAULT, factory(codec), codec)
        w.start()
        while (r.loadNextBatch()) w.writeBatch()
        w.end(); w.close()
        bos.toByteArray
      } finally r.close()
    } finally alloc.close()
  }

  private def write(schema: Schema, batches: Seq[(Array[Array[Any]], Int)],
      writer: (VectorSchemaRoot, java.nio.channels.WritableByteChannel) => ArrowWriter): Array[Byte] = {
    val alloc = new RootAllocator()
    try {
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = writer(root, java.nio.channels.Channels.newChannel(bos))
        w.start()
        batches.foreach { case (cols, rows) =>
          root.allocateNew()
          cols.indices.foreach(c => fill(root.getVector(c), cols(c).toIndexedSeq))
          root.setRowCount(rows)
          w.writeBatch()
        }
        w.end(); w.close()
        bos.toByteArray
      } finally root.close()
    } finally alloc.close()
  }

  /** Set `v` to `vals`, child vectors first. */
  def fill(v: FieldVector, vals: IndexedSeq[Any]): Unit = {
    val n = vals.length
    def rows(f: (Int, Any) => Unit): Unit = vals.indices.foreach(i => if (vals(i) == null) v.setNull(i) else f(i, vals(i)))
    def seq(x: Any): Seq[Any] = x.asInstanceOf[Seq[Any]]
    v match {
      case x: IntVector => rows((i, a) => x.setSafe(i, a.asInstanceOf[Number].intValue))
      case x: BigIntVector => rows((i, a) => x.setSafe(i, a.asInstanceOf[Number].longValue))
      case x: Float4Vector => rows((i, a) => x.setSafe(i, a.asInstanceOf[Number].floatValue))
      case x: Float8Vector => rows((i, a) => x.setSafe(i, a.asInstanceOf[Number].doubleValue))
      case x: BitVector => rows((i, a) => x.setSafe(i, if (a.asInstanceOf[Boolean]) 1 else 0))
      case x: VarCharVector => rows((i, a) => x.setSafe(i, a.toString.getBytes(UTF_8)))
      case x: ViewVarCharVector => rows((i, a) => x.setSafe(i, a.asInstanceOf[String].getBytes(UTF_8)))
      case x: VarBinaryVector => rows((i, a) => x.setSafe(i, a.asInstanceOf[Array[Byte]]))
      case x: ViewVarBinaryVector => rows((i, a) => x.setSafe(i, a.asInstanceOf[Array[Byte]]))
      case x: FixedSizeListVector =>
        val k = x.getListSize
        fill(x.getDataVector, vals.flatMap(a => if (a == null) Seq.fill(k)(null) else seq(a)))
        rows((i, _) => x.setNotNull(i))
      case x: ListVector => // also MapVector: entries are struct rows
        fill(x.getDataVector, vals.flatMap(a => if (a == null) Nil else seq(a)))
        rows((i, a) => { x.startNewValue(i); x.endValue(i, seq(a).length) })
      case x: ListViewVector =>
        fill(x.getDataVector, vals.flatMap(a => if (a == null) Nil else seq(a)))
        var at = 0
        rows((i, a) => { x.setValidity(i, 1); x.setOffset(i, at); x.setSize(i, seq(a).length); at += seq(a).length })
      case x: LargeListViewVector =>
        fill(x.getDataVector, vals.flatMap(a => if (a == null) Nil else seq(a)))
        var at = 0
        rows((i, a) => { x.setValidity(i, 1); x.setOffset(i, at); x.setSize(i, seq(a).length); at += seq(a).length })
      case x: StructVector =>
        x.getChildrenFromFields.asScala.zipWithIndex.foreach { case (c, j) =>
          fill(c, vals.map(a => if (a == null) null else seq(a)(j)))
        }
        rows((i, _) => x.setIndexDefined(i))
      case x: DenseUnionVector =>
        val ids = typeIds(x.getField)
        val kids = x.getChildrenFromFields.asScala.toIndexedSeq
        val picked = ids.map(t => vals.filter(a => seq(a).head == t).map(a => seq(a)(1)))
        kids.indices.foreach(j => fill(kids(j), picked(j)))
        val next = Array.fill(ids.length)(0)
        vals.indices.foreach { i =>
          val t = seq(vals(i)).head.asInstanceOf[Int]
          x.setTypeId(i, t.toByte)
          val j = ids.indexOf(t)
          x.setOffset(i, if (j < 0) 0 else next(j))
          if (j >= 0) next(j) += 1
        }
      case x: RunEndEncodedVector =>
        val lasts = vals.indices.filter(i => i + 1 == n || vals(i + 1) != vals(i))
        fill(x.getRunEndsVector, lasts.map(i => i + 1))
        fill(x.getValuesVector, lasts.map(vals))
      case x => throw new IllegalArgumentException(s"ArrowJava.fill: no filler for ${x.getClass.getSimpleName}")
    }
    v.setValueCount(n)
  }

  private def typeIds(f: Field): Seq[Int] = {
    val u = f.getType.asInstanceOf[ArrowType.Union]
    Option(u.getTypeIds).map(_.toSeq).getOrElse(f.getChildren.asScala.indices)
  }

  // ------------------------------------------------------------------ reading

  /** Rows of a reader result flattened across batches, column-major. */
  def columns(batches: Seq[IndexedSeq[org.apache.spark.sql.Row]]): Array[Vector[Any]] = {
    val rows = batches.flatten.toVector
    val n = if (rows.isEmpty) 0 else rows.head.length
    Array.tabulate(n)(c => rows.map(_.get(c)))
  }
}
