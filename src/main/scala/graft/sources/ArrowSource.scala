package graft.sources

import java.nio.channels.FileChannel
import java.nio.file.Paths
import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face for Arrow IPC files (`.arrow`, Feather v2):
  * `spark.read.format("arrowipc").load(path...)` and
  * `df.write.format("arrowipc").save(dir)`.
  *
  * Reads take the schema from the file footer (tail-only driver
  * reads) and plan one InputPartition per record batch. Pruned
  * columns' buffers are dropped before Arrow Java loads a batch
  * ([[ArrowIpc]]'s `readBatch`), so their LZ4/ZSTD work never runs;
  * ArrowSourceSpec poisons a pruned column's buffer to prove it.
  *
  * Writes are one `part-NNNNN.arrow` shard per partition through
  * ArrowFileWriter, committed by tmp-rename so failed attempts never
  * surface; `option("codec", "zstd"|"lz4")` compresses bodies and
  * SaveMode.Overwrite maps to SupportsTruncate. Streams (`.arrows`)
  * have no index and stay on [[ArrowIpc.readStreamBytes]]. */
final class ArrowSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrowipc"

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw =
      if (options.containsKey("paths")) graft.core.MiniJson
        .arr(graft.core.MiniJson.parse(options.get("paths")))
        .map(graft.core.MiniJson.str)
      else Option(options.get("path")).toSeq
    val expanded = raw.flatMap { p =>
      val f = new java.io.File(p)
      if (f.isDirectory)
        f.listFiles().toSeq
          .filter(c => c.isFile && c.getName.endsWith(".arrow"))
          .map(_.getPath)
          .sorted
      else Seq(p)
    }
    require(expanded.nonEmpty, "arrowipc: no input paths")
    expanded
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArrowIpc.sparkSchema(ArrowIpc.footer(paths(options).head).getSchema)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // reads expand paths eagerly; writes target a (possibly not yet
    // existing) directory, so keep the raw path for the write side
    val rawPath = Option(opts.get("path"))
    val expanded = try paths(opts)
    catch { case _: IllegalArgumentException if rawPath.isDefined => Seq.empty }
    val codec = Option(opts.get("codec")).getOrElse("none")
    ArrowWrite.codecType(codec) // refuse an unknown codec at plan time
    new ArrowTable(expanded, rawPath, schema, codec)
  }

  override def supportsExternalMetadata(): Boolean = true
}

private final class ArrowTable(
    paths: Seq[String],
    rawPath: Option[String],
    tableSchema: StructType,
    writeCodec: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = {
    val p = paths.headOption.orElse(rawPath).getOrElse("?")
    s"arrowipc($p${if (paths.length > 1) s" +${paths.length - 1}" else ""})"
  }
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(paths.nonEmpty, "arrowipc: no input files to read")
    new ArrowScanBuilder(paths, tableSchema)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val dir = rawPath.getOrElse(throw new IllegalArgumentException("arrowipc: write needs a single directory path"))
    new ArrowWriteBuilder(dir, info.schema(), writeCodec)
  }
}

private final class ArrowScanBuilder(paths: Seq[String], full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new ArrowScan(paths, required)
}

private final case class ArrowBatchPartition(path: String, batchIdx: Int) extends InputPartition

private final class ArrowScan(paths: Seq[String], required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"arrowipc ${paths.length} file(s), columns [${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap { p =>
      // driver cost: one footer (tail) read per file — never batch data
      ArrowIpc.footer(p).getRecordBatches.asScala.indices.map(i => ArrowBatchPartition(p, i))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(required)
}

private final class ArrowReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ArrowBatchPartition]
    new ArrowPartitionReader(p.path, p.batchIdx, required)
  }
}

private final class ArrowPartitionReader(path: String, batchIdx: Int, required: StructType)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val (schema, batch) = ArrowIpc.readBatch(path, batchIdx, required.fieldNames.toSet)
    // rows hold the kept columns in file order; face them in `required` order
    val fileOrder = schema.getFields.asScala.map(_.getName).filter(required.fieldNames.toSet)
    require(fileOrder.length == required.length, s"arrowipc: schema drift in $path")
    val at = required.fieldNames.map(fileOrder.indexOf(_))
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(required)
    batch.iterator.map(r => toCatalyst(Row.fromSeq(at.map(r.get))).asInstanceOf[InternalRow])
  }

  private var current: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { current = rows.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

// --------------------------------------------------------------- write side

/** The write side through ArrowFileWriter: Spark's write matrix as
  * Arrow fields and Spark rows into vectors. */
private[sources] object ArrowWrite {
  import org.apache.arrow.memory.RootAllocator
  import org.apache.arrow.vector._
  import org.apache.arrow.vector.complex.{ListVector, MapVector, StructVector}
  import org.apache.arrow.vector.compression.CompressionUtil.CodecType
  import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
  import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
  import org.apache.spark.sql.types._

  /** Spark type -> Arrow field, the write matrix: unsupported types
    * refuse at plan time. decimal(20,0) writes back as u64 and
    * timestamps as UTC microseconds. */
  def arrowField(name: String, dt: DataType, nullable: Boolean): Field = {
    def leaf(t: ArrowType) = new Field(name, new FieldType(nullable, t, null), null)
    def nested(t: ArrowType, kids: Field*) = new Field(name, new FieldType(nullable, t, null), kids.asJava)
    dt match {
      case ByteType => leaf(new ArrowType.Int(8, true))
      case ShortType => leaf(new ArrowType.Int(16, true))
      case IntegerType => leaf(new ArrowType.Int(32, true))
      case LongType => leaf(new ArrowType.Int(64, true))
      case FloatType => leaf(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => leaf(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => leaf(ArrowType.Utf8.INSTANCE)
      case BinaryType => leaf(ArrowType.Binary.INSTANCE)
      case BooleanType => leaf(ArrowType.Bool.INSTANCE)
      case d: DecimalType if d.precision == 20 && d.scale == 0 => leaf(new ArrowType.Int(64, false))
      case DateType => leaf(new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY))
      case TimestampType => leaf(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      case ArrayType(et, cn) => nested(ArrowType.List.INSTANCE, arrowField("item", et, cn))
      case st: StructType => nested(ArrowType.Struct.INSTANCE, st.fields.map(c => arrowField(c.name, c.dataType, c.nullable)): _*)
      case MapType(kt, vt, vcn) =>
        nested(new ArrowType.Map(false), new Field("entries", new FieldType(false, ArrowType.Struct.INSTANCE, null),
          java.util.List.of(arrowField("key", kt, nullable = false), arrowField("value", vt, vcn))))
      case other => throw new IllegalArgumentException(s"arrowipc write: unsupported type $other for '$name'")
    }
  }

  def codecType(name: String): CodecType = name.toLowerCase match {
    case "none" | "" => CodecType.NO_COMPRESSION
    case "lz4" => CodecType.LZ4_FRAME
    case "zstd" => CodecType.ZSTD
    case other => throw new IllegalArgumentException(s"arrowipc: unknown codec '$other' (none|lz4|zstd)")
  }

  private val BatchRows = 4096

  /** Writes Spark rows of `schema` as an Arrow IPC file through
    * ArrowFileWriter, in record batches of `BatchRows`; `codec` is
    * none, lz4 or zstd. `finish` ends the file, `close` frees it. */
  final class FileWriter(out: java.nio.channels.WritableByteChannel, schema: StructType, codec: String)
      extends AutoCloseable {
    private val alloc = new RootAllocator()
    private val root = VectorSchemaRoot.create(
      new Schema(schema.fields.map(f => arrowField(f.name, f.dataType, f.nullable)).toSeq.asJava), alloc)
    private val setters = schema.fields.indices.map(c => setter(root.getVector(c), schema.fields(c).dataType))
    private val w = ArrowIpc.fileWriter(root, out, codecType(codec))
    private var n = 0
    w.start()
    root.allocateNew()

    def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      var c = 0
      while (c < setters.length) { setters(c)(r, c, n); c += 1 }
      n += 1
      if (n == BatchRows) flush()
    }

    private def flush(): Unit = { root.setRowCount(n); w.writeBatch(); root.allocateNew(); n = 0 }

    def finish(): Unit = { if (n > 0) flush(); w.end() }

    private var closed = false
    def close(): Unit = if (!closed) { closed = true; try w.close() finally try root.close() finally alloc.close() }
  }

  private type Getters = org.apache.spark.sql.catalyst.expressions.SpecializedGetters

  /** Writes field `ord` of a Spark row or array into slot `i` of `v`. */
  private def setter(v: FieldVector, dt: DataType): (Getters, Int, Int) => Unit = {
    val set: (Getters, Int, Int) => Unit = (v, dt) match {
      case (x: TinyIntVector, _) => (g, o, i) => x.setSafe(i, g.getByte(o))
      case (x: SmallIntVector, _) => (g, o, i) => x.setSafe(i, g.getShort(o))
      case (x: IntVector, _) => (g, o, i) => x.setSafe(i, g.getInt(o))
      case (x: BigIntVector, _) => (g, o, i) => x.setSafe(i, g.getLong(o))
      case (x: Float4Vector, _) => (g, o, i) => x.setSafe(i, g.getFloat(o))
      case (x: Float8Vector, _) => (g, o, i) => x.setSafe(i, g.getDouble(o))
      case (x: VarCharVector, _) => (g, o, i) => x.setSafe(i, g.getUTF8String(o).getBytes)
      case (x: VarBinaryVector, _) => (g, o, i) => x.setSafe(i, g.getBinary(o))
      case (x: BitVector, _) => (g, o, i) => x.setSafe(i, if (g.getBoolean(o)) 1 else 0)
      case (x: UInt8Vector, _) => (g, o, i) =>
        val big = g.getDecimal(o, 20, 0).toJavaBigDecimal.toBigIntegerExact
        require(big.signum >= 0 && big.bitLength <= 64, s"arrowipc write: $big outside uint64")
        x.setSafe(i, big.longValue) // raw two's-complement low 64 bits
      case (x: DateDayVector, _) => (g, o, i) => x.setSafe(i, g.getInt(o))
      // Spark's internal microseconds already floor before the epoch
      case (x: TimeStampMicroTZVector, _) => (g, o, i) => x.setSafe(i, g.getLong(o))
      case (x: MapVector, MapType(kt, vt, _)) =>
        val entries = x.getDataVector.asInstanceOf[StructVector]
        val key = setter(entries.getChildrenFromFields.get(0), kt)
        val value = setter(entries.getChildrenFromFields.get(1), vt)
        (g, o, i) => {
          val m = g.getMap(o)
          val start = x.startNewValue(i)
          (0 until m.numElements).foreach { j =>
            entries.setIndexDefined(start + j)
            key(m.keyArray, j, start + j)
            value(m.valueArray, j, start + j)
          }
          x.endValue(i, m.numElements)
        }
      case (x: ListVector, ArrayType(et, _)) =>
        val item = setter(x.getDataVector, et)
        (g, o, i) => {
          val a = g.getArray(o)
          val start = x.startNewValue(i)
          (0 until a.numElements).foreach(j => item(a, j, start + j))
          x.endValue(i, a.numElements)
        }
      case (x: StructVector, st: StructType) =>
        val kids = st.fields.indices.map(j => setter(x.getChildrenFromFields.get(j), st.fields(j).dataType))
        (g, o, i) => {
          val r = g.getStruct(o, st.length)
          x.setIndexDefined(i)
          kids.indices.foreach(j => kids(j)(r, j, i))
        }
      case (x, t) => throw new IllegalArgumentException(s"arrowipc write: no writer for $t into ${x.getClass.getSimpleName}")
    }
    (g, o, i) => if (g.isNullAt(o)) v.setNull(i) else set(g, o, i)
  }
}

private final class ArrowWriteBuilder(dir: String, schema: StructType, codec: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val t = doTruncate
    new Write {
      // validate the schema at plan time
      schema.fields.foreach(f => ArrowWrite.arrowField(f.name, f.dataType, f.nullable))
      override def toBatch: BatchWrite = new ArrowBatchWrite(dir, schema, codec, t)
    }
  }
}

private final case class ArrowCommitMessage(tmp: String, dst: String) extends WriterCommitMessage

private final class ArrowBatchWrite(dir: String, schema: StructType, codec: String, truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val d = new java.io.File(dir)
    if (!d.exists()) require(d.mkdirs(), s"arrowipc: cannot create $dir")
    if (truncate)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".arrow") || f.getName.endsWith(".tmp"))
        .foreach(_.delete())
    new ArrowWriterFactory(dir, schema, codec)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { m =>
      val c = m.asInstanceOf[ArrowCommitMessage]
      val ok = new java.io.File(c.tmp).renameTo(new java.io.File(c.dst))
      require(ok, s"arrowipc: commit rename ${c.tmp} -> ${c.dst} failed")
    }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ArrowCommitMessage(tmp, _) => new java.io.File(tmp).delete()
      case _ => ()
    }
}

private final class ArrowWriterFactory(dir: String, schema: StructType, codec: String) extends DataWriterFactory {
  override def createWriter(p: Int, task: Long): DataWriter[InternalRow] = new ArrowDataWriter(dir, schema, codec, p, task)
}

/** Writes the partition's rows as 4096-row record batches to
  * `part-NNNNN.arrow.<taskId>.tmp` and hands the rename to the
  * driver-side commit (task-attempt isolation: the tmp name carries
  * the task id, so a zombie attempt never clobbers the committed
  * file). */
private final class ArrowDataWriter(dir: String, schema: StructType, codec: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val dst = f"$dir/part-$partitionId%05d.arrow"
  private val tmp = s"$dst.$taskId.tmp"
  private val out = new ArrowWrite.FileWriter(FileChannel.open(Paths.get(tmp), CREATE, WRITE, TRUNCATE_EXISTING),
    schema, codec)

  override def write(record: InternalRow): Unit = out.write(record)

  override def commit(): WriterCommitMessage = {
    out.finish()
    ArrowCommitMessage(tmp, dst)
  }

  // rows stream into the tmp file as they arrive, so a failed attempt removes it
  override def abort(): Unit = try out.close() finally java.nio.file.Files.deleteIfExists(Paths.get(tmp))
  override def close(): Unit = out.close()
}
