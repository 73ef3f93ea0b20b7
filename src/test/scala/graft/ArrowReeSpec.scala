package graft

import scala.jdk.CollectionConverters._

import graft.ArrowJava._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc.ArrowError
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow run-end-encoded (REE) conformance.
  *
  * Producer/validator is LIVE Arrow Java (RunEndEncodedVector ships
  * in arrow-vector 18.3 on the Spark classpath): Arrow Java builds
  * REE files — by hand and through the spec producer, over every
  * codec — that the facade expands. pyarrow 16.1 cannot be
  * the producer here — its RunEndEncodedArray.from_arrays binding is
  * broken in-container (NOTES_r18 probe), which is why this lane's
  * cross-ecosystem check is Java-only. */
class ArrowReeSpec extends AnyFunSuite {

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // run layout used throughout: 8 runs over 37 logical rows
  private val runEnds = Array(2, 3, 7, 12, 20, 21, 30, 37)
  /** run j carries value j*7, null when j%3 == 2 */
  private def runValue(j: Int): java.lang.Long =
    if (j % 3 == 2) null else java.lang.Long.valueOf(j * 7L)
  private def expected(i: Int): java.lang.Long = {
    val j = runEnds.indexWhere(_ > i)
    runValue(j)
  }

  private def cols(batches: Seq[IndexedSeq[Row]]): Array[Vector[Any]] = columns(batches)

  // ---------------------------------------------- Arrow Java as producer

  /** Build a 2-column file (r: ree<int32, int64>, k: int64) with
    * Arrow Java and return its file-format bytes. */
  private def javaReeFile(): Array[Byte] = {
    import org.apache.arrow.vector.{BigIntVector, IntVector}
    import org.apache.arrow.vector.complex.RunEndEncodedVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val a = alloc()
    try {
      val reField = new Field("run_ends",
        FieldType.notNullable(new ArrowType.Int(32, true)), null)
      val valField = new Field("values",
        FieldType.nullable(new ArrowType.Int(64, true)), null)
      val reeField = new Field("r",
        FieldType.notNullable(ArrowType.RunEndEncoded.INSTANCE),
        java.util.List.of(reField, valField))
      val ree = new RunEndEncodedVector(reeField, a, null)
      ree.initializeChildrenFromFields(java.util.List.of(reField, valField))
      val re = ree.getRunEndsVector.asInstanceOf[IntVector]
      val vv = ree.getValuesVector.asInstanceOf[BigIntVector]
      re.allocateNew(runEnds.length); vv.allocateNew(runEnds.length)
      for (j <- runEnds.indices) {
        re.setSafe(j, runEnds(j))
        val v = runValue(j)
        if (v == null) vv.setNull(j) else vv.setSafe(j, v.longValue)
      }
      re.setValueCount(runEnds.length); vv.setValueCount(runEnds.length)
      ree.setValueCount(37)
      val key = new BigIntVector("k", a)
      key.allocateNew(37)
      for (i <- 0 until 37) key.setSafe(i, i.toLong)
      key.setValueCount(37)
      val root = org.apache.arrow.vector.VectorSchemaRoot.of(ree, key)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        bos.toByteArray
      } finally root.close()
    } finally a.close()
  }

  test("Arrow Java REE file decodes: runs expand to the values type, nulls ride null runs") {
    val (schema, batches) = ArrowIpc.readFileBytes(javaReeFile())
    val r = schema.getFields.get(0)
    assert(r.getType == ArrowType.RunEndEncoded.INSTANCE, s"got ${r.getType}")
    assert(r.getChildren.asScala.map(_.getName) == Seq("run_ends", "values"))
    val c = cols(batches)
    assert(c(0).length == 37)
    for (i <- 0 until 37) {
      assert(c(0)(i) == expected(i), s"r[$i]: got ${c(0)(i)} want ${expected(i)}")
      assert(c(1)(i) == i.toLong)
    }
  }

  // ------------------------------------------ Arrow Java as spec producer

  private def ree(runEnds: ArrowType, runEndsNullable: Boolean, valType: ArrowType, valNullable: Boolean) =
    field("r", ArrowType.RunEndEncoded.INSTANCE, nullable = false, kids = Seq(
      field("run_ends", runEnds, runEndsNullable), field("values", valType, valNullable)))
  private val int32Type = new ArrowType.Int(32, true)
  private val int64Type = new ArrowType.Int(64, true)

  private def reeSchema(valType: ArrowType, valNullable: Boolean) =
    schema(ree(int32Type, runEndsNullable = false, valType, valNullable), int64("k", nullable = false))

  private def plainColumns(n: Int): Array[Array[Any]] = Array(
    Array.tabulate[Any](n)(i => expected(i)),
    Array.tabulate[Any](n)(i => java.lang.Long.valueOf(i.toLong)))

  test("round-trip: our writer run-length compresses, our reader expands — all codecs") {
    for (codec <- Codecs) {
      val bytes = file(reeSchema(int64Type, valNullable = true), Seq((plainColumns(37), 37)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      assert(schema.getFields.get(0).getType == ArrowType.RunEndEncoded.INSTANCE)
      val c = cols(batches)
      for (i <- 0 until 37) assert(c(0)(i) == expected(i), s"codec=$codec r[$i]")
    }
  }

  test("round-trip: utf8 values child (string runs)") {
    val colVals = Array.tabulate[Any](37) { i =>
      val e = expected(i); if (e == null) null else s"s${e.longValue}"
    }
    val bytes = file(reeSchema(ArrowType.Utf8.INSTANCE, valNullable = true),
      Seq((Array(colVals, plainColumns(37)(1)), 37)))
    val (_, batches) = ArrowIpc.readFileBytes(bytes)
    val c = cols(batches)
    for (i <- 0 until 37) assert(c(0)(i) == colVals(i), s"r[$i]")
  }

  // ------------------------------------------------------------ Spark face

  test("Spark face: REE column surfaces as its values type; scan() expands") {
    val spark = TestSpark.spark
    val bytes = file(reeSchema(int64Type, valNullable = true), Seq((plainColumns(37), 37)))
    val schema = ArrowIpc.readFileBytes(bytes)._1
    val st = ArrowIpc.sparkSchema(schema)
    assert(st.fields(0).dataType == org.apache.spark.sql.types.LongType)
    // values child is nullable, so the faced column must be nullable
    // even though the REE parent declares non-nullable
    assert(st.fields(0).nullable)
    val dir = java.nio.file.Files.createTempDirectory("arrow_ree").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "ree.arrow").toPath, bytes)
      val df = spark.read.format("arrowipc").load(new java.io.File(dir, "ree.arrow").getPath)
      val rows = df.collect().sortBy(_.getLong(1))
      assert(rows.length == 37)
      for (i <- 0 until 37) {
        val e = expected(i)
        if (e == null) assert(rows(i).isNullAt(0), s"row $i")
        else assert(rows(i).getLong(0) == e.longValue, s"row $i")
      }
      // pruned read skips the REE column entirely (skipColumn path)
      val ks = df.select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until 37L))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  // ------------------------------------------------------------- hostility

  test("hostility: malformed REE raises ArrowError, never raw errors") {
    // schema-level: nullable run_ends child must refuse at parse
    val badSchema = schema(ree(int32Type, runEndsNullable = true, int64Type, valNullable = true))
    val badBytes = file(badSchema, Seq((Array(plainColumns(2)(0)), 2)))
    intercept[ArrowError] { ArrowIpc.readFileBytes(badBytes) }
    // float run_ends must refuse at parse (Arrow Java will not build
    // such a vector, so the schema travels alone in a stream)
    val floatEnds = schema(ree(new ArrowType.FloatingPoint(org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE),
      runEndsNullable = false, int64Type, valNullable = true))
    val schemaOnly = new java.io.ByteArrayOutputStream()
    val ch = new org.apache.arrow.vector.ipc.WriteChannel(java.nio.channels.Channels.newChannel(schemaOnly))
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(ch, floatEnds)
    ch.writeIntLittleEndian(0)
    intercept[ArrowError] { ArrowIpc.readStreamBytes(schemaOnly.toByteArray) }
    // byte-flip fuzz over a valid REE file: equal-bytes or ArrowError
    val good = file(reeSchema(int64Type, valNullable = true), Seq((plainColumns(37), 37)))
    val rnd = new scala.util.Random(182)
    for (_ <- 0 until 400) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      try { ArrowIpc.readFileBytes(mutated); () }
      catch { case _: ArrowError => () }
    }
  }
}
