package graft

import scala.jdk.CollectionConverters._

import graft.ArrowJava._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc.ArrowError
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow ListView / LargeListView conformance. Producer/validator is
  * LIVE Arrow Java (ListViewVector ships in arrow-vector 18.3) —
  * including genuinely OVERLAPPING and out-of-order views, which the
  * dense List layout cannot express and which prove the reader honors
  * the offsets+sizes semantics rather than assuming monotonic
  * offsets. The spec producer writes the canonical dense form over
  * both widths and every codec. */
class ArrowListViewSpec extends AnyFunSuite {

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  private def cols(batches: Seq[IndexedSeq[Row]]): Array[Vector[Any]] = columns(batches)

  // child data [10,20,30,40,50,60]; views: overlapping + out of order
  private val childData = Array(10, 20, 30, 40, 50, 60)
  private val views = Vector[(Int, Int)]((2, 3), (0, 5), (-1, -1) /* null */, (4, 0), (1, 4))
  private val expected: Vector[Any] = views.map {
    case (-1, -1) => null
    case (o, s) => childData.slice(o, o + s).map(java.lang.Integer.valueOf).toVector
  }

  /** Arrow Java builds a list-view column with raw offsets/sizes. */
  private def javaListViewFile(): Array[Byte] = {
    import org.apache.arrow.vector.IntVector
    import org.apache.arrow.vector.complex.ListViewVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val a = alloc()
    try {
      val childField = new Field("item", FieldType.nullable(new ArrowType.Int(32, true)), null)
      val lvField = new Field("lv", FieldType.nullable(ArrowType.ListView.INSTANCE),
        java.util.List.of(childField))
      val lv = new ListViewVector(lvField, a, null)
      lv.initializeChildrenFromFields(java.util.List.of(childField))
      lv.allocateNew()
      val child = lv.getDataVector.asInstanceOf[IntVector]
      child.allocateNew(childData.length)
      for (j <- childData.indices) child.setSafe(j, childData(j))
      child.setValueCount(childData.length)
      for (i <- views.indices) {
        views(i) match {
          case (-1, -1) => lv.setNull(i)
          case (o, s) => lv.setValidity(i, 1); lv.setOffset(i, o); lv.setSize(i, s)
        }
      }
      lv.setValueCount(views.length)
      val key = new IntVector("k", a)
      key.allocateNew(views.length)
      for (i <- views.indices) key.setSafe(i, i)
      key.setValueCount(views.length)
      val root = org.apache.arrow.vector.VectorSchemaRoot.of(lv, key)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        bos.toByteArray
      } finally root.close()
    } finally a.close()
  }

  test("Arrow Java list-view with OVERLAPPING + out-of-order views decodes") {
    val (schema, batches) = ArrowIpc.readFileBytes(javaListViewFile())
    assert(schema.getFields.get(0).getType == ArrowType.ListView.INSTANCE)
    val c = cols(batches)
    for (i <- views.indices) assert(c(0)(i) == expected(i), s"lv[$i]: got ${c(0)(i)}")
  }

  // ------------------------------------------ Arrow Java as spec producer

  private def lvType(wide: Boolean): ArrowType =
    if (wide) ArrowType.LargeListView.INSTANCE else ArrowType.ListView.INSTANCE
  private def lvSchema(wide: Boolean) =
    schema(field("lv", lvType(wide), kids = Seq(int32("item"))), int32("k", nullable = false))

  private def lvColumns(n: Int): Array[Array[Any]] = Array(
    Array.tabulate[Any](n)(i =>
      if (i % 7 == 3) null
      else Vector.tabulate(i % 5)(j => java.lang.Integer.valueOf(i * 10 + j))),
    Array.tabulate[Any](n)(i => java.lang.Integer.valueOf(i)))

  test("round-trip: our dense list-view writer -> our reader, both widths, all codecs") {
    for (wide <- Seq(false, true); codec <- Codecs) {
      val bytes = file(lvSchema(wide), Seq((lvColumns(23), 23)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      assert(schema.getFields.get(0).getType == lvType(wide))
      val c = cols(batches)
      val exp = lvColumns(23)(0)
      for (i <- 0 until 23) assert(c(0)(i) == exp(i), s"wide=$wide codec=$codec lv[$i]")
    }
  }

  test("Spark face: list-view -> ArrayType; scan + pruned read") {
    val spark = TestSpark.spark
    val bytes = javaListViewFile()
    val dir = java.nio.file.Files.createTempDirectory("arrow_lv").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "lv.arrow").toPath, bytes)
      val df = spark.read.format("arrowipc").load(new java.io.File(dir, "lv.arrow").getPath)
      assert(df.schema("lv").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      val rows = df.collect().sortBy(_.getInt(1))
      for (i <- views.indices) {
        if (expected(i) == null) assert(rows(i).isNullAt(0), s"row $i")
        else assert(rows(i).getSeq[Int](0) == expected(i).asInstanceOf[Vector[Integer]].map(_.intValue), s"row $i")
      }
      // pruned: skip path consumes 3 buffers + child without decoding
      assert(df.select("k").collect().map(_.getInt(0)).sorted.toSeq == views.indices.toSeq)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("hostility: byte-flip fuzz over a list-view file raises ArrowError or decodes") {
    val good = file(lvSchema(wide = false), Seq((lvColumns(23), 23)))
    val rnd = new scala.util.Random(184)
    for (_ <- 0 until 400) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      try { ArrowIpc.readFileBytes(mutated); () }
      catch { case _: ArrowError => () }
    }
  }
}
