package graft

import scala.jdk.CollectionConverters._

import graft.ArrowJava._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc.ArrowError
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow Utf8View / BinaryView conformance: the 16-byte view structs
  * (length + inline-or-(prefix, bufIdx, offset)) over VARIADIC data
  * buffers, whose per-column count travels in the RecordBatch's
  * variadicBufferCounts field.
  *
  * Producers/validators: committed pyarrow 16.1 fixtures (views.arrow
  * / views_zstd.arrow — pyarrow writes views only on explicit request,
  * never by default) and LIVE Arrow Java 18.3 (ViewVarCharVector /
  * ViewVarBinaryVector) writing view files over every codec. */
class ArrowViewSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/arrow/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes()
    finally in.close()
  }

  private def cols(batches: Seq[IndexedSeq[Row]]): Array[Vector[Any]] = columns(batches)

  /** fixture formulas (tools/gen_arrow_fixtures.py) */
  private def sv(i: Int): String =
    if (i % 7 == 3) null
    else if (i % 3 != 0) s"s$i"
    else s"long-string-payload-beyond-twelve-bytes-$i"
  private def bv(i: Int): Array[Byte] =
    if (i % 5 == 2) null else Array.tabulate(i % 19)(j => ((i + j) % 256).toByte)

  private def checkViews(schema: org.apache.arrow.vector.types.pojo.Schema, batches: Seq[IndexedSeq[Row]],
      n: Int): Unit = {
    assert(schema.getFields.asScala.map(_.getName) == Seq("sv", "bv", "k"))
    assert(schema.getFields.get(0).getType == ArrowType.Utf8View.INSTANCE)
    assert(schema.getFields.get(1).getType == ArrowType.BinaryView.INSTANCE)
    val c = cols(batches)
    assert(c(0).length == n)
    for (i <- 0 until n) {
      assert(c(0)(i) == sv(i), s"sv[$i]: got ${c(0)(i)}")
      if (bv(i) == null) assert(c(1)(i) == null, s"bv[$i] should be null")
      else assert(java.util.Arrays.equals(c(1)(i).asInstanceOf[Array[Byte]], bv(i)), s"bv[$i]")
      assert(c(2)(i) == i.toLong)
    }
  }

  test("views.arrow: pyarrow string_view + binary_view decode (inline + out-of-line, nulls, 3 batches)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("views.arrow"))
    assert(batches.map(_.length) == Seq(16, 16, 5))
    checkViews(schema, batches, 37)
  }

  test("views_zstd.arrow: compressed view bodies decode via the in-tree codec") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("views_zstd.arrow"))
    checkViews(schema, batches, 37)
  }

  private val viewSchema = schema(
    field("sv", ArrowType.Utf8View.INSTANCE), field("bv", ArrowType.BinaryView.INSTANCE), int64("k", nullable = false))

  private def viewColumns(n: Int): Array[Array[Any]] = Array(
    Array.tabulate[Any](n)(sv),
    Array.tabulate[Any](n)(bv),
    Array.tabulate[Any](n)(i => java.lang.Long.valueOf(i.toLong)))

  test("view round-trip: our writer -> our reader, all codecs") {
    for (codec <- Codecs) {
      val bytes = file(viewSchema, Seq((viewColumns(37), 37)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      checkViews(schema, batches, 37)
    }
  }

  test("Arrow Java re-serializes the pyarrow view fixture; our reader decodes its bytes") {
    import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val original = fixture("views.arrow")
    val a = new org.apache.arrow.memory.RootAllocator()
    val javaBytes =
      try {
        val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(original), a)
        try {
          val root = r.getVectorSchemaRoot
          val bos = new java.io.ByteArrayOutputStream()
          val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
          w.start()
          while (r.loadNextBatch()) w.writeBatch()
          w.end(); w.close()
          bos.toByteArray
        } finally r.close()
      } finally a.close()
    val (s1, b1) = ArrowIpc.readFileBytes(javaBytes)
    checkViews(s1, b1, 37)
  }

  test("DSv2 face: view columns read as string/binary; pruning skips a poisoned view column") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("arrow_views")
    try {
      // (the no-decompress proof is ArrowSourceSpec's poison test;
      // views are pruned the same way — here we prove the face reads
      // views and prunes around them)
      val bytes = file(viewSchema, Seq((viewColumns(37), 37)), Zstd)
      java.nio.file.Files.write(dir.resolve("good.arrow"), bytes)
      val df = spark.read.format("arrowipc").load(dir.resolve("good.arrow").toString)
      assert(df.schema.fieldNames.toSeq == Seq("sv", "bv", "k"))
      val rows = df.selectExpr("k", "sv", "bv").collect().sortBy(_.getLong(0))
      assert(rows.length == 37)
      for (i <- 0 until 37) {
        assert(rows(i).getString(1) == sv(i), s"row $i sv")
        if (bv(i) == null) assert(rows(i).get(2) == null)
        else assert(java.util.Arrays.equals(rows(i).getAs[Array[Byte]](2), bv(i)), s"row $i bv")
      }
      val pruned = df.select("k").collect().map(_.getLong(0)).sorted
      assert(pruned.toSeq == (0L until 37L))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.delete(dir)
    }
  }

  test("hostility: bad buffer index / extent / prefix and missing variadic counts raise ArrowError") {
    val good = file(viewSchema, Seq((viewColumns(20), 20)))
    // mutation fuzz: every flip decodes equal-bytes or raises ArrowError
    val rnd = new scala.util.Random(1824)
    for (_ <- 0 until 400) {
      val mu = good.clone()
      val at = rnd.nextInt(mu.length)
      mu(at) = (mu(at) ^ (1 + rnd.nextInt(255))).toByte
      try { ArrowIpc.readFileBytes(mu); () }
      catch { case _: ArrowError => () }
    }
  }
}
