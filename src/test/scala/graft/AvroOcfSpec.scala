package graft

import graft.sources.AvroOcf
import graft.sources.AvroOcf._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Avro OCF conformance, LIVE against avro-java 1.12 (on the Spark
  * classpath) in BOTH directions and across all six codecs (null,
  * deflate, snappy, bzip2, xz, zstandard — snappy-java / commons-
  * compress / XZ for Java / zstd-jni back the java side; our side is
  * the in-tree codecs). Plus the ranged-split scan contract: every
  * split size must yield exactly the whole file's rows. */
class AvroOcfSpec extends AnyFunSuite {

  private val schemaJson =
    """{"type":"record","name":"R","fields":[
      |{"name":"i","type":"int"},
      |{"name":"l","type":"long"},
      |{"name":"f","type":"float"},
      |{"name":"d","type":"double"},
      |{"name":"b","type":"boolean"},
      |{"name":"s","type":"string"},
      |{"name":"by","type":"bytes"},
      |{"name":"fx","type":{"type":"fixed","name":"F8","size":8}},
      |{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}},
      |{"name":"ns","type":["null","string"]},
      |{"name":"gu","type":["int","string"]},
      |{"name":"arr","type":{"type":"array","items":{"type":"record","name":"P","fields":[
      |  {"name":"x","type":"int"},{"name":"y","type":"long"}]}}},
      |{"name":"m","type":{"type":"map","values":"long"}}
      |]}""".stripMargin

  private val N = 53

  // ---- deterministic row formulas (raw-value shape of our decoder)

  private def fxBytes(i: Int): Array[Byte] = Array.tabulate(8)(j => (i + j).toByte)
  private def byBytes(i: Int): Array[Byte] = Array.tabulate(i % 5)(j => (i * 3 + j).toByte)

  private def rawRow(i: Int): Vector[Any] = Vector(
    i,
    i * 1000000007L,
    i * 0.5f,
    i * 0.25,
    i % 2 == 0,
    s"s$i-é中", // non-ASCII exercises UTF-8 length accounting
    byBytes(i),
    fxBytes(i),
    Vector("A", "B", "C")(i % 3),
    if (i % 4 == 0) null else s"n$i",
    if (i % 3 == 0) Vector(0, i * 2) else Vector(1, s"g$i"),
    Vector.tabulate(i % 4)(j => Vector(i + j, (i * j).toLong)),
    (0 until i % 3).map(j => s"k$j" -> (i * 10L + j)).toMap)

  /** normalize byte arrays to Vector[Byte] so deep equality works */
  private def norm(v: Any): Any = v match {
    case a: Array[Byte] => a.toVector
    case s: Seq[_] => s.map(norm)
    case m: Map[_, _] => m.map { case (k, x) => k -> norm(x) }
    case x => x
  }

  // ---- avro-java producer

  private def javaWrite(codec: String, syncInterval: Int = 1 << 14): Array[Byte] = {
    import org.apache.avro.Schema
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new Schema.Parser().parse(schemaJson)
    val pSchema = schema.getField("arr").schema().getElementType
    val fxSchema = schema.getField("fx").schema()
    val eSchema = schema.getField("e").schema()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.fromString(codec))
    w.setSyncInterval(syncInterval)
    val bos = new java.io.ByteArrayOutputStream()
    w.create(schema, bos)
    for (i <- 0 until N) {
      val r = new GenericData.Record(schema)
      val raw = rawRow(i)
      r.put("i", raw(0)); r.put("l", raw(1)); r.put("f", raw(2)); r.put("d", raw(3))
      r.put("b", raw(4)); r.put("s", raw(5))
      r.put("by", java.nio.ByteBuffer.wrap(byBytes(i)))
      r.put("fx", new GenericData.Fixed(fxSchema, fxBytes(i)))
      r.put("e", new GenericData.EnumSymbol(eSchema, raw(8).asInstanceOf[String]))
      r.put("ns", raw(9))
      r.put("gu", raw(10).asInstanceOf[Vector[Any]](1))
      val arr = new java.util.ArrayList[GenericRecord]()
      raw(11).asInstanceOf[Vector[Vector[Any]]].foreach { p =>
        val pr = new GenericData.Record(pSchema)
        pr.put("x", p(0)); pr.put("y", p(1)); arr.add(pr)
      }
      r.put("arr", arr)
      val m = new java.util.HashMap[String, java.lang.Long]()
      raw(12).asInstanceOf[Map[String, Long]].foreach { case (k, v) => m.put(k, v) }
      r.put("m", m)
      w.append(r)
    }
    w.close()
    bos.toByteArray
  }

  private val AllCodecs = Seq("null", "deflate", "snappy", "bzip2", "xz", "zstandard")

  // ------------------------------------- avro-java producer -> our reader

  test("avro-java writes, our reader decodes — all six codecs, values equal") {
    for (codec <- AllCodecs) {
      val bytes = javaWrite(codec)
      val (h, rows) = AvroOcf.readFileBytes(bytes)
      assert(h.codec == codec)
      assert(rows.length == N, s"codec=$codec")
      for (i <- 0 until N)
        assert(norm(rows(i)) == norm(rawRow(i)), s"codec=$codec row $i")
    }
  }

  test("multi-block file (small sync interval) decodes block-for-block") {
    val bytes = javaWrite("deflate", syncInterval = 64)
    val (h, rows) = AvroOcf.readFileBytes(bytes)
    assert(rows.length == N)
    // count blocks: walk with blocksInRange over the whole file
    val tmp = java.io.File.createTempFile("avro_blocks", ".avro")
    try {
      java.nio.file.Files.write(tmp.toPath, bytes)
      val raf = new java.io.RandomAccessFile(tmp, "r")
      try {
        val blocks = AvroOcf.blocksInRange(raf, h, 0L, raf.length()).toVector
        assert(blocks.length > 3, s"expected many blocks, got ${blocks.length}")
        assert(blocks.map(_._1).sum == N)
      } finally raf.close()
    } finally tmp.delete()
  }

  // ------------------------------------- our writer -> avro-java reader

  test("our writer encodes, avro-java DataFileReader reads — all six codecs") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val schema = AvroOcf.parseSchema(schemaJson)
    for (codec <- AllCodecs) {
      val bytes = AvroOcf.encodeFile(schema, (0 until N).map(rawRow), codec, blockRows = 7)
      val r = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
      try {
        var i = 0
        while (r.hasNext) {
          val rec = r.next()
          val raw = rawRow(i)
          assert(rec.get("i") == raw(0), s"codec=$codec row $i i")
          assert(rec.get("l") == raw(1), s"row $i l")
          assert(rec.get("f") == raw(2), s"row $i f")
          assert(rec.get("d") == raw(3), s"row $i d")
          assert(rec.get("b") == raw(4), s"row $i b")
          assert(rec.get("s").toString == raw(5), s"row $i s")
          assert(rec.get("by").asInstanceOf[java.nio.ByteBuffer].remaining == byBytes(i).length, s"row $i by")
          assert(rec.get("e").toString == raw(8), s"row $i e")
          val ns = rec.get("ns")
          assert((ns == null && raw(9) == null) || ns.toString == raw(9), s"row $i ns")
          val gu = raw(10).asInstanceOf[Vector[Any]]
          val jgu = rec.get("gu")
          assert(if (gu(0) == 0) jgu == gu(1) else jgu.toString == gu(1), s"row $i gu")
          val arr = rec.get("arr").asInstanceOf[java.util.List[GenericRecord]]
          val expArr = raw(11).asInstanceOf[Vector[Vector[Any]]]
          assert(arr.size == expArr.length, s"row $i arr size")
          for (j <- expArr.indices) {
            assert(arr.get(j).get("x") == expArr(j)(0) && arr.get(j).get("y") == expArr(j)(1), s"row $i arr $j")
          }
          val m = rec.get("m").asInstanceOf[java.util.Map[AnyRef, java.lang.Long]]
          val expM = raw(12).asInstanceOf[Map[String, Long]]
          assert(m.size == expM.size && expM.forall { case (k, v) =>
            m.asScala.exists { case (jk, jv) => jk.toString == k && jv == v }
          }, s"row $i m")
          i += 1
        }
        assert(i == N, s"codec=$codec read $i rows")
      } finally r.close()
    }
  }

  test("round-trip: our writer -> our reader, values equal") {
    val schema = AvroOcf.parseSchema(schemaJson)
    for (codec <- AllCodecs) {
      val bytes = AvroOcf.encodeFile(schema, (0 until N).map(rawRow), codec, blockRows = 11)
      val (_, rows) = AvroOcf.readFileBytes(bytes)
      assert(rows.length == N)
      for (i <- 0 until N) assert(norm(rows(i)) == norm(rawRow(i)), s"codec=$codec row $i")
    }
  }

  // ----------------------------------------------------- recursive schema

  test("recursive schema (linked list) decodes through the named-type registry") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val json = """{"type":"record","name":"Node","fields":[
      |{"name":"v","type":"int"},{"name":"next","type":["null","Node"]}]}""".stripMargin
    val schema = new Schema.Parser().parse(json)
    def chain(depth: Int, base: Int): GenericRecord = {
      val r = new GenericData.Record(schema)
      r.put("v", base)
      r.put("next", if (depth == 0) null else chain(depth - 1, base + 1))
      r
    }
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    val bos = new java.io.ByteArrayOutputStream()
    w.create(schema, bos)
    w.append(chain(3, 10))
    w.close()
    val (h, rows) = AvroOcf.readFileBytes(bos.toByteArray)
    assert(h.schema.isInstanceOf[VRecord])
    assert(norm(rows.head) == Vector(10, Vector(11, Vector(12, Vector(13, null)))))
    // and our writer round-trips it
    val back = AvroOcf.encodeFile(h.schema, rows, "deflate")
    assert(norm(AvroOcf.readFileBytes(back)._2.head) == norm(rows.head))
  }

  // ------------------------------------------------------- ranged splits

  test("ranged split scan: every split size yields exactly the file's rows") {
    val spark = TestSpark.spark
    val bytes = javaWrite("deflate", syncInterval = 64) // many small blocks
    val dir = java.nio.file.Files.createTempDirectory("avro_scan").toFile
    try {
      val p = new java.io.File(dir, "r.avro")
      java.nio.file.Files.write(p.toPath, bytes)
      def read(split: Long): Vector[Int] = spark.read.format("avroocf").option("splitBytes", split.toString)
        .load(p.getPath).collect().map(_.getInt(0)).sorted.toVector
      val whole = read(1L << 30)
      assert(whole == (0 until N).toVector)
      for (split <- Seq(1024L, 1500L, 4096L)) {
        val got = read(split)
        assert(got == (0 until N).toVector, s"split=$split lost or duplicated rows")
      }
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("Spark face: nullable union -> nullable column, general union -> {type_id, members}, map -> MapType") {
    val spark = TestSpark.spark
    val bytes = javaWrite("zstandard")
    val dir = java.nio.file.Files.createTempDirectory("avro_face").toFile
    try {
      val p = new java.io.File(dir, "r.avro")
      java.nio.file.Files.write(p.toPath, bytes)
      val df = spark.read.format("avroocf").load(p.getPath)
      val st = df.schema
      assert(st("ns").dataType == org.apache.spark.sql.types.StringType && st("ns").nullable)
      assert(st("gu").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("type_id", "member0", "member1"))
      assert(st("m").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      val rows = df.collect().sortBy(_.getInt(0))
      assert(rows.length == N)
      for (i <- 0 until N) {
        val r = rows(i)
        assert(r.getLong(1) == i * 1000000007L, s"row $i l")
        if (i % 4 == 0) assert(r.isNullAt(9), s"row $i ns") else assert(r.getString(9) == s"n$i")
        val gu = r.getStruct(10)
        if (i % 3 == 0) assert(gu.getByte(0) == 0 && gu.getInt(1) == i * 2, s"row $i gu")
        else assert(gu.getByte(0) == 1 && gu.getString(2) == s"g$i", s"row $i gu")
        assert(r.getMap[String, Long](12).size == i % 3, s"row $i m")
      }
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  // ---------------------------------------------------------- hostility

  test("hostility: bad magic / unknown codec / byte-flip fuzz raise AvroError") {
    val schema = AvroOcf.parseSchema(schemaJson)
    val good = AvroOcf.encodeFile(schema, (0 until N).map(rawRow), "deflate", blockRows = 7)
    intercept[AvroError] { AvroOcf.readFileBytes("not avro at all".getBytes) }
    intercept[AvroError] { AvroOcf.encodeFile(schema, Seq(rawRow(0)), "lzo") }
    val rnd = new scala.util.Random(183)
    for (_ <- 0 until 400) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      try { AvroOcf.readFileBytes(mutated); () }
      catch { case _: AvroError => () }
    }
  }
}
