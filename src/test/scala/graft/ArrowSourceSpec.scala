package graft

import scala.jdk.CollectionConverters._

import graft.ArrowJava._
import graft.sources.ArrowIpc
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.types.pojo.ArrowType
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 face: `spark.read.format("arrowipc")`. Pruning is proven to
  * skip pruned columns' DECOMPRESSION by poisoning a pruned column's
  * compressed buffer: the full read must fail, the pruned read must
  * succeed around it. */
class ArrowSourceSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** `poison` is LAST so its data buffer is the final body buffer —
    * the poisoning test aims there. Written by Arrow Java. */
  private def laneFile(n: Int, codec: CodecType): Array[Byte] = {
    val lane = schema(
      int64("keep", nullable = false),
      field("emb", new ArrowType.FixedSizeList(2), kids = Seq(float64("item", nullable = false))),
      utf8("poison"))
    val cols: Array[Array[Any]] = Array(
      Array.tabulate[Any](n)(i => java.lang.Long.valueOf(i * 3L)),
      Array.tabulate[Any](n)(i => Vector[Any](java.lang.Double.valueOf(i * 0.5), java.lang.Double.valueOf(i * 0.25))),
      Array.tabulate[Any](n)(i => s"verbose-string-payload-$i-" + ("pad" * 40)))
    file(lane, Seq((cols, n)), codec)
  }

  test("load + full schema read over two files; values and count match") {
    val dir = java.nio.file.Files.createTempDirectory("arrowsrc")
    try {
      val bytes = laneFile(500, Plain)
      java.nio.file.Files.write(dir.resolve("a.arrow"), bytes)
      java.nio.file.Files.write(dir.resolve("b.arrow"), bytes)
      val df = spark.read.format("arrowipc").load(dir.toString) // dir expansion
      assert(df.schema.fieldNames.toSeq == Seq("keep", "emb", "poison"))
      assert(df.count() == 1000)
      val row = df.selectExpr("sum(keep)", "sum(length(poison))", "sum(emb[0] + emb[1])").collect().head
      assert(row.getLong(0) == 2L * (0 until 500).map(_ * 3L).sum)
      assert(row.getLong(1) == 2L * (0 until 500).map(i => s"verbose-string-payload-$i-".length + 120).sum)
      assert(row.getDouble(2) == 2.0 * (0 until 500).map(i => i * 0.75).sum)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("column pruning reaches the scan (readSchema) and the plan") {
    val dir = java.nio.file.Files.createTempDirectory("arrowprune")
    try {
      java.nio.file.Files.write(dir.resolve("a.arrow"), laneFile(200, Plain))
      val df = spark.read.format("arrowipc").load(dir.resolve("a.arrow").toString).select("keep")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("columns [keep]"), s"scan description not pruned:\n$plan")
      assert(df.agg(org.apache.spark.sql.functions.sum("keep")).collect().head.getLong(0) ==
        (0 until 200).map(_ * 3L).sum)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("PROOF pruning skips decompression: poisoned pruned column reads fine, full read fails") {
    val bytes = laneFile(800, Zstd)
    // the batch metadata names the last body buffer (poison's data, by
    // far the largest); flip 64 bytes of its zstd payload, past the
    // 8-byte length prefix the facade bounds for every column
    val ranged: (Long, Int) => Array[Byte] = (off, n) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n)
    val blk = ArrowIpc.footer(ranged, bytes.length.toLong, "lane").getRecordBatches.get(0)
    val metaLen = java.nio.ByteBuffer.wrap(bytes, blk.getOffset.toInt + 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val rb = org.apache.arrow.flatbuf.Message
      .getRootAsMessage(java.nio.ByteBuffer.wrap(bytes, blk.getOffset.toInt + 8, metaLen).slice())
      .header(new org.apache.arrow.flatbuf.RecordBatch).asInstanceOf[org.apache.arrow.flatbuf.RecordBatch]
    val last = rb.buffers(rb.buffersLength - 1)
    val start = (blk.getOffset + blk.getMetadataLength + last.offset).toInt
    assert(last.length > 8 + 80, s"poison buffer of ${last.length} bytes")
    val poisoned = bytes.clone()
    for (p <- start + 16 until start + 80) poisoned(p) = (poisoned(p) ^ 0x5a).toByte
    // sanity: whole-file decode must fail on the poisoned column
    intercept[ArrowIpc.ArrowError] { ArrowIpc.readFileBytes(poisoned) }
    val dir = java.nio.file.Files.createTempDirectory("arrowpoison")
    try {
      val p = dir.resolve("p.arrow")
      java.nio.file.Files.write(p, poisoned)
      // a read that NEEDS the poisoned column fails through the DSv2
      // face too (count() alone prunes every column and would — by
      // design — succeed)
      val full = spark.read.format("arrowipc").load(p.toString)
      val e = intercept[Exception] { full.selectExpr("sum(length(poison))").collect() }
      def mentionsArrow(t: Throwable): Boolean =
        t != null && (t.toString.contains("arrow") || t.toString.contains("Arrow") || mentionsArrow(t.getCause))
      assert(mentionsArrow(e), s"unexpected failure: $e")
      // pruned read never touches the poisoned buffers
      val pruned = spark.read.format("arrowipc").load(p.toString).select("keep", "emb")
      val row = pruned.selectExpr("sum(keep)", "sum(emb[1])").collect().head
      assert(row.getLong(0) == (0 until 800).map(_ * 3L).sum)
      assert(row.getDouble(1) == (0 until 800).map(_ * 0.25).sum)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("dictionary-encoded column through the DSv2 face") {
    val dir = java.nio.file.Files.createTempDirectory("arrowdict")
    try {
      val p = dir.resolve("d.arrow")
      val in = getClass.getResourceAsStream("/graft/arrow/dict.arrow")
      java.nio.file.Files.write(p, in.readAllBytes()); in.close()
      val df = spark.read.format("arrowipc").load(p.toString)
      assert(df.count() == 50)
      val words = df.select("w").collect().map(_.getString(0))
      val expect = Seq("alpha", "beta", "gamma", "δelta", "epsilon")
      for (i <- 0 until 50)
        if (i % 7 == 6) assert(words(i) == null) else assert(words(i) == expect(i % 5))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("write side: shard-per-partition files read back by our face AND Arrow Java") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("arrowwrite").resolve("out").toString
    val df = spark.range(0, 1000)
      .select(
        org.apache.spark.sql.functions.col("id"),
        concat(lit("s"), col("id") % 13).as("tag"),
        (col("id") % 7).cast("double").as("v"),
        array((col("id") % 5).cast("float"), (col("id") % 3).cast("float")).as("emb"),
        to_date(lit("2024-01-01")).as("d"),
        to_timestamp(lit("2024-01-01 12:34:56.789")).as("ts"))
      .repartition(4)
    df.write.format("arrowipc").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow"))
    assert(files.length == 4, files.mkString(","))
    // our face round-trip
    val back = spark.read.format("arrowipc").load(dir)
    assert(back.count() == 1000)
    val r = back.selectExpr("sum(id)", "sum(length(tag))", "sum(v)", "sum(emb[0]+emb[1])",
      "min(cast(d as string))", "min(cast(ts as string))").collect().head
    assert(r.getLong(0) == (0L until 1000L).sum)
    assert(r.getDouble(2) == (0 until 1000).map(_ % 7).sum.toDouble)
    assert(r.getDouble(3) == (0 until 1000).map(i => i % 5 + i % 3).sum.toDouble)
    assert(r.getString(4) == "2024-01-01")
    assert(r.getString(5) == "2024-01-01 12:34:56.789")
    // LIVE conformance: Arrow Java reads a written shard
    val a = new org.apache.arrow.memory.RootAllocator()
    try {
      val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
      val rd = new org.apache.arrow.vector.ipc.ArrowFileReader(
        new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        var rows = 0L
        while (rd.loadNextBatch()) rows += rd.getVectorSchemaRoot.getRowCount
        assert(rows > 0)
        assert(rd.getVectorSchemaRoot.getSchema.getFields.size == 6)
      } finally rd.close()
    } finally a.close()
    // overwrite truncates
    spark.range(0, 10).selectExpr("id").repartition(1).write
      .format("arrowipc").mode("overwrite").save(dir)
    assert(spark.read.format("arrowipc").load(dir).count() == 10)
  }

  test("write side: map, struct and array<struct> columns with nulls read back by our face AND Arrow Java") {
    import org.apache.arrow.vector.BigIntVector
    import org.apache.arrow.vector.complex.{ListVector, MapVector, StructVector}
    val dir = java.nio.file.Files.createTempDirectory("arrownested").resolve("out").toString
    val df = spark.range(0, 300).selectExpr(
      "id",
      "case when id % 5 = 0 then null else map('a', id, 'b', case when id % 3 = 0 then null else id * 2 end) end as m",
      "case when id % 4 = 0 then null else named_struct('x', id, 's', cast(id as string)) end as st",
      "case when id % 6 = 0 then null else array(named_struct('k', id, 'v', case when id % 2 = 0 then null " +
        "else concat('v', id) end), cast(null as struct<k:bigint,v:string>)) end as arr")
      .repartition(2)
    df.write.format("arrowipc").mode("append").save(dir)
    val back = spark.read.format("arrowipc").load(dir)
    assert(back.schema == df.schema, back.schema.treeString)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // LIVE conformance: Arrow Java reads every written shard
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow"))
    val a = new org.apache.arrow.memory.RootAllocator()
    try {
      var rows = 0
      files.foreach { f =>
        val rd = new org.apache.arrow.vector.ipc.ArrowFileReader(
          new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(java.nio.file.Files.readAllBytes(f.toPath)), a)
        try {
          while (rd.loadNextBatch()) {
            val root = rd.getVectorSchemaRoot
            val ids = root.getVector("id").asInstanceOf[BigIntVector]
            val m = root.getVector("m").asInstanceOf[MapVector]
            val st = root.getVector("st").asInstanceOf[StructVector]
            val arr = root.getVector("arr").asInstanceOf[ListVector]
            for (r <- 0 until root.getRowCount) {
              val id = ids.get(r)
              assert(m.isNull(r) == (id % 5 == 0), s"m at $id")
              if (!m.isNull(r)) {
                val es = m.getObject(r).asScala.map(_.asInstanceOf[java.util.Map[String, AnyRef]])
                assert(es.map(_.get("key").toString) == Seq("a", "b"))
                assert(es(0).get("value") == id)
                assert(es(1).get("value") == (if (id % 3 == 0) null else id * 2))
              }
              assert(st.isNull(r) == (id % 4 == 0), s"st at $id")
              if (!st.isNull(r)) {
                val o = st.getObject(r)
                assert(o.get("x") == id && o.get("s").toString == id.toString)
              }
              assert(arr.isNull(r) == (id % 6 == 0), s"arr at $id")
              if (!arr.isNull(r)) {
                val xs = arr.getObject(r).asScala
                assert(xs.length == 2 && xs(1) == null)
                val e = xs(0).asInstanceOf[java.util.Map[String, AnyRef]]
                assert(e.get("k") == id)
                assert(Option(e.get("v")).map(_.toString) == (if (id % 2 == 0) None else Some(s"v$id")))
              }
              rows += 1
            }
          }
        } finally rd.close()
      }
      assert(rows == 300)
    } finally a.close()
  }

  test("write side: zstd codec option compresses and still reads everywhere") {
    val dir = java.nio.file.Files.createTempDirectory("arrowwz").resolve("out").toString
    val dirNone = java.nio.file.Files.createTempDirectory("arrowwn").resolve("out").toString
    val df = spark.range(0, 5000).selectExpr("id", "repeat('pad', 30) as pad").repartition(1)
    df.write.format("arrowipc").option("codec", "zstd").mode("append").save(dir)
    df.write.format("arrowipc").mode("append").save(dirNone)
    def size(d: String) = new java.io.File(d).listFiles().filter(_.getName.endsWith(".arrow")).map(_.length).sum
    assert(size(dir) < size(dirNone) / 2, s"zstd ${size(dir)} vs none ${size(dirNone)}")
    assert(spark.read.format("arrowipc").load(dir).count() == 5000)
  }

  test("write side: a failed task leaves no partial shard behind") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("arrowabort").resolve("out").toString
    val boom = udf { (i: Long) => if (i == 4000L) throw new IllegalStateException("boom") else i }
    val df = spark.range(0, 5000).repartition(1).select(boom(col("id")).as("id"))
    intercept[Exception] { df.write.format("arrowipc").mode("append").save(dir) }
    val left = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File]).map(_.getName)
    assert(left.forall(n => !n.endsWith(".tmp") && !n.endsWith(".arrow")), left.mkString(","))
  }

  test("write side: unsupported column type refuses at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("arrowbad").resolve("out").toString
    val df = spark.range(0, 3).selectExpr("cast(id as decimal(10,2)) as d")
    val e = intercept[Exception] { df.write.format("arrowipc").mode("append").save(dir) }
    def mentions(t: Throwable): Boolean =
      t != null && (t.getMessage != null && t.getMessage.contains("unsupported type") || mentions(t.getCause))
    assert(mentions(e), s"unexpected: $e")
  }

  test("write side: pre-epoch fractional timestamps round-trip exactly (floor, not truncate)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("arrowts").resolve("out").toString
    val df = spark.sql(
      """select * from values
        |  (timestamp'1969-12-31 23:59:59.5'),
        |  (timestamp'1969-12-31 23:59:59.000001'),
        |  (timestamp'1970-01-01 00:00:00.5'),
        |  (timestamp'1905-03-02 01:02:03.25')
        |as t(ts)""".stripMargin)
    df.write.format("arrowipc").mode("append").save(dir)
    val back = spark.read.format("arrowipc").load(dir)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect().map(_.getString(0)).sorted
    assert(back.toSeq == Seq(
      "1905-03-02 01:02:03.250000",
      "1969-12-31 23:59:59.000001",
      "1969-12-31 23:59:59.500000",
      "1970-01-01 00:00:00.500000"))
  }

  test("dictionary-encoded CHILD column (list<dict<utf8>>) through the DSv2 face") {
    val dir = java.nio.file.Files.createTempDirectory("arrowdictn")
    try {
      val p = dir.resolve("n.arrow")
      val in = getClass.getResourceAsStream("/graft/arrow/dict_nested.arrow")
      java.nio.file.Files.write(p, in.readAllBytes()); in.close()
      val words = Seq("red", "green", "blue", "ünicode")
      val df = spark.read.format("arrowipc").load(p.toString).select("tags") // pruned to the dict child
      val got = df.collect().map(r => Option(r.getSeq[String](0)))
      assert(got.length == 40)
      for (i <- 0 until 40) {
        if (i % 6 == 5) assert(got(i).isEmpty, s"row $i")
        else assert(got(i).get == (0 until i % 3).map(j => words(j % 4)), s"row $i")
      }
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("hostile footer: block extents outside the file refuse as ArrowError at plan time") {
    val good = laneFile(50, Plain)
    // patch the first batch Block's bodyLength (footer struct field at
    // offset+16) to a huge value: find the footer region and flip the
    // recordBatches vector's first entry — simpler: binary-search for
    // the EXACT 24-byte block struct (offset=8 is the schema message,
    // so the first batch block offset is a small positive multiple of 8)
    val fLen = {
      val t = good.length - 10
      (good(t) & 0xff) | ((good(t + 1) & 0xff) << 8) | ((good(t + 2) & 0xff) << 16) | ((good(t + 3) & 0xff) << 24)
    }
    val footerStart = good.length - 10 - fLen
    var patchedAny = false
    // brute-force: for every 8-aligned i64 position in the footer,
    // try patching it to 2^40 and see that footer() REFUSES rather
    // than letting a fetch task blow up later; unpatchable positions
    // (schema bytes etc.) may still parse — we only need one refusal
    val raf: (Array[Byte]) => Unit = { b =>
      val ranged: (Long, Int) => Array[Byte] =
        (off, n) => java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + n)
      ArrowIpc.footer(ranged, b.length.toLong, "hostile"); ()
    }
    for (p <- footerStart until good.length - 18) {
      val b = good.clone()
      b(p + 5) = 0x01 // push a high byte into some i64 in the footer
      try { raf(b) }
      catch {
        case _: ArrowIpc.ArrowError => patchedAny = true
        case e: Throwable => fail(s"hostile footer escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(patchedAny, "no footer mutation was rejected — extent validation missing")
  }

  test("hostile footer: Long-overflow block extents refuse at footer parse (not in fetch tasks)") {
    val good = laneFile(20, Plain)
    // locate the first record-batch Block struct in the footer by its
    // known offset value (the batch message starts right after the
    // schema message: 8 + 8 + paddedSchemaFbLen)
    val schemaMetaLen = (good(12) & 0xff) | ((good(13) & 0xff) << 8) | ((good(14) & 0xff) << 16) | ((good(15) & 0xff) << 24)
    val batchOffset = 8L + 8L + schemaMetaLen
    val fLen = {
      val t = good.length - 10
      (good(t) & 0xff) | ((good(t + 1) & 0xff) << 8) | ((good(t + 2) & 0xff) << 16) | ((good(t + 3) & 0xff) << 24)
    }
    val footerStart = good.length - 10 - fLen
    // find the i64 LE batchOffset inside the footer and overwrite it
    // with a value that wraps offset+metaLen+bodyLen negative
    var pos = -1
    for (p <- footerStart until good.length - 8 if pos < 0) {
      var v = 0L
      for (j <- 0 until 8) v |= (good(p + j) & 0xffL) << (8 * j)
      if (v == batchOffset) pos = p
    }
    assert(pos > 0, "could not locate the block offset in the footer")
    val bomb = good.clone()
    val huge = 0x7FFFFFFFFFFFFF00L
    for (j <- 0 until 8) bomb(pos + j) = ((huge >> (8 * j)) & 0xff).toByte
    val ranged: (Long, Int) => Array[Byte] =
      (off, n) => java.util.Arrays.copyOfRange(bomb, off.toInt, off.toInt + n)
    intercept[ArrowIpc.ArrowError] { ArrowIpc.footer(ranged, bomb.length.toLong, "bomb") }
  }

  test("uint64 round-trip: decimal(20,0) carrier writes back as real arrow u64") {
    val dir = java.nio.file.Files.createTempDirectory("arrowu64").resolve("out").toString
    val df = spark.sql(
      """select * from values
        |  (cast(18446744073709551615 as decimal(20,0))),
        |  (cast(9223372036854775808 as decimal(20,0))),
        |  (cast(7 as decimal(20,0))),
        |  (cast(null as decimal(20,0)))
        |as t(u)""".stripMargin)
    df.write.format("arrowipc").mode("append").save(dir)
    // the written field is genuine unsigned 64
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val (as, _) = ArrowIpc.readFileBytes(bytes)
    assert(as.getFields.get(0).getType == new ArrowType.Int(64, false))
    val back = spark.read.format("arrowipc").load(dir)
    val got = back.collect().map(r => Option(r.getDecimal(0)).map(_.toBigInteger.toString).orNull).sorted(
      Ordering[String].on((s: String) => if (s == null) "" else s))
    assert(got.contains("18446744073709551615") && got.contains("9223372036854775808") && got.contains("7"))
    assert(got.contains(null) || got.exists(_ == null))
  }

  test("one InputPartition per record batch") {
    val dir = java.nio.file.Files.createTempDirectory("arrowparts")
    try {
      val p = dir.resolve("m.arrow")
      // Arrow Java: 5 batches of 100
      val batches = (0 until 5).map { b =>
        (Array(Array.tabulate[Any](100)(i => java.lang.Long.valueOf(b * 100L + i))), 100)
      }
      java.nio.file.Files.write(p, file(schema(int64("x", nullable = false)), batches))
      val df = spark.read.format("arrowipc").load(p.toString)
      assert(df.rdd.getNumPartitions == 5)
      assert(df.count() == 500)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }
}
