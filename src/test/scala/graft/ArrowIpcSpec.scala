package graft

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import graft.ArrowJava._
import graft.sources.ArrowIpc
import org.apache.arrow.vector.types.TimeUnit
import org.apache.arrow.vector.types.pojo.ArrowType
import org.scalatest.funsuite.AnyFunSuite

/** Arrow IPC through the facade, with Arrow Java (on the Spark
  * classpath) as the producer: ArrowFileWriter/ArrowStreamWriter
  * output — scalar matrix, nulls, multi-batch, dictionary, lz4/zstd
  * body compression — read back in the Spark face, plus the facade's
  * bounds on hostile bytes. Cross-ecosystem pyarrow fixtures are
  * pinned in ArrowFixtureSpec. */
class ArrowIpcSpec extends AnyFunSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // ------------------------------------------------------- direction 1: Java writer -> our reader

  test("scalar matrix: Arrow Java file writer -> our reader (values, nulls, multi-batch)") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => JSchema}
    import org.apache.arrow.vector.types.{TimeUnit => JTimeUnit}
    val a = alloc()
    try {
      def f(n: String, t: ArrowType) = Field.nullable(n, t)
      val schema = new JSchema(java.util.Arrays.asList(
        f("i8", new ArrowType.Int(8, true)),
        f("i16", new ArrowType.Int(16, true)),
        f("i32", new ArrowType.Int(32, true)),
        f("i64", new ArrowType.Int(64, true)),
        f("u8", new ArrowType.Int(8, false)),
        f("u16", new ArrowType.Int(16, false)),
        f("u32", new ArrowType.Int(32, false)),
        f("f4", new ArrowType.FloatingPoint(org.apache.arrow.vector.types.FloatingPointPrecision.SINGLE)),
        f("f8", new ArrowType.FloatingPoint(org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)),
        f("b", ArrowType.Bool.INSTANCE),
        f("s", ArrowType.Utf8.INSTANCE),
        f("bin", ArrowType.Binary.INSTANCE),
        f("fsb", new ArrowType.FixedSizeBinary(5)),
        f("dec", new ArrowType.Decimal(12, 3, 128)),
        f("d32", new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)),
        f("d64", new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.MILLISECOND)),
        f("ts", new ArrowType.Timestamp(JTimeUnit.MICROSECOND, "UTC")),
        f("t64", new ArrowType.Time(JTimeUnit.MICROSECOND, 64)),
        f("dur", new ArrowType.Duration(JTimeUnit.MILLISECOND))))
      val root = VectorSchemaRoot.create(schema, a)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start()
        val batchSizes = Seq(6, 0, 5) // includes an empty batch mid-file
        var base = 0
        batchSizes.foreach { m =>
          root.allocateNew()
          for (r <- 0 until m) {
            val i = base + r
            if (i % 4 != 3) {
              root.getVector("i8").asInstanceOf[TinyIntVector].setSafe(r, i * 13 - 40)
              root.getVector("i16").asInstanceOf[SmallIntVector].setSafe(r, i * 1001 - 4000)
              root.getVector("i32").asInstanceOf[IntVector].setSafe(r, i * 100000 - 350000)
              root.getVector("i64").asInstanceOf[BigIntVector].setSafe(r, i * 123456789L - 400000000L)
              root.getVector("u8").asInstanceOf[UInt1Vector].setSafe(r, (i * 29) % 256)
              root.getVector("u16").asInstanceOf[UInt2Vector].setSafe(r, ((i * 7001) % 65536).toChar)
              root.getVector("u32").asInstanceOf[UInt4Vector].setSafe(r, ((i.toLong * 900000007L) % 4294967296L).toInt)
              root.getVector("f4").asInstanceOf[Float4Vector].setSafe(r, i * 1.5f - 3f)
              root.getVector("f8").asInstanceOf[Float8Vector].setSafe(r, i * 2.25 - 9.0)
              root.getVector("b").asInstanceOf[BitVector].setSafe(r, i % 2)
              root.getVector("s").asInstanceOf[VarCharVector].setSafe(r, s"s${i * i}é".getBytes(Utf8))
              root.getVector("bin").asInstanceOf[VarBinaryVector].setSafe(r, Array.tabulate(i % 4)(j => (i * 7 + j).toByte))
              root.getVector("fsb").asInstanceOf[FixedSizeBinaryVector].setSafe(r, Array.fill(5)(i.toByte))
              root.getVector("dec").asInstanceOf[DecimalVector].setSafe(r, new java.math.BigDecimal(java.math.BigInteger.valueOf((i - 4) * 1234567L), 3))
              root.getVector("d32").asInstanceOf[DateDayVector].setSafe(r, 19000 + i)
              root.getVector("d64").asInstanceOf[DateMilliVector].setSafe(r, (19000L + i) * 86400000L + i)
              root.getVector("ts").asInstanceOf[TimeStampMicroTZVector].setSafe(r, 1700000000000000L + i)
              root.getVector("t64").asInstanceOf[TimeMicroVector].setSafe(r, i * 1000001L)
              root.getVector("dur").asInstanceOf[DurationVector].setSafe(r, i * 777L)
            }
          }
          root.setRowCount(m)
          w.writeBatch()
          base += m
        }
        w.end(); w.close()
        val bytes = bos.toByteArray

        val (as, batches) = ArrowIpc.readFileBytes(bytes)
        val names = as.getFields.asScala.map(_.getName).toSeq
        assert(names == Seq("i8", "i16", "i32", "i64", "u8", "u16", "u32", "f4", "f8",
          "b", "s", "bin", "fsb", "dec", "d32", "d64", "ts", "t64", "dur"))
        assert(as.getFields.get(4).getType == new ArrowType.Int(8, false))
        assert(as.getFields.get(16).getType == new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
        assert(batches.map(_.length) == Seq(6, 0, 5))
        val col = names.zipWithIndex.toMap
        var i = 0
        batches.foreach { bt =>
          for (r <- bt.indices) {
            def g(n: String): Any = bt(r).get(col(n))
            if (i % 4 == 3) assert(bt(r).toSeq.forall(_ == null), s"row $i should be all-null")
            else {
              assert(g("i8") == (i * 13 - 40).toByte)
              assert(g("i16") == (i * 1001 - 4000).toShort)
              assert(g("i32") == i * 100000 - 350000)
              assert(g("i64") == i * 123456789L - 400000000L)
              assert(g("u8") == ((i * 29) % 256).toShort)
              assert(g("u16") == (i * 7001) % 65536)
              assert(g("u32") == (i.toLong * 900000007L) % 4294967296L)
              assert(g("f4") == i * 1.5f - 3f)
              assert(g("f8") == i * 2.25 - 9.0)
              assert(g("b") == (i % 2 == 1))
              assert(g("s") == s"s${i * i}é")
              assert(java.util.Arrays.equals(g("bin").asInstanceOf[Array[Byte]], Array.tabulate(i % 4)(j => (i * 7 + j).toByte)))
              assert(java.util.Arrays.equals(g("fsb").asInstanceOf[Array[Byte]], Array.fill(5)(i.toByte)))
              assert(g("dec") == new java.math.BigDecimal(java.math.BigInteger.valueOf((i - 4) * 1234567L), 3))
              assert(g("d32") == LocalDate.ofEpochDay(19000L + i))
              assert(g("d64") == LocalDate.ofEpochDay(19000L + i)) // + i ms floors to the day
              assert(g("ts") == Instant.ofEpochSecond(1700000000L, i * 1000L))
              assert(g("t64") == i * 1000001L)
              assert(g("dur") == i * 777L)
            }
            i += 1
          }
        }
        assert(i == 11)
        // the Spark face floors date64 to the day; the sub-day
        // milliseconds stay checked on the vector Arrow Java loads
        val rd = new org.apache.arrow.vector.ipc.ArrowFileReader(
          new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes), a)
        try {
          var j = 0
          while (rd.loadNextBatch()) {
            val d64 = rd.getVectorSchemaRoot.getVector("d64").asInstanceOf[DateMilliVector]
            for (r <- 0 until d64.getValueCount) {
              if (j % 4 == 3) assert(d64.isNull(r))
              else assert(d64.get(r) == (19000L + j) * 86400000L + j)
              j += 1
            }
          }
          assert(j == 11)
        } finally rd.close()
      } finally root.close()
    } finally a.close()
  }

  test("uint64: Arrow Java writer -> our reader carries values losslessly as decimal(20,0)") {
    import org.apache.arrow.vector._
    val a = alloc()
    try {
      val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.Arrays.asList(
        org.apache.arrow.vector.types.pojo.Field.nullable("u", new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, false))))
      val root = VectorSchemaRoot.create(schema, a)
      try {
        root.allocateNew()
        val uv = root.getVector("u").asInstanceOf[UInt8Vector]
        uv.setSafe(0, 7L)
        uv.setSafe(1, Long.MaxValue)
        uv.setSafe(2, -1L) // raw bits: 2^64 - 1
        uv.setSafe(3, Long.MinValue) // 2^63
        root.setRowCount(5) // row 4 null
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        val (as, batches) = ArrowIpc.readFileBytes(bos.toByteArray)
        assert(ArrowIpc.sparkType(as.getFields.get(0)) == org.apache.spark.sql.types.DecimalType(20, 0))
        val c = batches.head.map(_.get(0))
        assert(c(0) == java.math.BigDecimal.valueOf(7L))
        assert(c(1) == new java.math.BigDecimal(Long.MaxValue))
        assert(c(2) == new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)))
        assert(c(3) == new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63)))
        assert(c(4) == null)
      } finally root.close()
    } finally a.close()
  }

  test("dictionary-encoded utf8: Arrow Java writer -> our reader resolves indices") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding}
    val a = alloc()
    try {
      val dictV = new VarCharVector("dict", a)
      dictV.allocateNew()
      val words = Seq("alpha", "beta", "gamma", "δelta")
      words.zipWithIndex.foreach { case (s, i) => dictV.setSafe(i, s.getBytes(Utf8)) }
      dictV.setValueCount(words.length)
      val enc = new DictionaryEncoding(42L, false, new ArrowType.Int(16, true))
      val dict = new Dictionary(dictV, enc)
      val raw = new VarCharVector("w", a)
      raw.allocateNew()
      val n = 13
      for (i <- 0 until n) if (i % 5 != 4) raw.setSafe(i, words(i % words.length).getBytes(Utf8))
      raw.setValueCount(n)
      val encoded = DictionaryEncoder.encode(raw, dict).asInstanceOf[FieldVector]
      val root = new VectorSchemaRoot(java.util.Arrays.asList(encoded.getField), java.util.Arrays.asList(encoded))
      root.setRowCount(n)
      val provider = new DictionaryProvider.MapDictionaryProvider(dict)
      val bos = new java.io.ByteArrayOutputStream()
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, java.nio.channels.Channels.newChannel(bos))
      w.start(); w.writeBatch(); w.end(); w.close()
      val (as, batches) = ArrowIpc.readFileBytes(bos.toByteArray)
      val read = as.getFields.get(0).getDictionary
      assert(read.getId == 42L && read.getIndexType.getBitWidth == 16)
      assert(as.getFields.get(0).getType == ArrowType.Utf8.INSTANCE)
      assert(batches.head.length == n)
      for (i <- 0 until n) {
        val v = batches.head(i).get(0)
        if (i % 5 == 4) assert(v == null) else assert(v == words(i % words.length))
      }
      raw.close(); encoded.close(); dictV.close(); root.close()
    } finally a.close()
  }

  test("body compression: Arrow Java lz4/zstd writers -> our reader (in-tree codecs)") {
    import org.apache.arrow.vector._
    import org.apache.arrow.compression.CommonsCompressionFactory
    import org.apache.arrow.vector.compression.CompressionUtil
    import org.apache.arrow.vector.ipc.message.IpcOption
    for (codec <- Seq(CompressionUtil.CodecType.LZ4_FRAME, CompressionUtil.CodecType.ZSTD)) {
      val a = alloc()
      try {
        val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.Arrays.asList(
          org.apache.arrow.vector.types.pojo.Field.nullable("x", new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, true)),
          org.apache.arrow.vector.types.pojo.Field.nullable("s", org.apache.arrow.vector.types.pojo.ArrowType.Utf8.INSTANCE)))
        val root = VectorSchemaRoot.create(schema, a)
        try {
          val n = 4000
          root.allocateNew()
          val xv = root.getVector("x").asInstanceOf[BigIntVector]
          val sv = root.getVector("s").asInstanceOf[VarCharVector]
          for (i <- 0 until n) { xv.setSafe(i, i % 97L); sv.setSafe(i, s"w${i % 83}".getBytes(Utf8)) }
          root.setRowCount(n)
          val bos = new java.io.ByteArrayOutputStream()
          val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(
            root, null, java.nio.channels.Channels.newChannel(bos),
            new java.util.HashMap[String, String](), IpcOption.DEFAULT,
            CommonsCompressionFactory.INSTANCE, codec)
          w.start(); w.writeBatch(); w.end(); w.close()
          val (_, batches) = ArrowIpc.readFileBytes(bos.toByteArray)
          assert(batches.head.length == n)
          for (i <- 0 until n) {
            assert(batches.head(i).get(0) == i % 97L)
            assert(batches.head(i).get(1) == s"w${i % 83}")
          }
        } finally root.close()
      } finally a.close()
    }
  }

  test("stream format: Arrow Java stream writer -> our stream reader") {
    import org.apache.arrow.vector._
    val a = alloc()
    try {
      val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.Arrays.asList(
        org.apache.arrow.vector.types.pojo.Field.nullable("x", new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true))))
      val root = VectorSchemaRoot.create(schema, a)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start()
        for (b <- 0 until 3) {
          root.allocateNew()
          val xv = root.getVector("x").asInstanceOf[IntVector]
          for (i <- 0 until 4) xv.setSafe(i, b * 100 + i)
          root.setRowCount(4)
          w.writeBatch()
        }
        w.end(); w.close()
        val (as, batches) = ArrowIpc.readStreamBytes(bos.toByteArray)
        assert(as.getFields.asScala.map(_.getName) == Seq("x"))
        assert(batches.map(_.length) == Seq(4, 4, 4))
        assert(batches(2)(3).get(0) == 203)
      } finally root.close()
    } finally a.close()
  }

  // ------------------------------------------------- the lane table, by Arrow Java

  private def laneSchema = schema(
    int64("id"), utf8("name"), float64("score"),
    field("ok", ArrowType.Bool.INSTANCE), field("raw", ArrowType.Binary.INSTANCE),
    field("emb", new ArrowType.FixedSizeList(3), kids = Seq(float32("item", nullable = false))),
    field("hist", ArrowType.List.INSTANCE, kids = Seq(int64("item"))),
    field("pos", ArrowType.Struct.INSTANCE, kids = Seq(int32("x"), utf8("y"))))

  private def laneColumns(n: Int): Array[Array[Any]] = {
    def id(i: Int): Any = if (i % 7 == 6) null else java.lang.Long.valueOf(i * 37L - 100L)
    Array(
      Array.tabulate[Any](n)(id),
      Array.tabulate[Any](n)(i => if (i % 5 == 4) null else s"n${i}·${i % 11}"),
      Array.tabulate[Any](n)(i => if (i % 9 == 8) null else java.lang.Double.valueOf(i * 0.625 - 2.0)),
      Array.tabulate[Any](n)(i => if (i % 4 == 2) null else java.lang.Boolean.valueOf(i % 3 == 0)),
      Array.tabulate[Any](n)(i => if (i % 6 == 5) null else Array.tabulate((i % 5))(j => (i + j).toByte)),
      Array.tabulate[Any](n)(i => if (i % 8 == 7) null else Vector[Any](
        java.lang.Float.valueOf(i * 1f), java.lang.Float.valueOf(i * 2f), java.lang.Float.valueOf(i * 3f))),
      Array.tabulate[Any](n)(i => if (i % 10 == 9) null else Vector.tabulate[Any](i % 4)(j => java.lang.Long.valueOf(i * 10L + j))),
      Array.tabulate[Any](n)(i => if (i % 11 == 10) null else Vector[Any](java.lang.Integer.valueOf(i), s"y$i")))
  }

  // ------------------------------------------------------------ scale shape

  test("ranged-read audit: footer parse touches only the head magic and the file tail") {
    val n = 2000
    val bytes = file(laneSchema, Seq((laneColumns(n), n)))
    val len = bytes.length.toLong
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val ranged: (Long, Int) => Array[Byte] = (off, sz) => {
      reads += ((off, sz))
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + sz)
    }
    val f = ArrowIpc.footer(ranged, len, "audit")
    assert(!f.getRecordBatches.isEmpty)
    val footerLen = {
      val tail = java.util.Arrays.copyOfRange(bytes, bytes.length - 10, bytes.length - 6)
      (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) | ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
    }
    val tailStart = len - 10 - footerLen
    reads.foreach { case (off, sz) =>
      val headRead = off == 0 && sz <= 8
      val tailRead = off >= tailStart
      assert(headRead || tailRead, s"driver read ($off,$sz) outside head-magic/tail region (tail starts $tailStart)")
    }
    // and the data region is strictly larger than everything the driver read
    val driverBytes = reads.map(_._2.toLong).sum
    assert(driverBytes < len / 4, s"driver read $driverBytes of $len bytes")
  }

  test("scan: DataFrame over Arrow-Java-written files, batch tasks ranged") {
    val dir = java.nio.file.Files.createTempDirectory("arrowscan")
    try {
      val ids = Array.tabulate(1500)(i => i.toLong)
      val bytes = ArrowIpc.buildWithArrowJava(ids)
      val p1 = dir.resolve("a.arrow"); val p2 = dir.resolve("b.arrow")
      java.nio.file.Files.write(p1, bytes)
      java.nio.file.Files.write(p2, bytes)
      val df = TestSpark.spark.read.format("arrowipc").load(p1.toString, p2.toString)
      assert(df.schema.fieldNames.toSeq == Seq("id", "tag", "val", "flag"))
      assert(df.rdd.getNumPartitions == 2 * 3) // one task per 512-row batch
      assert(df.count() == 3000)
      val got = df.selectExpr("sum(id)", "sum(length(tag))", "sum(val)").collect().head
      assert(got.getLong(0) == 2L * ids.sum)
      assert(got.getLong(1) == 2L * ids.map(i => 1 + (i % 101).toString.length).sum)
      assert(got.getDouble(2) == 2.0 * ids.map(_ % 7).sum)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  // --------------------------------------------------------------- hostility

  test("malformed input raises ArrowError, never raw index errors") {
    val n = 40
    val good = file(laneSchema, Seq((laneColumns(n), n)), Zstd)
    def mustFail(b: Array[Byte], what: String): Unit = {
      val r = try { ArrowIpc.readFileBytes(b); None }
      catch {
        case _: ArrowIpc.ArrowError => Some(())
        case e: Throwable => fail(s"$what: escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
      assert(r.isDefined, s"$what: decoded silently")
    }
    mustFail(Array.emptyByteArray, "empty")
    mustFail(good.take(20), "truncated head")
    mustFail(good.dropRight(3), "truncated tail")
    mustFail("NOTARROWFILEATALL!".getBytes(Utf8) ++ good.drop(18), "bad magic")
    val hugeFooter = good.clone()
    hugeFooter(good.length - 10) = 0x7f.toByte // footer length absurd
    hugeFooter(good.length - 9) = 0x7f.toByte
    hugeFooter(good.length - 8) = 0x7f.toByte
    hugeFooter(good.length - 7) = 0x7f.toByte
    mustFail(hugeFooter, "oversized footer length")
    // stream: garbage after valid schema message
    val stream = ArrowJava.stream(laneSchema, Seq((laneColumns(4), 4)))
    val cut = stream.dropRight(9)
    val r = try { ArrowIpc.readStreamBytes(cut); true }
    catch { case _: ArrowIpc.ArrowError => true; case e: Throwable => fail(s"stream cut escaped: $e") }
    assert(r)
  }

  test("mutation fuzz: decode equal bytes-or-ArrowError only (no CRC in the format, so values may drift)") {
    val n = 96
    val base = file(laneSchema, Seq((laneColumns(n), n)), Lz4)
    val rnd = new scala.util.Random(20260816L)
    var mutated = 0
    for (_ <- 0 until 600) {
      val b = base.clone()
      val k = 1 + rnd.nextInt(3)
      for (_ <- 0 until k) {
        val p = rnd.nextInt(b.length)
        b(p) = (b(p) ^ (1 + rnd.nextInt(255))).toByte
      }
      mutated += 1
      try { ArrowIpc.readFileBytes(b); () }
      catch {
        case _: ArrowIpc.ArrowError => ()
        case e: Throwable => fail(s"mutation escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
      // truncations too
      val t = java.util.Arrays.copyOfRange(base, 0, rnd.nextInt(base.length))
      try { ArrowIpc.readFileBytes(t); () }
      catch {
        case _: ArrowIpc.ArrowError => ()
        case e: Throwable => fail(s"truncation escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(mutated == 600)
  }

  test("allocation bombs: declared rows without backing bytes refuse before allocating") {
    // A 23-byte body cannot legitimately carry 100M rows: with nulls
    // the validity bitmap must be full-size, without them the data
    // buffer must be. Craft by patching a valid 4-row file's
    // RecordBatch length field (node lengths live in the metadata
    // flatbuffer as i64 pairs; scan-and-patch both occurrences).
    val cols: Array[Array[Any]] = Array(Array[Any](1L, 2L, null, 4L))
    val good = file(schema(int64("x")), Seq((cols, 4)))
    // patch every little-endian i64 equal to 4 in the batch message
    // region to 100,000,000 (rows + node length + null-count stays)
    val bomb = good.clone()
    var patched = 0
    for (p <- 0 until bomb.length - 8) {
      val isFour = (0 until 8).forall(j => bomb(p + j) == (if (j == 0) 4 else 0))
      if (isFour) {
        val v = 100000000L
        for (j <- 0 until 8) bomb(p + j) = ((v >> (8 * j)) & 0xff).toByte
        patched += 1
      }
    }
    assert(patched >= 2, s"expected to patch rows+node length, got $patched")
    // the direct-memory measure is live: a good read registers its vectors
    ArrowIpc.peakDirect.set(0)
    ArrowIpc.readFileBytes(good)
    assert(ArrowIpc.peakDirect.get > 0)
    ArrowIpc.peakDirect.set(0)
    val before = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    try { ArrowIpc.readFileBytes(bomb); fail("bomb decoded silently") }
    catch {
      case _: ArrowIpc.ArrowError => ()
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable => fail(s"bomb escaped as ${e.getClass.getName}: ${e.getMessage}")
    }
    val after = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    assert(after - before < (512L << 20), s"bomb allocated ${(after - before) >> 20} MB before failing")
    // Arrow Java's vectors live in direct memory, which the heap delta misses
    assert(ArrowIpc.peakDirect.get < (512L << 20), s"bomb held ${ArrowIpc.peakDirect.get >> 20} MB direct")
  }

  test("empty file (zero batches) round-trips both ways") {
    val x = schema(int64("x"))
    val bytes = file(x, Nil)
    val (as, batches) = ArrowIpc.readFileBytes(bytes)
    assert(as == x && batches.isEmpty)
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val a = alloc()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        assert(r.getVectorSchemaRoot.getSchema.getFields.get(0).getName == "x")
        assert(!r.loadNextBatch())
      } finally r.close()
    } finally a.close()
  }

  // ------------------------------------------------ declared sizes vs bytes

  private def heapUsed(): Long = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()

  /** `read` must refuse, holding under 512 MB of heap and of direct
    * memory (where Arrow Java allocates) on the way. */
  private def refusesSmall(what: String)(read: => Any): ArrowIpc.ArrowError = {
    ArrowIpc.peakDirect.set(0)
    val before = heapUsed()
    val e = refuses(what)(read)
    assert(heapUsed() - before < (512L << 20), s"$what allocated ${(heapUsed() - before) >> 20} MB before failing")
    assert(ArrowIpc.peakDirect.get < (512L << 20), s"$what held ${ArrowIpc.peakDirect.get >> 20} MB direct")
    e
  }

  /** The body buffers of `bytes`' first record batch, as absolute
    * (offset, length) pairs, read from the batch metadata. */
  private def batchBuffers(bytes: Array[Byte]): IndexedSeq[(Int, Int)] = {
    import org.apache.arrow.flatbuf.{Message, RecordBatch}
    val ranged: (Long, Int) => Array[Byte] = (off, n) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n)
    val blk = ArrowIpc.footer(ranged, bytes.length.toLong, "good").getRecordBatches.get(0)
    val metaLen = java.nio.ByteBuffer.wrap(bytes, blk.getOffset.toInt + 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val msg = Message.getRootAsMessage(java.nio.ByteBuffer.wrap(bytes, blk.getOffset.toInt + 8, metaLen).slice())
    val rb = msg.header(new RecordBatch).asInstanceOf[RecordBatch]
    val body = blk.getOffset + blk.getMetadataLength
    (0 until rb.buffersLength).map(rb.buffers).map(b => ((body + b.offset).toInt, b.length.toInt))
  }

  private def refuses(what: String)(read: => Any): ArrowIpc.ArrowError =
    try { read; fail(s"$what decoded silently") }
    catch {
      case e: ArrowIpc.ArrowError => e
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable => fail(s"$what escaped as ${e.getClass.getName}: ${e.getMessage}")
    }

  test("hostility: a stream message declaring ~2^31 bytes after a valid schema refuses before allocating") {
    val good = ArrowJava.stream(laneSchema, Seq((laneColumns(8), 8)))
    // continuation token + length + metadata: the schema message
    def le32(at: Int): Int = java.nio.ByteBuffer.wrap(good, at, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(le32(0) == -1)
    val next = 8 + le32(4)
    assert(le32(next) == -1, "expected a framed message after the schema")
    val bomb = good.clone()
    java.nio.ByteBuffer.wrap(bomb, next + 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Int.MaxValue - 7)
    val e = refusesSmall("2^31 message length")(ArrowIpc.readStreamBytes(bomb, "bomb.arrows"))
    assert(e.getMessage.contains("bomb.arrows") && e.getMessage.contains("message length"), e.getMessage)
  }

  test("hostility: a utf8 end offset near 2^31 refuses before the value is copied") {
    val n = 16
    val good = file(schema(utf8("s", nullable = false)), Seq((Array(Array.tabulate[Any](n)(i => s"v$i")), n)))
    // buffers: validity, offsets, data; patch the last row's end offset
    val (offs, len) = batchBuffers(good)(1)
    assert(len >= 4 * (n + 1))
    val bomb = good.clone()
    java.nio.ByteBuffer.wrap(bomb, offs + 4 * n, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Int.MaxValue - 8)
    val e = refusesSmall("2^31 utf8 offset")(ArrowIpc.readFileBytes(bomb, "offset.arrow"))
    assert(e.getMessage.contains("offset.arrow") && e.getMessage.contains("value 15 of 's' declares"), e.getMessage)
  }

  test("hostility: a zstd buffer declaring 2^40 uncompressed bytes refuses before decompression") {
    val good = file(laneSchema, Seq((laneColumns(64), 64)), Zstd)
    val (at, _) = batchBuffers(good).find(_._2 > 8).get
    val bomb = good.clone()
    java.nio.ByteBuffer.wrap(bomb, at, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(1L << 40)
    val e = refuses("2^40 declared buffer")(ArrowIpc.readFileBytes(bomb, "bomb.arrow"))
    assert(e.getMessage.contains("bomb.arrow") && e.getMessage.contains(s"declares ${1L << 40}"), e.getMessage)
  }

  test("hostility: a valid tail behind a broken head magic refuses") {
    val good = file(laneSchema, Seq((laneColumns(16), 16)))
    val bad = good.clone()
    bad(0) = 'X'.toByte
    val e = refuses("broken head magic")(ArrowIpc.readFileBytes(bad, "head.arrow"))
    assert(e.getMessage.contains("bad file magic"), e.getMessage)
    val ranged: (Long, Int) => Array[Byte] = (off, n) => java.util.Arrays.copyOfRange(bad, off.toInt, off.toInt + n)
    refuses("broken head magic, footer only")(ArrowIpc.footer(ranged, bad.length.toLong, "head.arrow"))
  }
}
