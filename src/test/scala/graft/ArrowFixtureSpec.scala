package graft

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import graft.sources.ArrowIpc
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Schema}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Cross-ecosystem Arrow IPC conformance: committed pyarrow 16.1
  * fixtures (tools/gen_arrow_fixtures.py — the library HuggingFace
  * datasets writes through; every fixture re-read by pyarrow at
  * capture). Values are deterministic formulas of the row index,
  * recomputed here and read in the Spark face: dates as LocalDate,
  * timestamps as Instant, structs as Row. */
class ArrowFixtureSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/arrow/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes()
    finally in.close()
  }

  private def cols(batches: Seq[IndexedSeq[Row]]): Array[Vector[Any]] = ArrowJava.columns(batches)
  private def names(schema: Schema): Seq[String] = schema.getFields.asScala.map(_.getName).toSeq

  /** Mirror of gen_arrow_fixtures.null_every: null when i % k == 3 % k. */
  private def nul(i: Int, k: Int): Boolean = i % k == 3 % k

  private def checkTypesTable(schema: Schema, batches: Seq[IndexedSeq[Row]], n: Int): Unit = {
    val names = Seq("i8", "i16", "i32", "i64", "u8", "u16", "u32", "f2", "f4", "f8", "b", "s", "ls",
      "bin", "lbin", "fsb", "dec", "d32", "d64", "ts_s", "ts_ms", "ts_us", "ts_ns", "t32", "t64",
      "dur", "lst", "llst", "emb", "pos")
    assert(this.names(schema) == names)
    def tpe(i: Int): ArrowType = schema.getFields.get(i).getType
    assert(tpe(7) == new ArrowType.FloatingPoint(FloatingPointPrecision.HALF))
    assert(tpe(16) == new ArrowType.Decimal(12, 3, 128))
    assert(tpe(21) == new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
    assert(tpe(19) == new ArrowType.Timestamp(TimeUnit.SECOND, null))
    assert(tpe(23) == new ArrowType.Time(TimeUnit.MILLISECOND, 32))
    assert(tpe(28) == new ArrowType.FixedSizeList(3))
    val c = cols(batches)
    assert(c(0).length == n)
    val byName = names.zipWithIndex.toMap
    def at(name: String, i: Int): Any = c(byName(name))(i)
    def chk(name: String, k: Int, i: Int, expected: => Any): Unit = {
      val v = at(name, i)
      if (nul(i, k)) assert(v == null, s"$name[$i] should be null")
      else assert(v == expected, s"$name[$i]: got $v")
    }
    for (i <- 0 until n) {
      chk("i8", 4, i, java.lang.Byte.valueOf(Math.floorMod(i * 13 - 40, 128).toByte))
      chk("i16", 5, i, (i * 1001 - 4000).toShort)
      chk("i32", 6, i, i * 100000 - 350000)
      chk("i64", 7, i, i.toLong * 123456789L - 400000000L)
      chk("u8", 8, i, ((i * 29) % 256).toShort)
      chk("u16", 9, i, (i * 7001) % 65536)
      chk("u32", 10, i, (i.toLong * 900000007L) % 4294967296L)
      chk("f2", 4, i, i * 0.5f - 2.0f) // exact in float16 at this range
      chk("f4", 5, i, i * 1.5f - 3.0f)
      chk("f8", 6, i, i * 2.25 - 9.0)
      chk("b", 7, i, i % 3 == 0)
      chk("s", 8, i, s"s${i * i}é")
      chk("ls", 9, i, ("L" + (i % 17).toString) * (i % 3 + 1))
      if (!nul(i, 10)) assert(java.util.Arrays.equals(
        at("bin", i).asInstanceOf[Array[Byte]],
        Array.tabulate(i % 4)(j => ((i * 7 + j) % 256).toByte)), s"bin[$i]")
      if (!nul(i, 4)) assert(java.util.Arrays.equals(
        at("lbin", i).asInstanceOf[Array[Byte]],
        Array.tabulate(i % 3)(j => ((i + j) % 256).toByte)), s"lbin[$i]")
      if (!nul(i, 5)) assert(java.util.Arrays.equals(
        at("fsb", i).asInstanceOf[Array[Byte]], Array.fill(5)((i % 256).toByte)), s"fsb[$i]")
      chk("dec", 6, i, new java.math.BigDecimal(java.math.BigInteger.valueOf((i - 4) * 1234567L), 3))
      chk("d32", 7, i, LocalDate.ofEpochDay(19000L + i))
      chk("d64", 8, i, LocalDate.ofEpochDay(19000L + i))
      chk("ts_s", 9, i, Instant.ofEpochSecond(1700000000L + i))
      chk("ts_ms", 10, i, Instant.ofEpochMilli(1700000000000L + i))
      chk("ts_us", 4, i, Instant.ofEpochSecond(1700000000L, i * 1000L))
      chk("ts_ns", 5, i, Instant.ofEpochSecond(1700000000L, i.toLong))
      chk("t32", 6, i, (i * 99991) % 86400000)
      chk("t64", 7, i, i * 1000001L)
      chk("dur", 8, i, i * 777L)
      chk("lst", 9, i, Vector.tabulate(i % 4)(j => (i * 10 + j).toLong))
      chk("llst", 10, i, Vector.tabulate(i % 3)(j => i + j * 0.25))
      chk("emb", 4, i, Vector(i * 1.0f, i * 2.0f, i * 3.0f))
      chk("pos", 5, i, Row(i, s"y$i"))
    }
  }

  test("types.arrow: full type matrix, 3 batches, nulls everywhere") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("types.arrow"))
    assert(batches.map(_.length) == Seq(9, 9, 5))
    checkTypesTable(schema, batches, 23)
  }

  test("types.arrows: stream format, 4 batches") {
    val (schema, batches) = ArrowIpc.readStreamBytes(fixture("types.arrows"))
    assert(batches.map(_.length) == Seq(7, 7, 7, 2))
    checkTypesTable(schema, batches, 23)
  }

  private def checkBig(schema: Schema, batches: Seq[IndexedSeq[Row]]): Unit = {
    assert(names(schema) == Seq("x", "w", "v"))
    val c = cols(batches)
    assert(c(0).length == 4000)
    for (i <- 0 until 4000) {
      assert(c(0)(i) == (i % 97).toLong)
      assert(c(1)(i) == s"w${i % 83}")
      assert(c(2)(i) == Vector(i * 0.5, i * 0.25))
    }
  }

  test("comp_lz4.arrow: pyarrow LZ4_FRAME bodies decode via the in-tree codec") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("comp_lz4.arrow"))
    checkBig(schema, batches)
  }

  test("comp_zstd.arrow: pyarrow ZSTD bodies decode via the in-tree codec") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("comp_zstd.arrow"))
    checkBig(schema, batches)
  }

  test("comp_zstd.arrows: compressed stream format") {
    val (schema, batches) = ArrowIpc.readStreamBytes(fixture("comp_zstd.arrows"))
    assert(batches.map(_.length).sum == 4000)
    checkBig(schema, batches)
  }

  test("dict.arrow: pyarrow dictionary-encoded utf8 resolves") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("dict.arrow"))
    val enc = schema.getFields.get(0).getDictionary
    assert(enc != null && enc.getIndexType.getBitWidth == 16)
    val words = Seq("alpha", "beta", "gamma", "δelta", "epsilon")
    val c = cols(batches)
    for (i <- 0 until 50) {
      if (i % 7 == 6) assert(c(0)(i) == null) else assert(c(0)(i) == words(i % 5))
      assert(c(1)(i) == i)
    }
  }

  test("empty.arrow: zero-row table keeps its full schema") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("empty.arrow"))
    assert(schema.getFields.size == 30)
    assert(batches.map(_.length).sum == 0)
  }
}
