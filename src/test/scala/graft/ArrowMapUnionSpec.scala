package graft

import scala.jdk.CollectionConverters._

import graft.ArrowJava._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc.ArrowError
import org.apache.arrow.vector.types.UnionMode
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, Schema}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow map + union (dense and sparse) conformance.
  *
  * Producers: committed pyarrow 16.1 fixtures
  * (tools/gen_arrow_fixtures.py — map.arrow / map_zstd.arrow /
  * union_dense.arrow / union_sparse.arrow, values deterministic
  * formulas of the row index, re-read by pyarrow at capture), plus
  * LIVE Arrow Java: ArrowFileWriter output over every codec, and Arrow
  * Java re-serializing the pyarrow fixtures through ArrowFileWriter
  * with the facade decoding the fresh bytes. */
class ArrowMapUnionSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/arrow/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes()
    finally in.close()
  }

  private def cols(batches: Seq[IndexedSeq[Row]]): Array[Vector[Any]] = columns(batches)
  private def names(fs: java.util.List[Field]): Seq[String] = fs.asScala.map(_.getName).toSeq

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // ------------------------------------------- generator formula mirrors

  /** map.arrow row i: null when i%6==5, else (i%4) entries
    * ("k{i}_{j}" -> i*10+j, value null when (i+j)%5==4). */
  private def expectedMap(i: Int): Vector[Vector[Any]] =
    Vector.tabulate(i % 4) { j =>
      Vector[Any](s"k${i}_$j", if ((i + j) % 5 == 4) null else java.lang.Long.valueOf(i * 10L + j))
    }

  /** The Spark face of map row i. */
  private def faceMap(i: Int): Map[Any, Any] = expectedMap(i).map(e => e(0) -> e(1)).toMap

  private def checkMapFixture(schema: Schema, batches: Seq[IndexedSeq[Row]], n: Int): Unit = {
    assert(names(schema.getFields) == Seq("m", "k"))
    val m = schema.getFields.get(0)
    assert(m.getType == new ArrowType.Map(false))
    val entries = m.getChildren.get(0)
    assert(entries.getName == "entries" && !entries.isNullable)
    assert(names(entries.getChildren) == Seq("key", "value"))
    assert(!entries.getChildren.get(0).isNullable)
    val c = cols(batches)
    assert(c(0).length == n)
    for (i <- 0 until n) {
      if (i % 6 == 5) assert(c(0)(i) == null, s"m[$i] should be null")
      else assert(c(0)(i) == faceMap(i), s"m[$i]: got ${c(0)(i)}")
      assert(c(1)(i) == i.toLong)
    }
  }

  /** union fixtures row i: num slot (value i*7, null when i%12==6)
    * when i%3==0, else word slot ("w{i%11}", null when i%10==7). */
  private def expectedUnion(i: Int, numTid: Int, wordTid: Int): Vector[Any] =
    if (i % 3 == 0) Vector[Any](numTid, if (i % 12 == 6) null else java.lang.Long.valueOf(i * 7L))
    else Vector[Any](wordTid, if (i % 10 == 7) null else s"w${i % 11}")

  /** The Spark face of union row i: `{type_id, num, word}`. */
  private def faceUnion(i: Int, numTid: Int, wordTid: Int): Row = {
    val Seq(tid, v) = expectedUnion(i, numTid, wordTid)
    if (tid == numTid) Row(numTid.toByte, v, null) else Row(wordTid.toByte, null, v)
  }

  /** Mode and type ids of a union field (ids default to 0..n-1). */
  private def unionOf(f: Field): (Boolean, Seq[Int]) = {
    val u = f.getType.asInstanceOf[ArrowType.Union]
    (u.getMode == UnionMode.Dense, Option(u.getTypeIds).map(_.toSeq).getOrElse(f.getChildren.asScala.indices))
  }

  private def checkUnionFixture(schema: Schema, batches: Seq[IndexedSeq[Row]], n: Int,
      dense: Boolean, numTid: Int, wordTid: Int): Unit = {
    assert(names(schema.getFields) == Seq("u", "k"))
    val u = schema.getFields.get(0)
    assert(unionOf(u) == ((dense, Seq(numTid, wordTid))))
    assert(names(u.getChildren) == Seq("num", "word"))
    val c = cols(batches)
    assert(c(0).length == n)
    for (i <- 0 until n) {
      assert(c(0)(i) == faceUnion(i, numTid, wordTid), s"u[$i]: got ${c(0)(i)}")
      assert(c(1)(i) == i.toLong)
    }
  }

  // ------------------------------------------------------ pyarrow fixtures

  test("map.arrow: pyarrow map<utf8,int64> decodes (nulls in maps and values, 3 batches)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("map.arrow"))
    assert(batches.map(_.length) == Seq(16, 16, 5))
    checkMapFixture(schema, batches, 37)
  }

  test("map_zstd.arrow: compressed map bodies decode via the in-tree codec") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("map_zstd.arrow"))
    checkMapFixture(schema, batches, 37)
  }

  test("union_dense.arrow: pyarrow dense union with non-contiguous type ids (2, 5)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("union_dense.arrow"))
    assert(batches.map(_.length) == Seq(20, 17))
    checkUnionFixture(schema, batches, 37, dense = true, numTid = 2, wordTid = 5)
  }

  test("union_sparse.arrow: pyarrow sparse union (default contiguous ids)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("union_sparse.arrow"))
    checkUnionFixture(schema, batches, 37, dense = false, numTid = 0, wordTid = 1)
  }

  // ------------------------------------------------- Arrow Java as writer

  private val mapSchema = schema(
    field("m", new ArrowType.Map(false), kids = Seq(
      field("entries", ArrowType.Struct.INSTANCE, nullable = false, kids = Seq(
        utf8("key", nullable = false), int64("value"))))),
    int64("k", nullable = false))

  private def mapColumns(n: Int): Array[Array[Any]] = Array(
    Array.tabulate[Any](n)(i => if (i % 6 == 5) null else expectedMap(i)),
    Array.tabulate[Any](n)(i => java.lang.Long.valueOf(i.toLong)))

  private def unionSchema(dense: Boolean, tids: Seq[Int]) = schema(
    field("u", new ArrowType.Union(if (dense) UnionMode.Dense else UnionMode.Sparse, tids.toArray), nullable = false,
      kids = Seq(int64("num"), utf8("word"))))

  private def unionColumns(n: Int, tids: Seq[Int]): Array[Array[Any]] =
    Array(Array.tabulate[Any](n)(i => expectedUnion(i, tids(0), tids(1))))

  test("map round-trip: our writer -> our reader, all codecs") {
    for (codec <- Codecs) {
      val bytes = file(mapSchema, Seq((mapColumns(37), 37)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      checkMapFixture(schema, batches, 37)
    }
  }

  test("union round-trip: our writer -> our reader, dense (ids 2,5) and sparse (ids 0,1)") {
    for ((dense, tids) <- Seq((true, Seq(2, 5)), (false, Seq(0, 1))); codec <- Seq(Plain, Zstd)) {
      val bytes =
        if (dense) file(unionSchema(dense, tids), Seq((unionColumns(37, tids), 37)), codec)
        else rewrite(fixture("union_sparse.arrow"), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      assert(unionOf(schema.getFields.get(0)) == ((dense, tids)))
      val c = cols(batches)
      for (i <- 0 until 37) assert(c(0)(i) == faceUnion(i, tids(0), tids(1)), s"dense=$dense u[$i]")
    }
  }

  // --------------------------- LIVE: Arrow Java as producer -> our reader

  test("Arrow Java re-serializes the pyarrow map+union fixtures; our reader decodes its bytes") {
    import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    for (name <- Seq("map.arrow", "union_dense.arrow", "union_sparse.arrow")) {
      val original = fixture(name)
      val a = alloc()
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
      val (s2, b2) = ArrowIpc.readFileBytes(original)
      assert(s1.getFields.asScala.map(_.getType) == s2.getFields.asScala.map(_.getType) &&
        ArrowIpc.sparkSchema(s1) == ArrowIpc.sparkSchema(s2), s"$name: schema drift through Arrow Java")
      assert(cols(b1).toSeq == cols(b2).toSeq, s"$name: value drift through Arrow Java")
    }
  }

  // ------------------------------------------------------------ Spark face

  test("Spark face: map -> MapType, union -> {type_id, variants} struct; scan() values") {
    val spark = TestSpark.spark
    assert(ArrowIpc.sparkSchema(ArrowIpc.readFileBytes(fixture("map.arrow"))._1) ==
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("m", org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType, valueContainsNull = true), nullable = true),
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType, nullable = true))))
    val dir = java.nio.file.Files.createTempDirectory("arrow_mu").toFile
    try {
      for (name <- Seq("map.arrow", "union_dense.arrow")) {
        val p = new java.io.File(dir, name)
        java.nio.file.Files.write(p.toPath, fixture(name))
      }
      val mdf = spark.read.format("arrowipc").load(new java.io.File(dir, "map.arrow").getPath)
      val mrows = mdf.collect().sortBy(_.getLong(1))
      assert(mrows.length == 37)
      for (i <- 0 until 37) {
        val got = mrows(i).getMap[String, Any](0)
        if (i % 6 == 5) assert(got == null)
        else assert(got.toMap == expectedMap(i).map(e => e(0).asInstanceOf[String] -> e(1)).toMap, s"row $i")
      }
      val udf2 = spark.read.format("arrowipc").load(new java.io.File(dir, "union_dense.arrow").getPath)
      val urows = udf2.collect().sortBy(_.getLong(1))
      assert(udf2.schema.fields.head.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("type_id", "num", "word"))
      for (i <- 0 until 37) {
        val st = urows(i).getStruct(0)
        val exp = expectedUnion(i, 2, 5)
        assert(st.getByte(0) == exp(0).asInstanceOf[Int].toByte, s"row $i tag")
        if (i % 3 == 0) { assert(st.get(1) == exp(1) && st.get(2) == null, s"row $i num") }
        else { assert(st.get(1) == null && st.get(2) == exp(1), s"row $i word") }
      }
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("DSv2 face: map column reads and prunes through spark.read.format(arrowipc)") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("arrow_mu_dsv2").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "map.arrow").toPath, fixture("map.arrow"))
      val df = spark.read.format("arrowipc").load(new java.io.File(dir, "map.arrow").getPath)
      val full = df.selectExpr("k", "m['k14_1'] as v").where("k = 14").collect()
      assert(full.length == 1 && full(0).getLong(1) == 141L)
      // pruned: only k survives — the map column must not be decoded
      val pruned = df.select("k")
      val rows = pruned.collect()
      assert(rows.length == 37 && rows.map(_.getLong(0)).sorted.toSeq == (0L until 37L))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  // ------------------------------------------------------------- hostility

  test("hostility: undeclared type ids, bad offsets, null map keys raise ArrowError") {
    val tids = Seq(2, 5)
    val good = file(unionSchema(dense = true, tids), Seq((unionColumns(8, tids), 8)))
    // an undeclared id in the types buffer (Arrow Java writes it as given)
    intercept[ArrowError] {
      ArrowIpc.readFileBytes(file(unionSchema(dense = true, tids),
        Seq((Array(Array[Any](Vector(9, java.lang.Long.valueOf(1L)))), 1))))
    }
    // a null map key
    intercept[ArrowError] {
      ArrowIpc.readFileBytes(file(mapSchema, Seq((Array(
        Array[Any](Vector(Vector[Any](null, java.lang.Long.valueOf(1L)))),
        Array[Any](java.lang.Long.valueOf(0L))), 1))))
    }
    // reader: flip every byte of a valid dense-union file; each decode is
    // equal-bytes or ArrowError, never a raw index error
    val rnd = new scala.util.Random(181)
    for (_ <- 0 until 400) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      try { ArrowIpc.readFileBytes(mutated); () }
      catch { case _: ArrowError => () }
    }
  }
}
