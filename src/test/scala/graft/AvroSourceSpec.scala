package graft

import graft.sources.AvroOcf
import graft.sources.AvroOcf._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 face for Avro OCF: schema from the header, byte-range input
  * partitions, and WIRE-LEVEL column pruning — proven by poisoning a
  * pruned field's value bytes (an out-of-range enum index): the full
  * read fails with AvroError, the pruned read decodes around it. */
class AvroSourceSpec extends AnyFunSuite {

  private val N = 41

  private def writeFile(dir: java.io.File, name: String, codec: String,
      blockRows: Int = 4096): java.io.File = {
    val schema = AvroOcf.parseSchema(
      """{"type":"record","name":"R","fields":[
        |{"name":"k","type":"int"},
        |{"name":"s","type":"string"},
        |{"name":"a","type":{"type":"array","items":"long"}}]}""".stripMargin)
    val rows = (0 until N).map(i => Vector[Any](i, s"v$i", Vector.tabulate(i % 4)(j => (i * 10L + j))))
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, AvroOcf.encodeFile(schema, rows, codec, blockRows))
    f
  }

  test("format(avroocf): schema from header, full read equals scan()") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("avro_dsv2").toFile
    try {
      val f = writeFile(dir, "r.avro", "deflate")
      val df = spark.read.format("avroocf").load(f.getPath)
      assert(df.schema.fieldNames.toSeq == Seq("k", "s", "a"))
      val rows = df.collect().sortBy(_.getInt(0))
      assert(rows.length == N)
      for (i <- 0 until N) {
        assert(rows(i).getString(1) == s"v$i")
        assert(rows(i).getSeq[Long](2) == Seq.tabulate(i % 4)(j => i * 10L + j))
      }
      // the reference reader: avro-java's GenericDatumReader over the same file
      val ref = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.file.SeekableByteArrayInput(java.nio.file.Files.readAllBytes(f.toPath)),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      val expected =
        try {
          import scala.jdk.CollectionConverters._
          ref.iterator.asScala.map { r =>
            (r.get("k").asInstanceOf[Int], r.get("s").toString,
              r.get("a").asInstanceOf[java.util.List[java.lang.Long]].asScala.map(_.longValue).toSeq)
          }.toSeq.sortBy(_._1)
        } finally ref.close()
      assert(rows.map(r => (r.getInt(0), r.getString(1), r.getSeq[Long](2))).toSeq == expected)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("byte-range partitions: small splitBytes yields many tasks, same rows") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("avro_dsv2_split").toFile
    try {
      val f = writeFile(dir, "r.avro", "null", blockRows = 3) // many small blocks
      val df = spark.read.format("avroocf").option("splitBytes", "256").load(f.getPath)
      assert(df.rdd.getNumPartitions > 1, "expected multiple range partitions")
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == (0 until N))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("column pruning reaches the scan (description carries the pruned field list)") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("avro_dsv2_prune").toFile
    try {
      val f = writeFile(dir, "r.avro", "deflate")
      val pruned = spark.read.format("avroocf").load(f.getPath).select("k")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("fields [k]"), s"pruned scan not reflected in plan:\n$plan")
      assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == (0 until N))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("write path: df.write -> shards avro-java reads back; spark round-trip equal") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("avro_write").toFile
    val out = new java.io.File(dir, "out").getPath
    try {
      val df = spark.range(100).select(
        col("id"),
        concat(lit("s"), col("id")).as("s"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 2).as("opt"),
        array(col("id"), col("id") + 1).as("arr"),
        map(lit("k"), col("id")).as("m"),
        struct(col("id").as("x"), (col("id") % 3).as("y")).as("st"))
      df.repartition(3).write.format("avroocf").option("codec", "zstandard")
        .mode("append").save(out)
      val parts = new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro"))
      assert(parts.length == 3)
      // LIVE: avro-java reads every shard
      import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      var total = 0L
      parts.foreach { p =>
        val r = new DataFileReader[GenericRecord](
          new SeekableByteArrayInput(java.nio.file.Files.readAllBytes(p.toPath)),
          new GenericDatumReader[GenericRecord]())
        try {
          while (r.hasNext) {
            val rec = r.next()
            val id = rec.get("id").asInstanceOf[Long]
            assert(rec.get("s").toString == s"s$id")
            if (id % 7 == 0) assert(rec.get("opt") == null) else assert(rec.get("opt") == id * 2)
            val st = rec.get("st").asInstanceOf[GenericRecord]
            assert(st.get("x") == id && st.get("y") == id % 3)
            total += 1
          }
        } finally r.close()
      }
      assert(total == 100)
      // spark round-trip
      val back = spark.read.format("avroocf").load(out)
      assert(back.count() == 100)
      val row = back.where(col("id") === 22).collect()(0)
      assert(row.getAs[Long]("opt") == 44L)
      assert(row.getAs[scala.collection.Seq[Long]]("arr").toSeq == Seq(22L, 23L))
      assert(row.getAs[Map[String, Long]]("m") == Map("k" -> 22L))
      assert(back.where(col("id") === 21).collect()(0).isNullAt(2)) // 21 % 7 == 0
      // truncate overwrite
      spark.range(5).select(col("id"), lit("t").as("s"), col("id").as("opt"),
        array(col("id")).as("arr"), map(lit("k"), col("id")).as("m"),
        struct(col("id").as("x"), col("id").as("y")).as("st"))
        .coalesce(1).write.format("avroocf").mode("overwrite").save(out)
      assert(spark.read.format("avroocf").load(out).count() == 5)
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }

  test("POISON PROOF: corrupt pruned field decodes around; full read fails") {
    val spark = TestSpark.spark
    // {k:int, e:enum} — single null-codec block, fully deterministic
    // wire layout: rows are (zigzag k)(zigzag enum idx), one byte each
    // for k < 64, so row i's enum byte sits at blockDataStart + 2i + 1
    val schema = AvroOcf.parseSchema(
      """{"type":"record","name":"P","fields":[
        |{"name":"k","type":"int"},
        |{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}]}""".stripMargin)
    val rows = (0 until 10).map(i => Vector[Any](i, Vector("A", "B", "C")(i % 3)))
    val bytes = AvroOcf.encodeFile(schema, rows, "null")
    val h = AvroOcf.readHeader(n => java.util.Arrays.copyOf(bytes, n), bytes.length.toLong)
    // block = count varint (1 byte) + size varint (1 byte) + data
    val blockDataStart = h.headerEnd.toInt + 2
    val poisonAt = blockDataStart + 2 * 3 + 1 // row 3's enum byte
    assert(bytes(poisonAt) == 0x00.toByte) // row 3: enum A = index 0
    bytes(poisonAt) = 0x10 // zigzag 8 — out of range for a 3-symbol enum
    val dir = java.nio.file.Files.createTempDirectory("avro_poison").toFile
    try {
      val f = new java.io.File(dir, "p.avro")
      java.nio.file.Files.write(f.toPath, bytes)
      // full read must fail on the poisoned enum
      val fullErr = intercept[org.apache.spark.SparkException] {
        spark.read.format("avroocf").load(f.getPath).collect()
      }
      assert(fullErr.getMessage.contains("enum") ||
        Option(fullErr.getCause).exists(_.getMessage.contains("enum")), "wrong failure")
      // pruned read skips the enum bytes without validating them
      val ks = spark.read.format("avroocf").load(f.getPath).select("k")
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(ks == (0 until 10))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
