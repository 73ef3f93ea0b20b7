package graft

import graft.sources.ParquetMeta
import graft.sources.ParquetMeta.ParquetMetaError
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The footer catalog facade, LIVE against parquet-hadoop 1.16 (the
  * reference implementation, on the Spark classpath): every
  * [[ParquetMeta.chunks]] row — column names, codecs, encodings, value
  * counts, byte sizes, dictionary flag, int32/int64 stats and row-group
  * rows — must match ParquetFileReader's footer on the generated
  * testdata files AND on Spark-written files across every codec this
  * Spark build can write, including a multi-row-group file. */
class ParquetMetaSpec extends AnyFunSuite {

  private def hadoopFooter(p: String) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter
    finally r.close()
  }

  private def partFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(c => c.isFile && c.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    else Seq(path)
  }

  /** Check every chunks() row of `files` against the reference footer;
    * returns the row-group count per file. */
  private def compareFiles(files: Seq[String]): Map[String, Int] = {
    val rows = ParquetMeta.chunks(TestSpark.spark, files).collect().toSeq
    files.map { p =>
      val ours = rows.filter(_.getAs[String]("path") == p)
        .sortBy(r => (r.getAs[Int]("row_group"), r.getAs[String]("column")))
      val blocks = hadoopFooter(p).getBlocks.asScala.toSeq
      val refCols = blocks.zipWithIndex.flatMap { case (rb, gi) =>
        rb.getColumns.asScala.toSeq.map(c => (gi, rb, c)).sortBy(_._3.getPath.toDotString)
      }
      assert(ours.length == refCols.length, s"$p chunk count")
      ours.zip(refCols).foreach { case (o, (gi, rb, rc)) =>
        val cn = rc.getPath.toDotString
        assert(o.getAs[Int]("row_group") == gi, s"$p rg$gi")
        assert(o.getAs[String]("column") == cn, s"$p rg$gi column path")
        assert(o.getAs[Long]("rg_rows") == rb.getRowCount, s"$p rg$gi rows")
        val refType = rc.getPrimitiveType.getPrimitiveTypeName.name.replace("BINARY", "BYTE_ARRAY")
        assert(o.getAs[String]("physical_type") == refType, s"$p $cn physical type")
        assert(o.getAs[String]("codec") == rc.getCodec.name(), s"$p $cn codec")
        assert(o.getAs[Long]("num_values") == rc.getValueCount, s"$p $cn num_values")
        assert(o.getAs[Long]("compressed_bytes") == rc.getTotalSize, s"$p $cn compressed")
        assert(o.getAs[Long]("uncompressed_bytes") == rc.getTotalUncompressedSize, s"$p $cn uncompressed")
        assert(o.getSeq[String](o.fieldIndex("encodings")).toSet == rc.getEncodings.asScala.map(_.name()).toSet,
          s"$p $cn encodings")
        assert(o.getAs[Boolean]("has_dictionary") == rc.hasDictionaryPage, s"$p $cn dictionary")
        def opt(f: String): Option[Long] = if (o.isNullAt(o.fieldIndex(f))) None else Some(o.getAs[Long](f))
        val refStats = rc.getStatistics
        assert(opt("null_count") == Option(refStats).filter(_.isNumNullsSet).map(_.getNumNulls), s"$p $cn null_count")
        val (mn, mx) = refStats match {
          case ls: org.apache.parquet.column.statistics.LongStatistics if ls.hasNonNullValue =>
            (Some(ls.getMin), Some(ls.getMax))
          case is: org.apache.parquet.column.statistics.IntStatistics if is.hasNonNullValue =>
            (Some(is.getMin.toLong), Some(is.getMax.toLong))
          case _ => (None, None)
        }
        assert(opt("min_int64") == mn && opt("max_int64") == mx, s"$p $cn int stats")
      }
      // rows per file: the first column of each group carries its rows
      assert(ours.filter(_.getAs[String]("column") == refCols.head._3.getPath.toDotString)
        .map(_.getAs[Long]("rg_rows")).sum == blocks.map(_.getRowCount).sum, s"$p rows")
      p -> blocks.length
    }.toMap
  }

  test("testdata footers match parquet-hadoop field-for-field (events + lineitem + documents)") {
    val files = Seq("events", "lineitem", "documents").flatMap(t => partFiles(s"/root/testdata/sf0.001/$t.parquet"))
    assert(compareFiles(files).size == files.length)
  }

  test("Spark-written files across all writable codecs match parquet-hadoop") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pqmeta").toFile
    try {
      val df = (0 until 5000)
        .map(i => (i.toLong, i * 37 % 1000, s"s${i % 97}", if (i % 11 == 0) None else Some(i * 0.5)))
        .toDF("id", "bucket", "tag", "score")
      for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd", "lz4")) {
        val out = new java.io.File(dir, codec).getPath
        df.coalesce(1).write.option("compression", codec).parquet(out)
        compareFiles(partFiles(out))
      }
      // multi row group: a small block size forces several groups
      val multi = new java.io.File(dir, "multigroup").getPath
      df.coalesce(1).write.option("compression", "zstd").option("parquet.block.size", (16 * 1024).toString)
        .parquet(multi)
      assert(compareFiles(partFiles(multi)).values.forall(_ > 1), "expected several row groups")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("chunks() catalog view: one row per chunk, stats decoded, driver reads tails only") {
    val spark = TestSpark.spark
    val files = partFiles("/root/testdata/sf0.001/events.parquet")
    val df = ParquetMeta.chunks(spark, files)
    val eventId = df.where(org.apache.spark.sql.functions.col("column") === "event_id").collect()
    assert(eventId.nonEmpty)
    val totalRows = eventId.map(r => r.getLong(r.fieldIndex("rg_rows"))).sum
    val refRows = files.map(p => hadoopFooter(p).getBlocks.asScala.map(_.getRowCount).sum).sum
    assert(totalRows == refRows)
    eventId.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("min_int64")) && !r.isNullAt(r.fieldIndex("max_int64")))
      assert(r.getLong(r.fieldIndex("min_int64")) <= r.getLong(r.fieldIndex("max_int64")))
      assert(r.getString(r.fieldIndex("physical_type")) == "INT64")
    }
  }

  test("hostility: corrupt tails and footer byte-flips raise ParquetMetaError") {
    val p = partFiles("/root/testdata/sf0.001/events.parquet").head
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def withBytes[T](b: Array[Byte])(f: String => T): T = {
      val tmp = java.io.File.createTempFile("pq_hostile", ".parquet")
      try {
        java.nio.file.Files.write(tmp.toPath, b)
        f(tmp.getPath)
      } finally tmp.delete()
    }
    // bad tail magic
    val badMagic = bytes.clone(); badMagic(badMagic.length - 1) = 'X'
    intercept[ParquetMetaError] { withBytes(badMagic)(ParquetMeta.readFooter(_)) }
    // absurd footer length
    val badLen = bytes.clone()
    badLen(badLen.length - 8) = 0xff.toByte; badLen(badLen.length - 7) = 0xff.toByte
    badLen(badLen.length - 6) = 0xff.toByte; badLen(badLen.length - 5) = 0x7f.toByte
    intercept[ParquetMetaError] { withBytes(badLen)(ParquetMeta.readFooter(_)) }
    // byte-flip fuzz over the footer region only (the part the reader parses)
    val fLen = (bytes(bytes.length - 8) & 0xff) | ((bytes(bytes.length - 7) & 0xff) << 8) |
      ((bytes(bytes.length - 6) & 0xff) << 16) | ((bytes(bytes.length - 5) & 0xff) << 24)
    val fStart = bytes.length - 8 - fLen
    val rnd = new scala.util.Random(185)
    for (_ <- 0 until 400) {
      val mutated = bytes.clone()
      val at = fStart + rnd.nextInt(fLen)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      try { withBytes(mutated)(ParquetMeta.readFooter(_)); () }
      catch { case _: ParquetMetaError => () }
    }
  }
}
