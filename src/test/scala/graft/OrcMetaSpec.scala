package graft

import graft.sources.OrcMeta
import graft.sources.OrcMeta.OrcMetaError
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The tail catalog facade, LIVE against orc-core 2.2.2 (the
  * reference implementation, on the Spark classpath): every
  * [[OrcMeta.stripes]] row — stripe layout, row counts, compression
  * kind and file rows — must match OrcFile.createReader on
  * Spark-written files across every codec this build can write,
  * including a multi-stripe file. */
class OrcMetaSpec extends AnyFunSuite {

  private def partFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(c => c.isFile && c.getName.endsWith(".orc")).map(_.getPath).sorted.toSeq
    else Seq(path)
  }

  /** Check every stripes() row of `p` against orc-core; returns the
    * stripe count. */
  private def compareFile(p: String): Int = {
    val ours = OrcMeta.stripes(TestSpark.spark, Seq(p)).collect().toSeq.sortBy(_.getAs[Int]("stripe"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val ref = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(p), org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val refStripes = ref.getStripes.asScala.toSeq
      assert(ours.length == refStripes.length, s"$p stripe count")
      ours.zip(refStripes).zipWithIndex.foreach { case ((o, r), i) =>
        assert(o.getAs[String]("path") == p && o.getAs[Int]("stripe") == i, s"$p stripe $i")
        assert(o.getAs[String]("compression") == ref.getCompressionKind.name(), s"$p codec")
        assert(o.getAs[Long]("file_rows") == ref.getNumberOfRows, s"$p rows")
        assert(o.getAs[Long]("offset") == r.getOffset, s"$p stripe $i offset")
        assert(o.getAs[Long]("index_bytes") == r.getIndexLength, s"$p stripe $i index")
        assert(o.getAs[Long]("data_bytes") == r.getDataLength, s"$p stripe $i data")
        assert(o.getAs[Long]("footer_bytes") == r.getFooterLength, s"$p stripe $i footer")
        assert(o.getAs[Long]("rows") == r.getNumberOfRows, s"$p stripe $i rows")
      }
      assert(ours.map(_.getAs[Long]("rows")).sum == ref.getNumberOfRows, s"$p stripe rows sum")
      ours.length
    } finally ref.close()
  }

  test("Spark-written ORC across all writable codecs matches orc-core field-for-field") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orcmeta").toFile
    try {
      val df = (0 until 50000)
        .map(i => (i.toLong, i * 37 % 1000, s"s${i % 97}", if (i % 11 == 0) None else Some(i * 3L)))
        .toDF("id", "bucket", "tag", "opt")
      for (codec <- Seq("none", "zlib", "snappy", "lz4", "zstd")) {
        val out = new java.io.File(dir, codec).getPath
        df.coalesce(1).write.option("compression", codec).orc(out)
        val files = partFiles(out)
        assert(files.nonEmpty, s"$codec: no files written")
        files.foreach(compareFile)
      }
      // multi-stripe: small stripe size forces several stripes
      val big = new java.io.File(dir, "multistripe").getPath
      df.coalesce(1).write
        .option("compression", "zstd")
        .option("orc.stripe.size", (256 * 1024).toString)
        .orc(big)
      val multi = partFiles(big)
      assert(multi.map(compareFile).forall(_ > 1), "expected several stripes")
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }

  test("stripes() catalog view: one row per stripe, rows sum to the file") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orcmeta_view").toFile
    try {
      val out = new java.io.File(dir, "t").getPath
      (0 until 20000).map(i => (i.toLong, s"x$i")).toDF("id", "s")
        .coalesce(1).write.option("compression", "zstd")
        .option("orc.stripe.size", (128 * 1024).toString).orc(out)
      val files = partFiles(out)
      val df = OrcMeta.stripes(spark, files)
      val rows = df.collect()
      assert(rows.nonEmpty)
      assert(rows.map(r => r.getLong(r.fieldIndex("rows"))).sum ==
        rows.head.getLong(rows.head.fieldIndex("file_rows")) * files.length ||
        rows.map(r => r.getLong(r.fieldIndex("rows"))).sum == 20000L)
      assert(rows.forall(_.getString(7) == "ZSTD"))
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }

  test("hostility: corrupt postscripts and tail byte-flips raise OrcMetaError") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orcmeta_hostile").toFile
    try {
      val out = new java.io.File(dir, "t").getPath
      (0 until 5000).map(i => (i.toLong, s"x$i")).toDF("id", "s")
        .coalesce(1).write.option("compression", "zlib").orc(out)
      val p = partFiles(out).head
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      def withBytes[T](b: Array[Byte])(f: String => T): T = {
        val tmp = java.io.File.createTempFile("orc_hostile", ".orc")
        try {
          java.nio.file.Files.write(tmp.toPath, b)
          f(tmp.getPath)
        } finally tmp.delete()
      }
      // truncated to a stub
      intercept[OrcMetaError] { withBytes(bytes.take(8))(OrcMeta.readTail(_)) }
      // absurd postscript length
      val badPs = bytes.clone(); badPs(badPs.length - 1) = 0xff.toByte
      intercept[OrcMetaError] { withBytes(badPs)(OrcMeta.readTail(_)) }
      // byte-flip fuzz over the last 2 KiB (the tail region)
      val rnd = new scala.util.Random(186)
      val window = math.min(2048, bytes.length)
      for (_ <- 0 until 400) {
        val mutated = bytes.clone()
        val at = bytes.length - 1 - rnd.nextInt(window)
        mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
        try { withBytes(mutated)(OrcMeta.readTail(_)); () }
        catch { case _: OrcMetaError => () }
      }
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }

  test("a postscript declaring tail lengths or a block size orc-core cannot hold is refused before it allocates") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orcmeta_alloc").toFile
    try {
      val out = new java.io.File(dir, "t").getPath
      (0 until 5000).map(i => (i.toLong, s"x$i")).toDF("id", "s")
        .coalesce(1).write.option("compression", "zlib").orc(out)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(partFiles(out).head))
      val psLen = bytes.last & 0xff
      val body = bytes.dropRight(1 + psLen)
      val ps = org.apache.orc.OrcProto.PostScript.parseFrom(bytes.slice(bytes.length - 1 - psLen, bytes.length - 1))
      val mx = java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      def refused(what: String, edit: org.apache.orc.OrcProto.PostScript.Builder => Unit): Unit = {
        val b = ps.toBuilder; edit(b)
        val psBytes = b.build().toByteArray
        val file = new java.io.File(dir, s"$what.orc")
        java.nio.file.Files.write(file.toPath, body ++ psBytes :+ psBytes.length.toByte)
        val before = mx.getCurrentThreadAllocatedBytes
        val e = intercept[OrcMetaError](OrcMeta.readTail(file.getPath))
        val allocated = mx.getCurrentThreadAllocatedBytes - before
        assert(e.getMessage.contains(file.getPath), s"$what: ${e.getMessage}")
        assert(allocated < (16L << 20), s"$what: refusing allocated $allocated bytes")
      }
      refused("metadata", _.setMetadataLength(1L << 30))
      refused("footer", _.setFooterLength(bytes.length.toLong))
      refused("stripe_stats", _.setStripeStatisticsLength(1L << 40))
      refused("block_size", _.setCompressionBlockSize(1L << 30))
      // the unedited postscript still reads
      assert(OrcMeta.readTail(partFiles(out).head).getFooter.getNumberOfRows == 5000)
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }
}
