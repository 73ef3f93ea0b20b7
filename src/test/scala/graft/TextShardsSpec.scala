package graft

import java.nio.file.{Files, Path}

import graft.sources.{Bzip2, Lz4, Snappy, TextShards, Xz, Zstd}
import graft.text.Brotli

/** The one-front-door shard-set face: a directory holding the SAME
  * corpus split across shards in nine different encodings (seekable
  * zstd, xz, bzip2 under both suffix cases, gzip, lz4, snappy framed +
  * hadoop, brotli, plain) must come back as exactly
  * the union of all lines through [[TextShards.lines]], with the
  * plain files routed through Spark's splittable text reader. Also
  * pins the misnamed-shard magic sniff. */
class TextShardsSpec extends SparkSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close(); bos.toByteArray
  }

  test("lines(): a mixed-encoding shard directory yields exactly the union of all shard lines") {
    val dir = Files.createTempDirectory("shards dir") // a space: paths must encode alike
    try {
      val mk = (tag: String, n: Int) => (0 until n).map(i => s"""{"shard":"$tag","i":$i}""")
      val shards: Seq[(String, Seq[String], Array[Byte] => Array[Byte])] = Seq(
        ("a.jsonl.zst", mk("zst", 120), (b: Array[Byte]) => Zstd.encode(b)),
        ("b.jsonl.xz", mk("xz", 80), (b: Array[Byte]) => Xz.encodeRawXz(b)),
        ("c.jsonl.bz2", mk("bz2", 200), (b: Array[Byte]) => Bzip2.encode(b)),
        ("j.JSONL.BZ2", mk("BZ2", 30), (b: Array[Byte]) => Bzip2.encode(b)),
        ("d.jsonl.gz", mk("gz", 60), gzip _),
        ("e.jsonl.br", mk("br", 90), (b: Array[Byte]) => Brotli.encodeRaw(b)),
        ("g.jsonl.lz4", mk("lz4", 110), (b: Array[Byte]) => Lz4.encode(b)),
        ("h.jsonl.sz", mk("sz", 70), (b: Array[Byte]) => Snappy.framedEncode(b)),
        ("i.jsonl.snappy", mk("snappy", 50), (b: Array[Byte]) => Snappy.hadoopEncode(b)),
        ("f.jsonl", mk("plain", 150), identity[Array[Byte]] _)
      )
      val expected = shards.flatMap(_._2).sorted
      shards.foreach { case (name, lines, enc) =>
        Files.write(dir.resolve(name), enc(lines.mkString("", "\n", "\n").getBytes(Utf8)))
      }
      val got = TextShards.lines(spark, dir.toString + "/*").collect()
      assert(got.length == expected.length, s"${got.length} lines, want ${expected.length}")
      assert(got.map(_.getString(1)).sorted.toSeq == expected, "line multiset drift")
      // per-path attribution survives, every row spelling its path as
      // the file's URI whichever reader produced it
      val byPath = got.groupBy(_.getString(0)).map { case (p, rows) => p -> rows.length }
      assert(byPath == shards.map { case (name, lines, _) => dir.resolve(name).toUri.toString -> lines.length }.toMap,
        s"per-shard paths/counts drift: $byPath")
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(dir)
    }
  }

  test("linesStream: shards dropped into a folder stream out decoded, exactly-once per file") {
    val dir = Files.createTempDirectory("shards-stream")
    val ckpt = Files.createTempDirectory("shards-ckpt")
    try {
      val mk = (tag: String, n: Int) => (0 until n).map(i => s"""{"t":"$tag","i":$i}""")
      Files.write(dir.resolve("one.jsonl.zst"),
        Zstd.encode(mk("a", 40).mkString("", "\n", "\n").getBytes(Utf8)))
      val q = TextShards.linesStream(spark, dir.toString)
        .writeStream
        .format("memory")
        .queryName("shards_stream")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable()
        val n1 = spark.sql("select count(*) from shards_stream").head().getLong(0)
        assert(n1 == 40, s"first batch: $n1")
        // drop more shards in different encodings — the r16 codecs ride
        // the same dispatch, so the stream twin inherits them
        Files.write(dir.resolve("two.jsonl.bz2"),
          Bzip2.encode(mk("b", 25).mkString("", "\n", "\n").getBytes(Utf8)))
        Files.write(dir.resolve("three.jsonl.lz4"),
          Lz4.encode(mk("c", 15).mkString("", "\n", "\n").getBytes(Utf8)))
        Files.write(dir.resolve("four.jsonl.sz"),
          Snappy.framedEncode(mk("d", 10).mkString("", "\n", "\n").getBytes(Utf8)))
        q.processAllAvailable()
        val rows = spark.sql("select line from shards_stream").collect().map(_.getString(0))
        assert(rows.length == 90, s"after second batch: ${rows.length}")
        assert(rows.sorted.toSeq == (mk("a", 40) ++ mk("b", 25) ++ mk("c", 15) ++ mk("d", 10)).sorted)
      } finally q.stop()
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        val f = p.toFile
        if (f.isDirectory) f.listFiles().foreach(c => rm(c.toPath))
        Files.deleteIfExists(p)
      }
      rm(dir); rm(ckpt)
    }
  }

  test("decodeShard: misnamed shards route by magic sniff; multi-member gzip concatenates") {
    val payload = (0 until 50).map(i => s"line $i").mkString("", "\n", "\n").getBytes(Utf8)
    assert(java.util.Arrays.equals(TextShards.decodeShard("x.bin", Zstd.encode(payload)), payload))
    assert(java.util.Arrays.equals(TextShards.decodeShard("x.bin", Xz.encodeRawXz(payload)), payload))
    assert(java.util.Arrays.equals(TextShards.decodeShard("x.bin", Bzip2.encode(payload)), payload))
    assert(java.util.Arrays.equals(TextShards.decodeShard("x.bin", gzip(payload)), payload))
    // multi-member gz (cat of two gzips) decodes fully through the JDK path
    val two = gzip(payload.take(100)) ++ gzip(payload.drop(100))
    assert(java.util.Arrays.equals(TextShards.decodeShard("x.gz", two), payload))
    // unknown content passes through as plain text
    assert(java.util.Arrays.equals(TextShards.decodeShard("x.bin", payload), payload))
  }
}
