package graft

import java.nio.file.{Files, Path}

import graft.sources.{Bzip2, TextShards}

/** bzip2 conformance. The commons-compress facade decodes REAL libbz2
  * output (python's stdlib bz2 binding) byte-exactly across levels
  * 1..9, multi-block and multistream files, and round-trips its own
  * encoder. Splitting within a `.bz2` belongs to Spark's text source:
  * [[TextShards.lines]] over the multi-block and multistream fixtures
  * must return the exact line multiset at any split size. */
class Bzip2Spec extends SparkSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val dir = new java.io.File("src/test/resources/graft/bzip2")

  private def fixtures: Seq[String] =
    dir.listFiles().filter(_.getName.endsWith(".bz2")).map(_.getName.stripSuffix(".bz2")).sorted.toSeq

  test("decode: every real libbz2 fixture decodes byte-exactly (multi-block + multistream included)") {
    val names = fixtures
    assert(names.size >= 8)
    assert(names.exists(_.contains("multiblock")) && names.exists(_.contains("concat")))
    names.foreach { n =>
      val bz = Files.readAllBytes(new java.io.File(dir, n + ".bz2").toPath)
      val want = Files.readAllBytes(new java.io.File(dir, n + ".bin").toPath)
      val got = Bzip2.decode(bz)
      assert(java.util.Arrays.equals(got, want), s"$n: decode mismatch (${got.length} vs ${want.length})")
    }
  }

  test("encode/decode: round-trip across content classes incl. periodic (BWT rotation ties)") {
    Seq(
      Array.emptyByteArray,
      "hi".getBytes(Utf8),
      ("abab" * 5000).getBytes(Utf8),
      ("z" * 100000).getBytes(Utf8), // long RLE1 runs
      Array.tabulate(250000)(i => ((i * 16807) >> 3).toByte) // multi-block at level 1
    ).foreach { data =>
      val enc = Bzip2.encode(data)
      assert(java.util.Arrays.equals(Bzip2.decode(enc), data), s"round-trip drift at ${data.length} B")
    }
  }

  test("decode limit: a stream past the caller's declared size refuses at limit + 1 bytes") {
    val data = ("z" * 100000).getBytes(Utf8)
    val enc = Bzip2.encode(data)
    assert(java.util.Arrays.equals(Bzip2.decode(enc, data.length.toLong), data))
    intercept[Bzip2.Bzip2Error](Bzip2.decode(enc, data.length - 1L))
    assert(Bzip2.decode(Array.emptyByteArray, 0L).isEmpty)
    assert(Bzip2.decode(Bzip2Bomb.stream).length == 1 << 24)
    val bomb = Bzip2Bomb.payload
    val used = Bzip2Bomb.allocated(intercept[Bzip2.Bzip2Error](Bzip2.decode(bomb, 100L)))
    assert(used < (64L << 20), s"bomb allocated ${used >> 20} MiB before the refusal")
  }

  test("lines(): Spark splits multi-block and multistream .bz2 with exact lines") {
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      for (n <- Seq("jsonl_l1_multiblock", "concat_2streams")) {
        val bz = new java.io.File(dir, n + ".bz2")
        val want = new String(Files.readAllBytes(new java.io.File(dir, n + ".bin").toPath), Utf8)
          .split("\n").filter(_.nonEmpty).sorted.toSeq
        for (split <- Seq(bz.length + 7, bz.length / 3, 2048L)) {
          spark.conf.set(key, split)
          val df = TextShards.lines(spark, bz.getAbsolutePath)
          if (split < bz.length) assert(df.rdd.getNumPartitions > 1, s"$n at split $split: not split")
          val got = df.collect()
          assert(got.map(_.getString(1)).sorted.toSeq == want, s"$n at split $split: line multiset drift")
          assert(got.map(_.getString(0)).distinct.toSeq == Seq(bz.getAbsoluteFile.toPath.toUri.toString),
            s"$n at split $split: path drift")
        }
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("malformed: truncation/corruption raise Bzip2Error; CRCs reject silent damage; randomized bit refuses") {
    val good = Files.readAllBytes(new java.io.File(dir, "jsonl_l9.bz2").toPath)
    (Seq(1, 2, 3, 4, 5, 9) ++ (10 until good.length by 41)).foreach { cut =>
      intercept[Bzip2.Bzip2Error](Bzip2.decode(java.util.Arrays.copyOf(good, cut)))
    }
    (4 until good.length by 13).foreach { i =>
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x11).toByte
      try { Bzip2.decode(bad); () }
      catch { case _: Bzip2.Bzip2Error => () }
    }
    // flip the randomized bit (bit 80 of the stream = after header+magic+crc):
    // the block then de-randomizes like libbz2 does and its CRC refuses it
    val bad2 = good.clone()
    val bitIdx = (4 + 6 + 4) * 8L // header(4) + block magic(6) + crc(4)
    bad2((bitIdx >> 3).toInt) = (bad2((bitIdx >> 3).toInt) ^ (1 << (7 - (bitIdx & 7)).toInt)).toByte
    intercept[Bzip2.Bzip2Error](Bzip2.decode(bad2))
  }
}
