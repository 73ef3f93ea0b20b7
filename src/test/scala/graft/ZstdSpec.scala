package graft

import java.nio.file.{Files, Path}

import graft.sources.{Zstd, ZstdSeek}

/** Zstandard conformance — the proof q_zst cannot give. q_zst cycles
  * encode and decode; this spec pins the decode path against REAL
  * reference-encoder output captured as fixtures
  * (`src/test/resources/graft/zstd/` pairs, levels 1/3/12/19 plus a
  * single-segment frame) and the untrusted-bytes contract of the
  * facade. Then: round-trips with and without the content checksum,
  * the seekable container (tail-grow
  * past the first 64 KiB window, skippable frame mid-stream,
  * corrupt-checksum rejection), and a split-size sweep through the
  * REAL [[ZstdSeek.jsonlLines]] Spark face — union over any split
  * partition equals the whole-file decode. */
class ZstdSpec extends SparkSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val fixtureDir = new java.io.File("src/test/resources/graft/zstd")

  private def fixturePairs: Seq[String] = {
    val names = fixtureDir
      .listFiles()
      .filter(f => f.getName.endsWith(".zst") && !f.getName.startsWith("rawdict") && !f.getName.startsWith("traineddict"))
      .map(_.getName.stripSuffix(".zst"))
      .sorted
      .toSeq
    assert(names.nonEmpty, s"no zstd fixtures at $fixtureDir")
    names
  }

  // ------------------------------------------------------------------
  // real-encoder fixtures: ground truth the self-cycle cannot provide
  // ------------------------------------------------------------------

  test("decode: every captured reference-encoder fixture decodes byte-exactly to its .bin pair") {
    val names = fixturePairs
    // the capture set must cover multiple levels (predefined vs built
    // FSE tables, 1- vs 4-stream Huffman all differ across levels)
    assert(names.exists(_.contains("_l1")), "level-1 fixture missing")
    assert(names.exists(_.contains("_l3")), "level-3 fixture missing")
    assert(names.exists(_.contains("_l12")), "level-12 fixture missing")
    assert(names.exists(_.contains("_l19")), "level-19 fixture missing")
    names.foreach { n =>
      val zst = Files.readAllBytes(new java.io.File(fixtureDir, n + ".zst").toPath)
      val want = Files.readAllBytes(new java.io.File(fixtureDir, n + ".bin").toPath)
      val got = Zstd.decode(zst)
      assert(java.util.Arrays.equals(got, want), s"fixture $n: decode mismatch (got ${got.length} B, want ${want.length} B)")
    }
  }

  test("decode: corrupting one payload byte of a checksummed fixture raises ZstdError, not garbage output") {
    // pick a fixture that carries a content checksum (FHD bit 2); flip a
    // byte mid-payload and demand a *named* failure
    val withChecksum = fixturePairs.flatMap { n =>
      val zst = Files.readAllBytes(new java.io.File(fixtureDir, n + ".zst").toPath)
      val fhd = zst(4) & 0xff
      if ((fhd & 0x04) != 0) Some((n, zst)) else None
    }
    assert(withChecksum.nonEmpty, "no checksummed fixture captured")
    withChecksum.take(3).foreach { case (n, zst) =>
      val bad = zst.clone()
      val mid = bad.length / 2
      bad(mid) = (bad(mid) ^ 0x5a).toByte
      val err = intercept[Zstd.ZstdError](Zstd.decode(bad))
      assert(err.getMessage != null, s"fixture $n: corrupt decode must carry a message")
    }
  }

  // ------------------------------------------------------------------
  // encoder round-trip with and without the content checksum
  // ------------------------------------------------------------------

  private def payloads: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "tiny" -> "a".getBytes(Utf8),
    "runs" -> Array.fill(4096)('x'.toByte),
    "jsonl" -> (0 until 800).map(i => s"""{"id":$i,"w":"w${i % 97}","pad":"${"p" * (i % 31)}"}""").mkString("", "\n", "\n").getBytes(Utf8),
    "binary" -> Array.tabulate(65537)(i => ((i * 2654435761L >>> 13) & 0xff).toByte),
    "multiblock" -> Array.tabulate(300000)(i => "abcdefgh".charAt(i % 8).toByte)
  )

  test("encode/decode: round-trip with and without the content checksum") {
    for {
      checksum <- Seq(true, false)
      (name, data) <- payloads
    } {
      val opts = Zstd.EncOpts(checksum = checksum)
      val enc = Zstd.encode(data, opts)
      val dec = Zstd.decode(enc)
      assert(java.util.Arrays.equals(dec, data), s"round-trip drift: $name under $opts")
    }
  }

  test("encode: literal alphabets spanning >128 symbols (UTF-8 high bytes) — regression") {
    // An earlier in-tree encoder's direct Huffman-weight description
    // capped at 128 weights, so alphabets whose highest literal
    // exceeded 0x80 (ANY non-ASCII UTF-8 text) produced frames the
    // reference CLI rejected as corrupt. Kept as a high-byte round-trip.
    val cases = Seq(
      "interpunct" -> (0 until 300).map(i => if (i % 5 == 4) "" else s"n${i}·${i % 11}").mkString.getBytes("UTF-8"),
      "accents" -> ("déjà-vu café naïve à côté — " * 40).getBytes("UTF-8"),
      "span255" -> Array.tabulate(4000)(i => (if (i % 9 == 0) 0xff else "aeiou nst".charAt(i % 9)).toByte),
      "span129" -> Array.tabulate(3000)(i => (if (i % 11 == 0) 0x81 else "redundant!".charAt(i % 10)).toByte)
    )
    for ((name, data) <- cases) {
      val enc = Zstd.encode(data)
      val dec = Zstd.decode(enc)
      assert(java.util.Arrays.equals(dec, data), s"round-trip drift: $name")
      val ref = com.github.luben.zstd.Zstd.decompress(enc, data.length)
      assert(java.util.Arrays.equals(ref, data), s"reference decoder rejects our frame: $name")
    }
  }

  // ------------------------------------------------------------------
  // malformed input: ZstdError, never raw index errors
  // ------------------------------------------------------------------

  test("decode: truncated / corrupted inputs fail with ZstdError (untrusted-bytes contract)") {
    val good = Zstd.encode(payloads.find(_._1 == "jsonl").get._2, Zstd.EncOpts())
    // truncation at every multiple-of-prime prefix plus both edges
    // (0 bytes is a legitimate empty decode — zero frames — not an error)
    val cuts = (Seq(1, 2, 3, 4, 5, 6) ++ (7 until good.length by 37) :+ (good.length - 1)).distinct
    cuts.foreach { cut =>
      val t = java.util.Arrays.copyOf(good, cut)
      intercept[Zstd.ZstdError](Zstd.decode(t))
    }
    // single-byte corruption over a stride: either ZstdError or a
    // byte-exact decode that the checksum then rejects — never an
    // ArrayIndexOutOfBounds escaping to the caller
    (4 until good.length by 11).foreach { i =>
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0xff).toByte
      try { Zstd.decode(bad); () }
      catch { case _: Zstd.ZstdError => () }
    }
  }

  test("raw-content dictionary: window-prefix matching both directions; decode without the dict fails") {
    // payload shares long runs with the dict: the matcher must reach
    // into the prefix, which only a dict-aware decode can resolve
    val dict = (0 until 40).map(i => s"""{"schema":"event","field_$i":"padding-$i"}""").mkString("\n").getBytes(Utf8)
    val data = ((0 until 40).map(i => s"""{"schema":"event","field_$i":"padding-$i"}""") :+ "tail-unique-content")
      .mkString("\n").getBytes(Utf8)
    val withDict = Zstd.encode(data, Zstd.EncOpts(), dict)
    val without = Zstd.encode(data, Zstd.EncOpts())
    assert(withDict.length < without.length,
      s"dict matching must shrink a dict-heavy payload (${withDict.length} vs ${without.length})")
    assert(java.util.Arrays.equals(Zstd.decode(withDict, dict), data), "dict round-trip drift")
    // without the dict the window starts empty: back-references into
    // the prefix must fail loudly, never read garbage
    intercept[Zstd.ZstdError](Zstd.decode(withDict))
    // a dict-less frame decodes identically with or without a dict
    assert(java.util.Arrays.equals(Zstd.decode(without, dict), data))
  }

  test("TRAINED dictionary: ZDICT-trained real-encoder frames decode byte-exactly; wrong/absent dict fails") {
    // dict trained by libzstd's ZDICT from jsonl-record samples (the
    // warc.zst shape), frames compressed by ZSTD_compress_usingDict at
    // levels 3 and 19 — entropy priming, rep-offset seeding and the
    // content window must all be right to reproduce these
    val dict = Files.readAllBytes(new java.io.File(fixtureDir, "trained.dict").toPath)
    assert(Zstd.parseDict(dict).exists(_.id == 89709523L), "trained dict must parse with its id")
    Seq("traineddict_l3", "traineddict_l19").foreach { n =>
      val zst = Files.readAllBytes(new java.io.File(fixtureDir, n + ".zst").toPath)
      val want = Files.readAllBytes(new java.io.File(fixtureDir, n + ".payload").toPath)
      assert(java.util.Arrays.equals(Zstd.decode(zst, dict), want), s"$n: trained-dict decode mismatch")
      // without the dict: the frame names a dictionary id -> named failure
      val e = intercept[Zstd.ZstdError](Zstd.decode(zst))
      assert(e.getMessage.contains("dictionary"), s"$n: missing-dict failure must be named")
      // with a WRONG dict (raw bytes, no id): same named failure
      intercept[Zstd.ZstdError](Zstd.decode(zst, "not the dictionary".getBytes(Utf8)))
    }
  }

  test("raw-content dictionary: REAL reference-encoder dict frames decode byte-exactly") {
    // captured from the system libzstd's ZSTD_compress_usingDict with a
    // raw-content dictionary at levels 3 and 19 (the reverse direction
    // — our encoder's dict output — was cross-checked EXACT through
    // ZSTD_decompress_usingDict at capture time)
    val dict = Files.readAllBytes(new java.io.File(fixtureDir, "rawdict.dict").toPath)
    val want = Files.readAllBytes(new java.io.File(fixtureDir, "rawdict.bin").toPath)
    Seq("rawdict_l3.zst", "rawdict_l19.zst").foreach { n =>
      val zst = Files.readAllBytes(new java.io.File(fixtureDir, n).toPath)
      assert(java.util.Arrays.equals(Zstd.decode(zst, dict), want), s"$n: dict decode mismatch")
    }
  }

  test("decode: a frame naming a dictionary id without one supplied is a NAMED failure") {
    // frame header with dict-flag=1 and a non-zero 1-byte dictionary id
    val frame = Array[Byte](0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte, 0x01, 0x10, 0x07, 0x01, 0x00, 0x00)
    val err = intercept[Zstd.ZstdError](Zstd.decode(frame))
    assert(err.getMessage.contains("dictionar"))
  }

  // ------------------------------------------------------------------
  // seekable framing
  // ------------------------------------------------------------------

  test("seekable: skippable frame mid-stream is transparent to both whole-decode and the seek table") {
    val chunks = (0 until 9).map(i => s"chunk $i ${"y" * (i * 13)}\n".getBytes(Utf8))
    val container = ZstdSeek.writeSeekable(chunks)
    // splice a skippable frame between frame 3 and 4 — decode() must
    // skip it; the seek table (absolute offsets) is rebuilt to match
    val table0 = ZstdSeek.readSeekTable(container)
    val splice = table0(3).offset.toInt + table0(3).compressedSize
    val skippable = {
      val body = "ignore me".getBytes(Utf8)
      val out = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff); out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff) }
      w32(0x184D2A50); w32(body.length); out.write(body)
      out.toByteArray
    }
    val spliced = java.util.Arrays.copyOf(container, splice) ++ skippable ++
      java.util.Arrays.copyOfRange(container, splice, container.length)
    val want = chunks.toArray.flatten
    assert(java.util.Arrays.equals(Zstd.decode(spliced), want), "skippable frame must be transparent to decode()")
  }

  test("seekable: corrupt frame-table checksum rejects on ranged fetch") {
    val chunks = (0 until 5).map(i => s"line $i\n".getBytes(Utf8))
    val container = ZstdSeek.writeSeekable(chunks)
    val table = ZstdSeek.readSeekTable(container)
    val e = table(2)
    val bad = e.copy(checksum = e.checksum.map(_ ^ 0x1234))
    intercept[Zstd.ZstdError](ZstdSeek.readFrame(container, bad))
    // and the honest entry still fetches
    assert(new String(ZstdSeek.readFrame(container, e), Utf8) == "line 2\n")
  }

  test("seekable: corrupt footer shapes (bad magic, negative frame count, reserved bits) raise ZstdError") {
    val container = ZstdSeek.writeSeekable(Seq("x\n".getBytes(Utf8)))
    def patched(f: Array[Byte] => Unit): Array[Byte] = { val c = container.clone(); f(c); c }
    // break the seekable magic
    intercept[Zstd.ZstdError](ZstdSeek.readSeekTable(patched(c => c(c.length - 1) = 0)))
    // negative frame count (0xFFFFFFFF little-endian at n-9)
    intercept[Zstd.ZstdError](ZstdSeek.readSeekTable(patched { c =>
      var i = c.length - 9; (0 until 4).foreach(j => c(i + j) = 0xff.toByte)
    }))
    // reserved descriptor bits
    intercept[Zstd.ZstdError](ZstdSeek.readSeekTable(patched(c => c(c.length - 5) = (c(c.length - 5) | 0x10).toByte)))
  }

  // ------------------------------------------------------------------
  // jsonlLines: the REAL distributed read path
  // ------------------------------------------------------------------

  private def writeTmp(dir: Path, name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  test("jsonlLines: split-size sweep — union over any split partition equals the whole-file decode") {
    val dir = Files.createTempDirectory("zstd-jsonl")
    try {
      val lines = (0 until 600).map(i => s"""{"id":$i,"body":"${"b" * (i % 53)}"}""")
      val chunks = lines.grouped(37).map(_.mkString("", "\n", "\n").getBytes(Utf8)).toSeq
      val container = ZstdSeek.writeSeekable(chunks)
      val path = writeTmp(dir, "docs.jsonl.zst", container)
      val whole = new String(Zstd.decode(container), Utf8).split("\n").filter(_.nonEmpty).toSeq
      assert(whole == lines)
      // splits from one-task down to far below a frame size
      for (split <- Seq(container.length.toLong + 5, container.length.toLong / 2, 1024L, 257L, 64L)) {
        val got = ZstdSeek
          .jsonlLines(spark, path, splitSize = split)
          .collect()
          .map(r => (r.getInt(0), r.getString(1)))
        assert(got.length == lines.length, s"split $split: ${got.length} lines, want ${lines.length}")
        // frame-local order is preserved; global multiset must match
        assert(got.map(_._2).sorted.toSeq == lines.sorted, s"split $split: line multiset drift")
        // every line must sit in the frame that carried it
        got.groupBy(_._1).foreach { case (fi, ls) =>
          val expect = lines.grouped(37).toSeq(fi)
          assert(ls.map(_._2).toSeq.sorted == expect.sorted, s"split $split: frame $fi line set drift")
        }
      }
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(dir)
    }
  }

  test("jsonlLines: seek table larger than the first 64 KiB tail window forces the tail-grow retry") {
    val dir = Files.createTempDirectory("zstd-grow")
    try {
      // 12 bytes/entry → >64 KiB table needs >5461 frames
      val n = 6000
      val chunks = (0 until n).map(i => s"r$i\n".getBytes(Utf8))
      val container = ZstdSeek.writeSeekable(chunks)
      assert(n * 12 + 9 > (64 << 10), "fixture must overflow the first tail window")
      val path = writeTmp(dir, "many.jsonl.zst", container)
      val got = ZstdSeek.jsonlLines(spark, path, splitSize = 1L << 20).collect().map(_.getString(1))
      assert(got.length == n)
      assert(got.sorted.toSeq == (0 until n).map(i => s"r$i").sorted)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(dir)
    }
  }

  test("jsonlLines: a frame whose decode length disagrees with its table entry fails loudly") {
    val dir = Files.createTempDirectory("zstd-lie")
    try {
      val chunks = Seq("aaaa\n".getBytes(Utf8), "bbbb\n".getBytes(Utf8))
      val container = ZstdSeek.writeSeekable(chunks, Zstd.EncOpts(checksum = false))
      // lie about frame 1's decompressed size in the seek table; drop
      // the table checksum flag so only the size cross-check can catch it
      val table = ZstdSeek.readSeekTable(container)
      val payloadEnd = (table.last.offset + table.last.compressedSize).toInt
      val out = new java.io.ByteArrayOutputStream()
      out.write(container, 0, payloadEnd)
      def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff); out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff) }
      w32(ZstdSeek.SeekTableMagic); w32(table.length * 8 + 9)
      table.zipWithIndex.foreach { case (e, i) =>
        w32(e.compressedSize); w32(if (i == 1) e.decompressedSize + 3 else e.decompressedSize)
      }
      w32(table.length); out.write(0x00); w32(ZstdSeek.SeekableMagic)
      val path = writeTmp(dir, "lie.jsonl.zst", out.toByteArray)
      val err = intercept[org.apache.spark.SparkException] {
        ZstdSeek.jsonlLines(spark, path, splitSize = 1L << 20).collect()
      }
      assert(err.getMessage != null)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(dir)
    }
  }
}
