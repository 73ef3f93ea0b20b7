package graft

import org.scalatest.funsuite.AnyFunSuite

/** Standing encoder differential-fuzz suite: every in-tree ENCODER is
  * swept over one shared hostile corpus and each output frame is
  * validated by the LIVE reference decoder for its format — and the
  * reverse direction (reference encoder -> our decoder) runs over the
  * same corpus. Motivation: the r17 zstd Huffman-weight-header
  * overflow survived 16 rounds because every test corpus was
  * pure-ASCII jsonl; it died the first time an encoder met non-ASCII
  * bytes. This suite makes that entire bug class die in-round.
  *
  * Live in-JVM references (all ship on the Spark classpath):
  * zstd-jni (com.github.luben), lz4-java (net.jpountz frame streams),
  * snappy-java (org.xerial raw + framed), XZ for Java (org.tukaani —
  * LZMA2 + ALL 8 BCJ filters incl. RISC-V, 1.10), commons-compress
  * (ZipFile reads our method-12/93 archives through the same live
  * codecs; bzip2 itself has no in-tree encoder left to grade). Brotli
  * has no in-JVM reference decoder in this container
  * (commons-compress needs the absent org.brotli:dec) — its lane is a
  * self round-trip here, with real-producer conformance carried by
  * BrotliSpec's pinned fixtures.
  *
  * Corpus shapes (all deterministic, seed 20260816): empty / 1-byte,
  * non-ASCII UTF-8 text, high-byte-dense random, exact block-size
  * boundaries (64 KiB ± 1, 128 KiB), RLE runs, short periods,
  * all-zero, alternating extremes, incompressible random > 64 KiB,
  * and the old pure-ASCII jsonl as the control. */
class EncoderDifferentialFuzzSpec extends AnyFunSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Deterministic hostile corpus — (name, bytes). */
  private lazy val corpus: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(20260816L)
    def rand(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    def highByte(n: Int): Array[Byte] = Array.tabulate(n)(_ => (128 + rnd.nextInt(128)).toByte)
    val nonAscii = {
      val pieces = Seq("héllo wörld ", "日本語テキスト", "Ελληνικά κείμενο ", "🦀🚀💡", "é̂̃",
        "Русский текст ", "한국어 텍스트 ", "ÿþý", "ʕ•ᴥ•ʔ ", "∀x∈ℝ: x²≥0 ")
      val sb = new StringBuilder
      var i = 0
      while (sb.length < 9000) { sb.append(pieces(i % pieces.length)).append(i); i += 1 }
      sb.toString.getBytes(Utf8)
    }
    val rle = {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (out.size < 100000) {
        val b = (i * 37 + 200) % 256 // mostly high bytes
        val run = 1 + (if (i % 5 == 0) rnd.nextInt(4000) else rnd.nextInt(8))
        var j = 0; while (j < run) { out.write(b); j += 1 }
        i += 1
      }
      out.toByteArray
    }
    def periodic(period: Int, n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i % period) * 251 % 256).toByte)
    val jsonl = (0 until 700).map(i => s"""{"id":$i,"name":"doc-$i","score":${i % 97}}""").mkString("\n").getBytes(Utf8)
    val mixed = { // compressible islands inside incompressible noise
      val b = rand(90000)
      var i = 0
      while (i < b.length - 2000) { java.util.Arrays.fill(b, i, i + 700, (i % 251).toByte); i += 9000 }
      b
    }
    Seq(
      "empty" -> Array.emptyByteArray,
      "one_zero" -> Array[Byte](0),
      "one_ff" -> Array[Byte](-1),
      "non_ascii_utf8" -> nonAscii,
      "high_byte_dense_70k" -> highByte(70000),
      "random_64k_minus1" -> rand(65535),
      "random_64k" -> rand(65536),
      "random_64k_plus1" -> rand(65537),
      "random_128k" -> rand(131072),
      "rle_runs_100k" -> rle,
      "period3" -> periodic(3, 20001),
      "period7_high" -> (highByte(7) ++ periodic(7, 50000)),
      "all_zero_128k" -> new Array[Byte](131072),
      "alternating" -> Array.tabulate(40001)(i => if (i % 2 == 0) 0.toByte else -1.toByte),
      "ascii_jsonl_control" -> jsonl)
  }

  private def same(a: Array[Byte], b: Array[Byte], what: String): Unit =
    assert(java.util.Arrays.equals(a, b), s"$what: ${a.length} vs ${b.length} bytes, first drift at " +
      (0 until math.min(a.length, b.length)).find(i => a(i) != b(i)).getOrElse(-1))

  // ------------------------------------------------------------------ zstd

  test("zstd: our encoder (all option shapes) -> zstd-jni; zstd-jni (3 levels) -> our decoder") {
    import graft.sources.Zstd
    val optShapes = Seq(
      "default" -> Zstd.EncOpts(),
      "nochecksum" -> Zstd.EncOpts(checksum = false))
    for ((cname, data) <- corpus) {
      for ((oname, opts) <- optShapes) {
        val enc = Zstd.encode(data, opts)
        val back =
          if (data.isEmpty) com.github.luben.zstd.Zstd.decompress(enc, 0)
          else com.github.luben.zstd.Zstd.decompress(enc, data.length)
        same(back, data, s"zstd/$oname over $cname (jni rejects our frame?)")
      }
      for (level <- Seq(1, 3, 19)) {
        val refEnc = com.github.luben.zstd.Zstd.compress(data, level)
        same(graft.sources.Zstd.decode(refEnc), data, s"zstd level $level over $cname (our decoder)")
      }
    }
  }

  test("zstd raw-content dictionary: our dict encoder -> zstd-jni ctx.loadDict") {
    import graft.sources.Zstd
    val dict = corpus.collectFirst { case ("non_ascii_utf8", d) => d }.get.take(4000)
    for ((cname, data) <- corpus if data.nonEmpty && data.length <= 70000) {
      val enc = Zstd.encode(data, Zstd.EncOpts(), dict)
      val ctx = new com.github.luben.zstd.ZstdDecompressCtx()
      try {
        ctx.loadDict(dict)
        same(ctx.decompress(enc, data.length), data, s"zstd-dict over $cname")
      } finally ctx.close()
    }
  }

  // ------------------------------------------------------------------- lz4

  test("lz4 frame: our encoder (bmax/checksum shapes) -> lz4-java; lz4-java -> our decoder") {
    import graft.sources.Lz4
    for ((cname, data) <- corpus) {
      for ((bmax, bchk, csize) <- Seq((4, false, false), (7, true, true), (5, true, false))) {
        val enc = Lz4.encode(data, bmax = bmax, blockChecksum = bchk, contentSize = csize)
        val in = new net.jpountz.lz4.LZ4FrameInputStream(new java.io.ByteArrayInputStream(enc))
        val back = try in.readAllBytes() finally in.close()
        same(back, data, s"lz4/bmax=$bmax over $cname (lz4-java rejects our frame?)")
      }
      val bos = new java.io.ByteArrayOutputStream()
      val os = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      os.write(data); os.close()
      same(Lz4.decode(bos.toByteArray), data, s"lz4-java frame over $cname (our decoder)")
    }
  }

  // ---------------------------------------------------------------- snappy

  test("snappy raw + framed: our encoder -> snappy-java; snappy-java -> our decoder") {
    import graft.sources.Snappy
    for ((cname, data) <- corpus) {
      same(org.xerial.snappy.Snappy.uncompress(Snappy.rawEncode(data)), data, s"snappy-raw over $cname")
      val ref = org.xerial.snappy.Snappy.compress(data)
      same(Snappy.rawDecode(ref, 0, ref.length), data, s"snappy-java raw over $cname (our decoder)")
      val framed = Snappy.framedEncode(data)
      val fi = new org.xerial.snappy.SnappyFramedInputStream(new java.io.ByteArrayInputStream(framed))
      val back = try fi.readAllBytes() finally fi.close()
      same(back, data, s"snappy-framed over $cname (snappy-java rejects our stream?)")
      val fbos = new java.io.ByteArrayOutputStream()
      val fo = new org.xerial.snappy.SnappyFramedOutputStream(fbos)
      fo.write(data); fo.close()
      same(Snappy.framedDecode(fbos.toByteArray), data, s"snappy-java framed over $cname (our decoder)")
    }
  }

  // -------------------------------------------------------- xz + BCJ chains

  /** All 8 BCJ filter ids (0x04..0x0B) plus the unfiltered chain. */
  private val bcjIds = Seq(0L, 0x04L, 0x05L, 0x06L, 0x07L, 0x08L, 0x09L, 0x0aL, 0x0bL)

  private def tukaaniBcjOptions(id: Long): org.tukaani.xz.FilterOptions = id match {
    case 0x04L => new org.tukaani.xz.X86Options()
    case 0x05L => new org.tukaani.xz.PowerPCOptions()
    case 0x06L => new org.tukaani.xz.IA64Options()
    case 0x07L => new org.tukaani.xz.ARMOptions()
    case 0x08L => new org.tukaani.xz.ARMThumbOptions()
    case 0x09L => new org.tukaani.xz.SPARCOptions()
    case 0x0aL => new org.tukaani.xz.ARM64Options()
    case 0x0bL => new org.tukaani.xz.RISCVOptions()
    case other => fail(s"no tukaani options for filter $other")
  }

  test("xz: our writer x 9 filter chains -> XZ for Java; XZ for Java x 9 chains -> our decoder") {
    import graft.sources.Xz
    for ((cname, data) <- corpus; id <- bcjIds) {
      val enc = Xz.encodeRawXz(data, id)
      val in = new org.tukaani.xz.XZInputStream(new java.io.ByteArrayInputStream(enc))
      val back = try in.readAllBytes() finally in.close()
      same(back, data, s"xz/bcj=$id over $cname (tukaani rejects our stream?)")
    }
    // reverse: the reference encoder's full LZMA2 compression (not just
    // uncompressed chunks) through every BCJ chain, decoded by us
    for ((cname, data) <- corpus if data.length <= 70000; id <- bcjIds) {
      val bos = new java.io.ByteArrayOutputStream()
      val lzma2 = new org.tukaani.xz.LZMA2Options(3)
      val filters: Array[org.tukaani.xz.FilterOptions] =
        if (id == 0L) Array(lzma2) else Array(tukaaniBcjOptions(id), lzma2)
      val os = new org.tukaani.xz.XZOutputStream(bos, filters)
      os.write(data); os.close()
      same(graft.sources.Xz.decode(bos.toByteArray), data, s"tukaani xz/bcj=$id over $cname (our decoder)")
    }
  }

  // ------------------------------------------------------------ zip builder

  test("zip builder methods 0/12/93: commons-compress ZipFile reads every entry through live codecs") {
    import graft.sources.Zip
    val entries = corpus.filter(_._2.length <= 70000).zipWithIndex.map { case ((name, data), i) =>
      (s"e$i-$name", Seq(0, 12, 93)(i % 3), data)
    }
    val archive = Zip.buildMethodArchive(entries)
    val zf = org.apache.commons.compress.archivers.zip.ZipFile.builder()
      .setSeekableByteChannel(new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(archive))
      .get()
    try {
      for ((name, method, data) <- entries) {
        val e = zf.getEntry(name)
        assert(e != null, s"zip: entry $name missing")
        assert(e.getMethod == method, s"zip: entry $name method ${e.getMethod} != $method")
        assert(zf.canReadEntryData(e), s"zip: commons-compress cannot read $name (method $method)")
        val in = zf.getInputStream(e)
        val back = try in.readAllBytes() finally in.close()
        same(back, data, s"zip method $method entry $name")
      }
    } finally zf.close()
  }

  test("avro writer over hostile bytes/strings at every codec -> avro-java DataFileReader") {
    import graft.sources.AvroOcf
    import graft.sources.AvroOcf._
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val schema = AvroOcf.parseSchema(
      """{"type":"record","name":"H","fields":[
        |{"name":"raw","type":"bytes"},{"name":"txt","type":["null","string"]}]}""".stripMargin)
    val nonAscii = new String(corpus.collectFirst { case ("non_ascii_utf8", d) => d }.get, Utf8)
    def prefix(k: Int): String = {
      val end = if (k < nonAscii.length && Character.isHighSurrogate(nonAscii.charAt(k - 1))) k - 1 else k
      nonAscii.substring(0, end)
    }
    val rows = corpus.zipWithIndex.map { case ((_, data), i) =>
      Vector[Any](data, if (i % 7 == 3) null else prefix(1 + i * 601 % nonAscii.length))
    }
    for (codec <- Seq("null", "deflate", "snappy", "bzip2", "xz", "zstandard")) {
      val bytes = AvroOcf.encodeFile(schema, rows, codec, blockRows = 5)
      val r = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
      try {
        var i = 0
        while (r.hasNext) {
          val rec = r.next()
          val bb = rec.get("raw").asInstanceOf[java.nio.ByteBuffer]
          val raw = new Array[Byte](bb.remaining); bb.get(raw)
          same(raw, corpus(i)._2, s"avro/codec=$codec raw[$i] (${corpus(i)._1})")
          val txt = rec.get("txt")
          val exp = rows(i)(1)
          assert((txt == null && exp == null) || (txt != null && txt.toString == exp),
            s"avro/codec=$codec txt[$i]")
          i += 1
        }
        assert(i == corpus.length, s"avro/codec=$codec row count")
      } finally r.close()
    }
  }

  // ----------------------------------------- self-round-trip-only lanes

  test("brotli + npy writers over the hostile corpus: self round-trip (no in-JVM reference decoder)") {
    import graft.text.Brotli
    for ((cname, data) <- corpus) {
      same(Brotli.decode(Brotli.encodeRaw(data)), data, s"brotli over $cname")
    }
    // npy: corpus bytes packed into i8-range longs round-trip the
    // numeric writer (byte-exactness vs numpy itself is NpySpec's
    // pinned-fixture gate)
    import graft.sources.Npy
    for ((cname, data) <- corpus if data.nonEmpty && data.length <= 70000) {
      val longs = data.map(_.toLong)
      val enc = Npy.fromLongs(longs, Seq(longs.length))
      val back = Npy.decode(enc)
      assert(back.header.shape == Seq(longs.length), s"npy over $cname: shape drift")
    }
  }
}
