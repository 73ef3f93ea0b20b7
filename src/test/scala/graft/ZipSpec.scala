package graft

import java.nio.file.Files

import graft.sources.Zip

/** ZIP split-scan conformance. Fixtures are REAL python-zipfile
  * archives (stored + deflated entries, archive comment, unicode
  * names, FORCED ZIP64 with streamed data-descriptor entries, a
  * 400-entry catalog, an empty archive); each ships a manifest of
  * per-entry sha256 digests. The reader must recover every entry
  * byte-exactly via the production path only: EOCD tail →
  * central-directory parse → per-entry ranged extent decode — plus
  * the real Spark faces and the untrusted-bytes contract. */
class ZipSpec extends SparkSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val dir = new java.io.File("src/test/resources/graft/zip")

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def manifest(name: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(new java.io.File(dir, name + ".json").toPath), Utf8)
    // flat {"name":"hex",...} — parse without a JSON lib
    raw""""((?:[^"\\]|\\.)*)"\s*:\s*"([0-9a-f]{64})"""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1).replace("\\u00e9", "é").replace("\\u4e2d", "中") -> m.group(2))
      .toMap
  }

  // methods: python-zipfile ZIP_BZIP2 (12) + ZIP_LZMA (14) entries.
  // zstd93: method-93 entries whose compressed payloads are REAL
  // `zstd -19` CLI frames in a spec-layout container (no in-container
  // producer writes method 93 — provenance in gen_zip_fixtures.py).
  private def fixtures = Seq("basic", "zip64", "many", "empty", "methods", "zstd93")

  test("every python-zipfile fixture: every entry decodes byte-exact through the ranged path") {
    fixtures.foreach { name =>
      val image = Files.readAllBytes(new java.io.File(dir, name + ".zip").toPath)
      val want = manifest(name)
      val ranged: (Long, Int) => Array[Byte] =
        (off, n) => java.util.Arrays.copyOfRange(image, off.toInt, off.toInt + n)
      val (cdOff, cdSize, count) = Zip.centralDirectoryExtent(ranged, image.length.toLong)
      assert(count == want.size.toLong, s"$name: entry count ${count} want ${want.size}")
      val es = Zip.parseCentralDirectory(
        java.util.Arrays.copyOfRange(image, cdOff.toInt, (cdOff + cdSize).toInt), count)
      assert(es.map(_.name).toSet == want.keySet, s"$name: entry name set drift")
      es.foreach { e =>
        val buf = java.util.Arrays.copyOfRange(
          image, e.localHeaderOffset.toInt, e.localHeaderOffset.toInt + Zip.fetchLen(e, image.length.toLong))
        val got = Zip.decodeEntry(buf, e)
        assert(sha256(got) == want(e.name), s"$name/${e.name}: payload drift")
      }
    }
  }

  test("Spark faces: entries catalog and distributed ranged fetch") {
    val tmp = Files.createTempDirectory("zipspec")
    try {
      val p = tmp.resolve("many.zip")
      Files.copy(new java.io.File(dir, "many.zip").toPath, p)
      val want = manifest("many")
      val cat = Zip.entries(spark, p.toString).collect()
      assert(cat.length == want.size)
      val rows = Zip.fetch(spark, p.toString).collect()
      assert(rows.length == want.size)
      rows.foreach { r =>
        assert(sha256(r.getAs[Array[Byte]]("bytes")) == want(r.getString(0)), s"${r.getString(0)}: fetch drift")
      }
    } finally {
      tmp.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(tmp)
    }
  }

  test("ZIP64 EOCD: an archive past the 65535-entry limit walks through the EOCD64 record") {
    // the JDK writer emits a REAL zip64 end-of-central-directory once
    // the entry count saturates the 16-bit EOCD field — generated
    // in-test (≈70k empty-payload entries) rather than committed
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bos)
    val n = 70000
    var i = 0
    while (i < n) {
      val ze = new java.util.zip.ZipEntry(f"e$i%05d")
      ze.setTime(0L)
      zo.putNextEntry(ze)
      if (i % 9999 == 0) zo.write(s"payload $i".getBytes(Utf8))
      zo.closeEntry()
      i += 1
    }
    zo.close()
    val image = bos.toByteArray
    val ranged: (Long, Int) => Array[Byte] =
      (off, len) => java.util.Arrays.copyOfRange(image, off.toInt, off.toInt + len)
    val (cdOff, cdSize, count) = Zip.centralDirectoryExtent(ranged, image.length.toLong)
    assert(count == n.toLong, s"EOCD64 count $count, want $n")
    val es = Zip.parseCentralDirectory(
      java.util.Arrays.copyOfRange(image, cdOff.toInt, (cdOff + cdSize).toInt), count)
    assert(es.length == n)
    // spot-decode the non-empty entries through the ranged path
    es.filter(_.uncompressedSize > 0).foreach { e =>
      val buf = java.util.Arrays.copyOfRange(
        image, e.localHeaderOffset.toInt, e.localHeaderOffset.toInt + Zip.fetchLen(e, image.length.toLong))
      val got = new String(Zip.decodeEntry(buf, e), Utf8)
      assert(got == s"payload ${e.name.stripPrefix("e").toInt}", s"${e.name}: payload drift")
    }
  }

  test("malformed input raises ZipError, never raw index errors") {
    val good = Files.readAllBytes(new java.io.File(dir, "basic.zip").toPath)
    def ranged(b: Array[Byte]): (Long, Int) => Array[Byte] =
      (off, n) => java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + n)
    // no EOCD
    intercept[Zip.ZipError](Zip.centralDirectoryExtent(ranged(good), 21L))
    intercept[Zip.ZipError] {
      val noSig = good.clone()
      // wipe the EOCD signature (last 22 bytes start it; comment is 29 bytes)
      val e = good.length - 22 - 29
      noSig(e) = 0
      Zip.centralDirectoryExtent(ranged(noSig), noSig.length.toLong)
    }
    // corrupt central record signature
    val (cdOff, cdSize, count) = Zip.centralDirectoryExtent(ranged(good), good.length.toLong)
    val cd = java.util.Arrays.copyOfRange(good, cdOff.toInt, (cdOff + cdSize).toInt)
    val badCd = cd.clone(); badCd(0) = 0x7f
    intercept[Zip.ZipError](Zip.parseCentralDirectory(badCd, count))
    // crafted zip64 extra: declared size 0 but saturated csize — must
    // fail loudly, never read the next record's bytes as sizes
    locally {
      val es0 = Zip.parseCentralDirectory(cd, count)
      // rebuild one record with csize=0xFFFFFFFF and a 4-byte extra [id=1, sz=0]
      val rec = java.util.Arrays.copyOfRange(good, cdOff.toInt, cdOff.toInt + 46 + es0.head.name.getBytes("UTF-8").length)
      val crafted = java.util.Arrays.copyOf(rec, rec.length + 4)
      // csize at +20 -> 0xFFFFFFFF; extraLen at +30 -> 4
      for (i <- 20 to 23) crafted(i) = 0xff.toByte
      crafted(30) = 4; crafted(31) = 0
      crafted(rec.length) = 1; crafted(rec.length + 1) = 0 // id = 0x0001
      crafted(rec.length + 2) = 0; crafted(rec.length + 3) = 0 // sz = 0
      intercept[Zip.ZipError](Zip.parseCentralDirectory(crafted, 1))
    }
    // corrupt deflate payload -> CRC/deflate error, named
    val es = Zip.parseCentralDirectory(cd, count)
    val e0 = es.find(_.method == 8).get
    val buf = java.util.Arrays.copyOfRange(
      good, e0.localHeaderOffset.toInt, e0.localHeaderOffset.toInt + Zip.fetchLen(e0, good.length.toLong))
    buf(40) = (buf(40) ^ 0x55).toByte
    intercept[Zip.ZipError](Zip.decodeEntry(buf, e0))
    // stored-entry truncation
    intercept[Zip.ZipError](Zip.decodeEntry(java.util.Arrays.copyOf(buf, 10), e0))
  }

  test("method lane: bzip2/zstd entries round-trip through the builder + ranged reader") {
    val data = (1 to 200).map(i => s"""{"i":$i,"pad":"${"y" * (i % 23)}"}""").mkString("\n").getBytes(Utf8)
    val image = Zip.buildMethodArchive(
      Seq(("s.json", 0, data), ("b.json", 12, data), ("z.json", 93, data)))
    val ranged: (Long, Int) => Array[Byte] =
      (off, n) => java.util.Arrays.copyOfRange(image, off.toInt, off.toInt + n)
    val (cdOff, cdSize, count) = Zip.centralDirectoryExtent(ranged, image.length.toLong)
    assert(count == 3L)
    val es = Zip.parseCentralDirectory(
      java.util.Arrays.copyOfRange(image, cdOff.toInt, (cdOff + cdSize).toInt), count)
    assert(es.map(_.method).sorted == Seq(0, 12, 93))
    es.foreach { e =>
      val buf = java.util.Arrays.copyOfRange(
        image, e.localHeaderOffset.toInt, e.localHeaderOffset.toInt + Zip.fetchLen(e, image.length.toLong))
      assert(java.util.Arrays.equals(Zip.decodeEntry(buf, e), data), s"method ${e.method} drift")
    }
    // corrupt a bzip2 payload byte: named ZipError, not a raw throw
    val eb = es.find(_.method == 12).get
    val bad = java.util.Arrays.copyOfRange(
      image, eb.localHeaderOffset.toInt, eb.localHeaderOffset.toInt + Zip.fetchLen(eb, image.length.toLong))
    bad(45) = (bad(45) ^ 0x55).toByte
    intercept[Zip.ZipError](Zip.decodeEntry(bad, eb))
  }

  test("method 12 bomb: a 2 GiB bzip2 payload declaring 100 bytes refuses with ZipError") {
    val payload = Bzip2Bomb.payload
    val buf = Array[Byte](0x50, 0x4b, 0x03, 0x04) ++ new Array[Byte](26) ++ payload
    val e = Zip.Entry("bomb.bin", 12, payload.length.toLong, 100L, 0L, 0L, 0)
    val used = Bzip2Bomb.allocated(intercept[Zip.ZipError](Zip.decodeEntry(buf, e)))
    assert(used < (64L << 20), s"bomb allocated ${used >> 20} MiB before the refusal")
  }

  test("method 14 flag semantics: the LZMA fixture's EOS-marked streams decode with the known size") {
    // python-zipfile sets general-purpose bit 1 (EOS marker present);
    // the reader decodes exactly usize bytes and never reads the marker
    val image = Files.readAllBytes(new java.io.File(dir, "methods.zip").toPath)
    val ranged: (Long, Int) => Array[Byte] =
      (off, n) => java.util.Arrays.copyOfRange(image, off.toInt, off.toInt + n)
    val (cdOff, cdSize, count) = Zip.centralDirectoryExtent(ranged, image.length.toLong)
    val es = Zip.parseCentralDirectory(
      java.util.Arrays.copyOfRange(image, cdOff.toInt, (cdOff + cdSize).toInt), count)
    val lz = es.filter(_.method == 14)
    assert(lz.nonEmpty && lz.forall(e => (e.flags & 0x2) != 0), "fixture should carry EOS-marked LZMA entries")
  }
}
