package graft

import java.nio.file.Files

import graft.sources.SevenZip

/** 7z split-scan conformance. Fixtures are REAL libarchive (bsdtar
  * 3.8.2) archives — one per payload codec (store/copy/deflate/bzip2/
  * lzma1/lzma2), all but store carrying LZMA-compressed kEncodedHeader
  * catalogs; a 250-file solid archive; a multi-folder store archive;
  * unicode names; empty files; a directory-shaped payload tree — each
  * round-tripped by bsdtar at capture and shipped with a per-entry
  * sha256 manifest. PPMd is captured too and must REFUSE by codec id:
  * libarchive here CAN round-trip PPMd, but PPMd var.H has no
  * published normative spec — it is defined by the 7-Zip reference
  * source (absent in-container), so a from-memory reimplementation
  * could not be validated constant-by-constant, only guessed against
  * opaque encoder output. */
class SevenZipSpec extends SparkSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val dir = new java.io.File("src/test/resources/graft/sevenzip")

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def manifest(name: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(new java.io.File(dir, name + ".json").toPath), Utf8)
    raw""""((?:[^"\\]|\\.)*)"\s*:\s*"([0-9a-f]{64})"""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1).replace("\\u00e9", "é").replace("\\u4e2d", "中") -> m.group(2))
      .toMap
  }

  private val decodable = Seq("codec_store", "codec_copy", "codec_deflate", "codec_bzip2",
    "codec_lzma1", "codec_lzma2", "many", "default")

  test("every bsdtar fixture: every entry decodes byte-exact (incl. encoded headers)") {
    decodable.foreach { name =>
      val image = Files.readAllBytes(new java.io.File(dir, name + ".7z").toPath)
      val want = manifest(name)
      val got = SevenZip.unpackAll(image).toMap
      // streamless EMPTY files decode to zero bytes via the entry list
      val arc = SevenZip.parseArchive(image)
      val empties = arc.entries.filter(e => !e.hasStream && !e.isDir).map(_.name -> Array.emptyByteArray)
      val all = got ++ empties
      assert(all.keySet == want.keySet, s"$name: entry set drift (${all.keySet} vs ${want.keySet})")
      want.foreach { case (n, h) =>
        assert(sha256(all(n)) == h, s"$name/$n: payload drift")
      }
    }
  }

  test("the driver-side parse reads only the signature + header extent") {
    // ranged reads recorded: payload byte ranges must never be touched
    val image = Files.readAllBytes(new java.io.File(dir, "codec_lzma2.7z").toPath)
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val ranged: (Long, Int) => Array[Byte] = { (off, n) =>
      reads += ((off, n))
      java.util.Arrays.copyOfRange(image, off.toInt, off.toInt + n)
    }
    val arc = SevenZip.parseArchive(ranged, image.length.toLong)
    assert(arc.entries.nonEmpty)
    val metaBytes = reads.map(_._2.toLong).sum
    // payload dominates the file; header + sig + encoded-header pack
    // must be a small fraction
    assert(metaBytes < image.length / 4, s"driver read $metaBytes of ${image.length} bytes")
    // main pack streams (the big payload folder) untouched: every read
    // is either the prefix, or inside the tail header region, or the
    // tiny encoded-header pack just before it
    val mainPackEnd = 32L + arc.packPos
    assert(reads.forall { case (off, n) => off + n <= 40 || off >= mainPackEnd - 4096 },
      s"driver touched payload extents: $reads")
  }

  test("multi-folder store archive: one folder per file, extents ranged-decodable independently") {
    val image = Files.readAllBytes(new java.io.File(dir, "codec_store.7z").toPath)
    val arc = SevenZip.parseArchive(image)
    val streamed = arc.entries.filter(_.hasStream)
    assert(arc.folders.length == streamed.length, "bsdtar store writes one folder per streamed file")
    val want = manifest("codec_store")
    streamed.foreach { e =>
      val (s, eEnd) = arc.folderPackExtent(e.folderIdx)
      val packs = Seq(java.util.Arrays.copyOfRange(image, s.toInt, eEnd.toInt))
      val out = SevenZip.decodeFolder(arc.folders(e.folderIdx), packs)
      assert(sha256(java.util.Arrays.copyOfRange(out, e.subOffset.toInt, (e.subOffset + e.size).toInt)) == want(e.name))
    }
  }

  test("Spark faces: entries catalog and per-folder distributed fetch") {
    val tmp = Files.createTempDirectory("sevenzipspec")
    try {
      val p = tmp.resolve("many.7z")
      Files.copy(new java.io.File(dir, "many.7z").toPath, p)
      val want = manifest("many")
      val cat = SevenZip.entries(spark, p.toString).collect()
      assert(cat.count(_.getBoolean(1)) == want.size) // has_stream
      val rows = SevenZip.fetch(spark, p.toString).collect()
      assert(rows.length == want.size)
      rows.foreach { r =>
        assert(sha256(r.getAs[Array[Byte]]("bytes")) == want(r.getString(0)), s"${r.getString(0)}: fetch drift")
      }
    } finally {
      tmp.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(tmp)
    }
  }

  test("builder lane: solid copy/bzip2/lzma2 archives round-trip through the reader") {
    val files = (1 to 120).map(i => s"docs/f_$i.json" -> (s"""{"i":$i,"pad":"${"z" * (i % 29)}"}""").getBytes(Utf8))
    for (codec <- Seq("copy", "bzip2", "lzma2")) {
      val image = SevenZip.buildSolidArchive(files, codec)
      val arc = SevenZip.parseArchive(image)
      assert(arc.folders.length == 1 && arc.subSizes.head.length == files.length, s"$codec: shape drift")
      val got = SevenZip.unpackAll(image)
      assert(got.map(_._1) == files.map(_._1), s"$codec: name order drift")
      got.zip(files).foreach { case ((_, gb), (n, wb)) =>
        assert(java.util.Arrays.equals(gb, wb), s"$codec/$n: payload drift")
      }
      // a flipped payload byte must be caught by the substream CRC
      val arc2 = SevenZip.parseArchive(image)
      val (s0, _) = arc2.folderPackExtent(0)
      val bad = image.clone()
      bad(s0.toInt + 10) = (bad(s0.toInt + 10) ^ 0x41).toByte
      intercept[SevenZip.SevenZipError](SevenZip.unpackAll(bad))
    }
  }

  test("PPMd refuses by codec id, loudly") {
    val image = Files.readAllBytes(new java.io.File(dir, "codec_ppmd.7z").toPath)
    val e = intercept[SevenZip.SevenZipError](SevenZip.unpackAll(image))
    assert(e.getMessage.contains("PPMd"), e.getMessage)
  }

  test("bzip2 bomb: a 2 GiB coder output declaring 100 bytes refuses with SevenZipError") {
    val folder = SevenZip.Folder(Seq(SevenZip.Coder(0x040202L, 1, 1, Array.emptyByteArray)),
      Nil, Seq(0), Seq(100L), None)
    val payload = Bzip2Bomb.payload
    val used = Bzip2Bomb.allocated(intercept[SevenZip.SevenZipError](SevenZip.decodeFolder(folder, Seq(payload))))
    assert(used < (64L << 20), s"bomb allocated ${used >> 20} MiB before the refusal")
  }

  test("malformed input raises SevenZipError, never raw index errors") {
    val good = Files.readAllBytes(new java.io.File(dir, "codec_lzma2.7z").toPath)
    // truncations at every interesting boundary
    for (cut <- Seq(3, 12, 31, 40, good.length / 2, good.length - 5))
      intercept[SevenZip.SevenZipError](SevenZip.unpackAll(java.util.Arrays.copyOf(good, cut)))
    // signature CRC flip
    locally {
      val bad = good.clone(); bad(14) = (bad(14) ^ 0x41).toByte
      intercept[SevenZip.SevenZipError](SevenZip.unpackAll(bad))
    }
    // next-header CRC flip (the tail header region)
    locally {
      val bad = good.clone(); bad(good.length - 3) = (bad(good.length - 3) ^ 0x41).toByte
      intercept[SevenZip.SevenZipError](SevenZip.unpackAll(bad))
    }
    // payload bit flips: folder/substream CRC catches or a codec error
    // names it — never a raw exception, never a silent wrong decode
    val want = manifest("codec_lzma2")
    for (pos <- Seq(40, 100, 1000, 20000)) {
      val bad = good.clone()
      bad(pos) = (bad(pos) ^ 0x41).toByte
      try {
        val got = SevenZip.unpackAll(bad).toMap
        got.foreach { case (n, b) => assert(sha256(b) == want(n), "silent mis-decode") }
      } catch { case _: SevenZip.SevenZipError => () }
    }
  }
}
