package graft

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Bytes, Tiff}

/** The shared byte-layout layer: every reader against
  * `java.nio.ByteBuffer` in the matching order, every writer against
  * its reader, the CRCs against published check values, the JPEG
  * segment walk and classic-TIFF reader rules, and a golden corpus
  * over the EXIF/XMP/GeoTIFF/JPEG readers built on them. */
class BytesSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20261018)

  private def le(b: Array[Byte]) = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  private def be(b: Array[Byte]) = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)

  /** Random arrays with every offset a `width`-byte read allows,
    * the last valid one included. */
  private def eachOffset(width: Int)(check: (Array[Byte], Int) => Unit): Unit =
    (0 until 200).foreach { _ =>
      val b = new Array[Byte](width + rnd.nextInt(24))
      rnd.nextBytes(b)
      (0 to b.length - width).foreach(i => check(b, i))
    }

  test("readers equal ByteBuffer in the matching order, sign and width included") {
    eachOffset(2) { (b, i) =>
      assert(Bytes.le16(b, i) == (le(b).getShort(i) & 0xffff))
      assert(Bytes.be16(b, i) == (be(b).getShort(i) & 0xffff))
      assert(Bytes.u16(b, i, little = true) == Bytes.le16(b, i))
      assert(Bytes.u16(b, i, little = false) == Bytes.be16(b, i))
    }
    eachOffset(3) { (b, i) =>
      assert(Bytes.le24(b, i) == ((le(b).getShort(i) & 0xffff) | ((b(i + 2) & 0xff) << 16)))
    }
    eachOffset(4) { (b, i) =>
      assert(Bytes.le32(b, i) == le(b).getInt(i))
      assert(Bytes.be32(b, i) == be(b).getInt(i))
      assert(Bytes.le32u(b, i) == (le(b).getInt(i) & 0xffffffffL))
      assert(Bytes.be32u(b, i) == (be(b).getInt(i) & 0xffffffffL))
      assert(Bytes.le32u(b, i) >= 0 && Bytes.be32u(b, i) >= 0)
      assert(Bytes.u32(b, i, little = true) == Bytes.le32u(b, i))
      assert(Bytes.u32(b, i, little = false) == Bytes.be32u(b, i))
      assert(java.lang.Float.compare(Bytes.leF32(b, i), le(b).getFloat(i)) == 0)
    }
    eachOffset(8) { (b, i) =>
      assert(Bytes.le64(b, i) == le(b).getLong(i))
      assert(Bytes.be64(b, i) == be(b).getLong(i))
      assert(java.lang.Double.compare(Bytes.leF64(b, i), le(b).getDouble(i)) == 0)
      assert(java.lang.Double.compare(Bytes.beF64(b, i), be(b).getDouble(i)) == 0)
      assert(java.lang.Double.compare(Bytes.f64(b, i, little = true), le(b).getDouble(i)) == 0)
      assert(java.lang.Double.compare(Bytes.f64(b, i, little = false), be(b).getDouble(i)) == 0)
    }
  }

  test("every appender, stream writer and in-place store round-trips through its reader") {
    (0 until 2000).foreach { _ =>
      val v = rnd.nextLong()
      val d = java.lang.Double.longBitsToDouble(v)
      val out = ArrayBuffer.empty[Byte]
      Bytes.putLe16(out, v.toInt); Bytes.putLe32(out, v); Bytes.putLe64(out, v); Bytes.putLeF64(out, d)
      Bytes.putBe16(out, v.toInt); Bytes.putBe32(out, v)
      Bytes.put16(out, v.toInt, little = true); Bytes.put16(out, v.toInt, little = false)
      Bytes.put32(out, v, little = true); Bytes.put32(out, v, little = false)
      val a = out.toArray
      assert(a.length == 2 + 4 + 8 + 8 + 2 + 4 + 2 + 2 + 4 + 4)
      assert(Bytes.le16(a, 0) == (v & 0xffff))
      assert(Bytes.le32(a, 2) == v.toInt && Bytes.le32u(a, 2) == (v & 0xffffffffL))
      assert(Bytes.le64(a, 6) == v)
      assert(java.lang.Double.compare(Bytes.leF64(a, 14), d) == 0)
      assert(Bytes.be16(a, 22) == (v & 0xffff))
      assert(Bytes.be32u(a, 24) == (v & 0xffffffffL))
      assert(Bytes.u16(a, 28, little = true) == (v & 0xffff) && Bytes.u16(a, 30, little = false) == (v & 0xffff))
      assert(Bytes.u32(a, 32, little = true) == (v & 0xffffffffL) && Bytes.u32(a, 36, little = false) == (v & 0xffffffffL))

      val s = new java.io.ByteArrayOutputStream()
      Bytes.writeLe16(s, v.toInt); Bytes.writeLe32(s, v); Bytes.writeBe32(s, v.toInt)
      val w = s.toByteArray
      assert(w.length == 10)
      assert(Bytes.le16(w, 0) == (v & 0xffff) && Bytes.le32(w, 2) == v.toInt)
      assert(Bytes.be32(w, 6) == v.toInt)

      val m = new Array[Byte](18)
      Bytes.setLe32(m, 0, v.toInt); Bytes.setLe64(m, 4, v); Bytes.setBe16(m, 12, v.toInt); Bytes.setBe32(m, 14, v.toInt)
      assert(Bytes.le32(m, 0) == v.toInt && Bytes.le64(m, 4) == v)
      assert(Bytes.be16(m, 12) == (v & 0xffff) && Bytes.be32(m, 14) == v.toInt)
    }
  }

  test("CRC-32, CRC-32C and the masked CRC-32C match their published check values") {
    val check = "123456789".getBytes("US-ASCII")
    assert(Bytes.crc32(check, 0, 9) == 0xcbf43926L) // ISO-HDLC check value
    assert(Bytes.crc32c(check, 0, 9) == 0xe3069283) // RFC 3720
    val c = 0xe3069283
    assert(Bytes.maskedCrc32c(check, 0, 9) == ((c >>> 15) | (c << 17)) + 0xa282ead8)
    val pad = Array[Byte](7, 7) ++ check ++ Array[Byte](7)
    assert(Bytes.crc32(pad, 2, 9) == 0xcbf43926L && Bytes.crc32c(pad, 2, 9) == 0xe3069283)
  }

  test("JPEG segment walk: SOI required, standalone markers stepped over, stops at SOS/EOI and short lengths") {
    def seg(marker: Int, body: Int*): Array[Byte] =
      Array(0xff.toByte, marker.toByte, ((body.length + 2) >> 8).toByte, (body.length + 2).toByte) ++ body.map(_.toByte)
    val soi = Array(0xff.toByte, 0xd8.toByte)
    val rst = Array(0xff.toByte, 0xd3.toByte)
    val eoi = Array(0xff.toByte, 0xd9.toByte)
    val app0 = seg(0xe0, 1, 2, 3)
    val sof = seg(0xc0, 8, 0, 3, 0, 4, 1)
    def find(b: Array[Byte], marker: Int): Int = Bytes.jpegSegment(b)((m, _) => m == marker)

    val jpeg = soi ++ app0 ++ rst ++ sof ++ eoi
    assert(find(jpeg, 0xe0) == 2)
    assert(find(jpeg, 0xc0) == 2 + app0.length + rst.length)
    assert(find(jpeg, 0xc4) == -1)
    assert(find(jpeg.drop(2), 0xe0) == -1) // no SOI
    assert(find(soi ++ seg(0xda, 0) ++ sof, 0xc0) == -1) // SOS ends the walk
    assert(find(soi ++ eoi ++ sof, 0xc0) == -1) // so does EOI
    val short = soi ++ Array[Byte](0xff.toByte, 0xe0.toByte, 0, 1) ++ sof
    assert(find(short, 0xc0) == -1) // a length below 2 ends it
    assert(find(soi ++ Array[Byte](0x12, 0x34) ++ sof, 0xc0) == -1) // lost sync
    assert(find(null, 0xc0) == -1 && find(soi, 0xc0) == -1)
    var seen = List.empty[Int]
    Bytes.jpegSegment(jpeg) { (m, _) => seen ::= m; false }
    assert(seen.reverse == List(0xe0, 0xc0))
  }

  test("classic TIFF reader: II/MM header, capped entries, reads past the end give 0, the full type table") {
    val b = ArrayBuffer[Byte]('M', 'M'); Bytes.putBe16(b, 42); Bytes.putBe32(b, 8)
    Bytes.putBe16(b, 3) // three entries, the third cut off by `end`
    def entry(id: Int, tpe: Int, count: Long, v: Long): Unit = {
      Bytes.putBe16(b, id); Bytes.putBe16(b, tpe); Bytes.putBe32(b, count); Bytes.putBe32(b, v)
    }
    entry(256, 3, 1, 640L << 16)
    entry(33550, 12, 3, 100)
    entry(257, 4, 1, 480)
    val a = b.toArray
    val end = 10 + 2 * 12 + 6
    val t = Tiff.open(a, 0, end).get
    assert(!t.little && t.ifd0 == 8)
    val es = t.entries(t.ifd0, 256)
    assert(es.map(_.id) == Seq(256, 33550))
    assert(t.scalar(es(0)) == 640 && t.valueAt(es(0)) == es(0).at)
    assert(es(1).size == 24 && t.valueAt(es(1)) == 100)
    assert(t.entries(t.ifd0, 1).map(_.id) == Seq(256))
    assert(t.entries(0, 256).isEmpty && t.entries(end, 256).isEmpty)
    assert(t.u16(end - 1) == 0 && t.u32(end - 3) == 0L && t.f64(end - 7) == 0.0)
    assert(t.next(t.ifd0) == 0L) // the next pointer lies past `end`
    assert(Tiff.open(a, 0, 7).isEmpty && Tiff.open("XX*\u0000\u0008\u0000\u0000\u0000".getBytes("ISO-8859-1"), 0, 8).isEmpty)
    assert((1 to 12).map(Tiff.typeSize) == Seq(1, 1, 2, 4, 8, 1, 1, 2, 4, 8, 4, 8))
    assert(Tiff.typeSize(0) == 1 && Tiff.typeSize(13) == 1)
  }

  // Recorded by running this corpus against commit
  // c14807c7c3c9f64573328de394a64871b9130b85, before the readers moved
  // onto `Bytes`, `Tiff` and `Bytes.jpegSegment`. The ExifWrite.setGps
  // column of the six EXIF fixtures was re-recorded once setGps stopped
  // throwing on corrupt APP1 segments (the test below).
  private val golden = Map(
    "exif-be" -> Seq("c9fa9ef6929c25b2", "27d73ba5cf9a76b8", "27d73ba5cf9a76b8", "27d73ba5cf9a76b8", "e7c6a9fbcaec2582", "66f4b191d2bb079f"),
    "exif-be-offset-gpsstamp" -> Seq("ac58f7bbd03d22c8", "3e70aa101657cd0b", "3e70aa101657cd0b", "3e70aa101657cd0b", "e7f6b76a1c3c971a", "4ada0bf5c54883c0"),
    "exif-xmp" -> Seq("69edb6d303f09997", "3b424e656379875d", "6f3c7af55d6d7969", "3b424e656379875d", "71808aa498e87603", "590cb1475ac4a85e"),
    "exif-le-fresh" -> Seq("e6097246f16ee7ad", "eaac7b10c49ddb27", "eaac7b10c49ddb27", "eaac7b10c49ddb27", "9314b271523a9cad", "eaac7b10c49ddb27"),
    "exif-be-rewritten" -> Seq("14e70a96883f182d", "84d6d56a605c87af", "84d6d56a605c87af", "84d6d56a605c87af", "25c2bf29d0eb4123", "d12823018204f0b0"),
    "exif-le-thumbnail" -> Seq("8dabf7f80a1b780c", "ad2bc5552f070398", "9d0e787a37b923e8", "9d0e787a37b923e8", "f53c098d27575384", "50fe0ed83f3d5560"),
    "geotiff-le-geokeys" -> Seq("88a61773b00aa8c0", "eaac7b10c49ddb27", "eaac7b10c49ddb27", "aaf73e99cefe62a4", "75b0a42e36bac43d", "eaac7b10c49ddb27"),
    "geotiff-be-transform" -> Seq("3bbc5a407067b1ec", "4aca33ab6a28a4c7", "4aca33ab6a28a4c7", "655759348b52a93d", "60db0b35cd83b70b", "4aca33ab6a28a4c7"),
    "tiff-plain" -> Seq("7c9906d056c5b3e2", "14cfde85fb85ccf9", "14cfde85fb85ccf9", "690bbd3627f3ecbe", "990f0df676432b34", "14cfde85fb85ccf9")
  )

  test("golden corpus: EXIF/XMP/GeoTIFF/JPEG reader outputs over fixtures, truncations and byte flips are unchanged") {
    val fixtures = BytesCorpus.fixtures
    assert(fixtures.map(_._1).toSet == golden.keySet)
    val diffs = fixtures.zipWithIndex.flatMap { case ((name, f), i) =>
      BytesCorpus.readers.zip(golden(name)).collect {
        case ((reader, read), want) if BytesCorpus.digest(read, f, 1000L + i) != want => s"$name / $reader"
      }
    }
    assert(diffs.isEmpty, s"reader outputs changed: ${diffs.mkString(", ")}")
  }

  test("ExifWrite.setGps never throws on any corpus variant") {
    val setGps = BytesCorpus.readers.toMap.apply("ExifWrite.setGps")
    val thrown = BytesCorpus.fixtures.zipWithIndex.map { case ((name, f), i) =>
      name -> BytesCorpus.variants(f, 1000L + i).count(v => BytesCorpus.render(setGps, v).startsWith("EXC:"))
    }.filter(_._2 > 0)
    assert(thrown.isEmpty, s"setGps threw on: ${thrown.mkString(", ")}")
  }
}
