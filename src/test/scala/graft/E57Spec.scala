package graft

import graft.sources.E57
import graft.sources.E57.{Flt, Scan, ScaledInt}

/** ASTM E57 container: paged CRC-32C layer, header, XML prototype
  * walk, bit-packed CompressedVector streams — round-trip-proven
  * (no external fixture in-sandbox), corrupt-input-guarded. */
class E57Spec extends SparkSuite {

  private def xyzScan(n: Int, seed: Int): Scan = {
    val rnd = new scala.util.Random(seed)
    val fields = Seq(
      ScaledInt("cartesianX", -500000, 500000, 0.001, 0.0),
      ScaledInt("cartesianY", -500000, 500000, 0.001, 0.0),
      ScaledInt("cartesianZ", 0, 100000, 0.001, 0.0),
      ScaledInt("intensity", 0, 255, 1.0, 0.0),
      Flt("colorRed", double = false)
    )
    val recs = (0 until n).map { _ =>
      Array(
        (rnd.nextInt(1000001) - 500000) * 0.001,
        (rnd.nextInt(1000001) - 500000) * 0.001,
        rnd.nextInt(100001) * 0.001,
        rnd.nextInt(256).toDouble,
        rnd.nextFloat().toDouble
      )
    }
    Scan(fields, recs)
  }

  test("CRC-32C matches the published check value; the paged layer round-trips and verifies") {
    // RFC 3720 test vector: crc32c("123456789") = 0xE3069283
    assert(graft.sources.Bytes.crc32c("123456789".getBytes("US-ASCII"), 0, 9) == 0xe3069283)
    val logical = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    val phys = E57.toPhysical(logical)
    assert(phys.length == 3 * 1024)
    assert(E57.toLogical(phys).take(3000).toSeq == logical.toSeq)
    // one flipped byte → ONE named error
    val bad = phys.clone(); bad(500) = (bad(500) ^ 0x40).toByte
    assert(intercept[IllegalArgumentException](E57.toLogical(bad)).getMessage.contains("checksum"))
  }

  test("write -> read is the identity on the quantization lattice (multi-packet, mixed field kinds)") {
    val scan = xyzScan(20000, 7) // forces many 64 KiB packets
    val e57 = E57.write(Seq(scan))
    val back = E57.read(e57)
    assert(back.length == 1)
    assert(back.head.fields == scan.fields)
    assert(back.head.records.length == 20000)
    scan.records.zip(back.head.records).zipWithIndex.foreach { case ((a, b), i) =>
      // ScaledInteger fields: exact on the scale lattice
      (0 until 4).foreach(k => assert(math.abs(a(k) - b(k)) < 1e-9, s"rec $i field $k"))
      // single-precision float: exact at f32
      assert(a(4).toFloat == b(4).toFloat, s"rec $i color")
    }
  }

  test("multiple scans, double floats, constant (zero-bit) fields") {
    val s1 = xyzScan(500, 1).copy(name = "front")
    val s2 = Scan(
      Seq(Flt("cartesianX", double = true), Flt("cartesianY", double = true),
        ScaledInt("row", 7, 7, 1.0, 0.0)), // constant → zero bits on the wire
      (0 until 300).map(i => Array(i * 0.1 - 3.7, math.Pi * i, 7.0)),
      name = "back"
    )
    val e57 = E57.write(Seq(s1, s2))
    val back = E57.read(e57)
    assert(back.map(_.name) == Seq("front", "back"))
    assert(back(1).records.length == 300)
    back(1).records.zipWithIndex.foreach { case (r, i) =>
      assert(r(0) == i * 0.1 - 3.7 && r(1) == math.Pi * i, s"double fields are bit-exact (rec $i)")
      assert(r(2) == 7.0)
    }
    val inf = E57.info(e57).get
    assert(inf.scanCount == 2 && inf.pointCount == 800)
    assert(inf.dimensions.take(3) == Seq("cartesianX", "cartesianY", "cartesianZ"))
  }

  test("guards: bad signature, out-of-range values, truncation") {
    val good = E57.write(Seq(xyzScan(10, 3)))
    val badSig = good.clone(); badSig(0) = 'X'
    // signature break also breaks the page CRC; both are named errors
    val e = intercept[IllegalArgumentException](E57.read(badSig))
    assert(e.getMessage.contains("checksum") || e.getMessage.contains("signature"))
    assert(E57.info(badSig).isEmpty)
    assert(intercept[IllegalArgumentException] {
      E57.write(Seq(Scan(Seq(ScaledInt("cartesianX", 0, 10, 1.0, 0.0)), Seq(Array(99.0)))))
    }.getMessage.contains("outside"))
    assert(intercept[IllegalArgumentException](E57.toLogical(good.take(1000))).getMessage.contains("page-aligned"))
  }

  test("Spark face: estate scan with prototype columns; extension dispatch types .e57") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e57")
    try {
      (0 until 2).foreach { f =>
        java.nio.file.Files.write(dir.resolve(s"scan$f.e57"), E57.write(Seq(xyzScan(400, 10 + f))))
      }
      val df = E57.pointsTable(spark, dir.toString + "/*.e57")
      assert(df.count() == 800)
      assert(df.schema.fieldNames.toSeq ==
        Seq("file", "scan", "cartesianX", "cartesianY", "cartesianZ", "intensity", "colorRed"))
      import org.apache.spark.sql.functions._
      val mx = df.agg(max(col("intensity"))).collect().head.getDouble(0)
      assert(mx >= 0 && mx <= 255)
      assert(graft.model.EntryType.fromExtension("cloud.e57") == graft.model.EntryType.PointCloud)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.delete(dir)
    }
  }
}
