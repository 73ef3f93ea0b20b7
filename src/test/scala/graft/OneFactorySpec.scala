package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: `Sessions` is the only SparkSession factory,
  * `Lanes` the only place that releases every persistent RDD, `Bytes`
  * the only home of byte-order helpers, `Zstd`, `Xz` and `Snappy`
  * the only callers of the codec libraries behind them,
  * `ParquetMeta` and `OrcMeta` the only callers of parquet-mr and
  * orc-core, `ArrowIpc` and `ArrowSource` the only callers of
  * arrow-vector, `AvroOcf` the only caller of avro-java and `Bzip2`
  * the only caller of commons-compress, so a second builder, release
  * loop, endian helper, codec or format entry point cannot grow back
  * anywhere in main code. */
class OneFactorySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally files.close()
  }

  /** Main files matching `pattern`, relative to `src/main/scala`. */
  private def matching(pattern: String): Seq[String] =
    sources.filter(p => pattern.r.findFirstIn(Files.readString(p)).isDefined).map(root.relativize(_).toString)

  test("SparkSession.builder appears only in Sessions") {
    assert(matching("""SparkSession\s*\.\s*builder""") === Seq("graft/Sessions.scala"))
  }

  test("zstd-jni, XZ for Java and snappy-java are referenced only from Zstd, Xz and Snappy") {
    assert(matching("""com\.github\.luben|org\.tukaani|org\.xerial""") ===
      Seq("graft/sources/Snappy.scala", "graft/sources/Xz.scala", "graft/sources/Zstd.scala"))
  }

  test("parquet-mr and orc-core are referenced only from ParquetMeta and OrcMeta") {
    assert(matching("""org\.apache\.parquet|org\.apache\.orc""") ===
      Seq("graft/sources/OrcMeta.scala", "graft/sources/ParquetMeta.scala"))
  }

  test("arrow-vector is referenced only from ArrowIpc and ArrowSource, avro-java only from AvroOcf") {
    assert(matching("""org\.apache\.arrow""") ===
      Seq("graft/sources/ArrowIpc.scala", "graft/sources/ArrowSource.scala"))
    assert(matching("""org\.apache\.avro""") === Seq("graft/sources/AvroOcf.scala"))
  }

  test("commons-compress is referenced only from Bzip2, Hadoop's bzip2 internals nowhere") {
    assert(matching("""org\.apache\.commons\.compress""") === Seq("graft/sources/Bzip2.scala"))
    val hadoopBzip2 = """org\.apache\.hadoop\.io\.compress\.bzip2"""
    assert(hadoopBzip2.r.findFirstIn("import org.apache.hadoop.io.compress.bzip2.CBZip2InputStream").isDefined)
    assert(matching(hadoopBzip2) === Seq.empty)
  }

  test("the getPersistentRDDs unpersist loop appears only in Lanes") {
    assert(matching("""getPersistentRDDs[^\n]*\n?[^\n]*unpersist""") === Seq("graft/Lanes.scala"))
  }

  /** A short def (at most three continuation lines) whose body shifts a
    * 0xff-masked array byte left by 8, 16 or 24, or masks a value
    * shifted right by 8, 16 or 24 with 0xff: a hand-rolled multi-byte
    * read or write. */
  private val shortDef =
    """(?m)^([ \t]*)(?:[\w\[\]@]+[ \t]+)*def[ \t]+\w+[^\n]*(?:\n(?:\1[ \t]+[^\n]*|[ \t]*(?=\n))){0,3}$(?!\n(?:[ \t]*\n)*\1[ \t]+\S)""".r
  private val maskedByteShiftedUp = """\w+\([^()]*\)\s*&\s*0x[fF][fF]L?\s*\)\s*<<\s*(8|16|24)\b""".r
  private val shiftedDownMasked = """\(\s*\w+\s*>>>?\s*(8|16|24)\s*\)\s*&\s*0x[fF][fF]L?\b""".r

  test("byte-order helper defs appear only in Bytes") {
    val withHelpers = sources.filter { p =>
      shortDef.findAllIn(Files.readString(p)).exists(d =>
        maskedByteShiftedUp.findFirstIn(d).isDefined || shiftedDownMasked.findFirstIn(d).isDefined)
    }
    assert(withHelpers.map(root.relativize(_).toString) === Seq("graft/sources/Bytes.scala"))
  }
}
