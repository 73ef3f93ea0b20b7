package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** bzip2 through commons-compress, the implementation Spark ships:
  * this object is the one place main code reaches it. Whole streams
  * both ways, multistream concatenation included (the shape of the big
  * public `.bz2` dumps), plus the untrusted-bytes contract:
  *
  *  - Every failure, library or ours, is a [[Bzip2Error]].
  *  - A caller that knows the decoded size (a Zip entry, a 7z folder)
  *    passes it as `limit`; a stream that decodes past it is refused
  *    at `limit + 1` bytes, so a few hundred bytes of bzip2 over a run
  *    of zeros cannot demand gigabytes.
  *
  * Splitting one huge `.bz2` within the file is Spark's job: its text
  * source splits `.bz2` by block through Hadoop's `BZip2Codec`, and
  * [[TextShards.lines]] routes `.bz2` there.
  *
  * Conformance: Bzip2Spec decodes real libbz2 output (levels 1..9,
  * multi-block, multistream) byte-exactly through this facade. */
object Bzip2 {

  final class Bzip2Error(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new Bzip2Error(msg)

  /** Block size in units of 100 kB that [[encode]] writes. */
  private val Level = 1

  /** Decode a whole (possibly multistream) `.bz2`; empty input is empty
    * output. `limit >= 0` caps the decoded size. */
  def decode(b: Array[Byte], limit: Long = -1L): Array[Byte] =
    if (b.isEmpty) Array.emptyByteArray
    else
      try {
        val in = new BZip2CompressorInputStream(new ByteArrayInputStream(b), true)
        val out =
          try if (limit < 0 || limit >= Int.MaxValue - 8) in.readAllBytes() else in.readNBytes(limit.toInt + 1)
          finally in.close()
        if (limit >= 0 && out.length > limit) fail(s"bzip2: stream decodes past the declared $limit bytes")
        out
      } catch {
        case e: Bzip2Error => throw e
        case e: IOException => fail(s"bzip2: ${e.getMessage}")
        case e: RuntimeException => fail(s"bzip2: malformed input (${e.getClass.getSimpleName})")
      }

  /** One bzip2 stream at 100 kB blocks. */
  def encode(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val os = new BZip2CompressorOutputStream(bos, Level)
    try os.write(data)
    finally os.close()
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // q_bz2 — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the shard's jsonl cycles through
    * bzip2 in-task — encode, then whole decode byte-equal — then
    * counts/char sums with closed forms the oracle states.
    * Cross-decoder conformance (libbz2 fixtures) is Bzip2Spec's gate. */
  def bz2Query(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 79}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(utf8)
      require(java.util.Arrays.equals(Bzip2.decode(Bzip2.encode(payload)), payload), "bz2: whole decode drift")
      Seq(lines.length.toLong, lines.map(_.length.toLong).sum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_lines"), sum($"a".getItem(1)).as("line_chars"))
      .orderBy($"event_type")
  }
}
