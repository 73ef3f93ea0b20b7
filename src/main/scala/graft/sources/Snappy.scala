package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{be32, le24, le32, maskedCrc32c, writeBe32, writeLe32}

/** Snappy codec, both directions: the raw block format through
  * snappy-java (the reference implementation Spark ships; this object
  * is the one place main code reaches it), and in-tree the two
  * framings around it: the FRAMING format (`sNaPpY` magic, per-chunk
  * masked CRC32C, compressed/uncompressed/padding/skippable chunks)
  * and the HADOOP block framing (`[BE32 origLen][{BE32 clen}{raw
  * chunk}]*` — what `.snappy` part files from Hadoop/Hive text outputs
  * actually are; it has NO magic, extension-only routing).
  *
  * Why it's front-door: legacy Hadoop pipelines emitted `.snappy`
  * text shards for years and public mirrors still carry them; the
  * framing format (`.sz`) appears in streaming tools. The JDK has no
  * snappy.
  *
  * Scale shape: Hadoop-framed files are sequences of independent
  * ≤256 KiB blocks, and framing-format files sequences of ≤64 KiB
  * chunks — either way a shard decodes in one pass and the SHARD SET
  * is the parallelism unit (TextShards front door). CRC32C comes from
  * the JDK.
  *
  * Conformance is LIVE, not pinned: SnappySpec cross-checks both
  * framings in BOTH directions against snappy-java's own stream
  * classes on every test run (our decode of its output, its decode of
  * ours).
  *
  * Untrusted-bytes contract: malformed input of ANY shape raises
  * [[SnappyError]]. */
object Snappy {

  final class SnappyError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new SnappyError(msg)

  // ------------------------------------------------------------------
  // raw block format (snappy-java)
  // ------------------------------------------------------------------

  /** Decompress one raw-snappy block. `maxLen` bounds the DECLARED
    * uncompressed length before any allocation (framing callers pass
    * their format's chunk cap; default callers still get the
    * format-implied bound below). */
  def rawDecode(b: Array[Byte], off: Int, end: Int, maxLen: Int = Int.MaxValue): Array[Byte] = {
    if (off < 0 || end > b.length || off >= end) fail(s"snappy: no block in [$off, $end)")
    val n = lib(org.xerial.snappy.Snappy.uncompressedLength(b, off, end - off))
    if (n < 0) fail("snappy: negative length")
    if (n > maxLen) fail(s"snappy: declared length $n exceeds caller bound $maxLen")
    // format-implied expansion bound BEFORE allocating: the densest
    // conforming emission is a 2-byte-offset copy (3 tag bytes -> 64
    // output bytes), so a declared length past input*64/3 cannot
    // decode and a few crafted varint bytes must not force a multi-GiB
    // allocation (memory-pressure DoS on untrusted input)
    if (n.toLong > (end - off).toLong * 64L / 3L + 1L)
      fail(s"snappy: declared length $n impossible from ${end - off} input bytes")
    val out = new Array[Byte](n)
    val got = lib(org.xerial.snappy.Snappy.uncompress(b, off, end - off, out, 0))
    if (got != n) fail(s"snappy: decoded $got of declared $n bytes")
    out
  }

  /** Compress one raw-snappy block. */
  def rawEncode(src: Array[Byte]): Array[Byte] = lib(org.xerial.snappy.Snappy.compress(src))

  /** Runs a snappy-java call, turning its failures into a [[SnappyError]]. */
  private def lib[A](f: => A): A =
    try f
    catch {
      case e: java.io.IOException => fail(s"snappy: ${e.getMessage}")
      case e: org.xerial.snappy.SnappyError => fail(s"snappy: ${e.getMessage}")
    }

  // ------------------------------------------------------------------
  // Hadoop block framing ([BE32 origLen][{BE32 clen}{raw chunk}]*)
  // ------------------------------------------------------------------

  /** Decode a Hadoop-framed `.snappy` stream. */
  def hadoopDecode(b: Array[Byte]): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream()
      var p = 0
      while (p < b.length) {
        if (p + 4 > b.length) fail("snappy-hadoop: truncated block length")
        val orig = be32(b, p); p += 4
        if (orig < 0) fail("snappy-hadoop: negative block length")
        var got = 0
        while (got < orig) {
          if (p + 4 > b.length) fail("snappy-hadoop: truncated chunk length")
          val clen = be32(b, p); p += 4
          if (clen < 0 || p + clen > b.length) fail("snappy-hadoop: chunk overruns input")
          // a chunk may not decode past the block's declared remainder
          val chunk = rawDecode(b, p, p + clen, orig - got)
          p += clen
          out.write(chunk)
          got += chunk.length
        }
        if (got != orig) fail("snappy-hadoop: block length disagrees with chunks")
      }
      out.toByteArray
    } catch {
      case e: SnappyError => throw e
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException =>
        fail("snappy-hadoop: malformed input")
    }

  /** Write a Hadoop-framed `.snappy` stream (256 KiB blocks, one
    * compressed chunk per block — the codec's default shape). */
  def hadoopEncode(data: Array[Byte], blockSize: Int = 256 << 10): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var off = 0 // empty input = empty stream (the codec writes nothing)
    while (off < data.length) {
      val n = math.min(blockSize, data.length - off)
      val chunk = rawEncode(java.util.Arrays.copyOfRange(data, off, off + n))
      writeBe32(out, n)
      writeBe32(out, chunk.length)
      out.write(chunk)
      off += n
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // framing format (`.sz`): sNaPpY magic + CRC32C-checked chunks
  // ------------------------------------------------------------------

  private val FramedMagic: Array[Byte] =
    Array(0xff.toByte, 0x06, 0x00, 0x00, 's', 'N', 'a', 'P', 'p', 'Y')

  /** True when the head bytes carry the framing-format magic. */
  def isFramed(b: Array[Byte]): Boolean =
    b.length >= 10 && (0 until 10).forall(i => b(i) == FramedMagic(i))

  /** Decode a framing-format (`.sz`) stream. */
  def framedDecode(b: Array[Byte]): Array[Byte] =
    try {
      if (!isFramed(b)) fail("snappy-framed: missing sNaPpY magic")
      val out = new java.io.ByteArrayOutputStream()
      var p = 10
      while (p < b.length) {
        if (p + 4 > b.length) fail("snappy-framed: truncated chunk header")
        val t = b(p) & 0xff
        val len = le24(b, p + 1)
        p += 4
        if (p + len > b.length) fail("snappy-framed: chunk overruns input")
        t match {
          case 0x00 => // compressed: masked CRC32C of the UNCOMPRESSED data
            if (len < 4) fail("snappy-framed: compressed chunk too short")
            // framing spec: uncompressed data in any chunk caps at 65536
            // — enforced BEFORE rawDecode allocates (reference decoders
            // reject these chunks the same way)
            val data = rawDecode(b, p + 4, p + len, 65536)
            if (maskedCrc32c(data, 0, data.length) != le32(b, p)) fail("snappy-framed: CRC mismatch")
            out.write(data)
          case 0x01 => // uncompressed
            if (len < 4) fail("snappy-framed: uncompressed chunk too short")
            if (len - 4 > 65536) fail("snappy-framed: uncompressed chunk exceeds 65536-byte cap")
            if (maskedCrc32c(b, p + 4, len - 4) != le32(b, p)) fail("snappy-framed: CRC mismatch")
            out.write(b, p + 4, len - 4)
          case 0xfe => () // padding
          case other if other >= 0x80 => () // skippable
          case other => fail(f"snappy-framed: unskippable reserved chunk 0x$other%02x")
        }
        p += len
      }
      out.toByteArray
    } catch {
      case e: SnappyError => throw e
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException =>
        fail("snappy-framed: malformed input")
    }

  /** Write a framing-format stream (64 KiB chunks, compressed unless
    * incompressible — the spec's recommended shape). */
  def framedEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(FramedMagic)
    var off = 0
    while (off < data.length) {
      val n = math.min(65536, data.length - off)
      val crc = maskedCrc32c(data, off, n)
      val comp = rawEncode(java.util.Arrays.copyOfRange(data, off, off + n))
      val (t, payloadLen) = if (comp.length < n) (0x00, comp.length) else (0x01, n)
      val len = 4 + payloadLen
      out.write(t); out.write(len & 0xff); out.write((len >>> 8) & 0xff); out.write((len >>> 16) & 0xff)
      writeLe32(out, crc)
      if (t == 0x00) out.write(comp) else out.write(data, off, n)
      off += n
    }
    out.toByteArray
  }

  /** Decode by shape: framing-format magic wins; otherwise the Hadoop
    * block framing (which has no magic — `.snappy` files). */
  def decode(b: Array[Byte]): Array[Byte] =
    if (isFramed(b)) framedDecode(b) else hadoopDecode(b)

  // ------------------------------------------------------------------
  // q_snappy — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id DIV 4096 bucket — SF-invariant task size):
    * the bucket's jsonl cycles through all THREE formats — raw block,
    * Hadoop framing (multi-block), framing format (mixed compressed/
    * uncompressed chunks, CRC32C-checked) — each decoding byte-equal;
    * counts/char sums have closed forms the oracle states. Reference
    * conformance (snappy-java both directions, all three formats) is
    * SnappySpec's gate. */
  def snappyQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 101}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(utf8)
      val raw = rawEncode(payload)
      require(java.util.Arrays.equals(rawDecode(raw, 0, raw.length), payload), "snappy: raw cycle drift")
      require(java.util.Arrays.equals(hadoopDecode(hadoopEncode(payload, blockSize = 4096)), payload), "snappy: hadoop cycle drift")
      require(java.util.Arrays.equals(framedDecode(framedEncode(payload)), payload), "snappy: framed cycle drift")
      require(java.util.Arrays.equals(Snappy.decode(framedEncode(payload)), payload), "snappy: shape dispatch drift")
      Seq(lines.length.toLong, lines.map(_.length.toLong).sum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_lines"), sum($"a".getItem(1)).as("line_chars"))
      .orderBy($"event_type")
  }
}
