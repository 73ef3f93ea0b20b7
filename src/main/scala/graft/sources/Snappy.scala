package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{be32, le32, maskedCrc32c, writeBe32, writeLe32}

/** Snappy codec — pure JVM, both directions: the raw block format
  * (varint preamble + literal/copy tags, published format spec), the
  * FRAMING format (`sNaPpY` magic, per-chunk masked CRC32C,
  * compressed/uncompressed/padding/skippable chunks) and the HADOOP
  * block framing (`[BE32 origLen][{BE32 clen}{raw chunk}]*` — what
  * `.snappy` part files from Hadoop/Hive text outputs actually are;
  * it has NO magic, extension-only routing).
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
  * Conformance is LIVE, not pinned: snappy-java ships on the Spark
  * classpath (parquet uses it), so SnappySpec cross-checks every
  * format in BOTH directions against the reference implementation on
  * every test run (our decode of its output, its decode of ours).
  *
  * Untrusted-bytes contract: malformed input of ANY shape raises
  * [[SnappyError]]. */
object Snappy {

  final class SnappyError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new SnappyError(msg)

  // ------------------------------------------------------------------
  // raw block format
  // ------------------------------------------------------------------

  /** Decompress one raw-snappy block. `maxLen` bounds the DECLARED
    * uncompressed length before any allocation (framing callers pass
    * their format's chunk cap; default callers still get the
    * format-implied bound below). */
  def rawDecode(b: Array[Byte], off: Int, end: Int, maxLen: Int = Int.MaxValue): Array[Byte] =
    try rawDecodeImpl(b, off, end, maxLen)
    catch {
      case e: SnappyError => throw e
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException |
          _: IndexOutOfBoundsException =>
        fail("snappy: malformed input (out-of-range field)")
    }

  private def rawDecodeImpl(b: Array[Byte], off: Int, end: Int, maxLen: Int): Array[Byte] = {
    var p = off
    // varint32 uncompressed length
    var n = 0
    var shift = 0
    var more = true
    while (more) {
      if (p >= end || shift > 28) fail("snappy: bad length varint")
      val x = b(p) & 0xff; p += 1
      n |= (x & 0x7f) << shift
      shift += 7
      more = (x & 0x80) != 0
    }
    if (n < 0) fail("snappy: negative length")
    if (n > maxLen) fail(s"snappy: declared length $n exceeds caller bound $maxLen")
    // format-implied expansion bound BEFORE allocating: the densest
    // conforming emission is a 2-byte-offset copy (3 tag bytes -> 64
    // output bytes), so a declared length past remaining*64/3 cannot
    // decode and a few crafted varint bytes must not force a multi-GiB
    // allocation (memory-pressure DoS on untrusted input)
    if (n.toLong > (end - p).toLong * 64L / 3L + 1L)
      fail(s"snappy: declared length $n impossible from ${end - p} input bytes")
    val out = new Array[Byte](n)
    var q = 0
    while (p < end) {
      val tag = b(p) & 0xff; p += 1
      (tag & 3) match {
        case 0 => // literal
          var len = tag >>> 2
          if (len >= 60) {
            val extra = len - 59
            if (p + extra > end) fail("snappy: truncated literal length")
            len = 0
            var i = 0
            while (i < extra) { len |= (b(p + i) & 0xff) << (8 * i); i += 1 }
            p += extra
          }
          len += 1
          if (len < 0 || p + len > end || q + len > n) fail("snappy: literal overruns")
          System.arraycopy(b, p, out, q, len)
          p += len; q += len
        case el =>
          var len = 0
          var o = 0
          if (el == 1) {
            if (p + 1 > end) fail("snappy: truncated copy")
            len = ((tag >>> 2) & 7) + 4
            o = ((tag >>> 5) << 8) | (b(p) & 0xff); p += 1
          } else if (el == 2) {
            if (p + 2 > end) fail("snappy: truncated copy")
            len = (tag >>> 2) + 1
            o = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
          } else {
            if (p + 4 > end) fail("snappy: truncated copy")
            len = (tag >>> 2) + 1
            o = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
            p += 4
          }
          if (o <= 0 || o > q) fail("snappy: copy offset out of window")
          if (q + len > n) fail("snappy: copy overruns output")
          var i = 0 // forward byte copy handles overlap
          while (i < len) { out(q + i) = out(q - o + i); i += 1 }
          q += len
      }
    }
    if (q != n) fail(s"snappy: decoded $q of declared $n bytes")
    out
  }

  /** Compress one raw-snappy block: the canonical greedy hash-table
    * matcher (4-byte hashes, 2-byte-offset copies in ≤64-byte runs). */
  def rawEncode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 16)
    // varint preamble
    var v = src.length
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    def literal(from: Int, until: Int): Unit = {
      var a = from
      while (a < until) {
        val len = math.min(until - a, 1 << 16) // keep extension ≤ 2 bytes
        val l = len - 1
        if (l < 60) out.write(l << 2)
        else if (l < 256) { out.write(60 << 2); out.write(l) }
        else { out.write(61 << 2); out.write(l & 0xff); out.write((l >>> 8) & 0xff) }
        out.write(src, a, len)
        a += len
      }
    }
    @inline def hash(x: Int): Int = (x * -1640531535) >>> 18
    var anchor = 0
    if (src.length >= 8) {
      val table = new Array[Int](1 << 14)
      java.util.Arrays.fill(table, -1)
      var i = 0
      val limit = src.length - 4
      while (i <= limit) {
        val h = hash(le32(src, i))
        val cand = table(h)
        table(h) = i
        if (cand >= 0 && i - cand <= 0xffff && le32(src, cand) == le32(src, i)) {
          literal(anchor, i)
          var m = 4
          while (i + m < src.length && src(cand + m) == src(i + m)) m += 1
          val o = i - cand
          var rest = m
          while (rest > 0) { // 2-byte-offset copies carry ≤ 64 bytes each
            // (the format allows copy lengths down to 1, so a short
            // tail chunk is legal)
            val c = math.min(rest, 64)
            out.write(((c - 1) << 2) | 2)
            out.write(o & 0xff); out.write((o >>> 8) & 0xff)
            rest -= c
          }
          i += m
          anchor = i
        } else i += 1
      }
    }
    literal(anchor, src.length)
    out.toByteArray
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
        val len = (b(p + 1) & 0xff) | ((b(p + 2) & 0xff) << 8) | ((b(p + 3) & 0xff) << 16)
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
