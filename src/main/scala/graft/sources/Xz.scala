package graft.sources

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.tukaani.xz.{BasicArrayCache, LZMA2InputStream, LZMAInputStream, SingleXZInputStream}
import org.tukaani.xz.simple.{ARM, ARM64, ARMThumb, IA64, PowerPC, RISCVDecoder, RISCVEncoder, SPARC, SimpleFilter, X86}

import graft.sources.Bytes.{crc32, le32, le32u, setLe32, writeLe32}

/** XZ / LZMA through XZ for Java (org.tukaani, the implementation Spark
  * ships; this object is the one place main code reaches it): the
  * `.xz` container (filter chains incl. delta and the eight BCJ branch
  * filters, CRC32/CRC64/SHA-256 checks, multi-block streams), raw
  * LZMA1/LZMA2 streams as ZIP and 7z carry them, and the legacy
  * `.lzma` "alone" format. In-tree stay the parts no library gives:
  * the metadata-only stream walk below, the block-header rules
  * liblzma enforces that XZ for Java does not name, the raw-chunk
  * writer and the Spark faces.
  *
  * Why it's front-door: public-dataset shards ship `.jsonl.xz` /
  * `.xml.xz` routinely (wiki dumps, HF mirrors of The Pile era
  * corpora). The JDK has no xz.
  *
  * Scale shape: one `.xz` STREAM is sequential (LZMA is not
  * splittable), but xz files are legally CONCATENATIONS of streams,
  * and shard producers exploit that. [[streamsOf]] walks stream
  * boundaries backward from footers using only metadata (each footer
  * names its index size; each index names its blocks), so the driver
  * plans per-stream ranges without decompressing anything, and each
  * task decodes exactly its own streams — the seekable-zstd shape.
  * Single-stream files degrade to one task per file (the honest
  * limit; the file set is then the parallelism unit).
  *
  * Untrusted bytes: every failure is an [[XzError]]. Dictionaries
  * above 64 MiB (xz -9's) are refused before they are
  * allocated, and a raw stream's dictionary is sized from its
  * declared output (no match reaches further back than that).
  *
  * XzSpec pins the decode byte-exactly against REAL liblzma output
  * (python's stdlib `lzma` is a liblzma binding) across presets,
  * check types, custom lc/lp/pb filter chains, BCJ filters, the alone
  * format and concatenated streams. The in-task q_xz cycle uses
  * [[encodeRawXz]] — valid xz built from LZMA2 UNCOMPRESSED chunks
  * (the format's storage escape hatch) with real CRCs/index/footer.
  */
object Xz {

  final class XzError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new XzError(msg)

  /** Largest dictionary a decode may allocate (xz -9's). */
  private val DictMax = 64 << 20
  /** XZ for Java's memory limit: that dictionary plus 8 MiB for the
    * coder state (LZMA1 probabilities at lc + lp = 12) and filters. */
  private val MemoryLimitKiB = (DictMax >> 10) + (8 << 10)

  /** Runs a decode, turning every library failure and every
    * out-of-range field read into an [[XzError]] named `what`. */
  private def lib[A](what: String)(f: => A): A =
    try f
    catch {
      case e: XzError => throw e
      case e: java.io.IOException => fail(s"$what: ${e.getMessage}")
      case _: IndexOutOfBoundsException | _: NegativeArraySizeException =>
        fail(s"$what: malformed input (out-of-range field)")
    }

  /** Input over `b` from `off` whose read position is visible. */
  private final class At(b: Array[Byte], off: Int) extends ByteArrayInputStream(b, off, b.length - off) {
    def position: Int = pos
  }

  // ------------------------------------------------------------------
  // xz container
  // ------------------------------------------------------------------

  private val Magic = Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0)
  private val FooterMagic = Array[Byte]('Y', 'Z')

  private def varint(b: Array[Byte], p0: Int): (Long, Int) = {
    var v = 0L
    var p = p0
    var shift = 0
    while (shift < 63) {
      val x = b(p) & 0xff
      p += 1
      v |= (x & 0x7fL) << shift
      if ((x & 0x80) == 0) return (v, p)
      shift += 7
    }
    fail("xz: varint too long")
  }

  /** Decode ONE xz stream starting at `off`; returns (payload, bytes
    * consumed incl. the footer). */
  def decodeStream(b: Array[Byte], off: Int): (Array[Byte], Int) = lib("xz") {
    if (off + 12 > b.length || !java.util.Arrays.equals(b, off, off + 6, Magic, 0, 6))
      fail("xz: bad stream magic")
    checkBlockHeader(b, off + 12) // the first block, before it is decoded
    val in = new At(b, off)
    val xz = new SingleXZInputStream(in, MemoryLimitKiB, true, BasicArrayCache.getInstance())
    val payload = try xz.readAllBytes() finally xz.close()
    val end = in.position
    blockStarts(b, off, end).foreach(checkBlockHeader(b, _))
    (payload, end - off)
  }

  /** The block-header rules liblzma enforces and XZ for Java does not
    * name (or does not check): filter fields stay inside the header, a
    * BCJ start offset is a multiple of the filter's instruction size,
    * and the padding before the header CRC is zero. An index indicator
    * at `p` (no block) passes. */
  private def checkBlockHeader(b: Array[Byte], p: Int): Unit =
    if (p < b.length && b(p) != 0) {
      val headerSize = ((b(p) & 0xff) + 1) * 4
      if (crc32(b, p, headerSize - 4).toInt != le32(b, p + headerSize - 4)) fail("xz: block header CRC mismatch")
      val flags = b(p + 1) & 0xff
      val fieldsEnd = p + headerSize - 4
      var q = p + 2
      if ((flags & 0x40) != 0) q = varint(b, q)._2 // compressed size
      if ((flags & 0x80) != 0) q = varint(b, q)._2 // uncompressed size
      if (q > fieldsEnd) fail("xz: block header size fields overrun header")
      for (_ <- 0 to (flags & 3)) {
        val (id, q2) = varint(b, q)
        val (propsLen, q3) = varint(b, q2)
        if (q3 > fieldsEnd || propsLen < 0 || propsLen > fieldsEnd - q3)
          fail("xz: filter fields overrun block header")
        if (id >= 0x04 && id <= 0x0b && propsLen == 4 && le32u(b, q3) % bcjAlignment(id) != 0)
          fail(s"xz: BCJ start offset ${le32u(b, q3)} not aligned to filter $id's instruction size")
        q = q3 + propsLen.toInt
      }
      while (q < fieldsEnd) {
        if (b(q) != 0) fail("xz: nonzero block header padding")
        q += 1
      }
    }

  /** Padded sizes of the blocks the index at `indexStart` lists. */
  private def indexedBlocks(b: Array[Byte], indexStart: Int): Seq[Long] = {
    var (nRec, p) = varint(b, indexStart + 1)
    val sizes = Seq.newBuilder[Long]
    while (nRec > 0) {
      val (unpadded, p2) = varint(b, p)
      p = varint(b, p2)._2
      sizes += (unpadded + 3) / 4 * 4
      nRec -= 1
    }
    sizes.result()
  }

  /** Block-header offsets of the stream at [start, end), from its index. */
  private def blockStarts(b: Array[Byte], start: Int, end: Int): Seq[Int] = {
    val indexStart = end - 12 - (le32u(b, end - 8) + 1) * 4
    indexedBlocks(b, indexStart.toInt).scanLeft(start + 12L)(_ + _).init.map(_.toInt)
  }

  /** Decode a whole `.xz` file: every concatenated stream, skipping
    * 4-aligned zero padding between them. */
  def decode(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < b.length) {
      if (b(p) == 0) {
        // stream padding: 4-aligned zeros
        if ((p & 3) != 0) fail("xz: misaligned stream padding")
        while (p < b.length && b(p) == 0) p += 1
        if (p < b.length && ((p & 3) != 0)) fail("xz: stream padding not multiple of 4")
      } else {
        val (payload, consumed) = decodeStream(b, p)
        out.write(payload)
        p += consumed
      }
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // raw LZMA streams (ZIP method 14, 7z coders, `.lzma`)
  // ------------------------------------------------------------------

  /** Dictionary for a raw stream whose own dictionary size is not
    * passed in: no match reaches back past the output so far, so the
    * declared output size suffices. */
  private def rawDictSize(outSize: Long): Int =
    if (outSize < 0) DictMax else math.max(4096L, math.min(outSize, DictMax.toLong)).toInt

  /** All of `in`, or at most `outSize + 1` bytes when that is known (a
    * stream decoding past its declared size is then refused by the
    * caller's length check instead of running on). */
  private def drain(in: java.io.InputStream, outSize: Long): Array[Byte] =
    try {
      if (outSize < 0 || outSize >= Int.MaxValue - 8) in.readAllBytes() else in.readNBytes(outSize.toInt + 1)
    } finally in.close()

  /** Raw LZMA2 chunk sequence ending at the zero control byte — the
    * payload shape the 7z LZMA2 coder carries (no xz container).
    * `outSize >= 0` is verified after decode. */
  def decodeLzma2Raw(b: Array[Byte], outSize: Long): Array[Byte] = lib("lzma2") {
    val out = drain(new LZMA2InputStream(new ByteArrayInputStream(b), rawDictSize(outSize)), outSize)
    if (outSize >= 0 && out.length != outSize)
      fail(s"lzma2: produced ${out.length} of declared $outSize bytes")
    out
  }

  /** Raw LZMA1 stream — the payload shape ZIP method 14 and 7z LZMA1
    * coders carry (props byte out-of-band, no container): decodes
    * exactly `outSize` bytes (`-1` = until the end marker; a trailing
    * EOS marker after `outSize` bytes is simply not read, matching
    * reference decoders given a known size). */
  def decodeLzma1(props: Int, b: Array[Byte], off: Int, end: Int, outSize: Long): Array[Byte] = lib("lzma") {
    if (props < 0 || props > 224) fail("lzma: bad props byte")
    val in = new LZMAInputStream(new ByteArrayInputStream(b, off, end - off), outSize, props.toByte, rawDictSize(outSize))
    in.enableRelaxedEndCondition()
    drain(in, outSize)
  }

  /** Legacy `.lzma` (alone) format: 5-byte props+dictsize header,
    * 8-byte LE uncompressed size (-1 = until end marker). */
  def decodeAlone(b: Array[Byte]): Array[Byte] = lib("lzma-alone") {
    if (b.length < 13) fail("lzma-alone: too short")
    drain(new LZMAInputStream(new ByteArrayInputStream(b), MemoryLimitKiB), -1L)
  }

  // ------------------------------------------------------------------
  // BCJ branch filters (the xz "simple" filters, ids 0x04..0x0B)
  // ------------------------------------------------------------------

  /** Instruction alignment per BCJ filter id — the unit a start
    * offset must be a multiple of (xz file-format spec §5.3.2). */
  private def bcjAlignment(id: Long): Int = id match {
    case 0x04 => 1 // x86
    case 0x05 => 4 // PowerPC
    case 0x06 => 16 // IA-64 bundle
    case 0x07 => 4 // ARM
    case 0x08 => 2 // ARM-Thumb
    case 0x09 => 4 // SPARC
    case 0x0a => 4 // ARM64
    case 0x0b => 2 // RISC-V (compressed instructions are 2-byte)
    case _ => 1
  }

  /** Apply BCJ filter `id` in place over `b[off, off+len)`. `start`
    * is the filter's start-offset property (position of the first
    * byte in the pre-filtered stream); `encode = false` undoes what
    * the compressor's filter did. A tail too short for an instruction
    * stays as it is, as at the end of an xz block. */
  private[graft] def Bcj(id: Long, b: Array[Byte], off: Int, len: Int, start: Long, encode: Boolean): Unit = {
    val s = start.toInt
    val filter: SimpleFilter = id match {
      case 0x04 => new X86(encode, s)
      case 0x05 => new PowerPC(encode, s)
      case 0x06 => new IA64(encode, s)
      case 0x07 => new ARM(encode, s)
      case 0x08 => new ARMThumb(encode, s)
      case 0x09 => new SPARC(encode, s)
      case 0x0a => new ARM64(encode, s)
      case 0x0b => if (encode) new RISCVEncoder(s) else new RISCVDecoder(s)
      case other => fail(s"xz: unsupported BCJ filter id $other")
    }
    filter.code(b, off, len)
  }

  // ------------------------------------------------------------------
  // stream-boundary walk (metadata only) + Spark face
  // ------------------------------------------------------------------

  /** (offset, length) of each concatenated stream, discovered by
    * walking BACKWARD from footers: footer -> backward size -> index
    * start; the index's own records then give the block region, so no
    * payload bytes are touched. */
  def streamsOf(b: Array[Byte]): Seq[(Long, Long)] = {
    val out = List.newBuilder[(Long, Long)]
    var end = b.length
    while (end > 0) {
      // strip stream padding (zeros; a footer never ends in 0x00 — 'Z')
      while (end > 0 && b(end - 1) == 0) end -= 1
      if (end == 0) return out.result()
      if (end < 12 || b(end - 1) != 'Z' || b(end - 2) != 'Y') fail("xz: bad footer magic in walk")
      val backward = le32u(b, end - 8)
      val indexStart = end - 12 - (backward + 1) * 4
      if (indexStart < 0 || b(indexStart.toInt) != 0) fail("xz: index indicator missing")
      val start = indexStart - indexedBlocks(b, indexStart.toInt).sum - 12
      if (start < 0) fail("xz: stream start out of range")
      out += ((start, end - start))
      end = start.toInt
    }
    out.result().reverse // walked backward; return in file order
  }

  /** Stream boundaries via RANGED reads only — the driver-side plan
    * for huge files: each stream's footer and index sit at its END,
    * and the footer names the index size while the index names the
    * block bytes, so walking backward touches ~KB of metadata per
    * stream regardless of stream size. `read(off, n)` supplies file
    * bytes. */
  def streamsOfRanged(read: (Long, Int) => Array[Byte], len: Long): Seq[(Long, Long)] = {
    val out = List.newBuilder[(Long, Long)]
    var end = len
    while (end > 0) {
      var w = math.min(end, 256L << 10).toInt
      var ok = false
      while (!ok) {
        val bufStart = end - w
        val buf = read(bufStart, w)
        var e = w
        while (e > 0 && buf(e - 1) == 0) e -= 1
        if (e == 0) {
          if (bufStart == 0) return out.result().reverse
          // whole window is zeros: keep walking back (padding exceeding
          // a window only occurs in pathological files)
          end = bufStart
          w = math.min(end, 256L << 10).toInt
        } else {
          val fileEnd = bufStart + e
          if (e < 12) { if (w.toLong < end) { w = math.min(end, w.toLong * 4).toInt } else fail("xz: truncated footer") }
          else if (buf(e - 1) != 'Z' || buf(e - 2) != 'Y') fail("xz: bad footer magic in ranged walk")
          else {
            val backward = le32u(buf, e - 8)
            val indexStart = fileEnd - 12 - (backward + 1) * 4
            if (indexStart < bufStart) {
              if (w.toLong >= end) fail("xz: index larger than file prefix")
              w = math.min(end, w.toLong * 4).toInt
            } else {
              val rel = (indexStart - bufStart).toInt
              if (buf(rel) != 0) fail("xz: index indicator missing (ranged walk)")
              val start = indexStart - indexedBlocks(buf, rel).sum - 12
              if (start < 0) fail("xz: stream start out of range (ranged walk)")
              out += ((start, fileEnd - start))
              end = start
              ok = true
            }
          }
        }
      }
    }
    out.result().reverse
  }

  /** Lines of a (possibly multi-stream) `.jsonl.xz` on any Hadoop
    * filesystem: the driver plans stream boundaries from RANGED
    * metadata reads only (footers + indexes, ~KB per stream — no
    * payload bytes touched), then each task decodes exactly the
    * streams whose start lands in its range. Output:
    * (stream_idx, line). */
  def jsonlLines(spark: SparkSession, path: String, splitSize: Long = 64L << 20): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    val ranged: (Long, Int) => Array[Byte] = { (off, n) =>
      val in = fs.open(hp)
      try { val a = new Array[Byte](n); in.readFully(off, a); a } finally in.close()
    }
    val streams = streamsOfRanged(ranged, len).zipWithIndex
    val plan = (0L until len by splitSize).map(s => (s, math.min(s + splitSize, len))).flatMap {
      case (s, e) =>
        val own = streams.filter { case ((o, _), _) => o >= s && o < e }
        if (own.nonEmpty) Some(own.map { case ((o, l), i) => (i, o, l) }) else None
    }
    spark.sparkContext
      .parallelize(plan, math.max(1, plan.size))
      .flatMap { owned =>
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        try {
          owned.iterator.flatMap { case (idx, o, l) =>
            val buf = new Array[Byte](l.toInt)
            in.readFully(o, buf)
            val (payload, _) = decodeStream(buf, 0)
            new String(payload, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n", -1)
              .iterator
              .filter(_.nonEmpty)
              .map(line => (idx, line))
              .toSeq
          }.toSeq
        } finally in.close()
      }
      .toDF("stream_idx", "line")
  }

  // ------------------------------------------------------------------
  // raw writer (cycles): LZMA2 uncompressed chunks in a real container
  // ------------------------------------------------------------------

  /** Valid single-stream xz holding `data` in LZMA2 UNCOMPRESSED
    * chunks, with real CRC32 block check, index and footer — the
    * format's storage escape hatch; drives in-task cycles. */
  def encodeRawXz(data: Array[Byte]): Array[Byte] = encodeRawXz(data, 0L)

  /** Like [[encodeRawXz]] with an optional BCJ pre-filter (`bcjId` in
    * 0x04..0x0A, 0 = none): the payload is branch-converted exactly as
    * liblzma's filter would and the block header declares the
    * two-entry chain, so decoding exercises the real filtered-stream
    * path. The block check stays over the ORIGINAL bytes (the xz check
    * covers fully-unfiltered output). */
  def encodeRawXz(data0: Array[Byte], bcjId: Long): Array[Byte] = {
    val data =
      if (bcjId == 0L) data0
      else { val c = data0.clone(); Bcj(bcjId, c, 0, c.length, 0L, encode = true); c }
    val out = new java.io.ByteArrayOutputStream()
    // stream header (check = CRC32)
    out.write(Magic)
    val flags = Array[Byte](0, 1)
    out.write(flags)
    writeLe32(out, crc32(flags, 0, 2))
    // block header: size 12 (3 units) — 1-filter chain [LZMA2 id 0x21,
    // propsLen 1, props 0x16 (8 MiB dict)] or 2-filter chain [BCJ id,
    // propsLen 0, then LZMA2]; zero padding, CRC32 of the first 8
    // bytes in bytes 8..11. (An 8-byte header has no room for even the
    // single filter entry: its props byte would sit where the CRC
    // goes — liblzma rejects that as corrupt.)
    val header =
      if (bcjId == 0L) Array[Byte](2, 0, 0x21, 1, 0x16, 0, 0, 0, 0, 0, 0, 0) // size=(2+1)*4=12
      else Array[Byte](2, 1, bcjId.toByte, 0, 0x21, 1, 0x16, 0, 0, 0, 0, 0)
    setLe32(header, 8, crc32(header, 0, 8).toInt)
    out.write(header)
    // LZMA2 uncompressed chunks (first resets the dict), then the
    // end-of-chunks marker
    val body = new java.io.ByteArrayOutputStream()
    var off = 0
    var first = true
    while (off < data.length) {
      val n = math.min(1 << 16, data.length - off)
      body.write(if (first) 0x01 else 0x02)
      body.write((n - 1) >> 8); body.write((n - 1) & 0xff)
      body.write(data, off, n)
      off += n
      first = false
    }
    body.write(0)
    val bodyBytes = body.toByteArray
    out.write(bodyBytes)
    // pad block to 4 (header 12 + body)
    var total = 12 + bodyBytes.length
    while ((total & 3) != 0) { out.write(0); total += 1 }
    writeLe32(out, crc32(data0, 0, data0.length)) // block check: the UNFILTERED bytes
    val unpadded = 12L + bodyBytes.length + 4 // header + data (unpadded) + check
    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0)
    def iVarint(v0: Long): Unit = { var v = v0; while (v >= 0x80) { idx.write(((v & 0x7f) | 0x80).toInt); v >>= 7 }; idx.write(v.toInt) }
    iVarint(1)
    iVarint(unpadded)
    iVarint(data.length.toLong)
    while ((idx.size() & 3) != 0) idx.write(0)
    val idxBytes = idx.toByteArray
    out.write(idxBytes)
    writeLe32(out, crc32(idxBytes, 0, idxBytes.length))
    // footer
    val tail = new Array[Byte](6)
    val backward = (idxBytes.length + 4) / 4 - 1
    tail(0) = (backward & 0xff).toByte; tail(1) = ((backward >> 8) & 0xff).toByte
    tail(2) = ((backward >> 16) & 0xff).toByte; tail(3) = ((backward >> 24) & 0xff).toByte
    tail(4) = 0; tail(5) = 1
    writeLe32(out, crc32(tail, 0, 6))
    out.write(tail, 0, 6)
    out.write(FooterMagic)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // q_xz — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the shard's jsonl splits into
    * four real xz streams ([[encodeRawXz]] — genuine container with
    * CRC32 blocks, index, footer), concatenates with stream padding,
    * then cycles: whole-file [[decode]] byte-equal, the metadata-only
    * [[streamsOf]] walk finds exactly the four boundaries, and a
    * split-ownership sweep at three split sizes reproduces the stream
    * set exactly once. Counts/char sums have closed forms the oracle
    * states; shard sums add. Real-ENCODER conformance is XzSpec's
    * liblzma fixture gate. */
  def xzQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 83}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(utf8)
      val groups = if (lines.isEmpty) Seq(Seq.empty) else lines.grouped(math.max(1, (lines.size + 3) / 4)).toSeq
      // filtered-stream lane (r15 verdict #5): the four streams cycle
      // through BCJ chains — plain, x86, ARM, ARM64 — so every decode
      // exercises the branch-filter undo path, not just plain LZMA2
      val bcjLane = Array(0L, 0x04L, 0x07L, 0x0aL, 0x0bL)
      val file = {
        val o = new java.io.ByteArrayOutputStream()
        groups.zipWithIndex.foreach { case (g, i) =>
          o.write(encodeRawXz(g.mkString("", "\n", "\n").getBytes(utf8), bcjLane(i % 5)))
          if (i % 2 == 1) o.write(new Array[Byte](4))
        }
        o.toByteArray
      }
      require(java.util.Arrays.equals(Xz.decode(file), payload), "xz: whole-file decode drift")
      val streams = streamsOf(file)
      require(streams.length == groups.length, "xz: stream walk count drift")
      for (split <- Seq(file.length.toLong + 5, math.max(64L, file.length.toLong / 3), 111L)) {
        val got = (0L until file.length.toLong by split).flatMap { st =>
          streams.filter { case (o2, _) => o2 >= st && o2 < math.min(st + split, file.length.toLong) }
        }
        require(got == streams, s"xz: split $split ownership not exactly-once")
      }
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
