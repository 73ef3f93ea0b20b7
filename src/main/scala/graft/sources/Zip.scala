package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{le16, le32u, le64, writeLe16, writeLe32}

/** ZIP split scan — ranged random access into HUGE archives (the
  * multimodal-shard shape: a 100 GB zip of images/captions), reading
  * the format the way its design intends: the END of the file holds
  * the End-Of-Central-Directory record (plus the ZIP64 locator/EOCD64
  * when any 32-bit field saturates), which names the CENTRAL
  * DIRECTORY extent; the central directory IS the index — one record
  * per entry with the local-header offset and both sizes.
  *
  * Scale shape: the DRIVER reads only the EOCD tail (bounded by the
  * 64 KiB max comment + fixed records) — entry metadata never lands
  * on the driver. One task parses the central-directory extent
  * (metadata-scale bytes) into an entries DataFrame; fetch tasks then
  * read exactly their entries' byte ranges (local header + compressed
  * payload) and inflate with the JDK. A 10 M-entry archive costs the
  * driver three small ranged reads and nothing else.
  *
  * Supports: stored (0) + deflate (8) methods, ZIP64 EOCD + per-entry
  * ZIP64 extra fields, data-descriptor entries (bit 3: the CENTRAL
  * record carries the real sizes, so extent fetch is unaffected),
  * archive comments. Encrypted entries and other methods refuse
  * loudly. Entry-name safety is [[Mzip.safeEntryName]]'s guard.
  *
  * Conformance: ZipSpec pins the reader against REAL python-zipfile
  * archives (stored/deflated, zip64-forced, comments, streamed
  * data-descriptor entries) and the JDK's ZipFile both directions.
  *
  * Untrusted-bytes contract: malformed input raises [[ZipError]]. */
object Zip {

  final class ZipError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new ZipError(msg)

  final case class Entry(
      name: String,
      method: Int,
      compressedSize: Long,
      uncompressedSize: Long,
      localHeaderOffset: Long,
      crc32: Long,
      flags: Int)

  private val EocdSig = 0x06054b50L
  private val Eocd64LocSig = 0x07064b50L
  private val Eocd64Sig = 0x06064b50L
  private val CenSig = 0x02014b50L
  private val LocSig = 0x04034b50L

  /** (centralDirOffset, centralDirSize, entryCount) from the archive
    * tail — the only bytes the DRIVER ever reads. `ranged` reads
    * [off, off+n) of a `len`-byte file. */
  def centralDirectoryExtent(ranged: (Long, Int) => Array[Byte], len: Long): (Long, Long, Long) = {
    // EOCD: fixed 22 bytes + comment up to 65535 — scan backward for
    // the signature in one tail read
    val tailLen = math.min(len, 22L + 65535L).toInt
    if (tailLen < 22) fail("zip: file shorter than an EOCD record")
    val tail = ranged(len - tailLen, tailLen)
    var e = tailLen - 22
    while (e >= 0 && !(le32u(tail, e) == EocdSig &&
        22 + le16(tail, e + 20) == tailLen - e)) e -= 1
    if (e < 0) fail("zip: no end-of-central-directory record")
    var count = le16(tail, e + 10).toLong
    var cdSize = le32u(tail, e + 12)
    var cdOff = le32u(tail, e + 16)
    // ZIP64: any saturated field -> the EOCD64 locator sits directly
    // before the EOCD and names the EOCD64 record. A writer may also
    // store a LEGITIMATE 0xFFFF count with no zip64 at all (CPython
    // emits a plain EOCD for exactly 65535 entries), so a missing
    // locator is an error only when a saturated field has no real
    // value without it.
    if (count == 0xffffL || cdSize == 0xffffffffL || cdOff == 0xffffffffL) {
      val locPos = len - tailLen + e - 20
      val loc = if (locPos >= 0) ranged(locPos, 20) else Array.emptyByteArray
      if (locPos >= 0 && le32u(loc, 0) == Eocd64LocSig) {
        val e64Pos = le64(loc, 8)
        if (e64Pos < 0 || e64Pos + 56 > len) fail("zip: zip64 EOCD position out of range")
        val e64 = ranged(e64Pos, 56)
        if (le32u(e64, 0) != Eocd64Sig) fail("zip: zip64 EOCD signature missing")
        count = le64(e64, 32)
        cdSize = le64(e64, 40)
        cdOff = le64(e64, 48)
      } else if (cdSize == 0xffffffffL || cdOff == 0xffffffffL)
        fail("zip: zip64 locator missing for saturated directory fields")
      // else: exactly 65535 entries in a plain EOCD — the values stand
    }
    if (cdOff < 0 || cdSize < 0 || cdOff + cdSize > len) fail("zip: central directory extent out of range")
    (cdOff, cdSize, count)
  }

  /** Parse central-directory bytes into entries (executor-side in the
    * Spark face; pure for tests). */
  def parseCentralDirectory(cd: Array[Byte], expected: Long): Seq[Entry] =
    try parseCentralDirectoryImpl(cd, expected)
    catch {
      case e: ZipError => throw e
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException =>
        fail("zip: malformed central directory (out-of-range field)")
    }

  private def parseCentralDirectoryImpl(cd: Array[Byte], expected: Long): Seq[Entry] = {
    val out = Seq.newBuilder[Entry]
    var p = 0
    var n = 0L
    while (n < expected) {
      if (p + 46 > cd.length || le32u(cd, p) != CenSig) fail("zip: bad central-directory record")
      val flags = le16(cd, p + 8)
      val method = le16(cd, p + 10)
      val crc = le32u(cd, p + 16)
      var csize = le32u(cd, p + 20)
      var usize = le32u(cd, p + 24)
      val nameLen = le16(cd, p + 28)
      val extraLen = le16(cd, p + 30)
      val commentLen = le16(cd, p + 32)
      var lho = le32u(cd, p + 42)
      if (p + 46 + nameLen + extraLen + commentLen > cd.length) fail("zip: central record overruns directory")
      val name = new String(cd, p + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      // ZIP64 extra field (0x0001): saturated fields, in spec order —
      // every read bounded by the extra field's own declared size (a
      // crafted sz=0 zip64 header must fail loudly, not read the next
      // record's bytes as sizes)
      var q = p + 46 + nameLen
      val qEnd = q + extraLen
      while (q + 4 <= qEnd) {
        val id = le16(cd, q)
        val sz = le16(cd, q + 2)
        if (q + 4 + sz > qEnd) fail("zip: extra field overruns its region")
        if (id == 0x0001) {
          var r = q + 4
          val rEnd = q + 4 + sz
          def take64(): Long = {
            if (r + 8 > rEnd) fail("zip: zip64 extra field too short for its saturated fields")
            val v = le64(cd, r); r += 8; v
          }
          if (usize == 0xffffffffL) usize = take64()
          if (csize == 0xffffffffL) csize = take64()
          if (lho == 0xffffffffL) lho = take64()
        }
        q += 4 + sz
      }
      if ((flags & 0x1) != 0) fail(s"zip: encrypted entry unsupported: $name")
      if (method != 0 && method != 8 && method != 12 && method != 14 && method != 93)
        fail(s"zip: compression method $method unsupported: $name")
      out += Entry(name, method, csize, usize, lho, crc, flags)
      p += 46 + nameLen + extraLen + commentLen
      n += 1
    }
    out.result()
  }

  /** Decode ONE entry given a ranged read of its extent: parses the
    * local header (name/extra lengths differ from the central record's
    * legally), then stores/inflates. The extent to read is
    * [localHeaderOffset, localHeaderOffset + 30 + nameMax + extraMax +
    * compressedSize] — [[fetchLen]] bounds it. */
  def decodeEntry(buf: Array[Byte], e: Entry): Array[Byte] =
    try {
      if (buf.length < 30 || le32u(buf, 0) != LocSig) fail(s"zip: bad local header: ${e.name}")
      val nameLen = le16(buf, 26)
      val extraLen = le16(buf, 28)
      val dataOff = 30 + nameLen + extraLen
      if (dataOff + e.compressedSize > buf.length) fail(s"zip: entry extent truncated: ${e.name}")
      val out: Array[Byte] = e.method match {
        case 0 =>
          if (e.compressedSize != e.uncompressedSize) fail(s"zip: stored entry size mismatch: ${e.name}")
          java.util.Arrays.copyOfRange(buf, dataOff, (dataOff + e.compressedSize).toInt)
        case 8 =>
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(buf, dataOff, e.compressedSize.toInt)
            if (e.uncompressedSize > Int.MaxValue - 8) fail(s"zip: entry too large: ${e.name}")
            val res = new Array[Byte](e.uncompressedSize.toInt)
            var done = 0
            while (done < res.length && !inf.finished()) {
              val k = inf.inflate(res, done, res.length - done)
              if (k == 0 && inf.needsInput()) fail(s"zip: deflate stream truncated: ${e.name}")
              done += k
            }
            if (done != res.length) fail(s"zip: inflated $done of ${res.length}: ${e.name}")
            res
          } finally inf.end()
        case 12 => // bzip2: the payload is one complete bzip2 stream
          if (e.uncompressedSize > Int.MaxValue - 8) fail(s"zip: entry too large: ${e.name}")
          val res =
            try Bzip2.decode(java.util.Arrays.copyOfRange(buf, dataOff, (dataOff + e.compressedSize).toInt), e.uncompressedSize)
            catch { case b: Bzip2.Bzip2Error => fail(s"zip: corrupt bzip2 data (${b.getMessage}): ${e.name}") }
          if (res.length.toLong != e.uncompressedSize)
            fail(s"zip: bzip2 entry decoded ${res.length} of ${e.uncompressedSize}: ${e.name}")
          res
        case 14 => // LZMA (APPNOTE 5.8): version u16, props-size u16, props, raw LZMA1
          if (e.uncompressedSize > Int.MaxValue - 8) fail(s"zip: entry too large: ${e.name}")
          if (e.compressedSize < 9) fail(s"zip: LZMA entry header truncated: ${e.name}")
          val psize = le16(buf, dataOff + 2)
          if (psize < 5 || dataOff + 4 + psize > dataOff + e.compressedSize)
            fail(s"zip: LZMA properties size $psize out of range: ${e.name}")
          val res =
            try Xz.decodeLzma1(buf(dataOff + 4) & 0xff, buf, dataOff + 4 + psize,
              (dataOff + e.compressedSize).toInt, e.uncompressedSize)
            catch { case x: Xz.XzError => fail(s"zip: corrupt LZMA data (${x.getMessage}): ${e.name}") }
          res
        case 93 => // zstd (APPNOTE 6.3.7+): the payload is one zstd frame
          if (e.uncompressedSize > Int.MaxValue - 8) fail(s"zip: entry too large: ${e.name}")
          val res =
            try Zstd.decode(java.util.Arrays.copyOfRange(buf, dataOff, (dataOff + e.compressedSize).toInt))
            catch { case z: Zstd.ZstdError => fail(s"zip: corrupt zstd data (${z.getMessage}): ${e.name}") }
          if (res.length.toLong != e.uncompressedSize)
            fail(s"zip: zstd entry decoded ${res.length} of ${e.uncompressedSize}: ${e.name}")
          res
        case m => fail(s"zip: method $m unsupported: ${e.name}")
      }
      val c = new java.util.zip.CRC32
      c.update(out)
      if ((c.getValue & 0xffffffffL) != e.crc32) fail(s"zip: CRC mismatch: ${e.name}")
      out
    } catch {
      case ze: ZipError => throw ze
      case _: java.util.zip.DataFormatException => fail(s"zip: corrupt deflate data: ${e.name}")
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException =>
        fail(s"zip: malformed entry bytes: ${e.name}")
    }

  /** Bytes to read from the local-header offset to cover the whole
    * entry (local name/extra can be longer than the central copy —
    * 64 KiB each bounds them). */
  def fetchLen(e: Entry, fileLen: Long): Int = {
    val v = math.min(fileLen - e.localHeaderOffset, 30L + 65535L + 65535L + e.compressedSize)
    if (v < 0 || v > Int.MaxValue - 8) fail(s"zip: entry extent too large: ${e.name}")
    v.toInt
  }

  /** Entry catalog of a zip on any Hadoop filesystem: the driver reads
    * ONLY the EOCD tail; one task parses the central directory. */
  def entries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    val ranged: (Long, Int) => Array[Byte] = { (off, n) =>
      val in = fs.open(hp)
      try { val a = new Array[Byte](n); in.readFully(off, a); a } finally in.close()
    }
    val (cdOff, cdSize, count) = centralDirectoryExtent(ranged, len)
    spark.sparkContext
      .parallelize(Seq((cdOff, cdSize, count)), 1)
      .flatMap { case (off, size, cnt) =>
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        if (size > Int.MaxValue - 8) { in.close(); fail("zip: central directory exceeds a single buffer (>2 GiB) — archive beyond supported catalog size") }
        val cd =
          try { val a = new Array[Byte](size.toInt); in.readFully(off, a); a } finally in.close()
        parseCentralDirectory(cd, cnt).iterator
          .map(e => (e.name, e.method, e.compressedSize, e.uncompressedSize, e.localHeaderOffset, e.crc32))
      }
      .toDF("name", "method", "compressed_size", "uncompressed_size", "local_header_offset", "crc32")
  }

  /** (name, bytes) of every entry, fetched by RANGED reads: the entry
    * catalog (itself executor-parsed, see [[entries]]) range-partitions
    * on the local-header offset so each task owns a contiguous run of
    * the archive and issues one ranged read per entry; local headers
    * decode and payloads inflate with the JDK, CRC-verified. Entry
    * metadata never lands on the driver and the whole archive is never
    * materialized anywhere. */
  def fetch(spark: SparkSession, path: String, partitions: Int = 0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    entries(spark, path)
      .repartitionByRange(parts, col("local_header_offset"))
      .as[(String, Int, Long, Long, Long, Long)]
      .mapPartitions { rows =>
        if (rows.isEmpty) Iterator.empty
        else {
          val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
          val in = fs1.open(new org.apache.hadoop.fs.Path(path))
          // STREAMED, not materialized: one entry's payload in memory
          // at a time (a partition may own thousands of entries whose
          // decoded bytes must not accumulate). The stream closes on
          // task COMPLETION — not iterator exhaustion — so early stops
          // (limit/take) and decode failures don't leak the handle.
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null)
            tc.addTaskCompletionListener[Unit] { _ =>
              try in.close()
              catch { case _: java.io.IOException => () }
            }
          rows.map { case (name, method, csize, usize, lho, crc) =>
            val e = Entry(name, method, csize, usize, lho, crc, 0)
            val buf = new Array[Byte](fetchLen(e, len))
            in.readFully(lho, buf)
            (name, decodeEntry(buf, e))
          }
        }
      }
      .toDF("name", "bytes")
  }

  // ------------------------------------------------------------------
  // method-lane archive builder (cycle/test-facing): a minimal
  // spec-layout writer so the reader's bzip2/zstd method paths run at
  // data scale. Production PACKING stays Mzip; real-archive
  // conformance for methods 12/14/93 is ZipSpec's fixture gate.
  // ------------------------------------------------------------------

  /** Assemble an archive whose entries use compression `method` 0
    * (stored), 12 (bzip2 via [[Bzip2.encode]]) or 93 (zstd via
    * [[Zstd.encode]]) — per APPNOTE's record layout. */
  private[graft] def buildMethodArchive(entries: Seq[(String, Int, Array[Byte])]): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = new java.io.ByteArrayOutputStream()
    val centrals = entries.map { case (name, method, data) =>
      val comp = method match {
        case 0 => data
        case 12 => Bzip2.encode(data)
        case 93 => Zstd.encode(data)
        case m => fail(s"zip: builder does not write method $m")
      }
      val c = new java.util.zip.CRC32
      c.update(data)
      val nb = name.getBytes(utf8)
      val lho = out.size().toLong
      writeLe32(out, LocSig); writeLe16(out, 63); writeLe16(out, 0); writeLe16(out, method); writeLe16(out, 0); writeLe16(out, 0)
      writeLe32(out, c.getValue); writeLe32(out, comp.length.toLong); writeLe32(out, data.length.toLong); writeLe16(out, nb.length); writeLe16(out, 0)
      out.write(nb); out.write(comp)
      (nb, method, c.getValue, comp.length.toLong, data.length.toLong, lho)
    }
    val cdOff = out.size().toLong
    centrals.foreach { case (nb, method, crc, csize, usize, lho) =>
      writeLe32(out, CenSig); writeLe16(out, 63); writeLe16(out, 63); writeLe16(out, 0); writeLe16(out, method); writeLe16(out, 0); writeLe16(out, 0)
      writeLe32(out, crc); writeLe32(out, csize); writeLe32(out, usize); writeLe16(out, nb.length); writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, 0)
      writeLe32(out, 0L); writeLe32(out, lho)
      out.write(nb)
    }
    val cdSize = out.size().toLong - cdOff
    writeLe32(out, EocdSig); writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, entries.size); writeLe16(out, entries.size)
    writeLe32(out, cdSize); writeLe32(out, cdOff); writeLe16(out, 0)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // q_zip — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id DIV 4096 bucket): the bucket's documents
    * become zip entries (deflate via the JDK's ZipOutputStream — a
    * REAL conforming producer which, on non-seekable output, writes
    * every entry in the streamed DATA-DESCRIPTOR shape, so that path
    * is exercised on every row), then the cycle runs OUR reader end to
    * end: EOCD tail walk → central-directory parse → per-entry ranged
    * extent decode, byte-equal per entry with CRC verified. Counts and
    * char sums have closed forms the oracle states. Python-zipfile
    * conformance (incl. forced ZIP64) is ZipSpec's gate. */
  def zipQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val texts = sorted.map(id => id -> s"""{"id":$id,"w":"w${id % 103}"}""").toMap
      val image = {
        val bos = new java.io.ByteArrayOutputStream()
        val zo = new java.util.zip.ZipOutputStream(bos)
        sorted.foreach { id =>
          val ze = new java.util.zip.ZipEntry(s"doc_$id.json")
          ze.setTime(0L)
          zo.putNextEntry(ze)
          zo.write(texts(id).getBytes(utf8))
          zo.closeEntry()
        }
        zo.close()
        bos.toByteArray
      }
      val ranged: (Long, Int) => Array[Byte] =
        (off, n) => java.util.Arrays.copyOfRange(image, off.toInt, off.toInt + n)
      val (cdOff, cdSize, count) = centralDirectoryExtent(ranged, image.length.toLong)
      require(count == sorted.length.toLong, s"zip: entry count drift $count/${sorted.length}")
      val es = parseCentralDirectory(
        java.util.Arrays.copyOfRange(image, cdOff.toInt, (cdOff + cdSize).toInt), count)
      var chars = 0L
      es.foreach { e =>
        val id = e.name.stripPrefix("doc_").stripSuffix(".json").toLong
        val buf = java.util.Arrays.copyOfRange(
          image, e.localHeaderOffset.toInt, e.localHeaderOffset.toInt + fetchLen(e, image.length.toLong))
        val got = new String(decodeEntry(buf, e), utf8)
        require(got == texts(id), s"zip: entry payload drift for $id")
        chars += got.length
      }
      // method lane (r17): the same reader path over entries compressed
      // with methods 12 (bzip2) and 93 (zstd) plus a stored control —
      // require-only (contributes nothing to the aggregates, so the
      // oracle stays the deflate cycle's closed forms)
      if (sorted.nonEmpty) {
        val laneData = sorted.take(64).map(texts).mkString("\n").getBytes(utf8)
        val lane = buildMethodArchive(
          Seq(("m0.json", 0, laneData), ("m12.json", 12, laneData), ("m93.json", 93, laneData)))
        val laneRanged: (Long, Int) => Array[Byte] =
          (off, n) => java.util.Arrays.copyOfRange(lane, off.toInt, off.toInt + n)
        val (lo, ls, lc) = centralDirectoryExtent(laneRanged, lane.length.toLong)
        val les = parseCentralDirectory(java.util.Arrays.copyOfRange(lane, lo.toInt, (lo + ls).toInt), lc)
        require(les.length == 3, "zip: method-lane entry count drift")
        les.foreach { e =>
          val buf = java.util.Arrays.copyOfRange(
            lane, e.localHeaderOffset.toInt, e.localHeaderOffset.toInt + fetchLen(e, lane.length.toLong))
          require(java.util.Arrays.equals(decodeEntry(buf, e), laneData),
            s"zip: method-${e.method} lane payload drift")
        }
      }
      Seq(sorted.length.toLong, chars)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_entries"), sum($"a".getItem(1)).as("entry_chars"))
      .orderBy($"event_type")
  }
}
