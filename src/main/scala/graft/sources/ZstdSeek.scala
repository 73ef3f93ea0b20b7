package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Bytes.{le32, writeLe32}

/** The public zstd SEEKABLE framing (facebook/zstd
  * `contrib/seekable_format/zstd_seekable_compression_format.md`): the
  * payload is a series of INDEPENDENT standard zstd frames, and a
  * skippable frame at the tail holds the seek table — per frame the
  * compressed size, decompressed size and an optional xxh64-low32
  * checksum, closed by a 9-byte footer (frame count, descriptor,
  * 0x8F92EAB1). Any ordinary zstd decoder reads the whole file (the
  * seek table skips); a seek-aware reader fetches one frame by byte
  * range.
  *
  * That independence is exactly what a distributed scan needs: the
  * DRIVER reads only the footer (a ranged tail read, metadata-scale),
  * plans frame ranges, and each TASK decompresses exactly the frames
  * whose first byte lands in its split — the WARC member-scan shape.
  * No task reads bytes outside its frames; no coordination; union over
  * any split partition equals the whole-file decode (ZstdSpec sweeps
  * split sizes through [[jsonlLines]]). At 100 TB this is the access
  * path for the `.jsonl.zst` corpora LLM pipelines ship: one footer
  * read per file, then embarrassingly parallel frame decode.
  */
object ZstdSeek {

  val SeekTableMagic = 0x184D2A5E
  val SeekableMagic = 0x8F92EAB1

  final case class FrameEntry(offset: Long, compressedSize: Int, decompressedSize: Int, checksum: Option[Int])

  private val Xxh64 = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash64()

  /** A seek-table entry's checksum: the low 32 bits of the frame
    * content's xxhash64 (seed 0). */
  private def checksum(b: Array[Byte]): Int = Xxh64.hash(b, 0, b.length, 0L).toInt

  /** One seekable container: each chunk becomes an independent frame.
    * Frame checksums are always written into the seek table. */
  def writeSeekable(chunks: Seq[Array[Byte]], opts: Zstd.EncOpts = Zstd.EncOpts()): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val entries = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    chunks.foreach { c =>
      val f = Zstd.encode(c, opts)
      entries += ((f.length, c.length, checksum(c)))
      out.write(f, 0, f.length)
    }
    writeLe32(out, SeekTableMagic)
    writeLe32(out, entries.length * 12 + 9)
    entries.foreach { case (cs, ds, ck) => writeLe32(out, cs); writeLe32(out, ds); writeLe32(out, ck) }
    writeLe32(out, entries.length)
    out.write(0x80) // checksum flag set
    writeLe32(out, SeekableMagic)
    out.toByteArray
  }

  /** Parse the seek table from the container TAIL. `tail` must hold at
    * least the final `seekTableSize(frameCount)` bytes; in distributed
    * use the driver issues one ranged read of ~64 KiB and retries
    * bigger if the table is longer (frame count in the footer says). */
  def readSeekTable(whole: Array[Byte]): Seq[FrameEntry] = {
    val n = whole.length
    if (n < 17 || le32(whole, n - 4) != SeekableMagic) throw new Zstd.ZstdError("no seekable footer")
    val desc = whole(n - 5) & 0xff
    val withChecksum = (desc & 0x80) != 0
    if ((desc & 0x7c) != 0) throw new Zstd.ZstdError("reserved seek-descriptor bits")
    val frames = le32(whole, n - 9)
    val entryBytes = if (withChecksum) 12 else 8
    if (frames < 0 || n - 9L - frames.toLong * entryBytes < 8L)
      throw new Zstd.ZstdError(s"seek table frame count out of range: $frames")
    val tableStart = n - 9 - frames * entryBytes
    if (tableStart < 8 || le32(whole, tableStart - 8) != SeekTableMagic ||
      le32(whole, tableStart - 4) != frames * entryBytes + 9)
      throw new Zstd.ZstdError("seek table framing inconsistent")
    var off = 0L
    (0 until frames).map { i =>
      val e = tableStart + i * entryBytes
      val cs = le32(whole, e)
      val ds = le32(whole, e + 4)
      val ck = if (withChecksum) Some(le32(whole, e + 8)) else None
      val fe = FrameEntry(off, cs, ds, ck)
      off += cs
      fe
    }
  }

  /** Frames whose FIRST byte lies in [start, end) — the split-ownership
    * rule; every frame belongs to exactly one split. */
  def framesInRange(table: Seq[FrameEntry], start: Long, end: Long): Seq[FrameEntry] =
    table.filter(e => e.offset >= start && e.offset < end)

  /** Decode one frame by its entry (byte-exact ranged access). */
  def readFrame(container: Array[Byte], e: FrameEntry): Array[Byte] = {
    val d = Zstd.decodeFrame(container, e.offset.toInt)
    if (d.bytes.length != e.decompressedSize) throw new Zstd.ZstdError("seek entry size mismatch")
    e.checksum.foreach { ck =>
      if (checksum(d.bytes) != ck)
        throw new Zstd.ZstdError("seek entry checksum mismatch")
    }
    d.bytes
  }

  // ------------------------------------------------------------------
  // Spark face
  // ------------------------------------------------------------------

  /** Lines of a `.jsonl.zst` (or any line-oriented) seekable container
    * on any Hadoop filesystem: the driver reads ONLY the seek table,
    * plans (frame, range) ownership per split, and each task issues
    * ranged reads for its own frames. Output: (frame_idx, line). */
  def jsonlLines(spark: SparkSession, path: String, splitSize: Long = 32L << 20): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    // driver: tail read for the seek table (grow until it fits)
    var tailLen = math.min(len, 64L << 10)
    var table: Seq[FrameEntry] = null
    while (table == null) {
      val tail = new Array[Byte](tailLen.toInt)
      val in = fs.open(hp)
      try { in.readFully(len - tailLen, tail) }
      finally in.close()
      try {
        // entry offsets are cumulative frame sizes from file offset 0,
        // so parsing the TAIL yields absolute offsets as long as the
        // whole table fits in the window (else ZstdError → grow)
        table = readSeekTable(tail)
      } catch {
        case _: Zstd.ZstdError if tailLen < len => tailLen = math.min(len, tailLen * 4)
      }
    }
    val ranges = (0L until len by splitSize).map(s => (s, math.min(s + splitSize, len)))
    val plan = ranges.zipWithIndex.flatMap { case ((s, e), i) =>
      val own = framesInRange(table, s, e)
      if (own.nonEmpty) Some((i, own.map(f => (f.offset, f.compressedSize, f.decompressedSize, f.checksum.getOrElse(0), f.checksum.isDefined)))) else None
    }
    val frameIdxBase = {
      val sorted = table.sortBy(_.offset)
      sorted.map(_.offset).zipWithIndex.toMap
    }
    val planWithIdx = plan.map { case (i, fs0) => (i, fs0.map(f => (frameIdxBase(f._1), f._1, f._2, f._3, f._4, f._5))) }
    spark.sparkContext
      .parallelize(planWithIdx, math.max(1, planWithIdx.size))
      .flatMap { case (_, frames) =>
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        try {
          frames.iterator.flatMap { case (idx, off, cs, ds, ck, hasCk) =>
            val buf = new Array[Byte](cs)
            in.readFully(off, buf)
            val dec = Zstd.decodeFrame(buf, 0).bytes
            // a foreign container without per-frame checksums whose
            // table lies about sizes must fail loudly, not pass silently
            if (dec.length != ds)
              throw new Zstd.ZstdError(s"frame at $off decoded ${dec.length} B, seek table says $ds")
            if (hasCk && checksum(dec) != ck)
              throw new Zstd.ZstdError("frame checksum mismatch")
            new String(dec, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n", -1)
              .iterator
              .filter(_.nonEmpty)
              .map(line => (idx, line))
              .toSeq
          }.toSeq
        } finally in.close()
      }
      .toDF("frame_idx", "line")
  }

  // ------------------------------------------------------------------
  // q_zst — oracle-checked in-task cycle (the q_cdx pattern)
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the shard's events serialize to
    * jsonl, chunk into multi-line frames, and cycle through the REAL
    * seekable container — encode (frame checksums on for even shards,
    * off for odd ones), seek-table
    * parse, split-ownership sweep at three split sizes (each must
    * reproduce the whole container exactly — the require), ranged
    * frame fetch, line parse. Counts and char sums have closed forms
    * over the ids, so the oracle states them directly; shard sums
    * re-aggregate per group (additive). */
  def zstQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 97}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val chunks = lines.grouped(32).map(_.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
      val shard = if (sorted.nonEmpty) (sorted.head % 16).toInt else 0
      val container = writeSeekable(chunks, Zstd.EncOpts(checksum = shard % 2 == 0))
      val table = readSeekTable(container)
      require(table.length == chunks.length, "zst: frame count drift")
      // plain zstd decode must see through the container (skippable tail)
      val whole = Zstd.decode(container)
      require(java.util.Arrays.equals(whole, payload), "zst: whole-container decode drift")
      // split-ownership sweep: three arbitrary split sizes
      for (split <- Seq(container.length.toLong + 7, math.max(64L, container.length.toLong / 3), 97L)) {
        val got = (0L until container.length.toLong by split).flatMap { st =>
          framesInRange(table, st, math.min(st + split, container.length.toLong))
        }
        require(got.map(_.offset) == table.map(_.offset), s"zst: split $split ownership not exactly-once")
      }
      // ranged fetch of every frame, checksum-verified
      val fetched = table.flatMap { e =>
        new String(readFrame(container, e), java.nio.charset.StandardCharsets.UTF_8).split("\n", -1).filter(_.nonEmpty)
      }
      require(fetched == lines, "zst: frame-fetch line drift")
      Seq(lines.length.toLong, lines.map(_.length.toLong).sum, container.length.toLong)
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
