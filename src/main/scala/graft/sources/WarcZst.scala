package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{le32, le32u, writeLe32}

/** `.warc.zst` — the IIPC/webrecorder convention newer crawls ship
  * (Common Crawl publishes it alongside `.warc.gz`): a sequence of
  * independent zstd FRAMES, each holding whole WARC records, with an
  * optional DICTIONARY carried in-band by a skippable frame (magic
  * 0x184D2A5D) at the head of the file; the dictionary bytes may
  * themselves be zstd-compressed. Readers without zstd skip the
  * skippable frame; dict-aware readers decode every content frame
  * with it.
  *
  * Scale shape = the WARC gz-member scan transplanted to zstd: frame
  * starts are byte-aligned 4-byte magics, so each task scans its own
  * byte range for candidates, PROBE-VALIDATES by decoding (a planted
  * magic that does not decode as a frame is dropped), and owns the
  * frames that start in-range — exactly-once over any partition. The
  * driver reads only the head (dictionary) — no index required.
  *
  * WarcZstSpec pins the reader against containers whose dictionary
  * is libzstd-TRAINED and whose frames are libzstd-compressed with
  * it, plus split sweeps and planted-magic cases through the real
  * Spark face.
  */
object WarcZst {

  private val DictSkippableMagic = 0x184D2A5D
  private val FrameMagic = 0xFD2FB528

  /** The in-band dictionary, if the file starts with the dictionary
    * skippable frame: returns the dictionary BYTES (decompressed when
    * the embedded blob is itself a zstd frame) and the offset where
    * content frames begin. */
  def dictionaryOf(head: Array[Byte]): (Option[Array[Byte]], Long) = {
    if (head.length >= 8 && le32(head, 0) == DictSkippableMagic) {
      val size = le32(head, 4)
      if (size < 0 || 8L + size > head.length)
        throw new Zstd.ZstdError("warc.zst: dictionary frame larger than the head read")
      val blob = java.util.Arrays.copyOfRange(head, 8, 8 + size)
      val dict =
        if (blob.length >= 4 && le32(blob, 0) == FrameMagic) Zstd.decode(blob)
        else blob
      (Some(dict), 8L + size)
    } else (None, 0L)
  }

  /** Frame start offsets in [from, to) of `b`: byte-aligned magic scan
    * with probe validation (decode must succeed) done by the caller. */
  private def frameCandidates(b: Array[Byte], from: Int, to: Int): Seq[Int] = {
    val out = List.newBuilder[Int]
    var i = from
    val lim = math.min(to, b.length - 3)
    while (i < lim) {
      if ((b(i) & 0xff) == 0x28 && (b(i + 1) & 0xff) == 0xb5 && (b(i + 2) & 0xff) == 0x2f &&
        (b(i + 3) & 0xff) == 0xfd) out += i
      i += 1
    }
    out.result()
  }

  /** Decode the frames whose start lies in [start, end), walking the
    * true frame chain from the first valid candidate (planted magics
    * inside frame payloads are skipped because the chain walk jumps
    * whole frames). Returns (absolute offset, payload). */
  def framesInRange(b: Array[Byte], start: Long, end: Long, dict: Array[Byte]): Seq[(Long, Array[Byte])] = {
    val out = List.newBuilder[(Long, Array[Byte])]
    var cands = frameCandidates(b, start.toInt, end.toInt)
    var pos = -1L
    // find the first candidate that truly decodes
    while (pos < 0 && cands.nonEmpty) {
      val c = cands.head
      cands = cands.tail
      try {
        val d = Zstd.decodeFrame(b, c, dict)
        out += ((c.toLong, d.bytes))
        pos = c.toLong + d.consumed
      } catch { case _: Zstd.ZstdError => () }
    }
    if (pos < 0) return out.result()
    // walk the chain: every subsequent frame begins exactly at the end
    // of the previous one (skippable frames skipped by decodeFrame)
    while (pos < end && pos < b.length) {
      if (pos + 8 <= b.length && (le32(b, pos.toInt) & 0xfffffff0) == 0x184D2A50) {
        // size field is UNSIGNED — a signed read of a crafted/corrupt
        // value walks pos backwards or loops forever on untrusted input
        val sz = le32u(b, pos.toInt + 4)
        val next = pos + 8L + sz
        if (next > b.length)
          throw new Zstd.ZstdError("warc.zst: skippable frame size out of range")
        pos = next
      } else if (pos + 4 <= b.length && le32(b, pos.toInt) == FrameMagic) {
        val d = Zstd.decodeFrame(b, pos.toInt, dict)
        out += ((pos, d.bytes))
        pos += d.consumed
      } else return out.result() // ran past the last frame in range
    }
    out.result()
  }

  /** WARC records of a `.warc.zst` on any Hadoop filesystem: the
    * driver reads the head for the in-band dictionary, tasks own the
    * frames starting in their byte range and parse whole records from
    * each frame's payload. Columns mirror [[Warc.records]]. */
  def records(spark: SparkSession, path: String, splitSize: Long = 32L << 20): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf.value)
    val len = fs.getFileStatus(hp).getLen
    val headLen = math.min(len, 8L << 20) // dictionaries are ≤ MBs by construction
    val head = {
      val in = fs.open(hp)
      try { val a = new Array[Byte](headLen.toInt); in.readFully(0, a); a } finally in.close()
    }
    val (dictOpt, contentStart) = dictionaryOf(head)
    val dict = dictOpt.orNull
    val dictBc = spark.sparkContext.broadcast(dict)
    val ranges = (contentStart until len by splitSize).map(s => (s, math.min(s + splitSize, len)))
    spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (s, e) =>
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        try {
          // frames owned near the range end may extend past it: grow a
          // bounded tail until the chain walk completes
          var tail = math.min(len, e + (16L << 20))
          var parsed: Seq[(Long, Array[Byte])] = null
          while (parsed == null) {
            val buf = new Array[Byte]((tail - s).toInt)
            in.readFully(s, buf)
            try parsed = framesInRange(buf, 0, e - s, dictBc.value).map { case (o, p) => (o + s, p) }
            catch {
              case _: Zstd.ZstdError if tail < len => tail = math.min(len, tail * 2)
            }
          }
          parsed.iterator.flatMap { case (frameOff, payload) =>
            Warc.parseAll(payload).map { r =>
              val http = if (r.contentType.startsWith("application/http")) Warc.parseHttp(r.block) else None
              (
                frameOff, r.warcType, r.targetUri, r.date, r.recordId, r.contentType, r.contentLength,
                http.map(_.status),
                http.flatMap(h => h.headers.collectFirst { case (k, v) if k.equalsIgnoreCase("content-type") => v }),
                http.map(h => Warc.decodeContentEncoding(h.headers, h.body)).getOrElse(r.block)
              )
            }
          }.toSeq
        } finally in.close()
      }
      .toDF(
        "frame_offset", "warc_type", "target_uri", "warc_date", "record_id",
        "content_type", "content_length", "http_status", "http_content_type", "body")
  }

  /** Write a `.warc.zst`: records grouped into frames (every frame
    * holds whole records), an optional raw-content dictionary carried
    * in the leading skippable frame, standard zstd frames compressed
    * WITH that dictionary. */
  def write(recordGroups: Seq[Array[Byte]], dict: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (dict != null) {
      writeLe32(out, DictSkippableMagic)
      writeLe32(out, dict.length)
      out.write(dict, 0, dict.length)
    }
    recordGroups.foreach { g =>
      val f = Zstd.encode(g, Zstd.EncOpts(), if (dict == null) Array.emptyByteArray else dict)
      out.write(f, 0, f.length)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // q_warc_zst — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the shard's events become WARC
    * response records, grouped into zstd frames behind an in-band
    * raw dictionary, then cycled through the REAL access path —
    * [[dictionaryOf]] + [[framesInRange]] at three split sizes (each
    * must reproduce the frame set exactly once) + record parse; the
    * require pins record count and paragraph bytes, so the oracle
    * states the closed forms directly. Trained-dict conformance is
    * WarcZstSpec's libzstd-fixture gate. */
  def warcZstQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      def body(id: Long): Array[Byte] =
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>doc $id ${"w" * (id % 31).toInt}</p></html>").getBytes(utf8)
      val recs = sorted.map { id =>
        Warc.writeRecord("response", s"https://c.invalid/$id", "2024-01-01T00:00:00Z",
          s"urn:uuid:$id", "application/http;msgtype=response", body(id))
      }
      val dict = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>doc ".getBytes(utf8)
      val groups = if (recs.isEmpty) Seq.empty else recs.grouped(math.max(1, recs.size / 7)).map(_.toArray.flatten.toArray).toSeq
      val container = write(groups.map(identity), dict)
      val (d, start) = dictionaryOf(container)
      require(d.isDefined, "warczst: dictionary lost")
      val whole = framesInRange(container, start, container.length.toLong, d.get)
      require(whole.length == groups.length, "warczst: frame count drift")
      for (split <- Seq(container.length.toLong + 7, math.max(32L, container.length.toLong / 3), 101L)) {
        val got = (start until container.length.toLong by split).flatMap { st =>
          framesInRange(container, st, math.min(st + split, container.length.toLong), d.get)
        }
        require(got.map(_._1) == whole.map(_._1), s"warczst: split $split ownership not exactly-once")
      }
      val parsed = whole.flatMap { case (_, payload) => Warc.parseAll(payload) }
      require(parsed.length == sorted.length, "warczst: record count drift")
      var chars = 0L
      parsed.foreach { r =>
        val http = Warc.parseHttp(r.block).getOrElse(sys.error("warczst: http parse failed"))
        chars += http.body.length
      }
      Seq(sorted.length.toLong, chars)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_records"), sum($"a".getItem(1)).as("body_chars"))
      .orderBy($"event_type")
  }
}
