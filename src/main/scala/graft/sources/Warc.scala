package graft.sources

import java.io.InputStream
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{crc32, le32u, writeLe32}

/** WARC (ISO 28500) crawl-container ingestion — the reader real web
  * corpora ship in, feeding the curation chain (UrlCanon → HtmlExtract →
  * Gopher → lang-id/dedup) from actual crawl files instead of a
  * pre-extracted parquet table. Beyond-reference surface (the reference
  * indexes filesystems, not crawls); format per ISO 28500 / the public
  * WARC 1.1 specification.
  *
  * Scale design — the 100 TB shape:
  *
  *  - A `.warc.gz` is a plain concatenation of gzip MEMBERS, one record
  *    per member (the convention Common Crawl et al. write precisely so
  *    containers stay splittable). Member boundaries are the split
  *    points: the driver plans byte ranges from file METADATA only
  *    (never reads data), and each task scans just its own range for
  *    member starts, owning exactly the members that START inside it.
  *    A member straddling the range end is finished by its owning task
  *    (bounded overrun — one record), and a task whose whole range sits
  *    inside a giant member owns nothing. Every record is read exactly
  *    once with no coordination; WarcSpec proves the union over a sweep
  *    of split sizes — through the real `records()` Spark face — equals
  *    the whole-file parse. A member holding several concatenated
  *    records (legal WARC, just not the one-record-per-member
  *    convention) emits every record, not only the first.
  *  - Candidate member starts (`1f 8b 08`) are validated by inflating a
  *    16-byte probe and requiring the `WARC/` version prefix, so magic
  *    bytes inside compressed payloads can never fork a bogus record
  *    (WarcSpec plants the magic inside a payload and proves it).
  *  - Uncompressed `.warc` files split the same way with a plausibility-
  *    checked `WARC/` scan (version line + mandatory headers must
  *    parse, Content-Length framing honoured). Two HONEST LIMITS of
  *    that scan, inherent to a format with no sync marker: (a) a
  *    byte-exact well-formed WARC record embedded inside another
  *    record's block (e.g. a crawled `.warc` resource) is
  *    indistinguishable from a real record to a task whose range starts
  *    inside the outer block, and can be double-counted; (b) a record
  *    whose header section exceeds [[Warc.MaxHeaderBytes]] (1 MiB —
  *    far past anything crawlers emit) is skipped by split scans.
  *    Gzipped containers — what crawls actually ship — have neither
  *    limit: member boundaries are unambiguous.
  *  - Tasks stream through Hadoop FileSystem using the SESSION's
  *    hadoopConfiguration (broadcast to executors, so fs.s3a.* etc.
  *    reach tasks); memory per task is the compressed range slice plus
  *    one decoded member at a time — records iterate lazily, and the
  *    stream closes at exhaustion (task-completion listener backstops
  *    failure paths).
  */
object Warc {

  /** One parsed WARC record. `block` is the raw record block (for
    * `application/http` response records, the full HTTP message). */
  final case class Record(
      warcType: String,
      targetUri: String,
      date: String,
      recordId: String,
      contentType: String,
      contentLength: Long,
      headers: Map[String, String],
      block: Array[Byte])

  /** Parsed HTTP message from a response/request record block. */
  final case class Http(status: Int, headers: Map[String, String], body: Array[Byte])

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  // ------------------------------------------------------------------
  // record grammar (uncompressed bytes)
  // ------------------------------------------------------------------

  /** Parse one record at `off`. Returns the record and the offset just
    * past its trailing CRLF CRLF separator (tolerated absent at EOF).
    * None when `off` does not sit on a well-formed record — the
    * validation face the uncompressed-split scan relies on. */
  def parseRecord(bytes: Array[Byte], off: Int, lenLimit: Int = Int.MaxValue): Option[(Record, Int)] = {
    val limit = math.min(bytes.length.toLong, off.toLong + lenLimit).toInt
    def lineEnd(p: Int): Int = { // index of CR in CRLF, or -1
      var i = p
      while (i + 1 < limit && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 < limit) i else -1
    }
    if (off < 0 || off >= limit) return None
    val vEnd = lineEnd(off)
    if (vEnd < 0) return None
    val version = new String(bytes, off, vEnd - off, Ascii)
    if (!version.startsWith("WARC/0.") && !version.startsWith("WARC/1.")) return None
    var p = vEnd + 2
    val hdrs = Map.newBuilder[String, String]
    var lastKey: String = null
    var lastVal: String = null
    var done = false
    while (!done) {
      val e = lineEnd(p)
      if (e < 0) return None
      if (e == p) { p += 2; done = true } // empty line: end of headers
      else {
        val line = new String(bytes, p, e - p, Ascii)
        if ((line.head == ' ' || line.head == '\t') && lastKey != null) {
          lastVal = lastVal + " " + line.trim // LWS continuation (ISO 28500 §4)
        } else {
          if (lastKey != null) hdrs += lastKey -> lastVal
          val colon = line.indexOf(':')
          if (colon <= 0) return None
          lastKey = line.substring(0, colon).trim
          lastVal = line.substring(colon + 1).trim
        }
        p = e + 2
      }
    }
    if (lastKey != null) hdrs += lastKey -> lastVal
    val headers = hdrs.result()
    def h(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val clen = h("Content-Length").flatMap(_.toLongOption).getOrElse(return None)
    if (clen < 0 || p.toLong + clen > limit) return None
    val block = java.util.Arrays.copyOfRange(bytes, p, p + clen.toInt)
    var next = p + clen.toInt
    // trailing CRLFCRLF record separator; tolerate truncation at EOF
    var seps = 0
    while (seps < 2 && next + 1 < limit && bytes(next) == '\r' && bytes(next + 1) == '\n') {
      next += 2; seps += 1
    }
    Some(
      Record(
        warcType = h("WARC-Type").getOrElse(""),
        targetUri = h("WARC-Target-URI").map(stripAngles).getOrElse(""),
        date = h("WARC-Date").getOrElse(""),
        recordId = h("WARC-Record-ID").map(stripAngles).getOrElse(""),
        contentType = h("Content-Type").getOrElse(""),
        contentLength = clen,
        headers = headers,
        block = block
      ) -> next
    )
  }

  private def stripAngles(s: String): String =
    if (s.length >= 2 && s.head == '<' && s.last == '>') s.substring(1, s.length - 1) else s

  /** All records of an uncompressed WARC image, sequentially. */
  def parseAll(bytes: Array[Byte]): Seq[Record] = {
    val out = Vector.newBuilder[Record]
    var p = 0
    while (p < bytes.length) {
      parseRecord(bytes, p) match {
        case Some((r, next)) => out += r; p = next
        case None => p = bytes.length // trailing junk: stop
      }
    }
    out.result()
  }

  /** HTTP message split: status line, headers, body after CRLFCRLF. */
  def parseHttp(block: Array[Byte]): Option[Http] = {
    if (block.length < 12 || !new String(block, 0, 5, Ascii).startsWith("HTTP/")) return None
    var sep = -1
    var i = 0
    while (sep < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' && block(i + 2) == '\r' && block(i + 3) == '\n') sep = i
      i += 1
    }
    if (sep < 0) return None
    val head = new String(block, 0, sep, Ascii).split("\r\n")
    val status = head.head.split(" ").lift(1).flatMap(_.toIntOption).getOrElse(return None)
    val headers = head.tail.flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None else Some(line.substring(0, c).trim -> line.substring(c + 1).trim)
    }.toMap
    Some(Http(status, headers, java.util.Arrays.copyOfRange(block, sep + 4, block.length)))
  }

  // ------------------------------------------------------------------
  // writers (round-trip cycles, specs, fixtures)
  // ------------------------------------------------------------------

  /** Serialize one record (uncompressed), trailing CRLFCRLF included. */
  def writeRecord(
      warcType: String,
      targetUri: String,
      date: String,
      recordId: String,
      contentType: String,
      block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= "WARC/1.0\r\n"
    sb ++= s"WARC-Type: $warcType\r\n"
    if (targetUri.nonEmpty) sb ++= s"WARC-Target-URI: $targetUri\r\n"
    sb ++= s"WARC-Date: $date\r\n"
    sb ++= s"WARC-Record-ID: <$recordId>\r\n"
    if (contentType.nonEmpty) sb ++= s"Content-Type: $contentType\r\n"
    sb ++= s"Content-Length: ${block.length}\r\n\r\n"
    val head = sb.result().getBytes(Ascii)
    val out = new Array[Byte](head.length + block.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** One gzip member (deterministic: no name/mtime/OS byte drift). */
  def gzipMember(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)) // hdr: deflate, no flags, mtime 0, XFL 0, OS 0
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    writeLe32(out, crc32(payload, 0, payload.length)); writeLe32(out, payload.length)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // gzip member split machinery
  // ------------------------------------------------------------------

  /** Growable window over a stream: holds the task's slice and extends
    * past the range end only while finishing a straddling member. */
  private final class Window(in: InputStream, initial: Array[Byte], initialLen: Int) {
    var buf: Array[Byte] = initial
    var len: Int = initialLen
    private var eof = in == null
    def more(): Boolean = {
      if (eof) return false
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + (1 << 16)))
      val n = in.read(buf, len, buf.length - len)
      if (n <= 0) { eof = true; false }
      else { len += n; true }
    }
    def ensure(n: Int): Boolean = { while (len < n && more()) {}; len >= n }
  }

  /** Gzip header length at `off`, or -1 when not a valid header. */
  private def gzipHeaderLen(w: Window, off: Int): Int = {
    if (!w.ensure(off + 10)) return -1
    val b = w.buf
    if ((b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b || b(off + 2) != 8) return -1
    val flg = b(off + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1 // reserved bits must be zero
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (!w.ensure(p + 2)) return -1
      p += 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
    }
    def skipZeroTerm(): Boolean = {
      while (w.ensure(p + 1) && w.buf(p) != 0) p += 1
      if (!w.ensure(p + 1)) false else { p += 1; true }
    }
    if ((flg & 8) != 0 && !skipZeroTerm()) return -1 // FNAME
    if ((flg & 16) != 0 && !skipZeroTerm()) return -1 // FCOMMENT
    if ((flg & 2) != 0) p += 2 // FHCRC
    if (!w.ensure(p)) return -1
    p - off
  }

  /** Inflate the member at `off` fully; (payload, offset past trailer).
    * CRC32 + ISIZE verified — corrupt members are a None, never junk. */
  private def inflateMember(w: Window, off: Int): Option[(Array[Byte], Int)] = {
    val hl = gzipHeaderLen(w, off)
    if (hl < 0) return None
    var p = off + hl // next unfed byte
    val inf = new Inflater(true)
    val out = new java.io.ByteArrayOutputStream(1 << 14)
    val tmp = new Array[Byte](1 << 14)
    try {
      while (!inf.finished()) {
        if (inf.needsInput()) {
          if (p >= w.len && !w.more()) return None // truncated member
          val n = math.min(w.len - p, 1 << 16)
          inf.setInput(w.buf, p, n)
          p += n
        }
        val n = inf.inflate(tmp)
        if (n > 0) out.write(tmp, 0, n)
        else if (inf.needsDictionary()) return None
      }
      val consumedEnd = p - inf.getRemaining
      if (!w.ensure(consumedEnd + 8)) return None
      val payload = out.toByteArray
      if (le32u(w.buf, consumedEnd) != crc32(payload, 0, payload.length) ||
        le32u(w.buf, consumedEnd + 4) != (payload.length.toLong & 0xffffffffL))
        None
      else Some(payload -> (consumedEnd + 8))
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Cheap candidate validation: inflate a 16-byte probe and require
    * the WARC version prefix, so `1f 8b 08` inside compressed payload
    * bytes can never fork a bogus record stream. */
  private def probeWarcMember(w: Window, off: Int): Boolean = {
    val hl = gzipHeaderLen(w, off)
    if (hl < 0) return false
    var p = off + hl
    val inf = new Inflater(true)
    val tmp = new Array[Byte](16)
    var got = 0
    try {
      while (got < 5) {
        if (inf.needsInput()) {
          if (p >= w.len && !w.more()) return false
          val n = math.min(w.len - p, 1 << 12)
          inf.setInput(w.buf, p, n)
          p += n
        }
        val n = inf.inflate(tmp, got, tmp.length - got)
        if (n == 0 && (inf.finished() || inf.needsDictionary())) return false
        got += n
      }
      tmp(0) == 'W' && tmp(1) == 'A' && tmp(2) == 'R' && tmp(3) == 'C' && tmp(4) == '/'
    } catch {
      case _: java.util.zip.DataFormatException => false
    } finally inf.end()
  }

  /** All members STARTING in [from, until) of an in-memory image —
    * (memberStart, payload). The array face of the range scan; the
    * file face streams the same loop. */
  def membersInRange(bytes: Array[Byte], from: Int, until: Int): Seq[(Int, Array[Byte])] = {
    val w = new Window(null, bytes, bytes.length)
    val out = Vector.newBuilder[(Int, Array[Byte])]
    var p = math.max(0, from)
    while (p < math.min(until, bytes.length)) {
      if (probeWarcMember(w, p)) {
        inflateMember(w, p) match {
          case Some((payload, next)) => out += p -> payload; p = next
          case None => p += 1
        }
      } else p += 1
    }
    out.result()
  }

  private def fillSlice(in: InputStream, rangeLen: Int): Window = {
    val slice = new Array[Byte](math.max(rangeLen, 16))
    var read = 0
    var n = 0
    while (read < rangeLen && n >= 0) {
      n = in.read(slice, read, rangeLen - read)
      if (n > 0) read += n
    }
    new Window(in, slice, read)
  }

  /** Records whose member starts in [start, end) of a `.warc.gz` file,
    * LAZILY: reads [start, end) once up front (the compressed slice),
    * extends past `end` only to finish a straddling member, and decodes
    * one member at a time as the iterator is pulled. A member holding
    * several concatenated records emits all of them. */
  private def gzRangeRecords(in: InputStream, rangeLen: Int): Iterator[(Long, Long, Record)] =
    new Iterator[(Long, Long, Record)] {
      private val w = fillSlice(in, rangeLen)
      private var p = 0
      private val pending = scala.collection.mutable.Queue.empty[(Long, Long, Record)]
      private def advance(): Unit =
        while (pending.isEmpty && p < math.min(rangeLen, w.len)) {
          if (probeWarcMember(w, p)) {
            inflateMember(w, p) match {
              case Some((payload, next)) =>
                parseAll(payload).foreach(r => pending.enqueue((p.toLong, (next - p).toLong, r)))
                p = next
              case None => p += 1
            }
          } else p += 1
        }
      def hasNext: Boolean = { advance(); pending.nonEmpty }
      def next(): (Long, Long, Record) = { advance(); pending.dequeue() }
    }

  /** Uncompressed `.warc` range scan, lazily: a record is owned by the
    * task whose range contains its version line; candidates are
    * validated by a full header parse (Content-Length framing), so
    * stray `WARC/` bytes inside payloads cannot fork records — with
    * the two documented limits (embedded byte-exact records inside a
    * straddling block; headers past [[MaxHeaderBytes]]). */
  private def plainRangeRecords(in: InputStream, rangeLen: Int): Iterator[(Long, Long, Record)] =
    new Iterator[(Long, Long, Record)] {
      private val w = fillSlice(in, rangeLen)
      private var p = 0
      private var pending: (Long, Long, Record) = null
      private def advance(): Unit =
        while (pending == null && p < math.min(rangeLen, w.len)) {
          if (w.buf(p) == 'W' && w.ensure(p + 8) &&
            w.buf(p + 1) == 'A' && w.buf(p + 2) == 'R' && w.buf(p + 3) == 'C' && w.buf(p + 4) == '/') {
            // header pre-parse (extends the window as needed, 1 MiB cap),
            // then pull Content-Length more bytes before the real parse
            parseHeaderOnlyLen(w, p) match {
              case Some(total) if w.ensure(p + total) || w.len >= p + total - 4 =>
                parseRecord(w.buf, p, w.len - p) match {
                  case Some((r, next)) if r.warcType.nonEmpty =>
                    pending = (p.toLong, (next - p).toLong, r); p = next
                  case _ => p += 1
                }
              case _ => p += 1
            }
          } else p += 1
        }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): (Long, Long, Record) = {
        advance()
        val r = pending; pending = null; r
      }
    }

  /** Header-section cap for the uncompressed split scan's pre-parse —
    * records with larger header sections are skipped by split scans
    * (documented limit; `parseAll` from offset 0 has no such cap). */
  val MaxHeaderBytes: Int = 1 << 20

  /** Header-only pre-parse: total record length (headers + block +
    * separator), extending the window as needed up to
    * [[MaxHeaderBytes]] of header section. */
  private def parseHeaderOnlyLen(w: Window, off: Int): Option[Int] = {
    var p = off
    var clen = -1L
    var end = -1
    while (end < 0) {
      if (p - off >= MaxHeaderBytes) return None
      var e = p
      var found = false
      while (!found) {
        if (e - off >= MaxHeaderBytes || !w.ensure(e + 2)) return None
        if (w.buf(e) == '\r' && w.buf(e + 1) == '\n') found = true else e += 1
      }
      if (e == p) end = e + 2
      else {
        val line = new String(w.buf, p, e - p, Ascii)
        if (line.toLowerCase(java.util.Locale.ROOT).startsWith("content-length:"))
          clen = line.substring(15).trim.toLongOption.getOrElse(-1L)
        p = e + 2
      }
    }
    if (clen < 0 || clen > Int.MaxValue.toLong - MaxHeaderBytes - 8) None
    else Some(end - off + clen.toInt + 4)
  }

  // ------------------------------------------------------------------
  // Spark face
  // ------------------------------------------------------------------

  /** One row per WARC record under `pattern` (file/glob/dir of .warc /
    * .warc.gz, plus the .wet[.gz] / .wat[.gz] sidecar names — see
    * [[Wet]]). The driver plans (path, start, end) ranges from file
    * metadata only; each task scans its own byte range.
    *
    * `(offset, record_bytes)` is the record's random-access extent:
    * for gz containers the compressed member holding the record (a
    * multi-record member's records share it), for plain `.warc` the
    * record's serialized extent — exactly what a CDX index stores and
    * [[Cdx.fetch]] reads back without scanning. */
  def records(spark: SparkSession, pattern: String, splitSize: Long = 32L << 20): DataFrame = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(pattern)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(hPath)) match {
      case Some(gs) if gs.nonEmpty =>
        gs.toSeq.flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
        }
      case _ => Seq.empty
    }
    val ranges: Seq[(String, Long, Long)] = statuses
      .filter { st =>
        // Common Crawl names its sidecars *.warc.wet.gz / *.warc.wat.gz —
        // they are plain WARC containers and must not be silently skipped
        val n = st.getPath.getName
        n.endsWith(".warc") || n.endsWith(".warc.gz") ||
        n.endsWith(".wet") || n.endsWith(".wet.gz") ||
        n.endsWith(".wat") || n.endsWith(".wat.gz")
      }
      .flatMap { st =>
        val size = st.getLen
        val p = st.getPath.toString
        (0L until size by splitSize).map(s => (p, s, math.min(s + splitSize, size)))
      }
    // the session's hadoopConfiguration must reach executor tasks (fs.s3a
    // credentials/endpoints etc.) — a bare `new Configuration()` on the
    // task side would silently drop every spark.hadoop.* setting
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    spark
      .createDataset(ranges)
      .repartition(math.max(1, math.min(ranges.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (path, start, end) =>
        val hp = new org.apache.hadoop.fs.Path(path)
        val tfs = hp.getFileSystem(confBc.value.value)
        val in = tfs.open(hp)
        var closed = false
        def closeIn(): Unit = if (!closed) { closed = true; in.close() }
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeIn())
        in.seek(start)
        val base =
          if (path.endsWith(".gz")) gzRangeRecords(in, (end - start).toInt)
          else plainRangeRecords(in, (end - start).toInt)
        new Iterator[(String, Long, Long, String, String, String, String, String, Long, Option[Int], Option[String], Array[Byte])] {
          def hasNext: Boolean = {
            val h = base.hasNext
            if (!h) closeIn() // eager close at exhaustion; listener backstops failures
            h
          }
          def next(): (String, Long, Long, String, String, String, String, String, Long, Option[Int], Option[String], Array[Byte]) = {
            val (relOff, extent, r) = base.next()
            val http = if (r.contentType.startsWith("application/http")) parseHttp(r.block) else None
            (
              path,
              start + relOff,
              extent,
              r.warcType,
              r.targetUri,
              r.date,
              r.recordId,
              r.contentType,
              r.contentLength,
              http.map(_.status),
              http.flatMap(h => h.headers.collectFirst { case (k, v) if k.equalsIgnoreCase("content-type") => v }),
              http.map(h => decodeContentEncoding(h.headers, h.body)).getOrElse(r.block)
            )
          }
        }
      }
      .toDF(
        "path", "offset", "record_bytes", "warc_type", "target_uri", "warc_date", "record_id",
        "content_type", "content_length", "http_status", "http_content_type", "body")
  }

  /** Decode an HTTP body per its Content-Encoding header — the step
    * between the WARC member and the text pipeline. Modern crawls are
    * dominated by `br` (RFC 7932, [[graft.text.Brotli]]) and `gzip`;
    * `deflate` appears both zlib-wrapped and raw in the wild, so both
    * are tried. Tolerant like the curation pipeline needs: a body
    * that fails to decode passes through raw rather than killing the
    * task (the downstream text gates discard binary garbage). */
  def decodeContentEncoding(headers: Map[String, String], body: Array[Byte]): Array[Byte] = {
    val enc = headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("content-encoding") => v.trim.toLowerCase(java.util.Locale.ROOT)
    }
    enc match {
      case Some("br") =>
        try graft.text.Brotli.decode(body)
        catch { case _: graft.text.Brotli.BrotliError => body }
      case Some("gzip") | Some("x-gzip") =>
        try {
          val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(body))
          try in.readAllBytes() finally in.close()
        } catch { case _: Exception => body }
      case Some("deflate") =>
        def inflate(raw: Boolean): Array[Byte] = {
          val inf = new Inflater(raw)
          inf.setInput(body)
          val out = new java.io.ByteArrayOutputStream(body.length * 3)
          val buf = new Array[Byte](8192)
          while (!inf.finished() && !inf.needsInput()) {
            val n = inf.inflate(buf)
            if (n == 0 && !inf.finished()) throw new java.util.zip.DataFormatException("stalled")
            out.write(buf, 0, n)
          }
          if (!inf.finished()) throw new java.util.zip.DataFormatException("truncated")
          out.toByteArray
        }
        try inflate(raw = false)
        catch {
          case _: Exception =>
            try inflate(raw = true) catch { case _: Exception => body }
        }
      case _ => body
    }
  }

  /** HTML documents of a crawl: 200-status html responses with the
    * canonical URL and extracted main text — the head of the curation
    * chain. */
  def htmlDocs(spark: SparkSession, pattern: String, splitSize: Long = 32L << 20): DataFrame = {
    import org.apache.spark.sql.functions._
    val mainTextUdf = udf((b: Array[Byte]) => graft.text.HtmlExtract.mainText(new String(b, Utf8)))
    val canonUdf = udf((u: String) => graft.text.UrlCanon.canonical(u))
    records(spark, pattern, splitSize)
      .where(col("warc_type") === "response" && col("http_status") === 200 &&
        col("http_content_type").startsWith("text/html"))
      .select(
        col("target_uri").as("url"),
        canonUdf(col("target_uri")).as("canonical_url"),
        col("warc_date"),
        mainTextUdf(col("body")).as("text")
      )
  }

  // ------------------------------------------------------------------
  // q_warc — oracle-checked in-task cycle (the q_e57 pattern)
  // ------------------------------------------------------------------

  /** Per event_type: one synthetic crawl container per (group, id%16
    * shard) — one gzip member per event: an HTTP 200 HTML response
    * whose article paragraph is deterministic from the id — is built
    * in-task, read back through the RANGE-SPLIT scan at three
    * arbitrary byte cuts (split independence exercised on every
    * shard), each page's boilerplate removed; the paragraph must
    * survive byte-exactly (a require) so the oracle can state the kept
    * text length in closed form. Shard sums re-aggregate per group —
    * the counts are additive, so the oracle is shard-blind. The
    * explicit repartition before the cycle keeps AQE from coalescing
    * the (small-bytes, CPU-heavy) shard rows into one task. */
  def warcQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val image = {
        val bos = new java.io.ByteArrayOutputStream(sorted.length * 256)
        sorted.foreach { id =>
          val para = (("w" + (id % 97) + " ") * 30).trim
          val html =
            s"""<html><head><title>d$id</title><style>.x{color:red}</style></head><body>
               |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
               |<p>$para</p>
               |<footer><a href="/t">Terms</a> <a href="/p">Privacy</a></footer>
               |</body></html>""".stripMargin
          val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + html
          val rec = writeRecord(
            "response", s"https://crawl.invalid/doc/$id", "2024-01-01T00:00:00Z",
            s"urn:uuid:$id", "application/http;msgtype=response", http.getBytes(Utf8))
          bos.write(gzipMember(rec))
        }
        bos.toByteArray
      }
      // three ranges with arbitrary cuts (mid-member almost surely):
      // exactly-once semantics must hold for ANY partition of the image
      val c1 = image.length / 3
      val c2 = 2 * image.length / 3
      val recs =
        (membersInRange(image, 0, c1) ++ membersInRange(image, c1, c2) ++ membersInRange(image, c2, image.length))
          .flatMap { case (_, payload) => parseAll(payload) }
      require(recs.length == sorted.length, s"warc split-read lost records: ${recs.length}/${sorted.length}")
      var kept = 0L
      var uriChars = 0L
      recs.foreach { r =>
        val http = parseHttp(r.block).getOrElse(sys.error("warc: http parse failed"))
        require(http.status == 200)
        val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
        val para = (("w" + (id % 97) + " ") * 30).trim
        val main = graft.text.HtmlExtract.mainText(new String(http.body, Utf8))
        require(main == para, s"warc->html extraction drifted for id $id")
        kept += main.length
        uriChars += r.targetUri.length
      }
      Seq(recs.length.toLong, kept, uriChars)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(
        sum($"a".getItem(0)).as("n_records"),
        sum($"a".getItem(1)).as("kept_chars"),
        sum($"a".getItem(2)).as("uri_chars"))
      .orderBy($"event_type")
  }
}
