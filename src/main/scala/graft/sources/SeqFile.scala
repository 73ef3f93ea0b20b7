package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.Bytes.{be32, writeBe32}

/** Hadoop SequenceFile source + sink, hand-rolled from the published
  * on-disk format (SEQ version 6, record layout): header = magic +
  * key/value Writable class names (vint-length Text strings) +
  * compression flags [+ codec class] + metadata + a 16-byte sync;
  * records = BE int recordLength / keyLength / key / value, with a
  * `-1` escape announcing an inline sync marker. The format predates
  * Avro but carries the same splittability design — any byte range
  * is a valid task via the sync markers.
  *
  * Scope: record layout both directions, uncompressed and
  * RECORD-compressed values (DefaultCodec = zlib-wrapped deflate,
  * GzipCodec = gzip members — both through JDK codecs). The legacy
  * BLOCK-compressed layout refuses loudly by name. Writables decoded
  * by class name: Text → string (vint + utf8), BytesWritable →
  * binary (BE length prefix), LongWritable / IntWritable → integers
  * (BE fixed width); anything else surfaces as the raw serialized
  * bytes (opaque but lossless).
  *
  * Split ownership mirrors SequenceFileRecordReader: a task owns the
  * records from the first sync at offset ≥ start up to the first
  * sync past end — each record belongs to exactly one range at any
  * split size.
  *
  * Validator: hadoop-client-api 3.4.2 ships on the Spark classpath;
  * SeqFileSpec runs SequenceFile.Writer/Reader LIVE in both
  * directions across codecs.
  *
  * Untrusted-bytes contract: malformed input raises
  * [[SeqFile.SeqFileError]]. */
object SeqFile {

  final class SeqFileError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new SeqFileError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: SeqFileError => throw e
      case e: Exception => fail(s"seqfile: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  val TextClass = "org.apache.hadoop.io.Text"
  val BytesClass = "org.apache.hadoop.io.BytesWritable"
  val LongClass = "org.apache.hadoop.io.LongWritable"
  val IntClass = "org.apache.hadoop.io.IntWritable"
  val DefaultCodecClass = "org.apache.hadoop.io.compress.DefaultCodec"
  val GzipCodecClass = "org.apache.hadoop.io.compress.GzipCodec"

  // --------------------------------------------------- hadoop primitives

  /** Hadoop's zero-compressed vint (WritableUtils.readVInt). */
  private def readVInt(b: Array[Byte], pos: Int, end: Int): (Long, Int) = {
    req(pos < end, "seqfile: truncated vint")
    val first = b(pos)
    if (first >= -112) (first.toLong, pos + 1)
    else {
      val negative = first < -120
      val len = if (negative) -(first + 120) else -(first + 112)
      req(len >= 1 && len <= 8 && pos + 1 + len <= end, s"seqfile: vint of $len bytes")
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (b(pos + 1 + i) & 0xffL); i += 1 }
      ((if (negative) ~v else v), pos + 1 + len)
    }
  }

  private def writeVInt(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    if (v >= -112 && v <= 127) out.write(v.toInt)
    else {
      var len = -112
      if (v < 0) { v = ~v; len = -120 }
      var tmp = v
      while (tmp != 0) { tmp >>>= 8; len -= 1 }
      out.write(len)
      val n = if (len < -120) -(len + 120) else -(len + 112)
      var i = n - 1
      while (i >= 0) { out.write(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
    }
  }

  private def readString(b: Array[Byte], pos: Int, end: Int): (String, Int) = {
    val (n, p) = readVInt(b, pos, end)
    req(n >= 0 && n <= end - p, s"seqfile: string of $n bytes with ${end - p} left")
    (new String(b, p, n.toInt, java.nio.charset.StandardCharsets.UTF_8), p + n.toInt)
  }

  // ------------------------------------------------------------- header

  final case class SfHeader(
      keyClass: String,
      valClass: String,
      recordCompressed: Boolean,
      codecClass: Option[String],
      meta: Map[String, String],
      sync: Array[Byte],
      headerEnd: Long)

  def parseHeader(b: Array[Byte]): SfHeader = guarded("header") {
    req(b.length >= 4 && b(0) == 'S' && b(1) == 'E' && b(2) == 'Q', "seqfile: bad magic")
    val version = b(3) & 0xff
    req(version == 6, s"seqfile: version $version is not supported (record layout is v6)")
    var p = 4
    val (kc, p1) = readString(b, p, b.length); p = p1
    val (vc, p2) = readString(b, p, b.length); p = p2
    req(p + 2 <= b.length, "seqfile: truncated flags")
    val compressed = b(p) == 1; p += 1
    val blockCompressed = b(p) == 1; p += 1
    req(!blockCompressed, "seqfile: the legacy BLOCK-compressed layout is not supported (record layout only)")
    val codec =
      if (!compressed) None
      else {
        val (c, p3) = readString(b, p, b.length); p = p3
        Some(c)
      }
    req(p + 4 <= b.length, "seqfile: truncated metadata count")
    val metaCount = be32(b, p); p += 4
    req(metaCount >= 0 && metaCount <= 4096, s"seqfile: $metaCount metadata entries")
    val meta = (0 until metaCount).map { _ =>
      val (k, pa) = readString(b, p, b.length); p = pa
      val (v, pb) = readString(b, p, b.length); p = pb
      k -> v
    }.toMap
    req(p + 16 <= b.length, "seqfile: truncated sync")
    val sync = java.util.Arrays.copyOfRange(b, p, p + 16)
    SfHeader(kc, vc, compressed, codec, meta, sync, (p + 16).toLong)
  }

  def readHeader(raf: java.io.RandomAccessFile): SfHeader = {
    val n = math.min(raf.length(), 64L << 10).toInt
    val b = new Array[Byte](n)
    raf.seek(0)
    raf.readFully(b)
    parseHeader(b)
  }

  // ------------------------------------------------------------ decode

  private def decompressValue(codec: Option[String], b: Array[Byte]): Array[Byte] = guarded("value") { codec match {
    case None => b
    case Some(DefaultCodecClass) =>
      val inf = new java.util.zip.Inflater(false) // zlib-wrapped
      try {
        inf.setInput(b)
        val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 2))
        val buf = new Array[Byte](64 << 10)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          req(n > 0 || !inf.needsInput(), "seqfile: truncated deflate value")
          out.write(buf, 0, n)
          req(out.size <= (1 << 28), "seqfile: value inflates past 256 MiB")
        }
        out.toByteArray
      } finally inf.end()
    case Some(GzipCodecClass) =>
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      try {
        val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 2))
        val buf = new Array[Byte](64 << 10)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); req(out.size <= (1 << 28), "seqfile: value inflates past 256 MiB"); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    case Some(c) => fail(s"seqfile: unsupported codec $c")
  } }

  private def compressValue(codec: Option[String], b: Array[Byte]): Array[Byte] = codec match {
    case None => b
    case Some(DefaultCodecClass) =>
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
      try {
        d.setInput(b); d.finish()
        val out = new java.io.ByteArrayOutputStream(math.max(64, b.length / 2))
        val buf = new Array[Byte](64 << 10)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    case Some(GzipCodecClass) =>
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    case Some(c) => fail(s"seqfile writer: unsupported codec $c")
  }

  /** Decode one serialized Writable by class name. */
  def decodeWritable(className: String, b: Array[Byte]): Any = guarded("writable") {
    className match {
      case TextClass =>
        val (s, p) = readString(b, 0, b.length)
        req(p == b.length, "seqfile: trailing bytes after Text")
        s
      case BytesClass =>
        req(b.length >= 4, "seqfile: BytesWritable shorter than its length")
        val n = be32(b, 0)
        req(n >= 0 && n == b.length - 4, s"seqfile: BytesWritable declares $n of ${b.length - 4}")
        java.util.Arrays.copyOfRange(b, 4, b.length)
      case LongClass =>
        req(b.length == 8, s"seqfile: LongWritable of ${b.length} bytes")
        var v = 0L
        var i = 0
        while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
        java.lang.Long.valueOf(v)
      case IntClass =>
        req(b.length == 4, s"seqfile: IntWritable of ${b.length} bytes")
        java.lang.Integer.valueOf(be32(b, 0))
      case _ => b // opaque but lossless
    }
  }

  private def encodeWritable(className: String, v: Any): Array[Byte] = className match {
    case TextClass =>
      val bytes = v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new java.io.ByteArrayOutputStream(bytes.length + 4)
      writeVInt(out, bytes.length.toLong)
      out.write(bytes, 0, bytes.length)
      out.toByteArray
    case BytesClass =>
      val bytes = v.asInstanceOf[Array[Byte]]
      val out = new Array[Byte](bytes.length + 4)
      out(0) = (bytes.length >> 24).toByte; out(1) = (bytes.length >> 16).toByte
      out(2) = (bytes.length >> 8).toByte; out(3) = bytes.length.toByte
      System.arraycopy(bytes, 0, out, 4, bytes.length)
      out
    case LongClass =>
      val x = v.asInstanceOf[java.lang.Number].longValue
      Array.tabulate(8)(i => ((x >>> (8 * (7 - i))) & 0xff).toByte)
    case IntClass =>
      val x = v.asInstanceOf[java.lang.Number].intValue
      Array.tabulate(4)(i => ((x >>> (8 * (3 - i))) & 0xff).toByte)
    case c => fail(s"seqfile writer: unsupported key/value class $c")
  }

  /** Minimal positional reader the range walkers run over — a file
    * for the scan path, plain bytes for in-memory cycles. */
  private[sources] sealed trait Seekable {
    def length: Long
    def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int
    final def readFullyAt(pos: Long, buf: Array[Byte]): Unit = {
      var o = 0
      while (o < buf.length) {
        val n = readAt(pos + o, buf, o, buf.length - o)
        req(n >= 0, s"seqfile: truncated read at ${pos + o}")
        o += n
      }
    }
  }
  private final class RafSeekable(raf: java.io.RandomAccessFile) extends Seekable {
    def length: Long = raf.length()
    def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      raf.seek(pos)
      raf.read(buf, off, len)
    }
  }
  private final class BytesSeekable(b: Array[Byte]) extends Seekable {
    def length: Long = b.length.toLong
    def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= b.length) -1
      else {
        val n = math.min(len.toLong, b.length - pos).toInt
        System.arraycopy(b, pos.toInt, buf, off, n)
        n
      }
    }
  }

  def recordsInRange(raf: java.io.RandomAccessFile, h: SfHeader,
      start: Long, end: Long): Iterator[(Array[Byte], Array[Byte])] =
    recordsInRange(new RafSeekable(raf), h, start, end)

  /** In-memory twin (whole-container cycles, no filesystem). */
  def recordsInBytes(bytes: Array[Byte], h: SfHeader): Iterator[(Array[Byte], Array[Byte])] =
    recordsInRange(new BytesSeekable(bytes), h, 0L, bytes.length.toLong)

  /** Records whose ownership falls in [start, end): from the first
    * sync at ≥ start up to the first sync past end (the
    * SequenceFileRecordReader rule). Emits raw (keyBytes, valBytes)
    * with the value already decompressed. */
  private def recordsInRange(raf: Seekable, h: SfHeader,
      start: Long, end: Long): Iterator[(Array[Byte], Array[Byte])] = {
    val fileLen = raf.length
    // the header's trailing sync is the file's first sync; scanning
    // from 0 finds it, so every range uses the same uniform rule
    val syncAt = findSync(raf, h.sync, start, fileLen)
    new Iterator[(Array[Byte], Array[Byte])] {
      private var pos = syncAt.map(_ + 16).getOrElse(fileLen)
      // a first sync at/past `end` belongs to the split containing it —
      // this range owns nothing (every sync pattern position q starts
      // records for exactly the one split with start <= q < end)
      private var done = syncAt.isEmpty || syncAt.get >= end
      private var pending: (Array[Byte], Array[Byte]) = _
      private def advance(): Unit = {
        while (pending == null && !done) {
          if (pos + 4 > fileLen) { done = true }
          else {
            val head = new Array[Byte](4)
            raf.readFullyAt(pos, head)
            val recLen = be32(head, 0)
            if (recLen == -1) {
              // inline sync: ownership keys on the 16-byte PATTERN
              // position (pos + 4), the same offset findSync reports —
              // a pattern at/past `end` opens the next range, which
              // scans from `end` and finds exactly it
              if (pos + 4 >= end) { done = true }
              else {
                val syncBuf = new Array[Byte](16)
                raf.readFullyAt(pos + 4, syncBuf)
                req(java.util.Arrays.equals(syncBuf, h.sync), s"seqfile: sync mismatch at $pos")
                pos += 20
              }
            } else {
              req(recLen >= 0 && pos + 8L + recLen <= fileLen, s"seqfile: record of $recLen at $pos")
              val rec = new Array[Byte](recLen + 4)
              raf.readFullyAt(pos + 4, rec)
              val keyLen = be32(rec, 0)
              req(keyLen >= 0 && keyLen <= recLen, s"seqfile: key of $keyLen in a $recLen record")
              val key = java.util.Arrays.copyOfRange(rec, 4, 4 + keyLen)
              val value = decompressValue(
                if (h.recordCompressed) h.codecClass else None,
                java.util.Arrays.copyOfRange(rec, 4 + keyLen, 4 + recLen))
              pos += 8 + recLen // recLen int + keyLen int + payload
              pending = (key, value)
            }
          }
        }
      }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): (Array[Byte], Array[Byte]) = {
        advance()
        req(pending != null, "seqfile: exhausted")
        val out = pending
        pending = null
        out
      }
    }
  }

  private def findSync(raf: Seekable, sync: Array[Byte],
      from: Long, fileLen: Long): Option[Long] = {
    val W = 1 << 20
    var base = math.max(0L, from)
    val buf = new Array[Byte](W + 15)
    while (base < fileLen) {
      var off = 0
      var eof = false
      while (off < buf.length && !eof) {
        val n = raf.readAt(base + off, buf, off, buf.length - off)
        if (n < 0) eof = true else off += n
      }
      var i = 0
      val limit = off - 16
      while (i <= limit) {
        var j = 0
        while (j < 16 && buf(i + j) == sync(j)) j += 1
        if (j == 16) return Some(base + i)
        i += 1
      }
      if (base + off >= fileLen) return None
      base += W
    }
    None
  }

  // ------------------------------------------------------------- writer

  /** Encode key/value pairs as a v6 record-layout SequenceFile.
    * Deterministic sync (SHA-256 of classes + codec + count); a sync
    * escape every `syncEvery` bytes of record data. */
  def encodeFile(
      keyClass: String,
      valClass: String,
      pairs: Seq[(Any, Any)],
      codecClass: Option[String] = None,
      syncEvery: Int = 2000): Array[Byte] = {
    req(syncEvery >= 64, s"seqfile writer: sync interval $syncEvery")
    val sync = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(s"$keyClass|$valClass|${codecClass.getOrElse("")}|${pairs.length}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.util.Arrays.copyOf(md.digest(), 16)
    }
    val out = new java.io.ByteArrayOutputStream()
    def wStr(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      writeVInt(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
    out.write('S'); out.write('E'); out.write('Q'); out.write(6)
    wStr(keyClass)
    wStr(valClass)
    out.write(if (codecClass.isDefined) 1 else 0) // compressed
    out.write(0) // not block-compressed
    codecClass.foreach(wStr)
    writeBe32(out, 0) // empty metadata
    out.write(sync, 0, 16)
    var sinceSync = 0
    pairs.foreach { case (k, v) =>
      if (sinceSync >= syncEvery) {
        writeBe32(out, -1)
        out.write(sync, 0, 16)
        sinceSync = 0
      }
      val kb = encodeWritable(keyClass, k)
      val vb = compressValue(codecClass, encodeWritable(valClass, v))
      writeBe32(out, kb.length + vb.length)
      writeBe32(out, kb.length)
      out.write(kb, 0, kb.length)
      out.write(vb, 0, vb.length)
      sinceSync += 8 + kb.length + vb.length
    }
    out.toByteArray
  }

  // ---------------------------------------------------------- Spark face

  private def sparkTypeOf(className: String): DataType = className match {
    case TextClass => StringType
    case BytesClass => BinaryType
    case LongClass => LongType
    case IntClass => IntegerType
    case _ => BinaryType
  }

  /** Ranged split scan: (key, value) rows typed by the header's
    * Writable classes; the driver reads headers only. */
  def scan(spark: SparkSession, paths: Seq[String], splitBytes: Long = 32L << 20): DataFrame = {
    req(paths.nonEmpty, "seqfile: no paths")
    val headers = paths.map { p =>
      val raf = new java.io.RandomAccessFile(p, "r")
      try (p, readHeader(raf), raf.length())
      finally raf.close()
    }
    val h0 = headers.head._2
    headers.foreach { case (p, h, _) =>
      req(h.keyClass == h0.keyClass && h.valClass == h0.valClass, s"seqfile: class drift in $p")
    }
    val st = StructType(Seq(
      StructField("key", sparkTypeOf(h0.keyClass), nullable = false),
      StructField("value", sparkTypeOf(h0.valClass), nullable = false)))
    val tasks = headers.flatMap { case (p, _, len) =>
      val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
      (0L until n).map(i => (p, i * splitBytes, math.min(len, (i + 1) * splitBytes)))
    }
    val rdd = spark.sparkContext
      .parallelize(tasks, math.max(1, math.min(tasks.length, spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        it.flatMap { case (p, s, e) =>
          val raf = new java.io.RandomAccessFile(p, "r")
          try {
            val h = readHeader(raf)
            recordsInRange(raf, h, s, e).map { case (kb, vb) =>
              Row(decodeWritable(h.keyClass, kb), decodeWritable(h.valClass, vb))
            }.toVector
          } finally raf.close()
        }
      }
    spark.createDataFrame(rdd, st)
  }

  // ------------------------------------------------------------- q lane

  /** Per (event_type, id DIV 4096) bucket: hadoop's own
    * SequenceFile.Writer (LIVE, on the classpath) serializes the
    * bucket as LongWritable → Text with record-compressed DefaultCodec
    * values; OUR header/record walk reads it back, requiring id/tag
    * per record; a require-only lane round-trips our writer through
    * our reader. Closed forms: tag = "s"+(id%53). */
  def seqFileQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val bytes = buildWithHadoop(sorted)
      val h = parseHeader(bytes)
      req(h.keyClass == LongClass && h.valClass == TextClass, "seqfile lane: class drift")
      req(h.recordCompressed && h.codecClass.contains(DefaultCodecClass), "seqfile lane: codec drift")
      var chars = 0L
      var i = 0
      recordsInBytes(bytes, h).foreach { case (kb, vb) =>
        val id = decodeWritable(LongClass, kb).asInstanceOf[Long]
        require(id == sorted(i), s"seqfile lane: id drift at $i")
        val tag = decodeWritable(TextClass, vb).asInstanceOf[String]
        require(tag == s"s${id % 53}", s"seqfile lane: tag drift for $id")
        chars += tag.length
        i += 1
      }
      require(i == sorted.length, s"seqfile lane: row count drift $i/${sorted.length}")
      // require-only: our writer (gzip values, small sync interval)
      // -> our reader
      if (sorted.nonEmpty) {
        val k = math.min(64, sorted.length)
        val pairs = (0 until k).map(j => (sorted(j): Any, s"s${sorted(j) % 53}": Any))
        val enc = encodeFile(LongClass, TextClass, pairs, Some(GzipCodecClass), syncEvery = 256)
        val back = recordsInBytes(enc, parseHeader(enc)).toVector
        require(back.length == k, "seqfile lane: gzip row drift")
        var j = 0
        while (j < k) {
          require(decodeWritable(LongClass, back(j)._1) == sorted(j) &&
            decodeWritable(TextClass, back(j)._2) == s"s${sorted(j) % 53}",
            s"seqfile lane: gzip value drift at $j")
          j += 1
        }
      }
      Seq(sorted.length.toLong, chars)
    }.asNondeterministic() // pins the kernel ABOVE the Spread exchange (see Spread)
    graft.operators.Spread.wide(
      graft.Tables
        .eventsRaw(s, dir)
        .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
        .agg(collect_list($"event_id").as("ids")))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_rows"),
        sum($"c".getItem(1)).cast("long").as("tag_chars"))
      .orderBy($"event_type")
  }

  /** One Configuration per executor JVM — constructing one parses the
    * XML default resources (~100 ms), which would otherwise dominate
    * every bucket; SequenceFile only READS it, so sharing is safe. */
  @transient private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** hadoop-client SequenceFile.Writer as the LIVE producer (record
    * compression, DefaultCodec) — fully in memory via Writer.stream,
    * no filesystem round-trip per bucket. */
  private def buildWithHadoop(ids: Array[Long]): Array[Byte] = {
    import org.apache.hadoop.io.{LongWritable, SequenceFile, Text}
    val bos = new java.io.ByteArrayOutputStream()
    val fsdos = new org.apache.hadoop.fs.FSDataOutputStream(bos, null)
    val w = SequenceFile.createWriter(hadoopConf,
      SequenceFile.Writer.stream(fsdos),
      SequenceFile.Writer.keyClass(classOf[LongWritable]),
      SequenceFile.Writer.valueClass(classOf[Text]),
      SequenceFile.Writer.compression(SequenceFile.CompressionType.RECORD,
        new org.apache.hadoop.io.compress.DefaultCodec))
    try ids.foreach(id => w.append(new LongWritable(id), new Text(s"s${id % 53}")))
    finally w.close()
    bos.toByteArray
  }
}
