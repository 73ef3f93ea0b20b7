package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** ORC FOOTER introspection — the second lake format's catalog/ops
  * surface, the twin of [[ParquetMeta]]: stripe layout, row counts,
  * compression, column type tree and column statistics read from the
  * file TAIL only (postscript + footer; no stream data is touched).
  *
  * Hand-rolled from the published ORC specification: the last byte is
  * the postscript length; the postscript (uncompressed protobuf)
  * names the codec and the footer length; the footer itself is a
  * protobuf message wrapped in ORC's chunked compression framing
  * (3-byte little-endian headers, `(chunkLen << 1) | isOriginal`).
  * Protobuf parsing is a generic wire walk keyed on the published
  * orc_proto.proto field ids with unknown-field skip (forward
  * compatible). Codecs: NONE, ZLIB (raw deflate), SNAPPY, LZ4 (raw
  * block), ZSTD — decompressed by the codec objects and the JDK.
  *
  * Validator: orc-core 2.2.2 ships on the Spark classpath —
  * OrcMetaSpec compares every surfaced field LIVE against
  * OrcFile.createReader on Spark-written files across codecs.
  *
  * Untrusted-bytes contract: malformed tails raise
  * [[OrcMeta.OrcMetaError]]. */
object OrcMeta {

  final class OrcMetaError(msg: String) extends RuntimeException(msg)
  private[sources] def fail(msg: String): Nothing = throw new OrcMetaError(msg)
  @inline private[sources] def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: OrcMetaError => throw e
      case e: Exception => fail(s"orc: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  // -------------------------------------------------- protobuf wire walk

  private[sources] final class Wire(val b: Array[Byte], var p: Int, val until: Int) {
    def hasMore: Boolean = p < until
    def varint(): Long = {
      var shift = 0
      var acc = 0L
      var i = 0
      while (i < 10) {
        req(p < until, "orc: truncated varint")
        val x = b(p) & 0xff
        p += 1
        acc |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return acc
        shift += 7
        i += 1
      }
      fail("orc: varint longer than 10 bytes")
    }
    def zig(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def lenDelim(): (Int, Int) = {
      val n = varint()
      req(n >= 0 && n <= until - p, s"orc: declared length $n with ${until - p} left")
      val from = p
      p += n.toInt
      (from, p)
    }
    def skip(wt: Int): Unit = wt match {
      case 0 => varint()
      case 1 => req(until - p >= 8, "orc: fixed64 overruns"); p += 8
      case 2 => lenDelim()
      case 5 => req(until - p >= 4, "orc: fixed32 overruns"); p += 4
      case t => fail(s"orc: wire type $t")
    }
  }

  /** Walk a message; `handle(fieldNum, wireType, wire)` returns true
    * when it consumed the value. */
  private[sources] def walk(w: Wire)(handle: (Int, Int, Wire) => Boolean): Unit =
    while (w.hasMore) {
      val tag = w.varint()
      val num = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      if (!handle(num, wt, w)) w.skip(wt)
    }

  // ------------------------------------------------------ metadata model

  final case class OmStripe(offset: Long, indexLength: Long, dataLength: Long,
      footerLength: Long, numberOfRows: Long)
  final case class OmType(kind: Int, subtypes: Seq[Int], fieldNames: Seq[String],
      precision: Int = 0, scale: Int = 0, maxLength: Int = 0,
      attributes: Seq[(String, String)] = Nil)
  final case class OmIntStats(min: Option[Long], max: Option[Long], sum: Option[Long])
  final case class OmColStats(numberOfValues: Long, hasNull: Boolean, intStats: Option[OmIntStats])
  final case class OmFooter(
      contentLength: Long,
      numberOfRows: Long,
      stripes: Seq[OmStripe],
      types: Seq[OmType],
      statistics: Seq[OmColStats],
      rowIndexStride: Int)
  final case class OmPostScript(footerLength: Long, compression: Int,
      compressionBlockSize: Long, metadataLength: Long, magicOk: Boolean)

  val CompressionNames: Map[Int, String] = Map(
    0 -> "NONE", 1 -> "ZLIB", 2 -> "SNAPPY", 3 -> "LZO", 4 -> "LZ4", 5 -> "ZSTD", 6 -> "BROTLI")
  val KindNames: Map[Int, String] = Map(
    0 -> "BOOLEAN", 1 -> "BYTE", 2 -> "SHORT", 3 -> "INT", 4 -> "LONG", 5 -> "FLOAT",
    6 -> "DOUBLE", 7 -> "STRING", 8 -> "BINARY", 9 -> "TIMESTAMP", 10 -> "LIST",
    11 -> "MAP", 12 -> "STRUCT", 13 -> "UNION", 14 -> "DECIMAL", 15 -> "DATE",
    16 -> "VARCHAR", 17 -> "CHAR", 18 -> "TIMESTAMP_INSTANT")

  // ------------------------------------------------------- struct parses

  private def parsePostScript(b: Array[Byte], from: Int, until: Int): OmPostScript = {
    var footerLen = -1L
    var comp = 0
    var blockSize = 256L * 1024
    var metaLen = 0L
    var magic = false
    walk(new Wire(b, from, until)) { (num, wt, w) =>
      num match {
        case 1 => footerLen = w.varint(); true
        case 2 => comp = w.varint().toInt; true
        case 3 => blockSize = w.varint(); true
        case 5 => metaLen = w.varint(); true
        case 8000 =>
          req(wt == 2, "orc: magic wire type")
          val (f, u) = w.lenDelim()
          magic = u - f == 3 && b(f) == 'O' && b(f + 1) == 'R' && b(f + 2) == 'C'
          true
        case _ => false
      }
    }
    req(footerLen >= 0, "orc: postscript without footer length")
    req(magic, "orc: postscript magic missing")
    OmPostScript(footerLen, comp, blockSize, metaLen, magic)
  }

  /** Undo ORC's chunked compression framing. */
  private[sources] def decompressed(b: Array[Byte], from: Int, until: Int, codec: Int, blockSize: Long): Array[Byte] =
    codec match {
      case 0 => java.util.Arrays.copyOfRange(b, from, until)
      case _ =>
        req(blockSize > 0 && blockSize <= (1 << 28), s"orc: compression block size $blockSize")
        val out = new java.io.ByteArrayOutputStream(math.max(64, until - from))
        var p = from
        while (p < until) {
          req(until - p >= 3, "orc: truncated chunk header")
          val h = Bytes.le24(b, p)
          p += 3
          val original = (h & 1) == 1
          val clen = h >>> 1
          req(clen > 0 && clen <= until - p, s"orc: chunk of $clen with ${until - p} left")
          if (original) out.write(b, p, clen)
          else {
            val chunk = codec match {
              case 1 => // ZLIB = raw deflate
                val inf = new java.util.zip.Inflater(true)
                try {
                  inf.setInput(b, p, clen)
                  val acc = new java.io.ByteArrayOutputStream(clen * 2)
                  val buf = new Array[Byte](64 << 10)
                  while (!inf.finished()) {
                    val n = inf.inflate(buf)
                    req(n > 0 || !inf.needsInput(), "orc: truncated deflate chunk")
                    acc.write(buf, 0, n)
                    req(acc.size <= blockSize * 2, "orc: chunk inflates past the block size")
                  }
                  acc.toByteArray
                } finally inf.end()
              case 2 => Snappy.rawDecode(b, p, p + clen, maxLen = blockSize.toInt * 2)
              case 4 => Lz4.decodeRawBlock(b, p, p + clen, maxOut = blockSize.toInt * 2)
              case 5 => Zstd.decode(java.util.Arrays.copyOfRange(b, p, p + clen))
              case c => fail(s"orc: unsupported codec ${CompressionNames.getOrElse(c, c.toString)}")
            }
            out.write(chunk, 0, chunk.length)
          }
          p += clen
        }
        out.toByteArray
    }

  private def parseStripe(w: Wire, from: Int, until: Int): OmStripe = {
    var off = -1L; var idx = 0L; var data = 0L; var foot = 0L; var rows = -1L
    walk(new Wire(w.b, from, until)) { (num, _, d) =>
      num match {
        case 1 => off = d.varint(); true
        case 2 => idx = d.varint(); true
        case 3 => data = d.varint(); true
        case 4 => foot = d.varint(); true
        case 5 => rows = d.varint(); true
        case _ => false
      }
    }
    req(off >= 0 && rows >= 0, "orc: stripe missing offset/rows")
    OmStripe(off, idx, data, foot, rows)
  }

  private def parseType(w: Wire, from: Int, until: Int): OmType = {
    var kind = -1
    var precision = 0
    var scale = 0
    var maxLen = 0
    val attrs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    walk(new Wire(w.b, from, until)) { (num, wt, d) =>
      num match {
        case 1 => kind = d.varint().toInt; true
        case 2 =>
          if (wt == 2) { // packed
            val (f, u) = d.lenDelim()
            val pd = new Wire(d.b, f, u)
            while (pd.hasMore) subs += pd.varint().toInt
          } else subs += d.varint().toInt
          true
        case 3 =>
          req(wt == 2, "orc: fieldName wire type")
          val (f, u) = d.lenDelim()
          names += new String(d.b, f, u - f, java.nio.charset.StandardCharsets.UTF_8)
          true
        case 4 => maxLen = d.varint().toInt; true
        case 5 => precision = d.varint().toInt; true
        case 6 => scale = d.varint().toInt; true
        case 7 =>
          req(wt == 2, "orc: attribute wire type")
          val (f, u) = d.lenDelim()
          var key = ""; var value = ""
          walk(new Wire(d.b, f, u)) { (an, awt, ad) =>
            an match {
              case 1 =>
                req(awt == 2, "orc: attribute key wire type")
                val (kf, ku) = ad.lenDelim()
                key = new String(ad.b, kf, ku - kf, java.nio.charset.StandardCharsets.UTF_8)
                true
              case 2 =>
                req(awt == 2, "orc: attribute value wire type")
                val (vf, vu) = ad.lenDelim()
                value = new String(ad.b, vf, vu - vf, java.nio.charset.StandardCharsets.UTF_8)
                true
              case _ => false
            }
          }
          attrs += ((key, value))
          true
        case _ => false
      }
    }
    req(kind >= 0, "orc: type without kind")
    OmType(kind, subs.toSeq, names.toSeq, precision, scale, maxLen, attrs.toSeq)
  }

  private def parseColStats(w: Wire, from: Int, until: Int): OmColStats = {
    var n = 0L
    var hasNull = false
    var ints: Option[OmIntStats] = None
    walk(new Wire(w.b, from, until)) { (num, wt, d) =>
      num match {
        case 1 => n = d.varint(); true
        case 2 =>
          req(wt == 2, "orc: intStatistics wire type")
          val (f, u) = d.lenDelim()
          var mn: Option[Long] = None; var mx: Option[Long] = None; var sm: Option[Long] = None
          walk(new Wire(d.b, f, u)) { (in, _, dd) =>
            in match {
              case 1 => mn = Some(dd.zig()); true
              case 2 => mx = Some(dd.zig()); true
              case 3 => sm = Some(dd.zig()); true
              case _ => false
            }
          }
          ints = Some(OmIntStats(mn, mx, sm))
          true
        case 10 => hasNull = d.varint() != 0; true
        case _ => false
      }
    }
    OmColStats(n, hasNull, ints)
  }

  private def parseFooter(b: Array[Byte]): OmFooter = {
    var content = -1L
    var rows = -1L
    val stripes = scala.collection.mutable.ArrayBuffer.empty[OmStripe]
    val types = scala.collection.mutable.ArrayBuffer.empty[OmType]
    val stats = scala.collection.mutable.ArrayBuffer.empty[OmColStats]
    var stride = 0
    walk(new Wire(b, 0, b.length)) { (num, wt, w) =>
      num match {
        case 2 => content = w.varint(); true
        case 3 => req(wt == 2, "orc: stripe wire type"); val (f, u) = w.lenDelim(); stripes += parseStripe(w, f, u); true
        case 4 => req(wt == 2, "orc: type wire type"); val (f, u) = w.lenDelim(); types += parseType(w, f, u); true
        case 6 => rows = w.varint(); true
        case 7 => req(wt == 2, "orc: statistics wire type"); val (f, u) = w.lenDelim(); stats += parseColStats(w, f, u); true
        case 8 => stride = w.varint().toInt; true
        case _ => false
      }
    }
    req(rows >= 0, "orc: footer without row count")
    OmFooter(content, rows, stripes.toSeq, types.toSeq, stats.toSeq, stride)
  }

  final case class OmFile(postScript: OmPostScript, footer: OmFooter)

  /** Per-stripe column statistics from the METADATA section (between
    * the stripes and the footer — still a tail-scale ranged read):
    * result(stripe)(column). Empty when the writer emitted none. */
  def readStripeStats(path: String, f: OmFile): Seq[Seq[OmColStats]] = guarded("metadata") {
    val metaLen = f.postScript.metadataLength
    if (metaLen <= 0) return Nil
    req(metaLen <= Int.MaxValue, s"orc: metadata of $metaLen bytes")
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val len = raf.length()
      val psLen = 1 + {
        raf.seek(len - 1)
        raf.read()
      }
      val start = len - psLen - f.postScript.footerLength - metaLen
      req(start >= 0, "orc: metadata start before file begin")
      val raw = new Array[Byte](metaLen.toInt)
      raf.seek(start)
      raf.readFully(raw)
      val b = decompressed(raw, 0, raw.length, f.postScript.compression, f.postScript.compressionBlockSize)
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[OmColStats]]
      walk(new Wire(b, 0, b.length)) { (num, wt, w) =>
        num match {
          case 1 => // StripeStatistics
            req(wt == 2, "orc: stripe statistics wire type")
            val (f2, u2) = w.lenDelim()
            val cols = scala.collection.mutable.ArrayBuffer.empty[OmColStats]
            walk(new Wire(w.b, f2, u2)) { (n2, wt2, d) =>
              n2 match {
                case 1 =>
                  req(wt2 == 2, "orc: column statistics wire type")
                  val (f3, u3) = d.lenDelim()
                  cols += parseColStats(d, f3, u3)
                  true
                case _ => false
              }
            }
            out += cols.toSeq
            true
          case _ => false
        }
      }
      out.toSeq
    } finally raf.close()
  }

  /** Read postscript + footer via tail-only ranged reads. */
  def readTail(raf: java.io.RandomAccessFile): OmFile = guarded("file") {
    val len = raf.length()
    req(len >= 16, s"orc: file of $len bytes")
    val tailLen = math.min(len, 16384L).toInt
    val tail = new Array[Byte](tailLen)
    raf.seek(len - tailLen)
    raf.readFully(tail)
    val psLen = tail(tailLen - 1) & 0xff
    req(psLen > 0 && psLen < tailLen - 1, s"orc: postscript of $psLen bytes")
    val ps = parsePostScript(tail, tailLen - 1 - psLen, tailLen - 1)
    req(ps.footerLength > 0 && ps.footerLength <= len - 1 - psLen, s"orc: footer length ${ps.footerLength}")
    val fLen = ps.footerLength.toInt
    val footerBytes =
      if (fLen + psLen + 1 <= tailLen)
        java.util.Arrays.copyOfRange(tail, tailLen - 1 - psLen - fLen, tailLen - 1 - psLen)
      else {
        val fb = new Array[Byte](fLen)
        raf.seek(len - 1 - psLen - fLen)
        raf.readFully(fb)
        fb
      }
    OmFile(ps, parseFooter(decompressed(footerBytes, 0, fLen, ps.compression, ps.compressionBlockSize)))
  }

  def readTail(path: String): OmFile = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try readTail(raf)
    finally raf.close()
  }

  // ---------------------------------------------------------- Spark face

  private val StripeSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("stripe", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("index_bytes", LongType, nullable = false),
    StructField("data_bytes", LongType, nullable = false),
    StructField("footer_bytes", LongType, nullable = false),
    StructField("compression", StringType, nullable = false),
    StructField("file_rows", LongType, nullable = false)))

  /** One row per stripe across `paths` — executors read tails only. */
  def stripes(spark: SparkSession, paths: Seq[String]): DataFrame = {
    req(paths.nonEmpty, "orc: no paths")
    val rdd = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism)))
      .flatMap { p =>
        val f = readTail(p)
        val comp = CompressionNames.getOrElse(f.postScript.compression, f.postScript.compression.toString)
        f.footer.stripes.zipWithIndex.map { case (s, i) =>
          Row(p, i, s.numberOfRows, s.offset, s.indexLength, s.dataLength, s.footerLength,
            comp, f.footer.numberOfRows)
        }
      }
    spark.createDataFrame(rdd, StripeSchema)
  }

  // ------------------------------------------------------------- q lane

  /** Write the events table's (event_id, event_type) as zstd ORC once
    * per run, then read ONLY the tails back: stripe rows must sum to
    * the footer row count per file (distributed require), the footer
    * LONG column statistics of event_id aggregate to min/max, and
    * everything is restated relationally by the oracle over the same
    * table DuckDB reads. */
  def metaQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_orc_meta/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    graft.Tables.eventsRaw(s, dir)
      .select(col("event_id"), col("event_type"))
      .write.mode("overwrite").option("compression", "zstd").orc(out)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".orc")).map(_.getPath).sorted.toSeq
    val perFile = s.sparkContext
      .parallelize(files, math.max(1, math.min(files.length, s.sparkContext.defaultParallelism)))
      .map { p =>
        val f = readTail(p)
        require(f.postScript.compression == 5, s"orc meta: expected zstd, got ${f.postScript.compression}")
        require(f.footer.stripes.map(_.numberOfRows).sum == f.footer.numberOfRows,
          s"orc meta: stripe rows drift in $p")
        // column 0 is the root struct; event_id is column 1 (schema order)
        val idStats = f.footer.statistics.lift(1).getOrElse(fail(s"orc meta: no event_id stats in $p"))
        val ints = idStats.intStats.getOrElse(fail(s"orc meta: event_id has no int stats in $p"))
        require(idStats.numberOfValues == f.footer.numberOfRows && !idStats.hasNull,
          s"orc meta: event_id stats inconsistent in $p")
        (f.footer.numberOfRows,
          ints.min.getOrElse(fail(s"orc meta: no min in $p")),
          ints.max.getOrElse(fail(s"orc meta: no max in $p")))
      }
    import s.implicits._
    perFile.toDF("rows", "mn", "mx")
      .agg(
        sum(col("rows")).cast("long").as("total_rows"),
        min(col("mn")).cast("long").as("min_event_id"),
        max(col("mx")).cast("long").as("max_event_id"))
  }
}
