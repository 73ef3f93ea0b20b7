package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{le32, le64, maskedCrc32c, setLe64, writeLe32}

/** TFRecord shards + `tf.train.Example` payloads — the TensorFlow
  * ecosystem's training-data shard format (`.tfrecord`, commonly
  * gzipped). Published layout (TensorFlow docs): per record a u64-LE
  * length, the masked CRC32C of those 8 length bytes, the payload,
  * and the masked CRC32C of the payload, where
  * `mask(c) = ((c >>> 15) | (c << 17)) + 0xa282ead8`. CRC32C
  * (Castagnoli) comes from the JDK's `java.util.zip.CRC32C` — a
  * conforming reference implementation, not hand-rolled.
  *
  * The payload is a protobuf `tf.train.Example` (published .proto):
  * Example{features=1} -> Features{feature map=1} -> map entries
  * {key=1, value=2} -> Feature{bytes_list=1|float_list=2|
  * int64_list=3} -> lists{repeated value=1, floats/ints packed or
  * not}. The wire format is parsed by a minimal generic reader
  * (varint / fixed64 / length-delimited / fixed32), skipping unknown
  * fields exactly as the spec requires — real Examples carry fields
  * this reader has never heard of.
  *
  * Scale shape: TFRecord has NO index and no resync marker, so the
  * split unit is the FILE (the ecosystem shards accordingly:
  * `train-00042-of-01024.tfrecord`); one task per shard streams
  * records sequentially. Gzipped shards decode through the JDK
  * inflater member-by-member.
  *
  * Conformance: TfRecordSpec cross-checks the protobuf wire layer
  * LIVE against the reference protobuf runtime on the Spark
  * classpath (orc's shaded `CodedOutput/InputStream`): our parser
  * over reference-emitted Examples, our writer's bytes re-walked by
  * the reference reader. No TensorFlow ships in-container (probe in
  * NOTES_r17), so framing is pinned by the published layout + the
  * JDK CRC32C + corruption hostility (every flipped byte must be
  * caught by a CRC).
  *
  * Untrusted-bytes contract: malformed input raises
  * [[TfRecordError]]. */
object TfRecord {

  final class TfRecordError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new TfRecordError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: TfRecordError => throw e
      case e @ (_: IndexOutOfBoundsException | _: NegativeArraySizeException |
          _: ArithmeticException | _: IllegalArgumentException) =>
        fail(s"tfrecord: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  // ------------------------------------------------------------- framing

  /** Iterate framed records; every length and payload CRC verified. */
  def records(b: Array[Byte]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var p = 0
    def hasNext: Boolean = {
      if (p == b.length) false
      else { req(b.length - p >= 12, s"tfrecord: trailing ${b.length - p} bytes are not a record"); true }
    }
    def next(): Array[Byte] = guarded("record") {
      if (!hasNext) throw new NoSuchElementException
      val len = le64(b, p)
      req(le32(b, p + 8) == maskedCrc32c(b, p, 8), s"tfrecord: length CRC mismatch at $p")
      req(len >= 0 && len <= b.length.toLong - p - 16, s"tfrecord: record length $len exceeds input")
      val start = p + 12
      val data = java.util.Arrays.copyOfRange(b, start, start + len.toInt)
      req(le32(b, start + len.toInt) == maskedCrc32c(data, 0, data.length), s"tfrecord: data CRC mismatch at $p")
      p = start + len.toInt + 4
      data
    }
  }

  /** Frame records (the writer side of the published layout). */
  def frame(recs: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    recs.foreach { r =>
      val lenB = new Array[Byte](8)
      setLe64(lenB, 0, r.length.toLong)
      out.write(lenB)
      writeLe32(out, maskedCrc32c(lenB, 0, 8))
      out.write(r)
      writeLe32(out, maskedCrc32c(r, 0, r.length))
    }
    out.toByteArray
  }

  /** Gunzip a (possibly multi-member) `.tfrecord.gz` shard. */
  def gunzip(b: Array[Byte]): Array[Byte] = guarded("gzip member") {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b), 1 << 16)
    try in.readAllBytes()
    catch { case e: java.io.IOException => fail(s"tfrecord: gzip: ${e.getMessage}") }
    finally in.close()
  }

  // ----------------------------------------------------- protobuf wire layer

  /** One tf.train.Feature value. */
  sealed trait Feature
  final case class BytesList(values: Seq[Array[Byte]]) extends Feature
  final case class FloatList(values: Seq[Float]) extends Feature
  final case class Int64List(values: Seq[Long]) extends Feature

  /** Minimal generic wire reader over one message's bytes. */
  private final class Wire(b: Array[Byte], from: Int, until: Int) {
    var p: Int = from
    def hasMore: Boolean = p < until
    def varint(): Long = {
      var shift = 0
      var v = 0L
      var more = true
      while (more) {
        req(p < until && shift < 64, "tfrecord: varint overruns")
        val x = b(p) & 0xff
        p += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      v
    }
    def lenDelim(): (Int, Int) = {
      val n = varint()
      req(n >= 0 && n <= until - p, s"tfrecord: length $n overruns field")
      val s = p
      p += n.toInt
      (s, s + n.toInt)
    }
    def fixed32(): Int = { req(until - p >= 4, "tfrecord: fixed32 overruns"); val v = le32(b, p); p += 4; v }
    def fixed64(): Long = { req(until - p >= 8, "tfrecord: fixed64 overruns"); val v = le64(b, p); p += 8; v }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint(); ()
      case 1 => fixed64(); ()
      case 2 => lenDelim(); ()
      case 5 => fixed32(); ()
      case t => fail(s"tfrecord: wire type $t")
    }
  }

  /** Parse a tf.train.Example payload into name -> Feature. Unknown
    * fields at every level are skipped, per the protobuf spec. */
  def parseExample(rec: Array[Byte]): Map[String, Feature] = parseExample(rec, null)

  /** Wire-level pruned parse: when `wanted` is non-null, a feature
    * whose key is not in it has its VALUE BYTES SKIPPED outright
    * (length-delimited skip — never decoded, never validated). The
    * DSv2 face pushes column pruning down to here; TfRecordSourceSpec
    * proves it by poisoning a pruned feature's payload. */
  def parseExample(rec: Array[Byte], wanted: String => Boolean): Map[String, Feature] = guarded("example") {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Feature]
    val ex = new Wire(rec, 0, rec.length)
    while (ex.hasMore) {
      val tag = ex.varint()
      val (field, wt) = ((tag >>> 3).toInt, (tag & 7).toInt)
      if (field == 1 && wt == 2) { // Features
        val (fs, fe) = ex.lenDelim()
        val feats = new Wire(rec, fs, fe)
        while (feats.hasMore) {
          val t2 = feats.varint()
          if ((t2 >>> 3).toInt == 1 && (t2 & 7).toInt == 2) { // map entry
            val (ms, me) = feats.lenDelim()
            val entry = new Wire(rec, ms, me)
            var key: String = null
            var valueExtent: (Int, Int) = null
            while (entry.hasMore) {
              val t3 = entry.varint()
              ((t3 >>> 3).toInt, (t3 & 7).toInt) match {
                case (1, 2) =>
                  val (ks, ke) = entry.lenDelim()
                  key = new String(rec, ks, ke - ks, java.nio.charset.StandardCharsets.UTF_8)
                case (2, 2) =>
                  valueExtent = entry.lenDelim() // extent only — decode is deferred
                case (_, w) => entry.skip(w)
              }
            }
            req(key != null, "tfrecord: map entry without key")
            if (wanted == null || wanted(key))
              out(key) =
                if (valueExtent == null) BytesList(Nil)
                else parseFeature(rec, valueExtent._1, valueExtent._2)
          } else feats.skip((t2 & 7).toInt)
        }
      } else ex.skip(wt)
    }
    out.toMap
  }

  private def parseFeature(b: Array[Byte], from: Int, until: Int): Feature = {
    val w = new Wire(b, from, until)
    var out: Feature = null
    var skippedAny = false
    while (w.hasMore) {
      val tag = w.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => // BytesList
          val (s, e) = w.lenDelim()
          val inner = new Wire(b, s, e)
          val vals = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          while (inner.hasMore) {
            val t = inner.varint()
            if ((t >>> 3).toInt == 1 && (t & 7).toInt == 2) {
              val (vs, ve) = inner.lenDelim()
              vals += java.util.Arrays.copyOfRange(b, vs, ve)
            } else inner.skip((t & 7).toInt)
          }
          out = BytesList(vals.toSeq)
        case (2, 2) => // FloatList
          val (s, e) = w.lenDelim()
          val inner = new Wire(b, s, e)
          val vals = scala.collection.mutable.ArrayBuffer.empty[Float]
          while (inner.hasMore) {
            val t = inner.varint()
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 2) => // packed
                val (ps, pe) = inner.lenDelim()
                req((pe - ps) % 4 == 0, "tfrecord: packed float length")
                var q = ps
                while (q < pe) { vals += java.lang.Float.intBitsToFloat(le32(b, q)); q += 4 }
              case (1, 5) => vals += java.lang.Float.intBitsToFloat(inner.fixed32()) // unpacked
              case (_, wt) => inner.skip(wt)
            }
          }
          out = FloatList(vals.toSeq)
        case (3, 2) => // Int64List
          val (s, e) = w.lenDelim()
          val inner = new Wire(b, s, e)
          val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (inner.hasMore) {
            val t = inner.varint()
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 2) => // packed
                val (ps, pe) = inner.lenDelim()
                val pw = new Wire(b, ps, pe)
                while (pw.hasMore) vals += pw.varint()
              case (1, 0) => vals += inner.varint() // unpacked
              case (_, wt) => inner.skip(wt)
            }
          }
          out = Int64List(vals.toSeq)
        case (_, wt) => skippedAny = true; w.skip(wt)
      }
    }
    // a kind-unset Feature (zero-length value — protobuf map
    // serializers always emit the value field) is valid and empty;
    // but a Feature whose ONLY content is fields we don't recognize
    // carries data of an unknown future kind — refuse loudly rather
    // than silently reading populated values as empty
    if (out == null) {
      req(!skippedAny, "tfrecord: Feature carries only unknown-kind fields")
      BytesList(Nil)
    } else out
  }

  // ------------------------------------------------------------ proto write

  private def varintBytes(v0: Long): Array[Byte] = {
    var v = v0
    val out = new java.io.ByteArrayOutputStream(10)
    var more = true
    while (more) {
      val x = (v & 0x7f).toInt
      v = v >>> 7
      if (v == 0) { out.write(x); more = false } else out.write(x | 0x80)
    }
    out.toByteArray
  }

  private def field(num: Int, wt: Int, payload: Array[Byte]): Array[Byte] =
    varintBytes(((num.toLong << 3) | wt)) ++ (if (wt == 2) varintBytes(payload.length.toLong) ++ payload else payload)

  /** Encode one tf.train.Example (packed numeric lists, insertion
    * order preserved — matching reference writers). */
  def encodeExample(features: Seq[(String, Feature)]): Array[Byte] = {
    val entries = features.map { case (name, f) =>
      val featBytes = f match {
        case BytesList(vs) =>
          field(1, 2, vs.flatMap(v => field(1, 2, v)).toArray)
        case FloatList(vs) =>
          val packed = new Array[Byte](vs.length * 4)
          vs.zipWithIndex.foreach { case (v, i) =>
            val bits = java.lang.Float.floatToIntBits(v)
            var j = 0
            while (j < 4) { packed(4 * i + j) = ((bits >>> (8 * j)) & 0xff).toByte; j += 1 }
          }
          field(2, 2, field(1, 2, packed))
        case Int64List(vs) =>
          field(3, 2, field(1, 2, vs.toArray.flatMap(varintBytes)))
      }
      field(1, 2, field(1, 2, name.getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++ field(2, 2, featBytes))
    }
    field(1, 2, entries.flatten.toArray)
  }

  // ------------------------------------------------------------- Spark face

  /** One task per shard file (the format's split unit); `.gz` shards
    * inflate first. Rows: (path, idx, record bytes). */
  def examples(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    req(paths.nonEmpty, "tfrecord: no paths")
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism)))
      .flatMap { p =>
        val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        val bytes = if (p.endsWith(".gz")) gunzip(raw) else raw
        records(bytes).zipWithIndex.map { case (r, i) => (p, i.toLong, r) }
      }
      .toDF("path", "idx", "record")
  }

  // ------------------------------------------------------------ oracle lane

  /** q_tfrecord: per (event_type, shard) bucket, ids become framed
    * tf.train.Examples (int64 id + utf8 tag + packed float pair),
    * one plain shard and one GZIPPED shard (both real access paths),
    * read back end to end (CRC-verified framing, wire parse;
    * requires verify every field), aggregated in closed form. */
  def tfRecordQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val recs = sorted.map { id =>
        encodeExample(Seq(
          "id" -> Int64List(Seq(id)),
          "tag" -> BytesList(Seq(s"t${id % 101}".getBytes(java.nio.charset.StandardCharsets.UTF_8))),
          "vals" -> FloatList(Seq((id % 7).toFloat, (id % 7 + 1).toFloat))))
      }
      val shard = frame(recs.toSeq)
      val gz = {
        val bos = new java.io.ByteArrayOutputStream()
        val go = new java.util.zip.GZIPOutputStream(bos)
        go.write(shard); go.close()
        bos.toByteArray
      }
      def walk(bytes: Array[Byte]): (Long, Long, Long) = {
        var i = 0
        var chars = 0L
        var valSum = 0L
        records(bytes).foreach { r =>
          val ex = parseExample(r)
          val id = ex("id").asInstanceOf[Int64List].values.head
          require(id == sorted(i), s"tfrecord lane: id drift at $i")
          val tag = new String(ex("tag").asInstanceOf[BytesList].values.head,
            java.nio.charset.StandardCharsets.UTF_8)
          require(tag == s"t${id % 101}", s"tfrecord lane: tag drift for $id")
          val vs = ex("vals").asInstanceOf[FloatList].values
          require(vs == Seq((id % 7).toFloat, (id % 7 + 1).toFloat), s"tfrecord lane: vals drift for $id")
          chars += tag.length
          valSum += 2 * (id % 7) + 1
          i += 1
        }
        (i.toLong, chars, valSum)
      }
      val (n1, chars, valSum) = walk(shard)
      val (n2, _, _) = walk(gunzip(gz)) // the gz access path, require-only
      require(n1 == sorted.length.toLong && n2 == n1, "tfrecord lane: row count drift")
      Seq(n1, chars, valSum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_examples"),
        sum($"c".getItem(1)).cast("long").as("tag_chars"),
        sum($"c".getItem(2)).cast("long").as("val_sum"))
      .orderBy($"event_type")
  }
}
