package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One front door for line-oriented corpus SHARD SETS — the way
  * text/training corpora actually arrive: thousands of `.jsonl.zst` /
  * `.jsonl.gz` / `.jsonl.xz` / `.txt.bz2` / `.jsonl.lz4` / `.jsonl.br` files of
  * ~100-500 MB each. [[lines]] globs the set, dispatches each file to
  * the right decoder by extension (and magic sniff as the
  * fallback), and emits (path, line) with FILE-level parallelism —
  * for a shard set the file count is orders of magnitude above the
  * core count, so per-file tasks are the right unit and no decoder
  * has to be splittable.
  *
  * Plain `.jsonl`/`.txt` and `.bz2` go through Spark's native text
  * reader, which splits them WITHIN a file (`.bz2` by block, through
  * Hadoop's `BZip2Codec`), so one huge `.bz2` is never read whole.
  * When a corpus instead ships as a few HUGE files in another
  * encoding, use the format-specific splittable faces directly:
  * [[ZstdSeek.jsonlLines]] (seekable frames), [[Xz.jsonlLines]]
  * (concatenated streams).
  *
  * gzip here means whole-member decode via the JDK (multi-member
  * concatenation included); WARC-style gz member SPLIT scanning lives
  * in [[Warc]] where the member framing justifies it.
  */
object TextShards {

  private def gunzipAll(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
    try in.readAllBytes()
    finally in.close()
  }

  /** Decode one shard's bytes by extension, falling back to a magic
    * sniff (shards are routinely misnamed); unknown = plain text. */
  def decodeShard(name: String, b: Array[Byte]): Array[Byte] = {
    val lower = name.toLowerCase(java.util.Locale.ROOT)
    def sniff: String =
      if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 && (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) "zst"
      else if (b.length >= 6 && (b(0) & 0xff) == 0xfd && b(1) == '7' && b(2) == 'z') "xz"
      else if (b.length >= 3 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h') "bz2"
      else if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) "gz"
      else if (b.length >= 4 && (b(0) & 0xff) == 0x04 && (b(1) & 0xff) == 0x22 && (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) "lz4"
      else if (b.length >= 4 && (b(0) & 0xff) == 0x02 && (b(1) & 0xff) == 0x21 && (b(2) & 0xff) == 0x4c && (b(3) & 0xff) == 0x18) "lz4" // legacy frame
      else if (Snappy.isFramed(b)) "sz"
      else ""
    val kind =
      if (lower.endsWith(".zst")) "zst"
      else if (lower.endsWith(".xz")) "xz"
      else if (lower.endsWith(".lzma")) "lzma"
      else if (lower.endsWith(".bz2")) "bz2"
      else if (lower.endsWith(".gz")) "gz"
      else if (lower.endsWith(".lz4")) "lz4"
      else if (lower.endsWith(".sz")) "sz"
      else if (lower.endsWith(".snappy")) "snappy" // hadoop framing: no magic
      else if (lower.endsWith(".br")) "br" // no magic: extension only
      else sniff
    kind match {
      case "zst" => Zstd.decode(b)
      case "xz" => Xz.decode(b)
      case "lzma" => Xz.decodeAlone(b)
      case "bz2" => Bzip2.decode(b)
      case "gz" => gunzipAll(b)
      case "lz4" => Lz4.decode(b)
      case "sz" => Snappy.framedDecode(b)
      case "snappy" => Snappy.hadoopDecode(b)
      case "br" => graft.text.Brotli.decode(b)
      case _ => b
    }
  }

  /** (path, line) over a glob of shards in ANY supported compression.
    * One task per compressed shard; plain-text and `.bz2` files go
    * through Spark's splittable text reader and union in. `path` is
    * the file's qualified URI on both sides, the spelling
    * `input_file_name()` gives. */
  def lines(spark: SparkSession, pattern: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(pattern)
    val fs = hp.getFileSystem(conf.value)
    // qualified the way the filesystem qualifies the paths it LISTS
    // (what Spark's reader sees), not the way the glob spelled them
    // (`file:/x` where a listing says `file:///x`)
    val files = Option(fs.globStatus(hp)).getOrElse(Array.empty).filter(_.isFile)
      .map(st => fs.makeQualified(new org.apache.hadoop.fs.Path(st.getPath.toUri.getPath)))
      .toSeq
    // Spark's reader picks its codec by the exact suffix, so only a
    // lower-case `.bz2` goes there; `.BZ2` decodes here
    val (plain, compressed) = files.partition { p =>
      val l = p.getName.toLowerCase(java.util.Locale.ROOT)
      p.getName.endsWith(".bz2") ||
      !(l.endsWith(".zst") || l.endsWith(".xz") || l.endsWith(".lzma") ||
        l.endsWith(".bz2") || l.endsWith(".gz") || l.endsWith(".lz4") ||
        l.endsWith(".sz") || l.endsWith(".snappy") || l.endsWith(".br"))
    }
    val compressedDf =
      if (compressed.isEmpty) None
      else Some(
        spark.sparkContext
          .parallelize(compressed.map(_.toUri.toString), compressed.size)
          .flatMap { uri =>
            val path = new org.apache.hadoop.fs.Path(new java.net.URI(uri))
            val in = path.getFileSystem(conf.value).open(path)
            val bytes =
              try in.readAllBytes()
              finally in.close()
            val payload = decodeShard(path.getName, bytes)
            new String(payload, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n", -1)
              .iterator
              .filter(_.nonEmpty)
              .map(line => (uri, line))
          }
          .toDF("path", "line"))
    val plainDf =
      if (plain.isEmpty) None
      else Some(
        spark.read
          .textFile(plain.map(_.toString): _*)
          .select(input_file_name().as("path"), col("value").as("line"))
          .where(length(col("line")) > 0))
    (compressedDf, plainDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => spark.emptyDataFrame.select(lit("").as("path"), lit("").as("line")).limit(0)
    }
  }

  /** STREAMING twin of [[lines]]: continuously ingest shards as they
    * land in a directory (the drop-folder pattern crawl deliveries
    * use). Built on the binaryFile streaming source, so Structured
    * Streaming's file tracking provides exactly-once per shard; each
    * micro-batch decodes its new files with the same dispatch. */
  def linesStream(spark: SparkSession, dir: String, globFilter: String = "*"): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val decodeLines = udf { (path: String, content: Array[Byte]) =>
      new String(decodeShard(path, content), java.nio.charset.StandardCharsets.UTF_8)
        .split("\n", -1)
        .toSeq
        .filter(_.nonEmpty)
    }
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", globFilter)
      .load(dir)
      .select(col("path"), explode(decodeLines(col("path"), col("content"))).as("line"))
  }

  // ------------------------------------------------------------------
  // q_shards — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id%16 shard): the same jsonl payload cycles
    * through ALL EIGHT compressed shard flavors — seekable zstd, xz,
    * bzip2, gzip (JDK), lz4, snappy framing + hadoop-snappy, raw-brotli — each decoded back through the
    * EXACT dispatch [[decodeShard]] the shard-set face uses, byte
    * equality required per flavor. Proves the one-front-door contract
    * end to end; counts/char sums have closed forms. */
  def shardsQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val lines = sorted.map(id => s"""{"id":$id,"w":"w${id % 73}"}""")
      val payload = lines.mkString("", "\n", "\n").getBytes(utf8)
      val gz = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(payload); g.close(); bos.toByteArray
      }
      val flavors = Seq(
        "s.jsonl.zst" -> Zstd.encode(payload),
        "s.jsonl.xz" -> Xz.encodeRawXz(payload),
        "s.jsonl.bz2" -> Bzip2.encode(payload),
        "s.jsonl.gz" -> gz,
        "s.jsonl.lz4" -> Lz4.encode(payload),
        "s.jsonl.sz" -> Snappy.framedEncode(payload),
        "s.jsonl.snappy" -> Snappy.hadoopEncode(payload),
        "s.jsonl.br" -> graft.text.Brotli.encodeRaw(payload))
      flavors.foreach { case (name, bytes) =>
        require(java.util.Arrays.equals(decodeShard(name, bytes), payload), s"shard flavor $name drift")
        // the magic sniff must ALSO route a misnamed shard correctly
        // (brotli has no magic, so the extension is authoritative there)
        if (!name.endsWith(".br") && !name.endsWith(".snappy"))
          require(java.util.Arrays.equals(decodeShard("misnamed.bin", bytes), payload), s"sniff for $name drift")
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
