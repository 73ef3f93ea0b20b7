package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.orc.{OrcFile, OrcProto}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** ORC, the second lake format, behind one facade over orc-core 2.2.2
  * (Spark's own ORC reader and writer), the twin of [[ParquetMeta]]:
  *
  *  - the TAIL catalog — [[stripes]], one row per stripe (rows, byte
  *    layout, compression, file rows) read through
  *    `OrcFile.createReader` from the postscript and footer only; no
  *    stream data is touched.
  *  - the two lanes: q_orc_meta (footer statistics restated
  *    relationally by the oracle) and q_orc_read (`df.write.orc` once
  *    per JVM, `spark.read.orc` back, plus a write → read-back require
  *    on a slice).
  *
  * Untrusted-bytes contract: before orc-core reads the tail, the
  * facade parses the postscript (at most 255 bytes, with orc-core's own
  * protobuf classes) and refuses a missing "ORC" magic, footer,
  * metadata or stripe-statistics lengths that do not fit in the file,
  * and a compression block size past the 2^23 bytes a chunk header can
  * name — orc-core allocates buffers of those sizes. Every
  * `IOException`/`RuntimeException` the library throws surfaces as
  * [[OrcMeta.OrcMetaError]] naming the file. */
object OrcMeta {

  final class OrcMetaError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new OrcMetaError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  /** One Hadoop configuration per JVM; tail reads only get from it. */
  private lazy val conf = new Configuration()

  /** Postscript + footer of `path`, read by orc-core after the tail
    * checks. */
  def readTail(path: String): OrcProto.FileTail =
    try {
      val hp = new Path(path)
      val fs = hp.getFileSystem(conf)
      val len = fs.getFileStatus(hp).getLen
      req(len >= 5, s"orc: $path is a file of $len bytes")
      val in = fs.open(hp)
      val ps = try {
        val last = new Array[Byte](1)
        in.readFully(len - 1, last)
        val psLen = last(0) & 0xff
        // 3-byte "ORC" header + postscript + its length byte
        req(psLen > 0 && psLen + 4 <= len, s"orc: postscript of $psLen bytes in the $len-byte file $path")
        val psBytes = new Array[Byte](psLen)
        in.readFully(len - 1 - psLen, psBytes)
        val ps = OrcProto.PostScript.parseFrom(psBytes)
        req(ps.getMagic == "ORC", s"orc: postscript magic missing in $path")
        val tail = Seq(ps.getFooterLength, ps.getMetadataLength, ps.getStripeStatisticsLength)
        req(ps.getFooterLength > 0 && tail.forall(n => n >= 0 && n <= len) && tail.sum + psLen + 4 <= len,
          s"orc: footer/metadata lengths ${tail.mkString("/")} in the $len-byte file $path")
        req(ps.getCompression == OrcProto.CompressionKind.NONE ||
          (ps.getCompressionBlockSize > 0 && ps.getCompressionBlockSize <= (1 << 23)),
          s"orc: compression block size ${ps.getCompressionBlockSize} in $path")
        ps
      } finally in.close()
      val r = OrcFile.createReader(hp, OrcFile.readerOptions(conf).filesystem(fs))
      try r.getFileTail
      finally r.close()
    } catch {
      case e: OrcMetaError => throw e
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        fail(s"orc: malformed tail in $path (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  /** Tails of `paths`, read in tasks. */
  private def tails(spark: SparkSession, paths: Seq[String]) =
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism)))
      .map(p => (p, readTail(p)))

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
    val rdd = tails(spark, paths).flatMap { case (p, t) =>
      val comp = t.getPostscript.getCompression.name
      val fileRows = t.getFooter.getNumberOfRows
      t.getFooter.getStripesList.asScala.zipWithIndex.map { case (s, i) =>
        Row(p, i, s.getNumberOfRows, s.getOffset, s.getIndexLength, s.getDataLength, s.getFooterLength,
          comp, fileRows)
      }
    }
    spark.createDataFrame(rdd, StripeSchema)
  }

  // ------------------------------------------------------------ q lanes

  /** Write the events table's (event_id, event_type) as zstd ORC,
    * then read ONLY the tails back: stripe rows must sum to
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
    val perFile = tails(s, files).map { case (p, t) =>
      val rows = t.getFooter.getNumberOfRows
      require(t.getPostscript.getCompression == OrcProto.CompressionKind.ZSTD,
        s"orc meta: expected zstd, got ${t.getPostscript.getCompression} in $p")
      require(t.getFooter.getStripesList.asScala.map(_.getNumberOfRows).sum == rows,
        s"orc meta: stripe rows drift in $p")
      // column 0 is the root struct; event_id is column 1 (schema order)
      require(t.getFooter.getStatisticsCount > 1, s"orc meta: no event_id stats in $p")
      val idStats = t.getFooter.getStatistics(1)
      require(idStats.hasIntStatistics, s"orc meta: event_id has no int stats in $p")
      val ints = idStats.getIntStatistics
      require(idStats.getNumberOfValues == rows && !idStats.getHasNull,
        s"orc meta: event_id stats inconsistent in $p")
      require(ints.hasMinimum && ints.hasMaximum, s"orc meta: no min/max in $p")
      (rows, ints.getMinimum, ints.getMaximum)
    }
    import s.implicits._
    perFile.toDF("rows", "mn", "mx")
      .agg(
        sum(col("rows")).cast("long").as("total_rows"),
        min(col("mn")).cast("long").as("min_event_id"),
        max(col("mx")).cast("long").as("max_event_id"))
  }

  private val writtenDirs = scala.collection.mutable.Set.empty[String]

  /** ORC write and read cycle under the oracle: five event columns
    * are written as snappy ORC by `df.write.orc` once per JVM (bench
    * passes re-enter the lane; the write is the fixture build, spread
    * so the read side gets one stripe per core), read back with
    * `spark.read.orc` and aggregated per type; DuckDB re-derives every
    * value from the parquet the ORC was written from. A deterministic
    * ~1/7 slice of the read is written again and read back, and both
    * sides must aggregate row-equal in-lane. */
  def readQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    def agg(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        sum(col("user_id")).as("sum_uid"),
        max(col("ts")).as("max_ts"),
        round(sum(col("value")), 3).as("sum_value"))
      .orderBy(col("event_type"))
    val outA = s"/tmp/graft_orc_data/$tag"
    writtenDirs.synchronized {
      if (!writtenDirs.contains(outA)) {
        graft.Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .repartition(s.sparkContext.defaultParallelism)
          .write.mode("overwrite").option("compression", "snappy").orc(outA)
        writtenDirs += outA
      }
    }
    val read = s.read.orc(outA)
    val slice = read.filter(col("event_id") % 7 === 0)
    val outB = s"/tmp/graft_orc_data_w/$tag"
    slice.write.mode("overwrite").option("compression", "snappy").orc(outB)
    val a = agg(slice).collect().toSeq
    val b = agg(s.read.orc(outB)).collect().toSeq
    require(a == b, s"orc cycle drift: read slice gave $a, write-read cycle gave $b")
    agg(read)
  }
}
