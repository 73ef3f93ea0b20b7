package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Parquet, the lake format every table here is stored in, behind one
  * facade over parquet-hadoop 1.16 (parquet-mr, Spark's own reader):
  *
  *  - the FOOTER catalog — [[chunks]], one row per column chunk
  *    (codec, encodings, value counts, byte sizes, dictionary presence,
  *    int32/int64 stats): the compaction-planning and codec-audit
  *    surface the Spark reader executes internally but never exposes
  *    as data. Each task reads only its files' tails through
  *    `ParquetFileReader.open(...).getFooter`; no page data is touched.
  *  - the two lanes: q_parquet_meta (footer stats restated relationally
  *    by the oracle) and q_parquet_read (`spark.read.parquet` over the
  *    same events table DuckDB scans, plus a `df.write.parquet` →
  *    read-back require on a slice).
  *
  * Untrusted-bytes contract: the facade checks the tail ("PAR1" magic,
  * a declared footer length that fits in the file) before the library
  * sees the bytes, so a hostile length cannot make it allocate; every
  * `IOException`/`RuntimeException` the library throws surfaces as
  * [[ParquetMeta.ParquetMetaError]] naming the file. */
object ParquetMeta {

  final class ParquetMetaError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new ParquetMetaError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  /** One Hadoop configuration per JVM; footer reads only get from it. */
  private lazy val conf = new Configuration()

  /** The footer of `path`, read by parquet-mr after the tail checks. */
  def readFooter(path: String): ParquetMetadata =
    try {
      val file = HadoopInputFile.fromPath(new Path(path), conf)
      val len = file.getLength
      req(len >= 12, s"parquet: $path is a file of $len bytes")
      val tail = new Array[Byte](8)
      val in = file.newStream()
      try { in.seek(len - 8); in.readFully(tail) }
      finally in.close()
      req(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' && tail(7) == '1', s"parquet: bad tail magic in $path")
      val fLen = Bytes.le32(tail, 0)
      req(fLen > 0 && fLen <= len - 12, s"parquet: footer length $fLen in the $len-byte file $path")
      val r = ParquetFileReader.open(file)
      try r.getFooter
      finally r.close()
    } catch {
      case e: ParquetMetaError => throw e
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        fail(s"parquet: malformed footer in $path (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  // ---------------------------------------------------------- Spark face

  private val ChunkSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("row_group", IntegerType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("physical_type", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("encodings", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("num_values", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("uncompressed_bytes", LongType, nullable = false),
    StructField("has_dictionary", BooleanType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("min_int64", LongType, nullable = true),
    StructField("max_int64", LongType, nullable = true),
    StructField("rg_rows", LongType, nullable = false)))

  /** One row per column chunk across `paths` — the catalog/ops view.
    * Executors read tails only. Physical types carry their
    * parquet-format names (BYTE_ARRAY, not parquet-mr's BINARY);
    * encodings are sorted by name. */
  def chunks(spark: SparkSession, paths: Seq[String]): DataFrame = {
    req(paths.nonEmpty, "parquet: no paths")
    val rdd = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism)))
      .flatMap { p =>
        readFooter(p).getBlocks.asScala.zipWithIndex.flatMap { case (rg, gi) =>
          rg.getColumns.asScala.map { c =>
            val st = c.getStatistics
            val (mn, mx) = st match {
              case l: LongStatistics if l.hasNonNullValue => (Long.box(l.getMin), Long.box(l.getMax))
              case i: IntStatistics if i.hasNonNullValue => (Long.box(i.getMin.toLong), Long.box(i.getMax.toLong))
              case _ => (null, null)
            }
            Row(
              p, gi, c.getPath.toDotString,
              c.getPrimitiveType.getPrimitiveTypeName match {
                case PrimitiveTypeName.BINARY => "BYTE_ARRAY"
                case t => t.name
              },
              c.getCodec.name,
              c.getEncodings.asScala.toSeq.map(_.name).sorted,
              c.getValueCount, c.getTotalSize, c.getTotalUncompressedSize,
              c.hasDictionaryPage,
              if (st != null && st.isNumNullsSet) Long.box(st.getNumNulls) else null,
              mn, mx,
              rg.getRowCount)
          }
        }
      }
    spark.createDataFrame(rdd, ChunkSchema)
  }

  // ------------------------------------------------------------ q lanes

  /** Footer-only stats over the events table's parquet files: per
    * file, sum of row-group rows and the chunk-stat min/max of
    * event_id — then aggregated so the oracle can restate everything
    * relationally (count(*), min, max over the same table DuckDB
    * reads). A require gates internal consistency: per-chunk
    * num_values of the required event_id column must equal its
    * row-group's rows, and every chunk must carry int64 stats. */
  def metaQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = {
      val d = new java.io.File(dir, "events.parquet")
      if (d.isDirectory)
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
      else Seq(d.getPath)
    }
    val df = chunks(s, files).where(col("column") === "event_id")
    // internal-consistency gate, distributed (no driver data)
    val gate = udf { (numValues: Long, rgRows: Long, mn: java.lang.Long, mx: java.lang.Long) =>
      require(numValues == rgRows, s"parquet meta: event_id num_values $numValues != rg rows $rgRows")
      require(mn != null && mx != null && mn <= mx, "parquet meta: missing or inverted int64 stats")
      true
    }
    df.where(gate(col("num_values"), col("rg_rows"), col("min_int64"), col("max_int64")))
      .agg(
        sum(col("rg_rows")).cast("long").as("total_rows"),
        min(col("min_int64")).cast("long").as("min_event_id"),
        max(col("max_int64")).cast("long").as("max_event_id"))
  }

  /** Parquet read and write cycle under the oracle: `spark.read.parquet`
    * reads the SAME pyarrow-written events.parquet DuckDB scans and
    * aggregates it per event type; a deterministic ~1/7 slice is
    * written with `df.write.parquet` (snappy) and read back, and both
    * sides of the slice must aggregate row-equal in-lane. */
  def readQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
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
    val src = graft.Tables.eventsNtz(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val slice = src.filter(col("event_id") % 7 === 0)
    val out = s"/tmp/graft_pq_w/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    slice.write.mode("overwrite").option("compression", "snappy").parquet(out)
    val a = agg(slice).collect().toSeq
    val b = agg(s.read.parquet(out)).collect().toSeq
    require(a == b, s"parquet cycle drift: read slice gave $a, write-read cycle gave $b")
    agg(src)
  }
}
