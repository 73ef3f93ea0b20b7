package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded `events` and `documents` tables for the analytics lanes, in
  * the layout `graft.Tables` loads (`<dir>/<name>.parquet`, `events.ts`
  * as TIMESTAMP_NTZ micros). The value shapes follow the program's
  * testdata: five event types, 150 users, two-decimal values, a
  * `{"k": n}` props blob; documents drawn from a small technical
  * vocabulary across five languages and twenty sources. */
object TableGen {
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType), StructField("props", StringType)))
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  /** Rows of both tables and the digest over them. */
  def rows(seed: Long, nEvents: Int, nDocs: Int): (Seq[Row], Seq[Row], String) = {
    val r = new SplittableRandom(seed)
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    val events = (0 until nEvents).map { i =>
      val ts = t0.plusNanos((i * stepMicros + r.nextLong(stepMicros)) * 1000L)
      Row(i.toLong, ts, r.nextInt(150).toLong, eventTypes(r.nextInt(eventTypes.length)),
        (1 + r.nextInt(49002)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    val docs = (0 until nDocs).map { i =>
      val n = 8 + r.nextInt(80)
      val text = (0 until n).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val md = MessageDigest.getInstance("SHA-256")
    (events ++ docs).foreach(row => md.update((row.toString + "\n").getBytes(UTF_8)))
    (events, docs, TreeGen.hex(md.digest()))
  }

  def write(spark: SparkSession, dir: String, events: Seq[Row], docs: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(events.asJava, eventsSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.createDataFrame(docs.asJava, documentsSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
