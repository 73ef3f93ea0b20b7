package graft

import graft.ArrowJava._
import graft.sources.ArrowIpc
import org.apache.spark.sql.streaming.Trigger

/** Streaming twin for Arrow shards: files dropped in a directory are
  * ingested continuously; file (.arrow) and stream (.arrows) framing
  * coexist; the streamed union equals the batch read. */
class StreamArrowSpec extends SparkSuite {

  test("arrow shard landing zone: streamed rows equal the batch decode, both framings") {
    val dir = java.nio.file.Files.createTempDirectory("arrowstream")
    try {
      val shards = schema(int64("id", nullable = false), utf8("tag"))
      def cols(from: Int, n: Int): Array[Array[Any]] = Array(
        Array.tabulate[Any](n)(i => java.lang.Long.valueOf(from + i.toLong)),
        Array.tabulate[Any](n)(i => s"t${(from + i) % 7}"))
      // one FILE-format shard (zstd) and one STREAM-format shard, both
      // written by Arrow Java
      java.nio.file.Files.write(dir.resolve("a.arrow"), file(shards, Seq((cols(0, 40), 40)), Zstd))
      java.nio.file.Files.write(dir.resolve("b.arrows"), stream(shards, Seq((cols(40, 25), 25))))
      val sparkSchemaExp = ArrowIpc.sparkSchema(shards)
      val q = ArrowIpc.rowsStream(spark, dir.toString, sparkSchemaExp)
        .writeStream.format("memory").queryName("arrow_stream_test")
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.processAllAvailable()
        val got = spark.sql("select id, tag from arrow_stream_test order by id").collect()
        assert(got.length == 65)
        assert(got(0).getLong(0) == 0L && got(64).getLong(0) == 64L)
        assert(got(10).getString(1) == s"t${10 % 7}")
      } finally q.stop()
      // schema drift fails loudly
      val wrong = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("other", org.apache.spark.sql.types.LongType)))
      val q2 = ArrowIpc.rowsStream(spark, dir.toString, wrong)
        .writeStream.format("memory").queryName("arrow_stream_bad")
        .trigger(Trigger.AvailableNow()).start()
      try {
        val e = intercept[Exception] { q2.processAllAvailable() }
        def mentions(t: Throwable): Boolean =
          t != null && (Option(t.getMessage).exists(_.contains("schema drift")) || mentions(t.getCause))
        assert(mentions(e), s"unexpected: $e")
      } finally q2.stop()
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }
}
