package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Zstd dictionary TRAINING — the shared-dictionary shard-compression
  * shape a 100 TB corpus of small documents needs (per-shard dicts
  * trained on the shard's own docs; each doc compresses against the
  * dict instead of from cold).
  *
  * The trainer is FastCover-flavored (the published zstd fastCover
  * approach: hash d-mer frequencies once, then per epoch slide a
  * k-byte window with an incremental frequency-sum score, take the
  * best segment, and zero its d-mers so later epochs diversify). It
  * emits a RAW-CONTENT dictionary — RFC 8878 §5 explicitly allows
  * dictionaries that are raw content without the trained magic — with
  * the most valuable segment LAST, where backward match offsets from
  * the data start are shortest. Raw-content dicts load into libzstd
  * through the `Zstd.encode`/`decode` dict params; ZstdDictSpec checks
  * that they help and that zstd-jni's own ZstdDictTrainer output
  * (trained magic + entropy tables) decodes through the same path.
  *
  * Scale shape of [[dictQuery]]: one dictionary per (event_type,
  * id DIV 4096) bucket — training data never leaves the task, the
  * dict is O(dictSize) per bucket, and every doc round-trips through
  * libzstd inside the task. */
object ZstdDict {

  private final val D = 8 // d-mer width (bytes hashed per position)
  private final val HashBits = 17

  @inline private def dmerHash(b: Array[Byte], i: Int): Int = {
    var h = 0L
    var j = 0
    while (j < D) { h = h * 0x9e3779b185ebca87L + (b(i + j) & 0xff); j += 1 }
    (h >>> (64 - HashBits)).toInt
  }

  /** Train a raw-content dictionary of at most `dictSize` bytes from
    * `samples` (segment length `k`). Deterministic: same samples →
    * same bytes. Empty/short corpora yield an empty dict (compressing
    * with an empty dict is plain compression). */
  def train(samples: Seq[Array[Byte]], dictSize: Int, k: Int = 512): Array[Byte] = {
    require(dictSize >= 0 && dictSize <= (16 << 20), s"zstd dict: size $dictSize")
    require(k >= D && k <= (1 << 20), s"zstd dict: segment length $k")
    val usable = samples.filter(_.length >= D)
    if (usable.isEmpty || dictSize < k) return Array.emptyByteArray
    val freq = new Array[Int](1 << HashBits)
    usable.foreach { s =>
      var i = 0
      val end = s.length - D
      while (i <= end) { freq(dmerHash(s, i)) += 1; i += 1 }
    }
    val epochs = dictSize / k
    val segments = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var e = 0
    while (e < epochs) {
      // best k-byte window across all samples under the current freqs
      var bestScore = 0L
      var bestSample = -1
      var bestAt = 0
      usable.indices.foreach { si =>
        val s = usable(si)
        if (s.length >= D) {
          val win = math.min(k, s.length)
          var score = 0L
          var i = 0
          val lastAdd = win - D
          while (i <= lastAdd) { score += freq(dmerHash(s, i)); i += 1 }
          if (score > bestScore) { bestScore = score; bestSample = si; bestAt = 0 }
          var start = 1
          val lastStart = s.length - win
          while (start <= lastStart) {
            score -= freq(dmerHash(s, start - 1))
            score += freq(dmerHash(s, start + win - D))
            if (score > bestScore) { bestScore = score; bestSample = si; bestAt = start }
            start += 1
          }
        }
      }
      if (bestSample < 0 || bestScore == 0) e = epochs // nothing left worth covering
      else {
        val s = usable(bestSample)
        val win = math.min(k, s.length)
        segments += java.util.Arrays.copyOfRange(s, bestAt, bestAt + win)
        // zero the segment's d-mers so the next epoch diversifies
        var i = bestAt
        val stop = bestAt + win - D
        while (i <= stop) { freq(dmerHash(s, i)) = 0; i += 1 }
        e += 1
      }
    }
    // most valuable segment LAST (shortest backward offsets win)
    val out = new java.io.ByteArrayOutputStream()
    segments.reverse.foreach(seg => out.write(seg, 0, seg.length))
    val all = out.toByteArray
    if (all.length <= dictSize) all
    else java.util.Arrays.copyOfRange(all, all.length - dictSize, all.length)
  }

  // ------------------------------------------------------------ q lane

  /** The doc each event id expands to (closed form shared with the
    * oracle SQL — keep both in sync). */
  def docOf(id: Long): String =
    s"""{"id":$id,"type":"evt","payload":"p${id % 13}","flag":${id % 2 == 0}}"""

  /** Per (event_type, id DIV 4096) bucket: expand ids to templated
    * JSON docs, train a bucket dictionary, and round-trip EVERY doc
    * through [[Zstd]] with the bucket dict, byte-exactly. A 1-in-8
    * sample is also compressed without the dict and carries the
    * dict-must-help require (dict-compressed < dict-less on identical
    * docs). Output closed forms: n_docs + total doc chars per
    * event_type. */
  def dictQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val docs = sorted.map(id => docOf(id).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val dict = train(docs.toSeq, dictSize = 1024, k = 64)
      var chars = 0L
      var withDict = 0L
      var without = 0L
      var i = 0
      while (i < docs.length) {
        val doc = docs(i)
        chars += doc.length
        val frame = Zstd.encode(doc, dict = dict)
        require(java.util.Arrays.equals(Zstd.decode(frame, dict), doc),
          "zstd dict lane: dict round-trip drifted")
        if (i % 8 == 0) {
          withDict += frame.length
          without += Zstd.encode(doc).length
        }
        i += 1
      }
      if (docs.length >= 256)
        require(withDict < without, s"zstd dict lane: dictionary did not help ($withDict vs $without)")
      Seq(docs.length.toLong, chars)
    }.asNondeterministic() // pins the kernel ABOVE the Spread exchange (see Spread)
    graft.operators.Spread.wide(
      graft.Tables
        .eventsRaw(s, dir)
        .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
        .agg(collect_list($"event_id").as("ids")))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_docs"),
        sum($"c".getItem(1)).cast("long").as("total_chars"))
      .orderBy($"event_type")
  }
}
