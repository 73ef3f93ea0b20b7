package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` columns
  * with typed metadata, plus the decode / feature-extract plumbing a
  * 100 TB training-data pipeline needs.
  *
  * The still-image and PCM-audio decode kernels are REAL pure-JVM
  * codecs — PNG + baseline JPEG ([[decodeImage]] over
  * `graft.raster.Png`/`graft.raster.Jpeg`) and WAV ([[Wav]]) — so
  * stats/resize/pHash/thumbnails/duration operate on actual pixels
  * and samples. Only payloads no built codec covers (video
  * containers, compressed audio, the text-derived fixture bytes)
  * fall back to a deterministic byte-plane fake in `StubCodecs`,
  * which is also what keeps the oracle rows SQL-recomputable.
  */
object Multimodal {

  /** Typed metadata carried alongside the opaque payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)
  ))

  /** Decode kernels. PNG and baseline JPEG payloads decode for REAL
    * through the pure-JVM codecs (`graft.raster.Png`,
    * `graft.raster.Jpeg`) — stats/resize/hash then operate on actual
    * pixel planes. Remaining payloads (the text-derived fixture bytes,
    * or formats whose codecs aren't built: audio, video) fall back to
    * a deterministic byte-plane fake, kept clearly separated here
    * (builder contract: stub only what can't be decoded, keep the
    * plumbing real).
    */
  /** Unified still-image decode: PNG (pure-JVM codec), baseline JPEG
    * (`graft.raster.Jpeg`, ImageIO-conformance-proven), then JPEG
    * 2000 (`graft.raster.Jp2`, lossless Part-1 subset; 8-bit planes
    * fold to the byte-plane Image). Anything else → None and the
    * deterministic byte-plane fallback. */
  def decodeImage(payload: Array[Byte]): Option[graft.raster.Png.Image] =
    graft.raster.Png.decode(payload)
      .orElse(graft.raster.Jpeg.decode(payload))
      .orElse(decodeJp2Image(payload))
      .orElse(graft.raster.Webp.decode(payload))
      .orElse(graft.raster.GifBmp.decodeGif(payload))
      .orElse(graft.raster.GifBmp.decodeBmp(payload))
      .orElse(decodeTiffImage(payload))
      .orElse(graft.raster.Pnm.decode(payload))

  /** Single-band 8-bit TIFF (tiled or stripped, raw/LZW/deflate)
    * through the COG reader; multi-band/deep TIFFs stay None. */
  private def decodeTiffImage(payload: Array[Byte]): Option[graft.raster.Png.Image] = {
    if (payload == null || payload.length < 8) return None
    val magic2 = payload(2) & 0xff
    val magic3 = payload(3) & 0xff
    // classic TIFF (42) and BigTIFF (43) — Cog.parseIfds reads both
    val ii = payload(0) == 'I' && payload(1) == 'I' && (magic2 == 42 || magic2 == 43)
    val mm = payload(0) == 'M' && payload(1) == 'M' && (magic3 == 42 || magic3 == 43)
    if (!ii && !mm) return None
    try {
      val (w, h, px) = graft.raster.Cog.decodeLevel(payload, 0)
      Some(graft.raster.Png.Image(w, h, 1, px.map(_.toByte)))
    } catch { case _: Exception => None }
  }

  private def decodeJp2Image(payload: Array[Byte]): Option[graft.raster.Png.Image] = {
    import graft.raster.Jp2
    if (!Jp2.isJp2(payload) && !Jp2.isJ2k(payload)) return None
    try {
      val img = Jp2.decode(payload)
      if (img.depth > 8) return None // byte-plane pipeline is 8-bit
      val nc = img.channels
      val px = new Array[Byte](img.width * img.height * nc)
      var i = 0
      while (i < img.width * img.height) {
        var c = 0
        while (c < nc) { px(i * nc + c) = img.comps(c)(i).toByte; c += 1 }
        i += 1
      }
      Some(graft.raster.Png.Image(img.width, img.height, nc, px))
    } catch {
      // OutOfMemoryError is an Error, not an Exception: a hostile SIZ header
      // slipping past the pixel budget must not kill the executor JVM
      case _: Exception | _: OutOfMemoryError => None
    }
  }

  object StubCodecs {
    /** Pixel mean/std: real decode for PNG/JPEG, byte-plane stats otherwise. */
    def imageStats(payload: Array[Byte]): (Double, Double) = {
      val plane = decodeImage(payload).map(_.pixels).getOrElse(payload)
      if (plane == null || plane.isEmpty) (0.0, 0.0)
      else {
        var sum = 0.0; var sq = 0.0
        plane.foreach { b => val v = (b & 0xff).toDouble; sum += v; sq += v * v }
        val mean = sum / plane.length
        (mean, math.sqrt(math.max(0, sq / plane.length - mean * mean)))
      }
    }

    /** Real nearest-neighbour image resize for PNG/JPEG payloads → PNG out. */
    def resizeImage(payload: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] =
      decodeImage(payload).map { img =>
        val out = new Array[Byte](outW * outH * img.channels)
        var y = 0
        while (y < outH) {
          val sy = (y.toLong * img.height / outH).toInt
          var x = 0
          while (x < outW) {
            val sx = (x.toLong * img.width / outW).toInt
            var c = 0
            while (c < img.channels) {
              out((y * outW + x) * img.channels + c) = img.pixels((sy * img.width + sx) * img.channels + c)
              c += 1
            }
            x += 1
          }
          y += 1
        }
        graft.raster.Png.encode(outW, outH, img.channels, out)
      }

    /** "Resize" = truncate/pad the byte plane deterministically. */
    def resize(payload: Array[Byte], outLen: Int): Array[Byte] = {
      val out = new Array[Byte](outLen)
      if (payload != null && payload.nonEmpty) {
        var i = 0
        while (i < outLen) { out(i) = payload(i % payload.length); i += 1 }
      }
      out
    }

    /** "Frame-sample" = n evenly spaced slices of the payload. */
    def frameSample(payload: Array[Byte], n: Int, frameLen: Int): Seq[Array[Byte]] = {
      if (payload == null || payload.length == 0 || n <= 0) Seq.empty
      else (0 until n).map { i =>
        val start = (payload.length.toLong * i / n).toInt
        payload.slice(start, math.min(start + frameLen, payload.length))
      }
    }
  }

  /** Split an MJPEG stream (concatenated baseline JPEG frames — the
    * payload an MJPEG AVI/RTP carries) into decoded frames. Frame
    * boundaries are SOI..EOI marker pairs; inside entropy data a
    * 0xFF is always stuffed or a RSTn, so EOI is unambiguous
    * (boundary: streams whose APPn segments embed whole JPEGs, e.g.
    * EXIF thumbnails, are out — the frame writers that produce MJPEG
    * do not embed them). */
  def mjpegFrames(payload: Array[Byte]): Seq[graft.raster.Png.Image] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[graft.raster.Png.Image]
    var i = 0
    while (i + 1 < payload.length) {
      if ((payload(i) & 0xFF) == 0xFF && (payload(i + 1) & 0xFF) == 0xD8) {
        var j = i + 2
        var end = -1
        while (j + 1 < payload.length && end < 0) {
          if ((payload(j) & 0xFF) == 0xFF && (payload(j + 1) & 0xFF) == 0xD9) end = j + 2
          j += 1
        }
        if (end < 0) i = payload.length
        else {
          graft.raster.Jpeg.decode(java.util.Arrays.copyOfRange(payload, i, end)).foreach(out += _)
          i = end
        }
      } else i += 1
    }
    out.toSeq
  }

  /** Real frame sampling for MJPEG payloads: decode the frame index
    * set `len·i/n` (the same integer slice math the byte-plane
    * fallback and the q_frame_sample oracle use) and return per-frame
    * (frame_idx, width, height, pixel_mean). */
  def sampleMjpegFrames(payload: Array[Byte], n: Int): Seq[(Int, Int, Int, Double)] = {
    val frames = mjpegFrames(payload)
    if (frames.isEmpty || n <= 0) Seq.empty
    else
      (0 until n).map { i =>
        val f = frames((frames.size.toLong * i / n).toInt)
        var sum = 0.0
        f.pixels.foreach(b => sum += (b & 0xff))
        (i, f.width, f.height, sum / f.pixels.length)
      }
  }

  /** 60-bit dHash (difference/gradient perceptual hash): luminance on
    * a 6×11 grid, one bit per horizontally adjacent cell pair
    * (6 rows × 10 comparisons = 60 bits — the engine-neutral signature
    * width shared with SimHash, so the SAME 15-bit Hamming-block
    * machinery generates near-dup candidates). PNG payloads hash their
    * REAL decoded pixels (grayscale mean per channel, nearest-neighbour
    * grid); other payloads hash the deterministic cycled byte plane
    * ([[StubCodecs.resize]]) the SQL oracle recomputes. Robust to
    * re-encode/resize/brightness shifts — the standard image near-dup
    * signature a multimodal curation pipeline blocks on. */
  def dhash60(payload: Array[Byte]): Long = {
    val grid: Array[Int] = decodeImage(payload) match {
      case Some(img) =>
        val out = new Array[Int](66)
        var y = 0
        while (y < 6) {
          val sy = (y.toLong * img.height / 6).toInt
          var x = 0
          while (x < 11) {
            val sx = (x.toLong * img.width / 11).toInt
            var sum = 0; var c = 0
            while (c < img.channels) { sum += img.pixels((sy * img.width + sx) * img.channels + c) & 0xff; c += 1 }
            out(y * 11 + x) = sum / img.channels
            x += 1
          }
          y += 1
        }
        out
      case None => StubCodecs.resize(payload, 66).map(_ & 0xff)
    }
    var h = 0L
    var y = 0
    while (y < 6) {
      var x = 0
      while (x < 10) {
        if (grid(y * 11 + x) < grid(y * 11 + x + 1)) h |= 1L << (y * 10 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  private val dhashUdf = udf(dhash60 _)

  private val imageStatsUdf = udf { p: Array[Byte] =>
    val (mean, std) = StubCodecs.imageStats(p); Map("mean" -> mean, "std" -> std)
  }
  /** Real audio features for WAV (PCM/ADPCM/G.711) and FLAC payloads
    * (null otherwise). FLAC folds to the same Audio feature shape. */
  private val audioStatsUdf = udf { p: Array[Byte] =>
    decodeAudio(p).map(a => (a.durationMs, a.rms, a.sampleRate, a.channels))
  }

  /** Unified audio decode: the WAV container family, then FLAC. */
  def decodeAudio(p: Array[Byte]): Option[Wav.Audio] =
    Wav.decode(p).orElse {
      if (p != null && p.length > 4 && p(0) == 'f' && p(1) == 'L' && p(2) == 'a' && p(3) == 'C')
        try {
          val s = Flac.decode(p)
          Some(Wav.Audio(s.sampleRate, s.channels, s.bitsPerSample, s.samples))
        } catch { case _: Exception => None }
      else if (Vorbis.isVorbis(p))
        try Some(Vorbis.decodeToAudio(p))
        catch { case _: Exception => None }
      else None
    }
  private val resizeUdf = udf((p: Array[Byte], n: Int) => StubCodecs.resize(p, n))
  private val frameSampleUdf = udf((p: Array[Byte], n: Int, len: Int) => StubCodecs.frameSample(p, n, len))

  /** Synthesize a media table from the documents fixture (payload =
    * utf-8 bytes) — keeps the binary-column path testable offline.
    * ASCII-only guard (`octet_length == char length`): the Spark side
    * iterates payload BYTES while the DuckDB oracle iterates text
    * CODEPOINTS, which agree exactly on ASCII — a non-ASCII document in
    * a future fixture would silently diverge, so it is excluded on both
    * sides by the same engine-neutral predicate. */
  def mediaFromDocuments(s: SparkSession, dir: String): DataFrame =
    graft.Tables
      .documents(s, dir)
      .filter(octet_length(col("text")) === length(col("text")))
      .select(
        col("doc_id").as("media_id"),
        lit("image").as("kind"),
        col("text").cast("binary").as("payload"),
        lit("application/octet-stream").as("mime"),
        lit(64).as("width"),
        lit(64).as("height"),
        lit(null).cast("long").as("duration_ms")
      )

  /** Per-row feature extraction over the binary column. The UDF runs
    * executor-side per partition; payload bytes never route through
    * the driver. */
  def extractFeatures(media: DataFrame): DataFrame =
    media
      .withColumn("features", imageStatsUdf(col("payload")))
      .withColumn("audio", audioStatsUdf(col("payload")))
      .select(
        col("media_id"),
        col("kind"),
        col("features")("mean").as("pixel_mean"),
        col("features")("std").as("pixel_std"),
        length(col("payload")).as("payload_bytes"),
        col("audio._1").as("duration_ms"),
        col("audio._2").as("audio_rms"),
        col("audio._3").as("sample_rate"),
        col("audio._4").as("audio_channels")
      )

  /** Batch resize — binary in/binary out, partition-parallel. */
  def resizeAll(media: DataFrame, outLen: Int): DataFrame =
    media.withColumn("payload", resizeUdf(col("payload"), lit(outLen)))

  /** ◆ Media feature extraction under the oracle: byte-plane mean/std
    * via the stub decode over the binary payload column. The UDF runs
    * per partition; the oracle recomputes the same stats from the
    * (ASCII) character codes. */
  def mediaFeaturesQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.round
    extractFeatures(mediaFromDocuments(s, dir))
      .select(
        col("media_id"),
        round(col("pixel_mean"), 4).as("pixel_mean"),
        round(col("pixel_std"), 4).as("pixel_std"),
        col("payload_bytes")
      )
  }

  /** ◆ Batch resize under the oracle: cycle the byte plane to a fixed
    * 32-byte output, digest-compared (the oracle rebuilds the cycled
    * prefix with repeat+substr over the ASCII payload). */
  def resizeQuery(s: SparkSession, dir: String): DataFrame =
    resizeAll(mediaFromDocuments(s, dir).filter(length(col("payload")) > 0), outLen = 32)
      .select(col("media_id"), md5(col("payload")).as("resized_md5"))

  /** ◆ Frame sampling under the oracle — pure integer slice math
    * (start = len·i/n truncated), one row per frame. */
  def frameSampleQuery(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaFromDocuments(s, dir), nFrames = 4, frameLen = 16)
      .select(col("media_id"), col("frame_idx"), col("frame_bytes"))

  /** Aspect-preserving thumbnail target size — the reference's
    * `computeThumbTargetSize` (`thumbs.cpp:278-296`): long edge pinned
    * to `thumbSize`, short edge scaled and TRUNCATED, floor 1 px.
    * (Double ratio math here — bit-identical across engines — where the
    * reference uses float32; same truncation semantics.) */
  def thumbTarget(w: Int, h: Int, thumbSize: Int): (Int, Int) =
    if (w > h) (thumbSize, math.max(1, (thumbSize.toDouble / w * h).toInt))
    else (math.max(1, (thumbSize.toDouble / h * w).toInt), thumbSize)

  private val thumbUdf = udf { (p: Array[Byte], mw: Int, mh: Int, tsz: Int) =>
    decodeImage(p) match {
      case Some(img) => // real path: decode → aspect-fit nearest resize → PNG
        val (ow, oh) = thumbTarget(img.width, img.height, tsz)
        (ow, oh, StubCodecs.resizeImage(p, ow, oh).get)
      case None => // fallback: deterministic cycled byte plane at the target size
        val (ow, oh) = thumbTarget(mw, mh, tsz)
        (ow, oh, StubCodecs.resize(p, ow * oh))
    }
  }.asNondeterministic() // pins the kernel ABOVE a Spread exchange (see operators.Spread)

  /** ◆ Thumbnail generation (`thumbs.cpp` minus GDAL): PNG payloads get
    * a REAL decoded, aspect-fit, re-encoded thumbnail; undecodable
    * payloads get the deterministic byte plane at the same target size,
    * which is what makes the operator oracle-checkable (q_thumb:
    * DuckDB recomputes target dims and the cycled plane digest). */
  def thumbnails(media: DataFrame, thumbSize: Int = 256): DataFrame =
    media
      .withColumn("t", thumbUdf(col("payload"), col("width"), col("height"), lit(thumbSize)))
      .select(
        col("media_id"),
        col("t._1").as("thumb_w"),
        col("t._2").as("thumb_h"),
        col("t._3").as("thumb")
      )

  def thumbQuery(s: SparkSession, dir: String): DataFrame = {
    val media = mediaFromDocuments(s, dir)
      .filter(length(col("payload")) > 0)
      // per-row source dims derived from the id (the fixture metadata is
      // constant 64×64 — useless for exercising the aspect math)
      .withColumn("width", (lit(100) + col("media_id") % 900).cast("int"))
      .withColumn("height", (lit(100) + (col("media_id") * 7) % 900).cast("int"))
    // the 500-row media frame reads as ONE scan task (single small
    // parquet file) and the resize kernel is the whole lane cost — the
    // Spread exchange moves ~10 MB once so the kernel runs 32-wide
    thumbnails(graft.operators.Spread.wide(media), 256)
      .select(col("media_id"), col("thumb_w"), col("thumb_h"), md5(col("thumb")).as("thumb_md5"))
      .orderBy(col("media_id"))
  }

  /** Perceptual hash per media row — the signature table image dedup
    * blocks on. */
  def phash(media: DataFrame): DataFrame =
    media.select(col("media_id"), dhashUdf(col("payload")).as("phash"))

  /** ◆ Perceptual image near-dup candidates — the multimodal × dedup
    * bridge: dHash signatures feed EXACTLY the SimHash Hamming-block
    * generator ([[graft.text.Dedup.hammingCandidates]], 15-bit blocks,
    * pigeonhole-complete for Hamming ≤ 3, no N² compare). */
  def phashCandidates(media: DataFrame, maxHamming: Int = 3): DataFrame =
    graft.text.Dedup.hammingCandidates(
      media.select(col("media_id").as("id"), dhashUdf(col("payload")).as("sig")),
      maxHamming
    )

  /** ◆ dHash under the oracle: the deterministic byte-plane path over
    * the documents-derived media fixture — DuckDB rebuilds the 66-cell
    * cycled grid from the ASCII codes and re-derives all 60 comparison
    * bits. */
  def phashQuery(s: SparkSession, dir: String): DataFrame =
    phash(mediaFromDocuments(s, dir).filter(length(col("payload")) > 0))
      .orderBy(col("media_id"))

  /** Frame sampling: one row per sampled frame (explode), the shape a
    * video pipeline needs before per-frame inference. */
  def sampleFrames(media: DataFrame, nFrames: Int, frameLen: Int): DataFrame =
    media
      .select(col("media_id"), posexplode(frameSampleUdf(col("payload"), lit(nFrames), lit(frameLen))).as(Seq("frame_idx", "frame")))
      .withColumn("frame_bytes", length(col("frame")))
}
