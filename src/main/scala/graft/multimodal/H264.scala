package graft.multimodal

import scala.collection.mutable.ArrayBuffer

/** H.264/AVC (ITU-T H.264 / ISO 14496-10) — the video half of the
  * media tier. The reference hands video to ffmpeg-style probing and
  * never decodes frames; here the container and bitstream plumbing
  * are real and a spec-conformant lossless subset decodes to pixels:
  *
  *  - NAL layer: Annex-B start codes, emulation-prevention
  *    (0x000003) insertion/removal, RBSP trailing bits.
  *  - Exp-Golomb (ue/se) bit IO.
  *  - SPS/PPS write + parse (baseline, 4:2:0, frame_mbs_only,
  *    cropping for non-multiple-of-16 sizes; CAVLC entropy mode).
  *  - IDR slices whose macroblocks are all I_PCM (mb_type 25): raw
  *    4:2:0 samples, byte-aligned — the profile's lossless escape
  *    hatch, decodable by ANY H.264 decoder.
  *  - Decoder for exactly that subset, with named refusals for
  *    predictively-coded macroblocks (CAVLC/CABAC residual decode is
  *    out of the subset and documented as such).
  *
  * `Mp4Mux` packages streams as real ISO-BMFF (avc1 + avcC +
  * stts/stsz/stco sample tables, length-prefixed NALs in mdat) and
  * reads its own — plus any single-track avc1 file's — samples back.
  * Boundary vs the reference: entry.cpp's Video path reads metadata
  * only; drone H.264 with inter prediction still yields metadata, not
  * frames (documented).
  */
object H264 {

  /** One decoded frame: 4:2:0 planes (luma w×h, chroma (w/2)×(h/2) padded). */
  final case class Frame(width: Int, height: Int, y: Array[Byte], cb: Array[Byte], cr: Array[Byte])

  // ------------------------------------------------------------ RBSP bit IO

  private final class BitWriter {
    val out = ArrayBuffer.empty[Byte]
    private var acc = 0
    private var n = 0
    def u(v: Long, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1L).toInt
        n += 1
        if (n == 8) { out += acc.toByte; acc = 0; n = 0 }
        i -= 1
      }
    }
    def ue(v: Int): Unit = {
      val x = v + 1
      val bits = 32 - Integer.numberOfLeadingZeros(x)
      u(0, bits - 1)
      u(x.toLong, bits)
    }
    def se(v: Int): Unit = ue(if (v <= 0) -2 * v else 2 * v - 1)
    def trailing(): Unit = { u(1, 1); if (n != 0) u(0, 8 - n) }
    def alignedZeroBits(): Unit = if (n != 0) u(0, 8 - n)
    def raw(b: Byte): Unit = { require(n == 0, "h264: raw write unaligned"); out += b }
  }

  private final class BitReader(b: Array[Byte]) {
    var pos = 0
    private var bit = 0
    def u(bits: Int): Long = {
      var v = 0L
      var i = 0
      while (i < bits) {
        require(pos < b.length, "h264: truncated rbsp")
        v = (v << 1) | ((b(pos) >> (7 - bit)) & 1)
        bit += 1
        if (bit == 8) { bit = 0; pos += 1 }
        i += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0L) { zeros += 1; require(zeros < 32, "h264: bad ue(v)") }
      ((1L << zeros) - 1 + u(zeros)).toInt
    }
    def se(): Int = { val k = ue(); if ((k & 1) == 1) (k + 1) / 2 else -(k / 2) }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    def raw(): Byte = {
      require(bit == 0, "h264: raw read unaligned")
      require(pos < b.length, "h264: truncated rbsp")
      val v = b(pos); pos += 1; v
    }
    def more: Boolean = pos < b.length
  }

  // ------------------------------------------------------------ NAL layer

  /** RBSP → EBSP: insert emulation-prevention 0x03 after 0x0000 when
    * the next byte is 0x00..0x03. */
  def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](rbsp.length + 16)
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3.toByte; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** EBSP → RBSP: strip emulation-prevention bytes. */
  def unescapeRbsp(ebsp: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = ebsp(i)
      if (zeros >= 2 && b == 3 && i + 1 < until && (ebsp(i + 1) & 0xff) <= 3) {
        zeros = 0 // skip the emulation-prevention byte
      } else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  private def nalUnit(nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    Array(((0 << 7) | (3 << 5) | nalType).toByte) ++ escapeRbsp(rbsp) // nal_ref_idc=3

  /** Split an Annex-B stream into NAL units (without start codes). */
  def splitAnnexB(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val nals = ArrayBuffer.empty[Array[Byte]]
    var i = 0
    var start = -1
    while (i + 2 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        if (start >= 0) {
          var end = i
          while (end > start && bytes(end - 1) == 0) end -= 1 // trailing zeros belong to the next start code
          nals += java.util.Arrays.copyOfRange(bytes, start, end)
        }
        start = i + 3
        i += 3
      } else i += 1
    }
    if (start >= 0 && start <= bytes.length)
      nals += java.util.Arrays.copyOfRange(bytes, start, bytes.length)
    nals.toSeq
  }

  // ------------------------------------------------------------ encode

  private def ceil16(v: Int): Int = (v + 15) / 16 * 16

  /** SPS for baseline 4:2:0, frame_mbs_only, POC type 2, with
    * cropping when width/height are not multiples of 16. */
  def spsRbsp(width: Int, height: Int): Array[Byte] = {
    val w = new BitWriter
    w.u(66, 8) // profile_idc baseline
    w.u(0xC0, 8) // constraint_set0+1, reserved
    w.u(30, 8) // level 3.0
    w.ue(0) // sps id
    w.ue(4) // log2_max_frame_num_minus4 → frame_num 8 bits
    w.ue(2) // pic_order_cnt_type 2 (decode order)
    w.ue(0) // max_num_ref_frames
    w.u(0, 1) // gaps_in_frame_num_allowed
    w.ue(ceil16(width) / 16 - 1)
    w.ue(ceil16(height) / 16 - 1)
    w.u(1, 1) // frame_mbs_only
    w.u(1, 1) // direct_8x8_inference
    val cropR = (ceil16(width) - width) / 2 // 4:2:0 crop units: 2 px horizontal
    val cropB = (ceil16(height) - height) / 2
    if (cropR > 0 || cropB > 0) {
      w.u(1, 1) // frame_cropping
      w.ue(0); w.ue(cropR); w.ue(0); w.ue(cropB)
    } else w.u(0, 1)
    w.u(0, 1) // vui_parameters_present
    w.trailing()
    w.out.toArray
  }

  def ppsRbsp(): Array[Byte] = {
    val w = new BitWriter
    w.ue(0) // pps id
    w.ue(0) // sps id
    w.u(0, 1) // entropy_coding_mode: CAVLC
    w.u(0, 1) // bottom_field_pic_order_present
    w.ue(0) // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx defaults
    w.u(0, 1) // weighted_pred
    w.u(0, 2) // weighted_bipred
    w.se(0) // pic_init_qp_minus26
    w.se(0) // pic_init_qs_minus26
    w.se(0) // chroma_qp_index_offset
    w.u(1, 1) // deblocking_filter_control_present
    w.u(0, 1) // constrained_intra_pred
    w.u(0, 1) // redundant_pic_cnt_present
    w.trailing()
    w.out.toArray
  }

  /** One IDR frame, all macroblocks I_PCM — raw 4:2:0 samples inside
    * a conformant slice. `y` is width×height; `cb`/`cr` are
    * ceil(w/2)×ceil(h/2) of the PADDED (mb-aligned) frame or the
    * exact half-planes; sampling reads with edge clamp. */
  def idrSliceRbsp(width: Int, height: Int, frame: Frame, idrPicId: Int): Array[Byte] = {
    val w = new BitWriter
    w.ue(0) // first_mb_in_slice
    w.ue(7) // slice_type: I (all slices)
    w.ue(0) // pps id
    w.u(0, 8) // frame_num (8 bits per SPS)
    w.ue(idrPicId)
    w.u(0, 1) // no_output_of_prior_pics... (dec_ref_pic_marking for IDR: 2 flags)
    w.u(0, 1) // long_term_reference_flag
    w.se(0) // slice_qp_delta
    w.ue(0) // disable_deblocking_filter_idc (present: control flag set in PPS)... 0 keeps filter; harmless for I_PCM
    w.se(0); w.se(0) // alpha/beta offsets
    val mbw = ceil16(width) / 16
    val mbh = ceil16(height) / 16
    val cw = (width + 1) / 2
    def lum(x: Int, y0: Int): Int = {
      val xx = math.min(x, width - 1); val yy = math.min(y0, height - 1)
      frame.y(yy * width + xx) & 0xff
    }
    def chr(p: Array[Byte], x: Int, y0: Int): Int = {
      val ch = (height + 1) / 2
      val xx = math.min(x, cw - 1); val yy = math.min(y0, ch - 1)
      p(yy * cw + xx) & 0xff
    }
    var mby = 0
    while (mby < mbh) {
      var mbx = 0
      while (mbx < mbw) {
        w.ue(25) // mb_type I_PCM
        w.alignedZeroBits() // pcm_alignment_zero_bit(s)
        var i = 0
        while (i < 256) { w.raw(lum(mbx * 16 + i % 16, mby * 16 + i / 16).toByte); i += 1 }
        i = 0
        while (i < 64) { w.raw(chr(frame.cb, mbx * 8 + i % 8, mby * 8 + i / 8).toByte); i += 1 }
        i = 0
        while (i < 64) { w.raw(chr(frame.cr, mbx * 8 + i % 8, mby * 8 + i / 8).toByte); i += 1 }
        mbx += 1
      }
      mby += 1
    }
    w.trailing()
    w.out.toArray
  }

  /** Encode frames as an Annex-B stream: SPS, PPS, then one IDR
    * slice NAL per frame. All frames must share dimensions. */
  def encodeAnnexB(frames: Seq[Frame]): Array[Byte] = {
    require(frames.nonEmpty, "h264: no frames")
    val w0 = frames.head.width; val h0 = frames.head.height
    require(w0 % 2 == 0 && h0 % 2 == 0, "h264: 4:2:0 crop units are 2px — even dimensions required")
    require(frames.forall(f => f.width == w0 && f.height == h0), "h264: frame size drift")
    val out = new ArrayBuffer[Byte]()
    def emit(nal: Array[Byte]): Unit = { out ++= Array[Byte](0, 0, 0, 1); out ++= nal }
    emit(nalUnit(7, spsRbsp(w0, h0)))
    emit(nalUnit(8, ppsRbsp()))
    frames.zipWithIndex.foreach { case (f, i) => emit(nalUnit(5, idrSliceRbsp(w0, h0, f, i % 2))) }
    out.toArray
  }

  // ------------------------------------------------------------ decode

  final case class Sps(width: Int, height: Int, log2MaxFrameNum: Int, pocType: Int, pocLsbBits: Int,
                       cropL: Int, cropR: Int, cropT: Int, cropB: Int, mbW: Int, mbH: Int)

  final case class Pps(deblockingControlPresent: Boolean)

  def parseSps(rbsp: Array[Byte]): Sps = {
    val r = new BitReader(rbsp)
    val profile = r.u(8).toInt
    r.u(8) // constraints
    r.u(8) // level
    r.ue() // sps id
    // every profile that carries the chroma_format_idc SPS extension block
    val extended = Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 134, 135, 138, 139)
    require(!extended.contains(profile), "h264: high-profile SPS extensions unsupported")
    val log2MaxFrameNum = r.ue() + 4
    val pocType = r.ue()
    var pocLsbBits = 0
    if (pocType == 0) pocLsbBits = r.ue() + 4
    else if (pocType == 1) {
      r.u(1); r.se(); r.se()
      val n = r.ue()
      (0 until n).foreach(_ => r.se())
    }
    r.ue() // max refs
    r.u(1)
    val mbW = r.ue() + 1
    val mbH = r.ue() + 1
    require(mbW <= 1024 && mbH <= 1024, "h264: picture size out of supported range") // ≤ 16K×16K
    val frameMbsOnly = r.u(1) == 1
    require(frameMbsOnly, "h264: interlaced (field) coding unsupported")
    r.u(1) // direct_8x8
    var (cl, cr2, ct, cb2) = (0, 0, 0, 0)
    if (r.u(1) == 1) { cl = r.ue(); cr2 = r.ue(); ct = r.ue(); cb2 = r.ue() }
    val width = mbW * 16 - 2 * (cl + cr2)
    val height = mbH * 16 - 2 * (ct + cb2)
    require(width > 0 && height > 0, "h264: cropping consumes the whole frame")
    require(log2MaxFrameNum <= 16 && pocLsbBits <= 16, "h264: frame-number field width out of range")
    Sps(width, height, log2MaxFrameNum, pocType, pocLsbBits, cl, cr2, ct, cb2, mbW, mbH)
  }

  def parsePps(rbsp: Array[Byte]): Pps = {
    val r = new BitReader(rbsp)
    r.ue(); r.ue() // pps id, sps id
    require(r.u(1) == 0, "h264: CABAC entropy coding unsupported")
    r.u(1) // bottom_field_pic_order_present
    require(r.ue() == 0, "h264: slice groups (FMO) unsupported")
    r.ue(); r.ue() // num_ref_idx defaults
    r.u(1); r.u(2) // weighted pred/bipred
    r.se(); r.se(); r.se() // qp, qs, chroma offsets
    val deblk = r.u(1) == 1
    r.u(1); r.u(1) // constrained_intra, redundant_pic_cnt
    Pps(deblk)
  }

  /** Decode an Annex-B stream of the I_PCM subset into frames. */
  def decodeAnnexB(bytes: Array[Byte]): Seq[Frame] =
    try decodeAnnexB0(bytes)
    catch {
      case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("h264: malformed or truncated stream", e)
    }

  private def decodeAnnexB0(bytes: Array[Byte]): Seq[Frame] = {
    var sps: Option[Sps] = None
    var pps: Option[Pps] = None
    val frames = ArrayBuffer.empty[Frame]
    splitAnnexB(bytes).foreach { nal =>
      if (nal.nonEmpty) {
        require((nal(0) & 0x80) == 0, "h264: forbidden_zero_bit set")
        val nalType = nal(0) & 0x1f
        lazy val rbsp = unescapeRbsp(nal, 1, nal.length)
        nalType match {
          case 7 => sps = Some(parseSps(rbsp))
          case 8 => pps = Some(parsePps(rbsp))
          case 5 | 1 =>
            val s = sps.getOrElse(throw new IllegalArgumentException("h264: slice before SPS"))
            val p = pps.getOrElse(throw new IllegalArgumentException("h264: slice before PPS"))
            frames += decodeSlice(rbsp, s, p, idr = nalType == 5)
          case 6 | 9 | 10 | 11 | 12 => () // SEI, AUD, end-of-*, filler: skippable
          case t => throw new IllegalArgumentException(s"h264: NAL type $t unsupported")
        }
      }
    }
    frames.toSeq
  }

  private def decodeSlice(rbsp: Array[Byte], sps: Sps, pps: Pps, idr: Boolean): Frame = {
    val r = new BitReader(rbsp)
    require(r.ue() == 0, "h264: multi-slice frames unsupported")
    val sliceType = r.ue()
    require(sliceType == 2 || sliceType == 7, "h264: non-I slices (P/B prediction) unsupported")
    r.ue() // pps id
    r.u(sps.log2MaxFrameNum) // frame_num
    if (idr) r.ue() // idr_pic_id
    if (sps.pocType == 0) r.u(sps.pocLsbBits)
    if (idr) { r.u(1); r.u(1) } // dec_ref_pic_marking
    else r.u(1) // adaptive_ref_pic_marking_mode_flag
    r.se() // slice_qp_delta
    if (pps.deblockingControlPresent) {
      val idc = r.ue()
      if (idc != 1) { r.se(); r.se() }
    }
    val wFull = sps.mbW * 16
    val hFull = sps.mbH * 16
    val y = new Array[Byte](wFull * hFull)
    val cb = new Array[Byte](wFull / 2 * (hFull / 2))
    val cr = new Array[Byte](wFull / 2 * (hFull / 2))
    var mb = 0
    val nMb = sps.mbW * sps.mbH
    while (mb < nMb) {
      val mbType = r.ue()
      require(mbType == 25, s"h264: coded macroblock type $mbType unsupported (I_PCM subset; CAVLC/CABAC residual decoding out of scope)")
      r.align()
      val mbx = mb % sps.mbW
      val mby = mb / sps.mbW
      var i = 0
      while (i < 256) { y((mby * 16 + i / 16) * wFull + mbx * 16 + i % 16) = r.raw(); i += 1 }
      i = 0
      while (i < 64) { cb((mby * 8 + i / 8) * (wFull / 2) + mbx * 8 + i % 8) = r.raw(); i += 1 }
      i = 0
      while (i < 64) { cr((mby * 8 + i / 8) * (wFull / 2) + mbx * 8 + i % 8) = r.raw(); i += 1 }
      mb += 1
    }
    // crop (units: 1 luma px horizontal = 2 crop units? crop units are 2px for 4:2:0)
    val w = sps.width
    val h = sps.height
    val x0 = 2 * sps.cropL
    val y0 = 2 * sps.cropT
    val oy = new Array[Byte](w * h)
    var yy = 0
    while (yy < h) {
      System.arraycopy(y, (y0 + yy) * wFull + x0, oy, yy * w, w)
      yy += 1
    }
    val cw = (w + 1) / 2
    val ch = (h + 1) / 2
    val ocb = new Array[Byte](cw * ch)
    val ocr = new Array[Byte](cw * ch)
    yy = 0
    while (yy < ch) {
      System.arraycopy(cb, (y0 / 2 + yy) * (wFull / 2) + x0 / 2, ocb, yy * cw, cw)
      System.arraycopy(cr, (y0 / 2 + yy) * (wFull / 2) + x0 / 2, ocr, yy * cw, cw)
      yy += 1
    }
    Frame(w, h, oy, ocb, ocr)
  }
}

object H264Queries {
  /** q_h264: per (event_type, id%16 shard), 4:2:0 frames built from the
    * shard's own event ids cycle Annex-B encode → MP4 mux →
    * sample-table demux → I_PCM decode in-task; the decoded luma/chroma
    * sums must equal the oracle's direct aggregates (I_PCM is lossless
    * raw). Chroma takes ranks 0..127 of each 512-run WITHIN the shard,
    * which the oracle reproduces with a (event_type, id%16) window;
    * frame counts and sums re-aggregate additively per group. */
  def h264Query(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val w = 32; val h = 16
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      // each consecutive run of 512 ids fills one frame's luma; chroma from the same run
      val perFrame = w * h
      val nFrames = math.max(1, (sorted.length + perFrame - 1) / perFrame)
      val frames = (0 until nFrames).map { f =>
        val y = new Array[Byte](perFrame)
        var i = 0
        while (i < perFrame) {
          val k = f * perFrame + i
          y(i) = (if (k < sorted.length) (sorted(k) * 37) % 256 else 0L).toByte
          i += 1
        }
        val cw = w / 2; val ch = h / 2
        val cb = new Array[Byte](cw * ch)
        val cr = new Array[Byte](cw * ch)
        i = 0
        while (i < cw * ch) {
          val k = f * perFrame + i
          cb(i) = (if (k < sorted.length) (sorted(k) * 11) % 256 else 0L).toByte
          cr(i) = (if (k < sorted.length) (sorted(k) * 29) % 256 else 0L).toByte
          i += 1
        }
        H264.Frame(w, h, y, cb, cr)
      }
      val spsNal = Array(0x67.toByte) ++ H264.escapeRbsp(H264.spsRbsp(w, h))
      val ppsNal = Array(0x68.toByte) ++ H264.escapeRbsp(H264.ppsRbsp())
      val slices = frames.zipWithIndex.map { case (f, i) =>
        Array(0x65.toByte) ++ H264.escapeRbsp(H264.idrSliceRbsp(w, h, f, i % 2))
      }
      val mp4 = Mp4Mux.mux(w, h, spsNal, ppsNal, slices)
      val dec = Mp4Mux.decodeFrames(mp4)
      require(dec.length == frames.length, "h264 frame count drift")
      // annex-b direct decode must agree with the container loop
      val direct = H264.decodeAnnexB(H264.encodeAnnexB(frames))
      require(dec.zip(direct).forall { case (a, b) => a.y.sameElements(b.y) }, "mp4 vs annex-b drift")
      var ySum = 0L; var cSum = 0L
      dec.foreach { f =>
        f.y.foreach(b => ySum += b & 0xff)
        f.cb.foreach(b => cSum += b & 0xff)
        f.cr.foreach(b => cSum += b & 0xff)
      }
      Seq(dec.length.toLong, ySum, cSum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", pmod($"event_id", lit(16L)).as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(
        sum($"a".getItem(0)).as("n_frames"),
        sum($"a".getItem(1)).as("y_sum"),
        sum($"a".getItem(2)).as("c_sum"))
      .orderBy($"event_type")
  }
}

/** Minimal real ISO-BMFF (MP4) muxer/demuxer for an AVC video track:
  * ftyp/moov(mvhd,trak(tkhd,mdia(mdhd,hdlr,minf(vmhd,dinf,stbl(stsd
  * avc1+avcC, stts, stsc, stsz, stco)))))/mdat with length-prefixed
  * NAL samples — the structure every player expects; the demuxer
  * walks the sample tables (not just the header fields Mp4.sniff
  * reads). */
object Mp4Mux {

  private def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  private def box(tpe: String, parts: Array[Byte]*): Array[Byte] = {
    val body = parts.flatten.toArray
    be32(8L + body.length) ++ tpe.getBytes("US-ASCII") ++ body
  }

  /** Mux: one video track, one sample per frame, `timescale` ticks,
    * each sample `sampleDelta` ticks. `samples` are Annex-B-free NAL
    * payloads per frame (e.g. one IDR slice NAL each). */
  def mux(width: Int, height: Int, sps: Array[Byte], pps: Array[Byte],
          samples: Seq[Array[Byte]], timescale: Int = 30, sampleDelta: Int = 1): Array[Byte] = {
    val lengthPrefixed = samples.map(s => be32(s.length.toLong) ++ s)
    val sizes = lengthPrefixed.map(_.length)
    val n = samples.length
    val duration = n.toLong * sampleDelta

    val avcC = box("avcC",
      Array[Byte](1, sps(1), sps(2), sps(3), (0xFC | 3).toByte, (0xE0 | 1).toByte),
      Array(((sps.length >> 8) & 0xff).toByte, (sps.length & 0xff).toByte), sps,
      Array[Byte](1), Array(((pps.length >> 8) & 0xff).toByte, (pps.length & 0xff).toByte), pps)
    val avc1 = box("avc1",
      new Array[Byte](6), Array[Byte](0, 1), // reserved, data_reference_index
      new Array[Byte](16),
      Array(((width >> 8) & 0xff).toByte, (width & 0xff).toByte,
        ((height >> 8) & 0xff).toByte, (height & 0xff).toByte),
      be32(0x00480000L), be32(0x00480000L), be32(0), Array[Byte](0, 1), // dpi, frame count
      new Array[Byte](32), Array[Byte](0, 0x18), Array[Byte](0xFF.toByte, 0xFF.toByte), // depth 24, pre_defined -1
      avcC)
    val stsd = box("stsd", be32(0), be32(1), avc1)
    val stts = box("stts", be32(0), be32(1), be32(n.toLong), be32(sampleDelta.toLong))
    val stsc = box("stsc", be32(0), be32(1), be32(1), be32(n.toLong), be32(1))
    val stsz = box("stsz", be32(0), be32(0), be32(n.toLong), sizes.flatMap(s => be32(s.toLong)).toArray)
    // stco offset patched after moov length is known
    val stcoPlaceholder = box("stco", be32(0), be32(1), be32(0))
    def stbl(stco: Array[Byte]) = box("stbl", stsd, stts, stsc, stsz, stco)
    val vmhd = box("vmhd", be32(1), new Array[Byte](8))
    val dinf = box("dinf", box("dref", be32(0), be32(1), box("url ", be32(1))))
    def minf(stco: Array[Byte]) = box("minf", vmhd, dinf, stbl(stco))
    val mdhd = box("mdhd", be32(0), be32(0), be32(0), be32(timescale.toLong), be32(duration), Array[Byte](0x55, 0xC4.toByte), Array[Byte](0, 0))
    val hdlr = box("hdlr", be32(0), be32(0), "vide".getBytes, new Array[Byte](12), "graft video".getBytes("US-ASCII"), Array[Byte](0)) // null-terminated name
    def mdia(stco: Array[Byte]) = box("mdia", mdhd, hdlr, minf(stco))
    val tkhd = box("tkhd", be32(7), be32(0), be32(0), be32(1), be32(0), be32(duration),
      new Array[Byte](8), Array[Byte](0, 0), Array[Byte](0, 0), Array[Byte](0, 0), Array[Byte](0, 0),
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x40000000L),
      be32(width.toLong << 16), be32(height.toLong << 16))
    def trak(stco: Array[Byte]) = box("trak", tkhd, mdia(stco))
    val mvhd = box("mvhd", be32(0), be32(0), be32(0), be32(timescale.toLong), be32(duration),
      be32(0x00010000L), Array[Byte](1, 0), Array[Byte](0, 0), be32(0), be32(0),
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x40000000L),
      new Array[Byte](24), be32(2))
    def moov(stco: Array[Byte]) = box("moov", mvhd, trak(stco))

    val ftyp = box("ftyp", "isom".getBytes, be32(0x200), "isomiso2avc1mp41".getBytes)
    val moovLen = moov(stcoPlaceholder).length
    val mdatOffset = ftyp.length + moovLen + 8
    val stco = box("stco", be32(0), be32(1), be32(mdatOffset.toLong))
    val mdat = box("mdat", lengthPrefixed.flatten.toArray)
    ftyp ++ moov(stco) ++ mdat
  }

  final case class Track(width: Int, height: Int, sps: Array[Byte], pps: Array[Byte], samples: Seq[Array[Byte]])

  /** Demux the first avc1 track: avcC parameter sets + samples via
    * stsz/stco/stsc walk (single-chunk or per-sample chunks). */
  def demux(bytes: Array[Byte]): Option[Track] =
    try demux0(bytes)
    catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  private def demux0(bytes: Array[Byte]): Option[Track] = {
    def be32At(i: Int): Long =
      ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) | ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
    var sps: Array[Byte] = null
    var pps: Array[Byte] = null
    var width = 0; var height = 0
    var sizes: Array[Int] = null
    var chunkOffsets: Array[Long] = null
    def walk(from: Int, to: Int): Unit = {
      var i = from
      while (i + 8 <= to) {
        val size = be32At(i)
        if (size < 8 || i + size > to) return
        val tpe = new String(bytes, i + 4, 4, "ISO-8859-1")
        tpe match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" => walk(i + 8, (i + size).toInt)
          case "stsd" =>
            // full box: version/flags + entry_count, then first entry
            val e = i + 16
            val etype = new String(bytes, e + 4, 4, "ISO-8859-1")
            if (etype == "avc1" || etype == "avc3") {
              width = ((bytes(e + 32) & 0xff) << 8) | (bytes(e + 33) & 0xff)
              height = ((bytes(e + 34) & 0xff) << 8) | (bytes(e + 35) & 0xff)
              // walk sub-boxes after the 86-byte visual sample entry
              var s = e + 86
              val eEnd = e + be32At(e).toInt
              var subOk = eEnd <= bytes.length
              while (subOk && s + 8 <= eEnd) {
                val ssz = be32At(s)
                if (ssz < 8 || s + ssz > eEnd) subOk = false
                else if (new String(bytes, s + 4, 4, "ISO-8859-1") == "avcC") {
                  var p = s + 8 + 5
                  val nSps = bytes(p) & 0x1f; p += 1
                  require(nSps >= 1, "mp4: avcC without SPS")
                  var k = 0
                  while (k < nSps) { // keep the first, walk past the rest
                    val spsLen = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff); p += 2
                    if (k == 0) sps = java.util.Arrays.copyOfRange(bytes, p, p + spsLen)
                    p += spsLen
                    k += 1
                  }
                  val nPps = bytes(p) & 0xff; p += 1
                  if (nPps >= 1) {
                    val ppsLen = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff); p += 2
                    pps = java.util.Arrays.copyOfRange(bytes, p, p + ppsLen)
                  }
                }
                s += math.max(ssz, 8L).toInt
              }
            }
          case "stsz" =>
            val n = be32At(i + 16).toInt
            val fixed = be32At(i + 12)
            if (n < 0 || n > bytes.length / 4) return // size table cannot outsize the file
            sizes =
              if (fixed != 0) Array.fill(n)(fixed.toInt)
              else Array.tabulate(n)(k => be32At(i + 20 + 4 * k).toInt)
          case "stco" =>
            val n = be32At(i + 12).toInt
            if (n < 0 || n > bytes.length / 4) return
            chunkOffsets = Array.tabulate(n)(k => be32At(i + 16 + 4 * k))
          case _ => ()
        }
        i += math.max(size, 8L).toInt
      }
    }
    walk(0, bytes.length)
    if (sps == null || sizes == null || chunkOffsets == null || chunkOffsets.isEmpty) return None
    // samples laid out contiguously from each chunk offset; we support
    // the single-chunk layout we write plus one-chunk-per-sample files
    val samples = ArrayBuffer.empty[Array[Byte]]
    if (chunkOffsets.length == 1) {
      var off = chunkOffsets(0)
      sizes.foreach { sz =>
        samples += java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + sz)
        off += sz
      }
    } else {
      require(chunkOffsets.length == sizes.length, "mp4: multi-chunk stsc layouts unsupported")
      sizes.indices.foreach { k =>
        samples += java.util.Arrays.copyOfRange(bytes, chunkOffsets(k).toInt, chunkOffsets(k).toInt + sizes(k))
      }
    }
    Some(Track(width, height, sps, if (pps == null) Array.emptyByteArray else pps, samples.toSeq))
  }

  /** Decode every frame of a muxed I_PCM-subset file: demux, convert
    * length-prefixed samples to NALs, prepend parameter sets. */
  def decodeFrames(bytes: Array[Byte]): Seq[H264.Frame] =
    try decodeFrames0(bytes)
    catch {
      case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("mp4: malformed sample layout", e)
      case e: NegativeArraySizeException =>
        throw new IllegalArgumentException("mp4: malformed sample size", e)
    }

  private def decodeFrames0(bytes: Array[Byte]): Seq[H264.Frame] = {
    val t = demux(bytes).getOrElse(throw new IllegalArgumentException("mp4: no avc1 track"))
    val annexB = ArrayBuffer.empty[Byte]
    def emit(nal: Array[Byte]): Unit = { annexB ++= Array[Byte](0, 0, 0, 1); annexB ++= nal }
    emit(t.sps) // avcC stores complete (already-escaped) parameter-set NAL units
    if (t.pps.nonEmpty) emit(t.pps)
    t.samples.foreach { s =>
      var off = 0
      while (off + 4 <= s.length) {
        val len = ((s(off) & 0xff) << 24) | ((s(off + 1) & 0xff) << 16) | ((s(off + 2) & 0xff) << 8) | (s(off + 3) & 0xff)
        emit(java.util.Arrays.copyOfRange(s, off + 4, off + 4 + len))
        off += 4 + len
      }
    }
    H264.decodeAnnexB(annexB.toArray)
  }
}
