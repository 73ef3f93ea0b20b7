package graft

import graft.multimodal.Wav
import graft.raster.{Cog, Jpeg, Png}
import graft.sources.{Laz, Laz14}

/** Adversarial-input contract for every codec an estate scan touches:
  * random bytes and bit-flipped valid artifacts must produce a clean
  * refusal (None / a NAMED IllegalArgumentException) or a decoded
  * result — never an unexpected exception, never a hang, never a
  * runaway allocation. A 100 TB ingest hits corrupt files; the scan
  * flags them and moves on.
  */
class CodecFuzzSpec extends SparkSuite {

  private val rnd = new scala.util.Random(1234)

  private def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    rnd.nextBytes(b)
    b
  }

  /** Flip `flips` random bytes of a valid artifact. */
  private def mutate(valid: Array[Byte], flips: Int): Array[Byte] = {
    val b = valid.clone()
    (0 until flips).foreach { _ =>
      val i = rnd.nextInt(b.length)
      b(i) = (b(i) ^ (1 + rnd.nextInt(255))).toByte
    }
    b
  }

  private def mustRefuseOrDecode[A](what: String)(f: => Option[A]): Unit =
    try { f; () } // None or Some are both fine; only escapes are bugs
    catch {
      case _: IllegalArgumentException => () // named refusal
      case e: Throwable => fail(s"$what escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  test("random byte blobs: every decoder refuses cleanly") {
    (0 until 300).foreach { i =>
      val blob = randomBytes(16 + rnd.nextInt(4096))
      mustRefuseOrDecode(s"jpeg #$i")(Jpeg.decode(blob))
      mustRefuseOrDecode(s"png #$i")(Png.decode(blob))
      mustRefuseOrDecode(s"wav #$i")(Wav.decode(blob))
      try { Jpeg.segmentTable(blob); () }
      catch { case e: Throwable => fail(s"segmentTable #$i escaped: $e") }
    }
  }

  test("random blobs behind valid magic: headers parse then bodies refuse or decode, never crash") {
    (0 until 200).foreach { i =>
      val payload = randomBytes(512 + rnd.nextInt(2048))
      mustRefuseOrDecode(s"jpeg-magic #$i")(Jpeg.decode(Array[Byte](0xFF.toByte, 0xD8.toByte) ++ payload))
      mustRefuseOrDecode(s"wav-magic #$i")(
        Wav.decode("RIFF".getBytes ++ Array[Byte](0, 1, 0, 0) ++ "WAVE".getBytes ++ payload)
      )
      val pngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
      mustRefuseOrDecode(s"png-magic #$i")(Png.decode(pngMagic ++ payload))
      try { Cog.tilePlan("II*\u0000".getBytes("ISO-8859-1") ++ payload); () }
      catch {
        case _: IllegalArgumentException => ()
        case _: NoSuchElementException => () // IFD parsed but lacks required tags — named-enough refusal
        case e: Throwable => fail(s"tiff-magic #$i escaped: $e")
      }
    }
  }

  test("bit-flipped valid artifacts terminate: jpeg, png, wav, laz14, cog") {
    val px = Array.tabulate(96 * 64 * 3)(i => (i % 251).toByte)
    val jpeg = Jpeg.encode(96, 64, 3, px, quality = 85)
    val png = Png.encode(96, 64, 3, px)
    val wav = Wav.encode(8000, 1, Array.tabulate(4000)(i => (math.sin(i * 0.1) * 10000).toInt))
    val laz = Laz14.compress(
      Seq.tabulate(400)(i => Laz14.P14(i, 2 * i, 3 * i, 0, 1, 1, 0, 0, 0, 0, i % 4, 0, 0, 0, i.toDouble)),
      pointFormat = 6,
      chunkSize = 100
    )
    val gray = Array.tabulate(80 * 60)(i => (i % 200).toByte)
    val cog = Cog.encode(80, 60, gray, 16, compression = 8)
    (0 until 60).foreach { i =>
      val flips = 1 + rnd.nextInt(16)
      mustRefuseOrDecode(s"jpeg-mut #$i")(Jpeg.decode(mutate(jpeg, flips)))
      mustRefuseOrDecode(s"png-mut #$i")(Png.decode(mutate(png, flips)))
      mustRefuseOrDecode(s"wav-mut #$i")(Wav.decode(mutate(wav, flips)))
      // laz14: header/table corruption must surface as the named error;
      // entropy corruption decodes garbage values but terminates
      try { Laz14.decompress(mutate(laz, flips)); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"laz14-mut #$i escaped: $e")
      }
      try { Cog.decodeLevel(mutate(cog, flips), 0); () }
      catch {
        case _: IllegalArgumentException => ()
        case _: NoSuchElementException => ()
        case e: Throwable => fail(s"cog-mut #$i escaped: $e")
      }
    }
  }

  test("truncated valid artifacts terminate at every cut point family") {
    val px = Array.tabulate(64 * 48)(i => (i % 251).toByte)
    val jpeg = Jpeg.encode(64, 48, 1, px, quality = 85)
    val png = Png.encodeGray(64, 48, px)
    val wav = Wav.encode(8000, 1, Array.tabulate(2000)(_ % 1000))
    Seq(2, 10, 50, 200, jpeg.length / 2, jpeg.length - 3).foreach { cut =>
      mustRefuseOrDecode(s"jpeg-cut $cut")(Jpeg.decode(jpeg.take(cut)))
    }
    Seq(8, 20, 60, png.length / 2, png.length - 5).foreach { cut =>
      mustRefuseOrDecode(s"png-cut $cut")(Png.decode(png.take(cut)))
    }
    Seq(4, 12, 44, wav.length / 2).foreach { cut =>
      mustRefuseOrDecode(s"wav-cut $cut")(Wav.decode(wav.take(cut)))
    }
  }

  /** r11 codec wave: SQLite/.ddb, E57, RAD, SPZ, PLY, GLB, zip. The
    * contract is the same — named refusal (IllegalArgumentException /
    * NoSuchElementException / None) or a decode, never an escape. */
  private def mustRefuseOrDecodeAny(what: String)(f: => Any): Unit =
    try { f; () }
    catch {
      case _: IllegalArgumentException => ()
      case _: NoSuchElementException => ()
      case e: Throwable => fail(s"$what escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  test("r11 codecs: random blobs refuse cleanly") {
    import graft.multimodal.{Rad, Splats}
    import graft.sources.{E57, Mesh3d, Mzip, Ply, Sqlite}
    (0 until 200).foreach { i =>
      val blob = randomBytes(128 + rnd.nextInt(4096))
      mustRefuseOrDecodeAny(s"sqlite #$i")(Sqlite.tables(blob))
      mustRefuseOrDecodeAny(s"e57 #$i")(E57.read(blob))
      assert(E57.info(blob).isEmpty || true)
      mustRefuseOrDecodeAny(s"rad #$i")(Rad.coarseSplats(blob))
      mustRefuseOrDecodeAny(s"spz #$i")(Splats.readSpz(blob))
      mustRefuseOrDecodeAny(s"ply #$i")(Ply.read("ply\n".getBytes ++ blob))
      mustRefuseOrDecodeAny(s"glb #$i")(Mesh3d.glbJson(blob))
      mustRefuseOrDecodeAny(s"zip #$i")(Mzip.unpack(blob))
    }
  }

  test("r11 codecs: bit-flipped valid artifacts terminate with named refusals") {
    import graft.multimodal.{Rad, Splats}
    import graft.sources.{Ddb, E57, Sqlite}
    val db = Ddb.write((0 until 200).map(i =>
      Ddb.Entry(f"p$i%04d", s"h$i", (i % 5).toLong, s"""{"i":$i}""", i.toLong, i.toLong * 10, 1L,
        pointGeom = Some((i * 0.1, i * 0.05, 0.0)))))
    val e57 = E57.write(Seq(E57.Scan(
      Seq(E57.ScaledInt("cartesianX", 0, 100000, 0.001, 0.0), E57.Flt("colorRed", double = false)),
      (0 until 500).map(i => Array(i * 0.001, i * 0.5)))))
    val rad = Rad.write(Seq(Rad.Chunk(300,
      Seq(Rad.Property("center", "f32_lebytes", Array.tabulate(900)(_ * 0.5f), 3, gz = true)))))
    val spz = Splats.writeSpz((0 until 100).map(i => Splats.Splat(
      i.toFloat, 0f, 0f, -4f, -4f, -4f, 0.1f, 0.1f, 0.1f, 1f, 0f, 0f, 0f, 1f)))
    (0 until 60).foreach { i =>
      val flips = 1 + rnd.nextInt(16)
      mustRefuseOrDecodeAny(s"ddb-mut #$i") {
        val m = mutate(db, flips)
        Sqlite.tables(m)
        Ddb.readEntries(m)
      }
      mustRefuseOrDecodeAny(s"e57-mut #$i")(E57.read(mutate(e57, flips)))
      mustRefuseOrDecodeAny(s"rad-mut #$i")(Rad.coarseSplats(mutate(rad, flips)))
      mustRefuseOrDecodeAny(s"spz-mut #$i")(Splats.readSpz(mutate(spz, flips)))
    }
    // truncations at structural cut points
    Seq(10, 50, 99, db.length / 2, db.length - 7).foreach { cut =>
      mustRefuseOrDecodeAny(s"ddb-cut $cut")(Sqlite.tables(db.take(cut)))
    }
    Seq(10, 47, 1000, e57.length / 2, e57.length - 3).foreach { cut =>
      mustRefuseOrDecodeAny(s"e57-cut $cut")(E57.read(e57.take(cut)))
    }
    Seq(4, 12, rad.length / 2).foreach { cut =>
      mustRefuseOrDecodeAny(s"rad-cut $cut")(Rad.coarseSplats(rad.take(cut)))
    }
  }

  test("r12 codecs: random blobs, mutated and truncated artifacts refuse cleanly (flac/jp2/h264/mp4/adpcm)") {
    import graft.multimodal.{Flac, H264, Mp4Mux, Wav}
    import graft.raster.Jp2
    // valid artifacts to mutate
    val pcm = Array.tabulate(3000)(i => ((i * 37) % 2048) - 1024)
    val flac = Flac.encode(8000, 1, 16, pcm)
    val adpcm = Wav.encodeImaAdpcm(8000, 1, pcm)
    val jp2 = Jp2.encodeJp2(48, 36, 8, Array(Array.tabulate(48 * 36)(i => (i * 7) % 256)), 2)
    val frame = H264.Frame(32, 16, Array.tabulate(512)(_.toByte), new Array[Byte](128), new Array[Byte](128))
    val annexb = H264.encodeAnnexB(Seq(frame))
    val spsNal = Array(0x67.toByte) ++ H264.escapeRbsp(H264.spsRbsp(32, 16))
    val ppsNal = Array(0x68.toByte) ++ H264.escapeRbsp(H264.ppsRbsp())
    val slice = Array(0x65.toByte) ++ H264.escapeRbsp(H264.idrSliceRbsp(32, 16, frame, 0))
    val mp4 = Mp4Mux.mux(32, 16, spsNal, ppsNal, Seq(slice))

    (0 until 150).foreach { i =>
      val blob = randomBytes(64 + rnd.nextInt(2048))
      mustRefuseOrDecodeAny(s"flac-blob #$i")(Flac.decode("fLaC".getBytes ++ blob))
      mustRefuseOrDecodeAny(s"jp2-blob #$i")(Jp2.decode(Array[Byte](0xFF.toByte, 0x4F, 0xFF.toByte, 0x51) ++ blob))
      mustRefuseOrDecodeAny(s"h264-blob #$i")(H264.decodeAnnexB(Array[Byte](0, 0, 0, 1) ++ blob))
      mustRefuseOrDecodeAny(s"mp4-blob #$i")(Mp4Mux.decodeFrames(blob.take(4) ++ "ftyp".getBytes ++ blob))
      assert(Wav.decode(blob).isEmpty || true) // Option face: never throws
    }
    (0 until 60).foreach { i =>
      val flips = 1 + rnd.nextInt(12)
      mustRefuseOrDecodeAny(s"flac-mut #$i")(Flac.decode(mutate(flac, flips)))
      mustRefuseOrDecodeAny(s"jp2-mut #$i")(Jp2.decode(mutate(jp2, flips)))
      mustRefuseOrDecodeAny(s"h264-mut #$i")(H264.decodeAnnexB(mutate(annexb, flips)))
      mustRefuseOrDecodeAny(s"mp4-mut #$i")(Mp4Mux.decodeFrames(mutate(mp4, flips)))
      mustRefuseOrDecodeAny(s"adpcm-mut #$i")(Wav.decode(mutate(adpcm, flips)))
    }
    Seq(5, 20, 42, 100).foreach { cut =>
      mustRefuseOrDecodeAny(s"flac-cut $cut")(Flac.decode(flac.take(cut)))
      mustRefuseOrDecodeAny(s"jp2-cut $cut")(Jp2.decode(jp2.take(cut)))
      mustRefuseOrDecodeAny(s"h264-cut $cut")(H264.decodeAnnexB(annexb.take(cut)))
      mustRefuseOrDecodeAny(s"mp4-cut $cut")(Mp4Mux.decodeFrames(mp4.take(cut)))
    }
    // Option/Seq probes: never throw on any input
    val gifValid = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "gif", bos)
      bos.toByteArray
    }
    val mp3Valid = graft.multimodal.Mp3.syntheticCbr(10)
    val oggValid = graft.multimodal.Ogg.writePage(1, 0, 0, 2,
      Array[Byte](1) ++ "vorbis".getBytes ++ new Array[Byte](23))
    (0 until 100).foreach { i =>
      val blob = randomBytes(64 + rnd.nextInt(1024))
      graft.raster.GifBmp.decodeGif("GIF89a".getBytes ++ blob)
      graft.raster.GifBmp.gifFrames("GIF87a".getBytes ++ blob)
      graft.raster.GifBmp.decodeBmp("BM".getBytes ++ blob)
      graft.multimodal.Mp3.sniff(blob)
      graft.multimodal.Ogg.sniff("OggS".getBytes ++ blob)
      graft.raster.GifBmp.decodeGif(mutate(gifValid, 1 + rnd.nextInt(8)))
      graft.multimodal.Mp3.sniff(mutate(mp3Valid, 1 + rnd.nextInt(8)))
      graft.multimodal.Ogg.sniff(mutate(oggValid, 1 + rnd.nextInt(8)))
    }
    // progressive JPEG: JDK-written stream, mutated + truncated
    val prog = {
      val img = new java.awt.image.BufferedImage(48, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val pm = wr.getDefaultWriteParam
      pm.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      pm.setCompressionQuality(0.8f)
      pm.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios); wr.write(null, new javax.imageio.IIOImage(img, null, null), pm)
      ios.close(); wr.dispose()
      bos.toByteArray
    }
    (0 until 40).foreach { i =>
      assert(graft.raster.Jpeg.decodeProgressive(mutate(prog, 1 + rnd.nextInt(8))).isDefined || true) // Option face: never throws
    }
    Seq(6, 30, prog.length / 2, prog.length - 4).foreach(c =>
      assert(graft.raster.Jpeg.decode(prog.take(c)).isEmpty || c > prog.length / 2 || true))
    Seq(flac.length / 2, flac.length - 5).foreach(c => mustRefuseOrDecodeAny(s"flac-cut $c")(Flac.decode(flac.take(c))))
    Seq(jp2.length / 2, jp2.length - 5).foreach(c => mustRefuseOrDecodeAny(s"jp2-cut $c")(Jp2.decode(jp2.take(c))))
    Seq(mp4.length / 2, mp4.length - 5).foreach(c => mustRefuseOrDecodeAny(s"mp4-cut $c")(Mp4Mux.decodeFrames(mp4.take(c))))
  }

  test("r14 codecs: webp/vorbis/nexus/warc — random blobs, mutated and truncated artifacts refuse cleanly") {
    import graft.raster.Webp
    import graft.multimodal.Vorbis
    import graft.sources.{Nexus, Warc}
    // valid artifacts
    val img = graft.raster.Png.Image(24, 18, 3,
      Array.tabulate(24 * 18 * 3)(i => ((i * 2654435761L) >>> 13).toByte))
    val webp = Webp.encode(img, Webp.EncOpts(subtractGreen = true, cacheBits = 4, lz77 = true))
    val pcm = Array.tabulate(700)(i => 500.0 * math.sin(0.02 * i))
    val ogg = Vorbis.encode(Array(pcm), Vorbis.EncOpts())
    val nxs = Nexus.write(Seq(Nexus.Level(0f,
      Array.tabulate(90)(_.toFloat), Array.tabulate(30)(identity))))
    val warc = {
      val bos = new java.io.ByteArrayOutputStream()
      (0 until 5).foreach { i =>
        bos.write(Warc.gzipMember(Warc.writeRecord("response", s"https://x.invalid/$i",
          "2024-01-01T00:00:00Z", s"urn:uuid:$i", "text/plain", s"body $i".getBytes)))
      }
      bos.toByteArray
    }
    (0 until 120).foreach { i =>
      val blob = randomBytes(64 + rnd.nextInt(2048))
      mustRefuseOrDecodeAny(s"webp-rand #$i")(Webp.decode(blob))
      mustRefuseOrDecodeAny(s"vorbis-rand #$i")(if (Vorbis.isVorbis(blob)) Vorbis.decode(blob) else None)
      mustRefuseOrDecodeAny(s"nexus-rand #$i")(if (Nexus.isNxs(blob)) Nexus.read(blob) else None)
      mustRefuseOrDecodeAny(s"warc-rand #$i")(Warc.parseAll(blob))
      mustRefuseOrDecodeAny(s"warc-rand-range #$i")(Warc.membersInRange(blob, 0, blob.length))
    }
    (0 until 60).foreach { i =>
      mustRefuseOrDecodeAny(s"webp-mut #$i")(Webp.decode(mutate(webp, 1 + rnd.nextInt(8))))
      mustRefuseOrDecodeAny(s"vorbis-mut #$i") {
        val m = mutate(ogg, 1 + rnd.nextInt(8))
        if (Vorbis.isVorbis(m)) Vorbis.decode(m) else None
      }
      mustRefuseOrDecodeAny(s"nexus-mut #$i") {
        val m = mutate(nxs, 1 + rnd.nextInt(8))
        if (Nexus.isNxs(m)) Nexus.read(m) else None
      }
      mustRefuseOrDecodeAny(s"warc-mut #$i")(Warc.membersInRange(mutate(warc, 1 + rnd.nextInt(6)), 0, warc.length))
    }
    Seq(10, webp.length / 2, webp.length - 3).foreach(c =>
      mustRefuseOrDecodeAny(s"webp-cut $c")(Webp.decode(webp.take(c))))
    Seq(40, ogg.length / 2, ogg.length - 3).foreach(c =>
      mustRefuseOrDecodeAny(s"vorbis-cut $c")(if (Vorbis.isVorbis(ogg.take(c))) Vorbis.decode(ogg.take(c)) else None))
    Seq(20, nxs.length / 2, nxs.length - 3).foreach(c =>
      mustRefuseOrDecodeAny(s"nexus-cut $c")(if (Nexus.isNxs(nxs.take(c))) Nexus.read(nxs.take(c)) else None))
    Seq(8, warc.length / 2, warc.length - 3).foreach(c =>
      mustRefuseOrDecodeAny(s"warc-cut $c")(Warc.membersInRange(warc.take(c), 0, c)))
  }

  test("r15 codecs: brotli/xz/bzip2/vp8/tar/zstd-dict - random blobs, mutated and truncated artifacts refuse cleanly") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def named(what: String)(f: => Unit): Unit =
      try f
      catch {
        case _: graft.text.Brotli.BrotliError => ()
        case _: graft.sources.Xz.XzError => ()
        case _: graft.sources.Bzip2.Bzip2Error => ()
        case _: graft.sources.Tar.TarError => ()
        case _: graft.raster.Vp8.Vp8Error => ()
        case _: graft.sources.Zstd.ZstdError => ()
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"$what escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    // random blobs
    (0 until 200).foreach { i =>
      val blob = randomBytes(16 + rnd.nextInt(4096))
      named(s"brotli #$i")(graft.text.Brotli.decode(blob))
      named(s"xz #$i")(graft.sources.Xz.decode(blob))
      named(s"lzma-alone #$i")(graft.sources.Xz.decodeAlone(blob))
      named(s"bzip2 #$i")(graft.sources.Bzip2.decode(blob))
      named(s"tar #$i")(graft.sources.Tar.parseAll(blob))
      named(s"vp8 #$i")(graft.raster.Vp8.decodeFrame(blob, 0, blob.length))
      named(s"zstd-dict #$i")(graft.sources.Zstd.parseDict(blob))
    }
    // random blobs behind valid magic
    (0 until 150).foreach { i =>
      val payload = randomBytes(256 + rnd.nextInt(2048))
      named(s"xz-magic #$i")(graft.sources.Xz.decode(
        Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0) ++ payload))
      named(s"bz2-magic #$i")(graft.sources.Bzip2.decode("BZh5".getBytes(utf8) ++ payload))
      named(s"vp8-magic #$i") {
        val framed = Array[Byte](0x10, 0x00, 0x00, 0x9d.toByte, 0x01, 0x2a, 0x20, 0x00, 0x20, 0x00) ++ payload
        graft.raster.Vp8.decodeFrame(framed, 0, framed.length)
      }
      named(s"zdict-magic #$i")(graft.sources.Zstd.parseDict(
        Array[Byte](0x37, 0xa4.toByte, 0x30, 0xec.toByte) ++ payload))
    }
    // mutated + truncated real artifacts
    val brotliFx = java.nio.file.Files.readAllBytes(
      new java.io.File("src/test/resources/graft/brotli/json_q9_w20.br").toPath)
    val xzFx = java.nio.file.Files.readAllBytes(
      new java.io.File("src/test/resources/graft/xz/jsonl_p6_crc64.xz").toPath)
    val bz2Fx = java.nio.file.Files.readAllBytes(
      new java.io.File("src/test/resources/graft/bzip2/jsonl_l9.bz2").toPath)
    val vp8Fx = java.nio.file.Files.readAllBytes(
      new java.io.File("src/test/resources/graft/vp8/waves_128x96_q50.webp").toPath)
    val tarFx = graft.sources.Tar.writeTar((0 until 20).map(k => (s"f$k.txt", s"data$k".getBytes(utf8))))
    (0 until 120).foreach { i =>
      named(s"brotli-mut #$i")(graft.text.Brotli.decode(mutate(brotliFx, 1 + rnd.nextInt(6))))
      named(s"xz-mut #$i")(graft.sources.Xz.decode(mutate(xzFx, 1 + rnd.nextInt(6))))
      named(s"bz2-mut #$i")(graft.sources.Bzip2.decode(mutate(bz2Fx, 1 + rnd.nextInt(6))))
      named(s"vp8-mut #$i") {
        val m = mutate(vp8Fx, 1 + rnd.nextInt(6))
        graft.raster.Webp.decode(m); ()
      }
      named(s"tar-mut #$i")(graft.sources.Tar.parseAll(mutate(tarFx, 1 + rnd.nextInt(6))))
    }
    Seq(brotliFx, xzFx, bz2Fx).zip(Seq("brotli", "xz", "bz2")).foreach { case (fx, nm) =>
      (1 until fx.length by math.max(1, fx.length / 40)).foreach { cut =>
        named(s"$nm-cut $cut") {
          val t = java.util.Arrays.copyOf(fx, cut)
          nm match {
            case "brotli" => graft.text.Brotli.decode(t)
            case "xz" => graft.sources.Xz.decode(t)
            case _ => graft.sources.Bzip2.decode(t)
          }
        }
      }
    }
  }

  test("crawl text protocols: cdx lines, robots.txt, wat envelopes — garbage never throws, hostile robots never hangs") {
    import graft.sources.{Cdx, Wet}
    import graft.text.Robots
    val validLine = Cdx.formatLine(Cdx.Entry(
      "com,example)/p", "20240101000000", "https://example.com/p", "text/html", 200,
      "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ", 100L, 200L, "f.warc.gz"))
    val validRobots = "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"
    val validWat = Wet.writeWatRecord(
      "https://x.invalid/", "2024-01-01T00:00:00Z", "urn:uuid:w", "t", Seq("https://y.invalid/"))
    (0 until 250).foreach { i =>
      val blob = randomBytes(16 + rnd.nextInt(1024))
      val ascii = new String(blob.map(b => (32 + math.abs(b % 95)).toByte), "ISO-8859-1")
      mustRefuseOrDecodeAny(s"cdx-rand #$i")(Cdx.parseLine(ascii))
      mustRefuseOrDecodeAny(s"cdx-mut #$i")(Cdx.parseLine(new String(mutate(validLine.getBytes("UTF-8"), 1 + rnd.nextInt(6)), "UTF-8")))
      mustRefuseOrDecodeAny(s"robots-rand #$i") {
        val f = Robots.parse(ascii)
        Robots.isAllowed(f, "GraftBot/1.0", "/some/path")
      }
      mustRefuseOrDecodeAny(s"robots-mut #$i") {
        val f = Robots.parse(new String(mutate(validRobots.getBytes("UTF-8"), 1 + rnd.nextInt(4)), "ISO-8859-1"))
        Robots.isAllowed(f, "GraftBot/1.0", "/private/open/x")
      }
      mustRefuseOrDecodeAny(s"wat-rand #$i")(Wet.parseWat(blob))
      mustRefuseOrDecodeAny(s"wat-mut #$i")(Wet.parseWat(mutate(validWat, 1 + rnd.nextInt(6))))
      mustRefuseOrDecodeAny(s"surt-rand #$i")(Cdx.surtKey(ascii))
    }
    // adversarial wildcard pile-up: the iterative matcher must answer in
    // linear-ish time (the naive recursive one is exponential here)
    val hostile = "/" + "*a" * 24 + "$"
    val longPath = "/" + "a" * 2000 + "b"
    val t0 = System.nanoTime()
    assert(!Robots.patternMatches(hostile, longPath))
    assert(Robots.patternMatches("/" + "*a" * 24, "/" + "a" * 2000))
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 2000, s"hostile wildcard pattern took ${ms}ms — matcher is not linear")
  }

  test("vector drivers: random blobs, xml-ish garbage and mutated fixtures refuse cleanly") {
    import graft.sources.{Dxf, Fgb, Gml, Gpkg, Gpx, Kml, VectorFile}
    (0 until 200).foreach { i =>
      val blob = randomBytes(64 + rnd.nextInt(2048))
      mustRefuseOrDecodeAny(s"fgb #$i")(Fgb.meta(blob))
      mustRefuseOrDecodeAny(s"gpx #$i")(Gpx.meta(blob))
      mustRefuseOrDecodeAny(s"kml #$i")(Kml.meta(blob))
      mustRefuseOrDecodeAny(s"dxf #$i")(Dxf.meta(blob))
      mustRefuseOrDecodeAny(s"gml #$i")(Gml.meta(blob))
      mustRefuseOrDecodeAny(s"geojson #$i")(VectorFile.sniffGeoJson(blob))
      mustRefuseOrDecodeAny(s"shp #$i")(VectorFile.sniffShapefile(blob))
      // xml-shaped garbage through the xml-based drivers
      val xmlGarbage = ("<kml><Placemark>" + new String(blob.map(b => (33 + math.abs(b % 90)).toByte)) + "</kml>").getBytes
      mustRefuseOrDecodeAny(s"kml-xml #$i")(Kml.meta(xmlGarbage))
      mustRefuseOrDecodeAny(s"gml-xml #$i")(Gml.meta(xmlGarbage))
      mustRefuseOrDecodeAny(s"gpx-xml #$i")(Gpx.meta(xmlGarbage))
      // r17 drivers: TopoJSON (json garbage + Topology-magic prefixes)
      // and zipped shapefiles (zip-magic garbage, container bodies)
      mustRefuseOrDecodeAny(s"topojson #$i")(graft.sources.TopoJson.meta(blob))
      mustRefuseOrDecodeAny(s"topojson-magic #$i")(
        graft.sources.TopoJson.meta(("""{"type":"Topology",""" + new String(blob.map(b => (33 + math.abs(b % 90)).toByte))).getBytes))
      mustRefuseOrDecodeAny(s"shz #$i")(graft.sources.Shz.meta("a.shz", blob))
      mustRefuseOrDecodeAny(s"shz-magic #$i")(graft.sources.Shz.meta("a.shz", Array[Byte]('P', 'K', 3, 4) ++ blob))
    }
    // FlatGeobuf magic + garbage body (the binary driver's hard case)
    val fgbMagic = Array[Byte](0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00)
    (0 until 100).foreach { i =>
      mustRefuseOrDecodeAny(s"fgb-magic #$i")(Fgb.meta(fgbMagic ++ randomBytes(256 + rnd.nextInt(2048))))
    }
    // mutated valid GPKG through the sqlite walk + geometry decode
    val gpkg = Gpkg.write("t", Seq("name" -> "TEXT"), (0 until 50).map(i => (Seq[Any](s"n$i"), Some((i * 1.0, 0.0)))))
    (0 until 40).foreach { i =>
      mustRefuseOrDecodeAny(s"gpkg-mut #$i") {
        val m = mutate(gpkg, 1 + rnd.nextInt(12))
        Gpkg.tables(m).keys.foreach(t => Gpkg.readTable(m, t))
      }
    }
  }

  test("r16 codecs: lz4/snappy/zip - random blobs, mutated and truncated artifacts refuse cleanly") {
    import graft.sources.{Lz4, Snappy, Zip}
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def named(what: String)(f: => Unit): Unit =
      try f
      catch {
        case _: Lz4.Lz4Error => ()
        case _: Snappy.SnappyError => ()
        case _: Zip.ZipError => ()
        case e: Throwable => fail(s"$what escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val payload = (0 until 400).map(i => s"""{"i":$i,"w":"w${i % 31}"}""").mkString("\n").getBytes(utf8)
    val lz4 = Lz4.encode(payload, bmax = 4, blockChecksum = true, contentSize = true)
    val sz = Snappy.framedEncode(payload)
    val hsnap = Snappy.hadoopEncode(payload, blockSize = 1024)
    val zip = {
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bos)
      (0 until 8).foreach { i =>
        zo.putNextEntry(new java.util.zip.ZipEntry(s"e$i.json")); zo.write(payload); zo.closeEntry()
      }
      zo.close(); bos.toByteArray
    }
    def zipWhole(b: Array[Byte]): Unit = {
      val ranged: (Long, Int) => Array[Byte] =
        (off, n) => java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + n)
      val (o, sz2, c) = Zip.centralDirectoryExtent(ranged, b.length.toLong)
      val es = Zip.parseCentralDirectory(java.util.Arrays.copyOfRange(b, o.toInt, (o + sz2).toInt), c)
      es.foreach { e =>
        val buf = java.util.Arrays.copyOfRange(
          b, e.localHeaderOffset.toInt,
          math.min(b.length.toLong, e.localHeaderOffset + Zip.fetchLen(e, b.length.toLong)).toInt)
        Zip.decodeEntry(buf, e)
      }
    }
    (0 until 120).foreach { i =>
      val blob = randomBytes(64 + rnd.nextInt(2048))
      named(s"lz4-rand #$i")(Lz4.decode(blob))
      named(s"lz4-rand-walk #$i")(Lz4.framesOf(blob))
      named(s"snappy-rand #$i")(Snappy.decode(blob))
      named(s"snappy-raw-rand #$i")(Snappy.rawDecode(blob, 0, blob.length))
      named(s"zip-rand #$i")(zipWhole(blob))
    }
    (0 until 60).foreach { i =>
      named(s"lz4-mut #$i")(Lz4.decode(mutate(lz4, 1 + rnd.nextInt(8))))
      named(s"sz-mut #$i")(Snappy.decode(mutate(sz, 1 + rnd.nextInt(8))))
      named(s"hsnap-mut #$i")(Snappy.hadoopDecode(mutate(hsnap, 1 + rnd.nextInt(8))))
      named(s"zip-mut #$i")(zipWhole(mutate(zip, 1 + rnd.nextInt(8))))
    }
    Seq(3, 9, lz4.length / 2, lz4.length - 3).foreach(c => named(s"lz4-cut $c")(Lz4.decode(lz4.take(c))))
    Seq(3, 12, sz.length / 2, sz.length - 3).foreach(c => named(s"sz-cut $c")(Snappy.decode(sz.take(c))))
    Seq(2, 6, hsnap.length / 2).foreach(c => named(s"hsnap-cut $c")(Snappy.hadoopDecode(hsnap.take(c))))
    Seq(10, 40, zip.length / 2, zip.length - 3).foreach(c => named(s"zip-cut $c")(zipWhole(zip.take(c))))
  }

  test("r17 codecs: 7z / lz4-dict / zip-methods — random, mutated and truncated inputs refuse cleanly") {
    import graft.sources.{Lz4, SevenZip, Zip}
    def named(what: String)(f: => Unit): Unit =
      try f
      catch {
        case _: SevenZip.SevenZipError => ()
        case _: Lz4.Lz4Error => ()
        case _: Zip.ZipError => ()
        case e: Throwable => fail(s"$what escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val dir7 = new java.io.File("src/test/resources/graft/sevenzip")
    val sevenZ = java.nio.file.Files.readAllBytes(new java.io.File(dir7, "codec_lzma2.7z").toPath)
    val store7 = java.nio.file.Files.readAllBytes(new java.io.File(dir7, "codec_store.7z").toPath)
    val dirL = new java.io.File("src/test/resources/graft/lz4")
    val dlz4 = java.nio.file.Files.readAllBytes(new java.io.File(dirL, "dict_b4.lz4").toPath)
    val dict = java.nio.file.Files.readAllBytes(new java.io.File(dirL, "dict.bin").toPath)
    val dirZ = new java.io.File("src/test/resources/graft/zip")
    val mzip = java.nio.file.Files.readAllBytes(new java.io.File(dirZ, "methods.zip").toPath)
    val zzip = java.nio.file.Files.readAllBytes(new java.io.File(dirZ, "zstd93.zip").toPath)
    def zipWhole(b: Array[Byte]): Unit = {
      val ranged: (Long, Int) => Array[Byte] =
        (off, n) => java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + n)
      val (o, sz2, c) = Zip.centralDirectoryExtent(ranged, b.length.toLong)
      val es = Zip.parseCentralDirectory(java.util.Arrays.copyOfRange(b, o.toInt, (o + sz2).toInt), c)
      es.foreach { e =>
        val buf = java.util.Arrays.copyOfRange(
          b, e.localHeaderOffset.toInt,
          math.min(b.length.toLong, e.localHeaderOffset + Zip.fetchLen(e, b.length.toLong)).toInt)
        Zip.decodeEntry(buf, e)
      }
    }
    (0 until 150).foreach { i =>
      val blob = randomBytes(48 + rnd.nextInt(3000))
      named(s"7z-rand #$i")(SevenZip.unpackAll(blob))
      named(s"lz4-dict-rand #$i")(Lz4.decode(blob, dict))
      // random bytes behind the 7z signature magic
      named(s"7z-magic #$i")(SevenZip.unpackAll(
        Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c) ++ blob))
    }
    (0 until 80).foreach { i =>
      named(s"7z-mut #$i")(SevenZip.unpackAll(mutate(sevenZ, 1 + rnd.nextInt(8))))
      named(s"7zs-mut #$i")(SevenZip.unpackAll(mutate(store7, 1 + rnd.nextInt(8))))
      named(s"lz4d-mut #$i")(Lz4.decode(mutate(dlz4, 1 + rnd.nextInt(8)), dict))
      named(s"zipm-mut #$i")(zipWhole(mutate(mzip, 1 + rnd.nextInt(8))))
      named(s"zipz-mut #$i")(zipWhole(mutate(zzip, 1 + rnd.nextInt(6))))
    }
    Seq(3, 12, 31, 40, sevenZ.length / 2, sevenZ.length - 4).foreach(c =>
      named(s"7z-cut $c")(SevenZip.unpackAll(java.util.Arrays.copyOf(sevenZ, c))))
    Seq(5, dlz4.length / 2, dlz4.length - 3).foreach(c =>
      named(s"lz4d-cut $c")(Lz4.decode(java.util.Arrays.copyOf(dlz4, c), dict)))
    Seq(10, 40, mzip.length / 2, mzip.length - 3).foreach(c =>
      named(s"zipm-cut $c")(zipWhole(java.util.Arrays.copyOf(mzip, c))))
  }

  test("library-backed codecs: zstd frames (with and without a dictionary) and raw LZMA1/LZMA2 streams refuse cleanly") {
    import graft.sources.{Xz, Zstd}
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def named(what: String)(f: => Unit): Unit =
      try f
      catch {
        case _: Zstd.ZstdError => ()
        case _: Xz.XzError => ()
        case e: Throwable => fail(s"$what escaped with ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val payload = (0 until 600).map(i => s"""{"i":$i,"w":"w${i % 37}","é":"${"x" * (i % 13)}"}""").mkString("\n").getBytes(utf8)
    val dict = (0 until 40).map(i => s"""{"i":$i,"w":"w$i"}""").mkString("\n").getBytes(utf8)
    val zdir = new java.io.File("src/test/resources/graft/zstd")
    val trained = java.nio.file.Files.readAllBytes(new java.io.File(zdir, "trained.dict").toPath)
    val zst = Zstd.encode(payload)
    val zstDict = Zstd.encode(payload, dict = dict)
    val zstTrained = java.nio.file.Files.readAllBytes(new java.io.File(zdir, "traineddict_l3.zst").toPath)
    // raw LZMA1 (with an end marker) and raw LZMA2 from XZ for Java
    val opts = new org.tukaani.xz.LZMA2Options(3)
    val props = (opts.getPb * 5 + opts.getLp) * 9 + opts.getLc
    val lzma1 = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new org.tukaani.xz.LZMAOutputStream(bos, opts, true)
      o.write(payload); o.close(); bos.toByteArray
    }
    val lzma2 = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = opts.getOutputStream(new org.tukaani.xz.FinishableWrapperOutputStream(bos),
        org.tukaani.xz.ArrayCache.getDummyCache())
      o.write(payload); o.close(); bos.toByteArray
    }
    assert(java.util.Arrays.equals(Xz.decodeLzma1(props, lzma1, 0, lzma1.length, payload.length), payload))
    assert(java.util.Arrays.equals(Xz.decodeLzma1(props, lzma1, 0, lzma1.length, -1L), payload))
    assert(java.util.Arrays.equals(Xz.decodeLzma2Raw(lzma2, payload.length), payload))
    assert(java.util.Arrays.equals(Zstd.decode(zstDict, dict), payload))
    def zstdAll(what: String, b: Array[Byte]): Unit = {
      named(s"$what decode")(Zstd.decode(b))
      named(s"$what decode+dict")(Zstd.decode(b, dict))
      named(s"$what decode+trained")(Zstd.decode(b, trained))
      named(s"$what frame")(Zstd.decodeFrame(b, 0))
      named(s"$what frame+dict")(Zstd.decodeFrame(b, 0, dict))
    }
    def lzmaAll(what: String, l1: Array[Byte], l2: Array[Byte]): Unit =
      for (size <- Seq(-1L, 0L, payload.length.toLong, 1L << 20)) {
        named(s"$what lzma1 size=$size")(Xz.decodeLzma1(props, l1, 0, l1.length, size))
        named(s"$what lzma2 size=$size")(Xz.decodeLzma2Raw(l2, size))
      }
    (0 until 150).foreach { i =>
      val blob = randomBytes(16 + rnd.nextInt(3000))
      zstdAll(s"zstd-rand #$i", blob)
      zstdAll(s"zstd-magic #$i", Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte) ++ blob)
      named(s"lzma1-rand #$i")(Xz.decodeLzma1(rnd.nextInt(225), blob, 0, blob.length, rnd.nextInt(1 << 16).toLong))
      named(s"lzma2-rand #$i")(Xz.decodeLzma2Raw(blob, if (i % 2 == 0) -1L else rnd.nextInt(1 << 16).toLong))
    }
    (0 until 100).foreach { i =>
      zstdAll(s"zstd-mut #$i", mutate(zst, 1 + rnd.nextInt(6)))
      zstdAll(s"zstd-dict-mut #$i", mutate(zstDict, 1 + rnd.nextInt(6)))
      zstdAll(s"zstd-trained-mut #$i", mutate(zstTrained, 1 + rnd.nextInt(6)))
      lzmaAll(s"mut #$i", mutate(lzma1, 1 + rnd.nextInt(6)), mutate(lzma2, 1 + rnd.nextInt(6)))
    }
    (1 until zst.length by math.max(1, zst.length / 40)).foreach(c => zstdAll(s"zstd-cut $c", zst.take(c)))
    (1 until zstDict.length by math.max(1, zstDict.length / 40)).foreach(c => zstdAll(s"zstd-dict-cut $c", zstDict.take(c)))
    (1 until lzma1.length by math.max(1, lzma1.length / 40)).foreach(c =>
      lzmaAll(s"cut $c", lzma1.take(c), lzma2.take(math.min(c, lzma2.length))))

    // a complete 20-byte frame whose header declares ~2 GiB of content:
    // refused by name before the declared size is allocated
    val bomb = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0xa0.toByte, 0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f, // single segment, 4-byte content size
      0x20, 0x00, 0x00, 'a', 'b', 'c', 'd', // raw block of 4 bytes
      0x83.toByte, 0x00, 0x00, 'x') // last block: RLE of 16 bytes
    assert(bomb.length == 20)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val e = intercept[Zstd.ZstdError](Zstd.decode(bomb))
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(e.getMessage.contains("impossible"), e.getMessage)
    assert(allocated < (16L << 20), s"refusing the bomb allocated $allocated bytes")
  }

  test("cyclic IFD chains (self-loop, A->B->A) refuse in classic TIFF and BigTIFF") {
    import scala.collection.mutable.ArrayBuffer
    import graft.sources.Bytes.{putLe16, putLe32, putLe64}
    // every IFD is empty; `next` gives each one's next-IFD offset
    def classic(next: Seq[Long]): Array[Byte] = {
      val b = ArrayBuffer[Byte]('I', 'I'); putLe16(b, 42); putLe32(b, 8)
      next.foreach { n => putLe16(b, 0); putLe32(b, n) }
      b.toArray
    }
    def big(next: Seq[Long]): Array[Byte] = {
      val b = ArrayBuffer[Byte]('I', 'I'); putLe16(b, 43); putLe16(b, 8); putLe16(b, 0); putLe64(b, 16)
      next.foreach { n => putLe64(b, 0); putLe64(b, n) }
      b.toArray
    }
    val loops = Seq(
      "classic self-loop" -> classic(Seq(8)),
      "classic A->B->A" -> classic(Seq(14, 8)),
      "bigtiff self-loop" -> big(Seq(16)),
      "bigtiff A->B->A" -> big(Seq(32, 16)))
    assert(loops.head._2.length == 14)
    loops.foreach { case (what, tiff) =>
      Seq[() => Any](() => Cog.parseIfds(tiff), () => Cog.decodeLevel(tiff, 0)).foreach { f =>
        val e = intercept[IllegalArgumentException](f())
        assert(e.getMessage.contains("tiff: truncated or corrupt IFD chain"), s"$what: ${e.getMessage}")
      }
    }
    // the same chains, ended instead of looped, still parse
    assert(Cog.parseIfds(classic(Seq(14, 0))).size == 2)
    assert(Cog.parseIfds(big(Seq(32, 0))).size == 2)
  }
}
