package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bytes.{crc32, le32u, le64, setLe32, setLe64, writeLe32}

/** 7z container read — ranged random access into archives whose INDEX
  * sits at the END of the file, exactly the Zip split-scan shape: the
  * 32-byte signature header names the next-header extent, the next
  * header (possibly itself LZMA-compressed — kEncodedHeader) is the
  * format's own catalog of pack streams, folders (coder chains) and
  * files, and each FOLDER decodes independently from its own pack
  * streams' byte ranges.
  *
  * Scale shape: the DRIVER reads 32 bytes plus the header extent
  * (metadata-scale); fetch tasks then ranged-read exactly their
  * folders' pack extents and decode. A solid archive is one folder —
  * the file SET is then the parallelism unit, same as single-frame
  * lz4/xz shards; non-solid archives (one folder per file, bsdtar's
  * store/copy shape) parallelize per folder.
  *
  * Payload coders: Copy, LZMA1, LZMA2, bzip2, Deflate, Delta, the
  * seven BCJ branch filters — ALL already behind codec objects ([[Xz]],
  * [[Bzip2]], the JDK) — and the 4-stream BCJ2 x86 coder ([[Bcj2]], any bind
  * topology), composed through the folder's bind-pair graph.
  * PPMd, AES and anything else refuse loudly by codec id. Header
  * layout per the published 7zFormat.txt that ships with 7-Zip.
  * BCJ2 is additionally WRITTEN ([[buildBcj2Archive]]) in the
  * 2-coder folder form libarchive reads — Bcj2Spec pins bsdtar
  * extraction of our archives byte-exact over an adversarial corpus.
  *
  * Conformance: SevenZipSpec pins the reader against REAL libarchive
  * (bsdtar 3.8.2) archives — one per payload codec incl. encoded
  * (LZMA1/LZMA2-compressed) headers, a 250-file solid archive, a
  * multi-folder store archive, unicode names, empty files — via
  * per-entry sha256 manifests, each round-tripped by bsdtar at
  * capture.
  *
  * Untrusted-bytes contract: malformed input raises
  * [[SevenZipError]]. */
object SevenZip {

  final class SevenZipError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new SevenZipError(msg)

  // ------------------------------------------------------------------
  // primitives
  // ------------------------------------------------------------------

  private val Magic = Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c)

  /** Cursor over header bytes with the 7z variable-length number
    * encoding (first byte's high bits select 0..8 little-endian
    * extension bytes — 7zFormat.txt ReadNumber). */
  private final class Cur(val b: Array[Byte], var p: Int) {
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def number(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0) {
          value |= (first & (mask - 1)).toLong << (8 * i)
          return value
        }
        value |= (b(p) & 0xffL) << (8 * i)
        p += 1
        mask >>= 1
        i += 1
      }
      value
    }
    def num(): Int = {
      val v = number()
      if (v < 0 || v > Int.MaxValue - 8) fail(s"7z: number out of int range: $v")
      v.toInt
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || p + n > b.length) fail("7z: byte field overruns header")
      val a = java.util.Arrays.copyOfRange(b, p, p + n); p += n; a
    }
    def skip(n: Int): Unit = { if (n < 0 || p + n > b.length) fail("7z: skip overruns header"); p += n }
    /** bit vector, bit 7 of byte 0 first (7z bit order) */
    def bits(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var mask = 0
      var cur = 0
      var i = 0
      while (i < n) {
        if (mask == 0) { cur = u8(); mask = 0x80 }
        out(i) = (cur & mask) != 0
        mask >>= 1
        i += 1
      }
      out
    }
    def boolsAllDefined(n: Int): Array[Boolean] =
      if (u8() != 0) Array.fill(n)(true) else bits(n)
  }

  // ------------------------------------------------------------------
  // model
  // ------------------------------------------------------------------

  final case class Coder(id: Long, numIn: Int, numOut: Int, props: Array[Byte])

  /** One folder = a coder DAG: `bindPairs` connect a coder's out
    * stream to another's in stream; `packedIndices` are the global in
    * streams fed by pack streams, in pack-stream order. */
  final case class Folder(
      coders: Seq[Coder],
      bindPairs: Seq[(Int, Int)], // (inIndex, outIndex)
      packedIndices: Seq[Int],
      unpackSizes: Seq[Long], // one per coder OUT stream, coder order
      crc: Option[Long]) {
    def totalIn: Int = coders.map(_.numIn).sum
    def totalOut: Int = coders.map(_.numOut).sum
    /** the folder's final output stream = the one no bind pair consumes */
    def finalOutIndex: Int = {
      val bound = bindPairs.map(_._2).toSet
      val idx = (0 until totalOut).filterNot(bound)
      if (idx.length != 1) fail(s"7z: folder must have exactly one unbound output, has ${idx.length}")
      idx.head
    }
    def unpackSize: Long = unpackSizes(finalOutIndex)
  }

  final case class Entry(
      name: String,
      hasStream: Boolean,
      isDir: Boolean,
      size: Long,
      crc: Option[Long],
      folderIdx: Int, // -1 for streamless entries
      subIdx: Int, // substream index within the folder
      subOffset: Long) // byte offset of this substream inside the folder's output

  final case class Archive(
      packPos: Long, // relative to byte 32
      packSizes: Seq[Long],
      folders: Seq[Folder],
      folderPackFirst: Seq[Int], // first pack-stream index per folder
      subSizes: Seq[Seq[Long]], // per folder, substream sizes
      subCrcs: Seq[Seq[Option[Long]]],
      entries: Seq[Entry]) {
    /** [start, end) byte extent of folder `f`'s pack streams in the file */
    def folderPackExtent(f: Int): (Long, Long) = {
      val first = folderPackFirst(f)
      val n = folders(f).packedIndices.length
      val start = 32L + packPos + packSizes.take(first).sum
      (start, start + packSizes.slice(first, first + n).sum)
    }
  }

  // ------------------------------------------------------------------
  // header parse
  // ------------------------------------------------------------------

  private val KEnd = 0x00
  private val KHeader = 0x01
  private val KMainStreamsInfo = 0x04
  private val KFilesInfo = 0x05
  private val KPackInfo = 0x06
  private val KUnpackInfo = 0x07
  private val KSubStreamsInfo = 0x08
  private val KSize = 0x09
  private val KCrc = 0x0a
  private val KFolder = 0x0b
  private val KCodersUnpackSize = 0x0c
  private val KNumUnpackStream = 0x0d
  private val KEmptyStream = 0x0e
  private val KEmptyFile = 0x0f
  private val KName = 0x11
  private val KEncodedHeader = 0x17
  private val KDummy = 0x19

  private def parseFolder(c: Cur): Folder = {
    val numCoders = c.num()
    if (numCoders <= 0 || numCoders > 64) fail(s"7z: folder with $numCoders coders")
    val coders = (0 until numCoders).map { _ =>
      val flags = c.u8()
      val idSize = flags & 0x0f
      if (idSize > 8) fail("7z: codec id longer than 8 bytes")
      var id = 0L
      (0 until idSize).foreach(_ => id = (id << 8) | c.u8())
      val (nin, nout) =
        if ((flags & 0x10) != 0) (c.num(), c.num()) else (1, 1)
      if ((flags & 0x20) != 0) {
        val propsLen = c.num()
        Coder(id, nin, nout, c.bytes(propsLen))
      } else Coder(id, nin, nout, Array.emptyByteArray)
    }
    val totalIn = coders.map(_.numIn).sum
    val totalOut = coders.map(_.numOut).sum
    val numBind = totalOut - 1
    if (numBind < 0) fail("7z: folder without outputs")
    val binds = (0 until numBind).map(_ => (c.num(), c.num()))
    val numPacked = totalIn - numBind
    if (numPacked < 1) fail("7z: folder without pack inputs")
    val packed =
      if (numPacked == 1) {
        val bound = binds.map(_._1).toSet
        val free = (0 until totalIn).filterNot(bound)
        if (free.length != 1) fail("7z: ambiguous single pack input")
        Seq(free.head)
      } else (0 until numPacked).map(_ => c.num())
    Folder(coders, binds, packed, Seq.empty, None)
  }

  /** StreamsInfo → (packPos, packSizes, folders(+unpackSizes/CRCs),
    * per-folder substream counts/sizes/crcs). */
  private def parseStreamsInfo(c: Cur): (Long, Seq[Long], Seq[Folder], Seq[Seq[Long]], Seq[Seq[Option[Long]]]) = {
    var packPos = 0L
    var packSizes: Seq[Long] = Seq.empty
    var folders: Seq[Folder] = Seq.empty
    var subSizes: Seq[Seq[Long]] = Seq.empty
    var subCrcs: Seq[Seq[Option[Long]]] = Seq.empty
    // structural sanity: a header of H bytes cannot describe more
    // streams/folders than it has bytes — bounds every count-driven
    // allocation below against the attacker-controlled numbers
    val maxCount = c.b.length
    var t = c.num()
    if (t == KPackInfo) {
      packPos = c.number()
      if (packPos < 0) fail("7z: negative pack position")
      val n = c.num()
      if (n > maxCount) fail(s"7z: $n pack streams in a ${c.b.length}-byte header")
      var tp = c.num()
      while (tp != KEnd) {
        tp match {
          case KSize =>
            packSizes = (0 until n).map { _ =>
              val v = c.number()
              if (v < 0) fail("7z: negative pack size")
              v
            }
          case KCrc => // pack-stream CRCs: defined bits + u32 each
            val defined = c.boolsAllDefined(n)
            defined.foreach(d => if (d) c.skip(4))
          case other => fail(s"7z: unexpected property $other in PackInfo")
        }
        tp = c.num()
      }
      if (packSizes.isEmpty && n > 0) fail("7z: PackInfo without sizes")
      t = c.num()
    }
    if (t == KUnpackInfo) {
      if (c.num() != KFolder) fail("7z: UnpackInfo without folders")
      val numFolders = c.num()
      if (numFolders > maxCount) fail(s"7z: $numFolders folders in a ${c.b.length}-byte header")
      if (c.u8() != 0) fail("7z: external folder definitions unsupported")
      var fs = (0 until numFolders).map(_ => parseFolder(c))
      if (c.num() != KCodersUnpackSize) fail("7z: missing coders unpack sizes")
      fs = fs.map(f => f.copy(unpackSizes = (0 until f.totalOut).map(_ => c.number())))
      var tu = c.num()
      while (tu != KEnd) {
        tu match {
          case KCrc =>
            val defined = c.boolsAllDefined(numFolders)
            fs = fs.zip(defined).map { case (f, d) => if (d) f.copy(crc = Some(le32u(c.bytes(4), 0))) else f }
          case other => fail(s"7z: unexpected property $other in UnpackInfo")
        }
        tu = c.num()
      }
      folders = fs
      t = c.num()
    }
    // defaults when kSubStreamsInfo is absent: one substream per folder
    var counts = folders.map(_ => 1)
    var sizesExplicit: Option[Seq[Seq[Long]]] = None
    var digests: Map[Int, Long] = Map.empty // flat substream index -> crc
    var haveDigests = false
    if (t == KSubStreamsInfo) {
      var ts = c.num()
      if (ts == KNumUnpackStream) {
        counts = folders.map { _ =>
          val v = c.num()
          if (v > maxCount) fail(s"7z: $v substreams in a ${c.b.length}-byte header")
          v
        }
        ts = c.num()
      }
      if (ts == KSize) {
        // sizes for all but the LAST substream of each folder
        val all = folders.indices.map { fi =>
          val n = counts(fi)
          val head = (0 until n - 1).map(_ => c.number())
          val last = folders(fi).unpackSize - head.sum
          if (last < 0) fail("7z: substream sizes exceed folder size")
          head :+ last
        }
        sizesExplicit = Some(all)
        ts = c.num()
      }
      if (ts == KCrc) {
        // digests for substreams lacking one (folders with 1 substream
        // and a folder CRC already have it)
        val flatNeeding = folders.indices.flatMap { fi =>
          val n = counts(fi)
          (0 until n).collect { case si if !(n == 1 && folders(fi).crc.isDefined) => (fi, si) }
        }
        val defined = c.boolsAllDefined(flatNeeding.length)
        val base = folders.indices.map(fi => counts.take(fi).sum)
        flatNeeding.zip(defined).foreach { case ((fi, si), d) =>
          if (d) digests += (base(fi) + si) -> le32u(c.bytes(4), 0)
        }
        haveDigests = true
        ts = c.num()
      }
      while (ts != KEnd) { // tolerate unknown trailing props structurally
        fail(s"7z: unexpected property $ts in SubStreamsInfo")
      }
      t = c.num()
    }
    if (t != KEnd) fail(s"7z: unexpected property $t in StreamsInfo")
    val sizes = sizesExplicit.getOrElse(folders.indices.map { fi =>
      if (counts(fi) == 1) Seq(folders(fi).unpackSize)
      else fail("7z: multiple substreams without explicit sizes")
    })
    val base = folders.indices.map(fi => counts.take(fi).sum)
    val crcs = folders.indices.map { fi =>
      (0 until counts(fi)).map { si =>
        if (counts(fi) == 1 && folders(fi).crc.isDefined) folders(fi).crc
        else if (haveDigests) digests.get(base(fi) + si)
        else None
      }
    }
    (packPos, packSizes, folders, sizes, crcs)
  }

  /** Parse the PLAIN (kHeader) next header into an [[Archive]]. */
  private def parseHeader(h: Array[Byte]): Archive = {
    val c = new Cur(h, 0)
    if (c.num() != KHeader) fail("7z: not a plain header")
    var t = c.num()
    var packPos = 0L
    var packSizes: Seq[Long] = Seq.empty
    var folders: Seq[Folder] = Seq.empty
    var subSizes: Seq[Seq[Long]] = Seq.empty
    var subCrcs: Seq[Seq[Option[Long]]] = Seq.empty
    if (t == KMainStreamsInfo) {
      val r = parseStreamsInfo(c)
      packPos = r._1; packSizes = r._2; folders = r._3; subSizes = r._4; subCrcs = r._5
      t = c.num()
    }
    var names: Seq[String] = Seq.empty
    var emptyStream: Array[Boolean] = Array.empty
    var emptyFile: Array[Boolean] = Array.empty
    var numFiles = 0
    if (t == KFilesInfo) {
      numFiles = c.num()
      if (numFiles > h.length) fail(s"7z: $numFiles files in a ${h.length}-byte header")
      emptyStream = new Array[Boolean](numFiles)
      var tp = c.num()
      while (tp != KEnd) {
        val size = c.num()
        val end = c.p + size
        tp match {
          case KEmptyStream => emptyStream = c.bits(numFiles)
          case KEmptyFile => emptyFile = c.bits(emptyStream.count(identity))
          case KName =>
            if (c.u8() != 0) fail("7z: external names unsupported")
            val utf16 = c.bytes(end - c.p)
            if ((utf16.length & 1) != 0) fail("7z: odd-length UTF-16 name table")
            val got = scala.collection.mutable.ArrayBuffer.empty[String]
            var s = 0
            var i = 0
            while (i + 1 < utf16.length) {
              if (utf16(i) == 0 && utf16(i + 1) == 0) {
                got += new String(utf16, s, i - s, java.nio.charset.StandardCharsets.UTF_16LE)
                s = i + 2
              }
              i += 2
            }
            if (s != utf16.length) fail("7z: name table not null-terminated")
            if (got.length != numFiles) fail(s"7z: ${got.length} names for $numFiles files")
            names = got.toSeq
          case _ => () // times/attributes/kDummy: metadata we don't surface
        }
        c.p = end
        tp = c.num()
      }
      t = c.num()
    }
    if (t != KEnd) fail(s"7z: unexpected property $t after FilesInfo")
    if (names.isEmpty && numFiles > 0) fail("7z: archive without a name table")
    // map files to (folder, substream): files WITH streams consume
    // substreams in order across folders in order
    val entries = Seq.newBuilder[Entry]
    var fi = 0
    var si = 0
    var subOff = 0L
    var emptyIdx = 0
    names.zipWithIndex.foreach { case (name, i) =>
      if (emptyStream(i)) {
        // no stream: a directory, or an empty FILE when kEmptyFile marks it
        val isFile = emptyIdx < emptyFile.length && emptyFile(emptyIdx)
        emptyIdx += 1
        entries += Entry(name, hasStream = false, isDir = !isFile, 0L, None, -1, -1, 0L)
      } else {
        while (fi < folders.length && si >= subSizes(fi).length) { fi += 1; si = 0; subOff = 0L }
        if (fi >= folders.length) fail("7z: more streamed files than substreams")
        val sz = subSizes(fi)(si)
        entries += Entry(name, hasStream = true, isDir = false, sz, subCrcs(fi)(si), fi, si, subOff)
        subOff += sz
        si += 1
      }
    }
    val folderPackFirst = folders.indices.map(f => folders.take(f).map(_.packedIndices.length).sum)
    if (folders.map(_.packedIndices.length.toLong).sum > packSizes.length)
      fail("7z: folders reference more pack streams than PackInfo declares")
    Archive(packPos, packSizes, folders, folderPackFirst, subSizes, subCrcs, entries.result())
  }

  /** Reject archives whose declared pack extents leave the file —
    * before any extent arithmetic can wrap or slice out of range. */
  private def validateExtents(a: Archive, len: Long): Archive = {
    var off = 32L + a.packPos
    if (a.packPos < 0 || off > len) fail("7z: pack position out of range")
    a.packSizes.foreach { sz =>
      if (sz < 0 || sz > len - off) fail("7z: pack stream extent out of range")
      off += sz
    }
    a
  }

  // ------------------------------------------------------------------
  // folder decode (coder DAG over the codec objects)
  // ------------------------------------------------------------------

  private val IdCopy = 0x00L
  private val IdDelta = 0x03L
  private val IdLzma2 = 0x21L
  private val IdLzma1 = 0x030101L
  private val IdBzip2 = 0x040202L
  private val IdDeflate = 0x040108L
  private val IdArm64 = 0x0aL
  private val IdBcj2 = 0x0303011bL

  /** 7z codec id → xz BCJ filter id (same transforms, [[Xz.Bcj]]). */
  private def bcjIdOf(id: Long): Long = id match {
    case 0x03030103L => 0x04 // x86
    case 0x03030205L => 0x05 // PowerPC
    case 0x03030301L => 0x06 // IA-64
    case 0x03030501L => 0x07 // ARM
    case 0x03030701L => 0x08 // ARM-Thumb
    case 0x03030805L => 0x09 // SPARC
    case IdArm64 => 0x0a
    case _ => 0L
  }

  /** Decode one folder given its pack streams (in `packedIndices`
    * order); verifies the folder CRC when present. */
  def decodeFolder(folder: Folder, packs: Seq[Array[Byte]]): Array[Byte] =
    try {
      if (packs.length != folder.packedIndices.length) fail("7z: pack stream count mismatch")
      // coder i's IN streams occupy global in-indices [inBase(i), +numIn)
      // and OUT streams [outBase(i), +numOut)
      val inBase = folder.coders.indices.map(i => folder.coders.take(i).map(_.numIn).sum)
      val outBase = folder.coders.indices.map(i => folder.coders.take(i).map(_.numOut).sum)
      val outToCoder = (0 until folder.totalOut).map(o => folder.coders.indices.find(i => o >= outBase(i) && o < outBase(i) + folder.coders(i).numOut).get)
      val byInIndex: Map[Int, Array[Byte]] = folder.packedIndices.zip(packs).toMap
      val memo = new Array[Array[Byte]](folder.totalOut)
      val inProgress = new Array[Boolean](folder.totalOut)
      def evalOut(o: Int): Array[Byte] = {
        if (memo(o) != null) return memo(o)
        if (inProgress(o)) fail("7z: cyclic bind pairs in folder")
        inProgress(o) = true
        val ci = outToCoder(o)
        val coder = folder.coders(ci)
        if (coder.numOut != 1) fail("7z: multi-output coders unsupported")
        val gIn = inBase(ci)
        def inputAt(k: Int): Array[Byte] = byInIndex.getOrElse(gIn + k,
          folder.bindPairs.find(_._1 == gIn + k) match {
            case Some((_, srcOut)) => evalOut(srcOut)
            case None => fail("7z: coder input neither packed nor bound")
          })
        val want = folder.unpackSizes(o)
        if (want < 0 || want > Int.MaxValue - 8) fail("7z: folder output too large for one buffer")
        if (coder.id == IdBcj2) {
          if (coder.numIn != 4) fail(s"7z: BCJ2 coder declares ${coder.numIn} inputs, needs 4")
          val bcjOut =
            try Bcj2.decode(inputAt(0), inputAt(1), inputAt(2), inputAt(3), want.toInt)
            catch { case e: Bcj2.Bcj2Error => fail(s"7z: ${e.getMessage}") }
          memo(o) = bcjOut
          inProgress(o) = false
          return bcjOut
        }
        if (coder.numIn != 1) fail(s"7z: multi-input coder id 0x${coder.id.toHexString} unsupported")
        val input = inputAt(0)
        val out: Array[Byte] = coder.id match {
          case IdCopy => input
          case IdLzma2 => Xz.decodeLzma2Raw(input, want)
          case IdLzma1 =>
            if (coder.props.length < 1) fail("7z: LZMA1 coder without props")
            Xz.decodeLzma1(coder.props(0) & 0xff, input, 0, input.length, want)
          case IdBzip2 => Bzip2.decode(input, want)
          case IdDeflate =>
            val inf = new java.util.zip.Inflater(true)
            try {
              inf.setInput(input)
              val res = new Array[Byte](want.toInt)
              var done = 0
              while (done < res.length && !inf.finished()) {
                val k = inf.inflate(res, done, res.length - done)
                if (k == 0 && inf.needsInput()) fail("7z: deflate stream truncated")
                done += k
              }
              if (done != res.length) fail(s"7z: deflate produced $done of ${res.length}")
              res
            } finally inf.end()
          case IdDelta =>
            if (coder.props.length != 1) fail("7z: delta coder needs a distance byte")
            val dist = (coder.props(0) & 0xff) + 1
            val c2 = input.clone()
            var i = dist
            while (i < c2.length) { c2(i) = (c2(i) + c2(i - dist)).toByte; i += 1 }
            c2
          case bcj if bcjIdOf(bcj) != 0 =>
            val c2 = input.clone()
            Xz.Bcj(bcjIdOf(bcj), c2, 0, c2.length, 0L, encode = false)
            c2
          case 0x030401L => fail("7z: PPMd coder unsupported (PPMd var.H has no published normative spec — it is defined by the 7-Zip reference source, absent in-container; libarchive here can round-trip it, but a from-memory reimplementation cannot be validated constant-by-constant)")
          case 0x06f10701L => fail("7z: AES-encrypted archives unsupported")
          case other => fail(s"7z: codec id 0x${other.toHexString} unsupported")
        }
        if (out.length.toLong != want) fail(s"7z: coder produced ${out.length} of $want bytes")
        memo(o) = out
        out
      }
      val out = evalOut(folder.finalOutIndex)
      folder.crc.foreach { want =>
        if (crc32(out, 0, out.length) != want) fail("7z: folder CRC mismatch")
      }
      out
    } catch {
      case e: SevenZipError => throw e
      case e: Xz.XzError => fail(s"7z: ${e.getMessage}")
      case e: Bzip2.Bzip2Error => fail(s"7z: ${e.getMessage}")
      case _: java.util.zip.DataFormatException => fail("7z: corrupt deflate data")
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException =>
        fail("7z: malformed folder data (out-of-range field)")
    }

  // ------------------------------------------------------------------
  // archive open (ranged; driver-facing)
  // ------------------------------------------------------------------

  /** Parse an archive via ranged reads: 32 signature bytes + the next
    * header extent (+ the encoded header's pack extent when the header
    * itself is compressed). Pack stream PAYLOADS are never read. */
  def parseArchive(ranged: (Long, Int) => Array[Byte], len: Long): Archive =
    try {
      if (len < 32) fail("7z: file shorter than the signature header")
      val sig = ranged(0, 32)
      if (!java.util.Arrays.equals(java.util.Arrays.copyOfRange(sig, 0, 6), Magic))
        fail("7z: bad signature")
      if (crc32(sig, 12, 20) != le32u(sig, 8)) fail("7z: start header CRC mismatch")
      val nhOff = le64(sig, 12)
      val nhSize = le64(sig, 20)
      if (nhSize == 0) return Archive(0L, Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty)
      if (nhOff < 0 || nhSize < 0 || nhSize > (256L << 20) || 32 + nhOff + nhSize > len)
        fail("7z: next header extent out of range")
      val nh = ranged(32 + nhOff, nhSize.toInt)
      if (crc32(nh, 0, nh.length) != le32u(sig, 28)) fail("7z: next header CRC mismatch")
      val c0 = new Cur(nh, 0)
      val kind = c0.num()
      val plain: Array[Byte] =
        if (kind == KHeader) nh
        else if (kind == KEncodedHeader) {
          // the header itself is a one-folder stream set; its pack data
          // sits inside the file at 32 + packPos
          val (packPos, packSizes, folders, _, _) = parseStreamsInfo(c0)
          if (folders.length != 1) fail("7z: encoded header must be one folder")
          var off = 32L + packPos
          val packs = folders.head.packedIndices.indices.map { i =>
            val sz = packSizes(i)
            if (sz < 0 || sz > (256L << 20) || off + sz > len) fail("7z: encoded-header pack extent out of range")
            val a = ranged(off, sz.toInt); off += sz; a
          }
          val h = decodeFolder(folders.head, packs)
          if (h.isEmpty || (h(0) & 0xff) != KHeader) fail("7z: encoded header did not decode to a header")
          h
        } else fail(s"7z: unexpected next-header kind $kind")
      validateExtents(parseHeader(plain), len)
    } catch {
      case e: SevenZipError => throw e
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException =>
        fail("7z: malformed header (out-of-range field)")
    }

  /** In-memory parse (tests/cycles). */
  def parseArchive(b: Array[Byte]): Archive =
    parseArchive((off, n) => java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + n), b.length.toLong)

  /** Decode every entry of an in-memory archive: (name, bytes),
    * streamless entries excluded. Per-substream CRCs verified. */
  def unpackAll(b: Array[Byte]): Seq[(String, Array[Byte])] =
    try {
      val a = parseArchive(b)
      val byFolder = a.entries.filter(_.hasStream).groupBy(_.folderIdx)
      byFolder.toSeq.sortBy(_._1).flatMap { case (fi, es) =>
        val (s, e) = a.folderPackExtent(fi)
        if (s < 0 || e > b.length) fail("7z: folder pack extent out of range")
        var off = s
        val packs = a.folders(fi).packedIndices.indices.map { i =>
          val sz = a.packSizes(a.folderPackFirst(fi) + i)
          val arr = java.util.Arrays.copyOfRange(b, off.toInt, (off + sz).toInt); off += sz; arr
        }
        val out = decodeFolder(a.folders(fi), packs)
        es.sortBy(_.subIdx).map { en =>
          if (en.subOffset < 0 || en.size < 0 || en.subOffset + en.size > out.length)
            fail(s"7z: substream overruns folder output: ${en.name}")
          val payload = java.util.Arrays.copyOfRange(out, en.subOffset.toInt, (en.subOffset + en.size).toInt)
          en.crc.foreach(want => if (crc32(payload, 0, payload.length) != want) fail(s"7z: substream CRC mismatch: ${en.name}"))
          (en.name, payload)
        }
      }
    } catch {
      case e: SevenZipError => throw e
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException =>
        fail("7z: malformed archive (out-of-range extent)")
    }

  // ------------------------------------------------------------------
  // minimal builder (cycle/test-facing): one SOLID folder holding all
  // entries as substreams — plain kHeader, per-substream CRCs — with a
  // copy, bzip2 ([[Bzip2.encode]]) or LZMA2-stored-chunks coder, per
  // the published 7zFormat.txt layout. Real-producer conformance for
  // the reader is SevenZipSpec's bsdtar fixture gate.
  // ------------------------------------------------------------------

  /** Assemble a solid one-folder archive. `codec` ∈ copy | bzip2 |
    * lzma2 (LZMA2 uncompressed chunks — the format's storage escape
    * hatch, same as [[Xz.encodeRawXz]]'s body). */
  private[graft] def buildSolidArchive(entries: Seq[(String, Array[Byte])], codec: String): Array[Byte] = {
    val payload = {
      val o = new java.io.ByteArrayOutputStream()
      entries.foreach { case (_, b) => o.write(b) }
      o.toByteArray
    }
    val (packed, coderId, props) = codec match {
      case "copy" => (payload, IdCopy, Array.emptyByteArray)
      case "bzip2" => (Bzip2.encode(payload), IdBzip2, Array.emptyByteArray)
      case "lzma2" =>
        val o = new java.io.ByteArrayOutputStream()
        var off = 0
        var first = true
        while (off < payload.length) {
          val n = math.min(1 << 16, payload.length - off)
          o.write(if (first) 0x01 else 0x02)
          o.write((n - 1) >> 8); o.write((n - 1) & 0xff)
          o.write(payload, off, n)
          off += n
          first = false
        }
        o.write(0)
        (o.toByteArray, IdLzma2, Array[Byte](0x18))
      case other => fail(s"7z: builder does not write codec $other")
    }
    val hdr = new java.io.ByteArrayOutputStream()
    def wNum(v: Long): Unit = {
      var i = 0
      while (i < 8 && v >= (1L << (7 * (i + 1)))) i += 1
      if (i == 8) {
        hdr.write(0xff)
        (0 until 8).foreach(j => hdr.write(((v >> (8 * j)) & 0xff).toInt))
      } else {
        hdr.write(((0xff << (8 - i)) & 0xff) | (v >> (8 * i)).toInt)
        (0 until i).foreach(j => hdr.write(((v >> (8 * j)) & 0xff).toInt))
      }
    }
    hdr.write(KHeader)
    hdr.write(KMainStreamsInfo)
    hdr.write(KPackInfo); wNum(0L); wNum(1L)
    hdr.write(KSize); wNum(packed.length.toLong)
    hdr.write(KEnd)
    hdr.write(KUnpackInfo)
    hdr.write(KFolder); wNum(1L); hdr.write(0) // one folder, inline
    wNum(1L) // one coder
    val idBytes = {
      var n = 1
      while ((coderId >> (8 * n)) != 0) n += 1
      (n - 1 to 0 by -1).map(j => ((coderId >> (8 * j)) & 0xff).toInt)
    }
    hdr.write(idBytes.length | (if (props.nonEmpty) 0x20 else 0))
    idBytes.foreach(hdr.write)
    if (props.nonEmpty) { wNum(props.length.toLong); hdr.write(props) }
    hdr.write(KCodersUnpackSize); wNum(payload.length.toLong)
    hdr.write(KEnd)
    if (entries.nonEmpty) {
      hdr.write(KSubStreamsInfo)
      hdr.write(KNumUnpackStream); wNum(entries.length.toLong)
      if (entries.length > 1) {
        hdr.write(KSize)
        entries.init.foreach { case (_, b) => wNum(b.length.toLong) }
      }
      hdr.write(KCrc); hdr.write(1) // all defined
      entries.foreach { case (_, b) => writeLe32(hdr, crc32(b, 0, b.length)) }
      hdr.write(KEnd)
    }
    hdr.write(KEnd) // end MainStreamsInfo
    hdr.write(KFilesInfo); wNum(entries.length.toLong)
    val nameBytes = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0) // inline
      entries.foreach { case (n, _) =>
        o.write(n.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)); o.write(0); o.write(0)
      }
      o.toByteArray
    }
    hdr.write(KName); wNum(nameBytes.length.toLong); hdr.write(nameBytes)
    hdr.write(KEnd) // end FilesInfo
    hdr.write(KEnd) // end header
    val h = hdr.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    out.write(0); out.write(4) // version
    val tail = new Array[Byte](20)
    setLe64(tail, 0, packed.length.toLong) // next header offset (right after pack data)
    setLe64(tail, 8, h.length.toLong)
    val hCrc = crc32(h, 0, h.length)
    setLe32(tail, 16, hCrc.toInt)
    writeLe32(out, crc32(tail, 0, 20))
    out.write(tail)
    out.write(packed)
    out.write(h)
    out.toByteArray
  }

  /** Assemble a one-folder archive whose payload rides a BCJ2 chain
    * ([[Bcj2.encode]] splits it into main/call/jump/rc). `shape`:
    *  - "copy":   coders [Copy, Copy, Copy, BCJ2] with bind pairs
    *              feeding BCJ2's first three inputs (the real-archive
    *              topology, inner coders as Copy), rc packed directly
    *  - "packed": a single BCJ2 coder with all four inputs packed —
    *              the minimal legal folder
    * Both shapes are extracted byte-exactly by bsdtar/libarchive
    * (Bcj2Spec pins; tools/gen_bcj2_pins.sh captured the probe). */
  private[graft] def buildBcj2Archive(entries: Seq[(String, Array[Byte])], shape: String): Array[Byte] = {
    val payload = {
      val o = new java.io.ByteArrayOutputStream()
      entries.foreach { case (_, b) => o.write(b) }
      o.toByteArray
    }
    val (main, call, jump, rc) = Bcj2.encode(payload)
    val packs = Seq(main, call, jump, rc)
    val hdr = new java.io.ByteArrayOutputStream()
    def wNum(v: Long): Unit = {
      var i = 0
      while (i < 8 && v >= (1L << (7 * (i + 1)))) i += 1
      if (i == 8) {
        hdr.write(0xff)
        (0 until 8).foreach(j => hdr.write(((v >> (8 * j)) & 0xff).toInt))
      } else {
        hdr.write(((0xff << (8 - i)) & 0xff) | (v >> (8 * i)).toInt)
        (0 until i).foreach(j => hdr.write(((v >> (8 * j)) & 0xff).toInt))
      }
    }
    def wCoder(id: Long, nin: Int, nout: Int): Unit = {
      val idBytes = {
        var n = 1
        while ((id >> (8 * n)) != 0) n += 1
        (n - 1 to 0 by -1).map(j => ((id >> (8 * j)) & 0xff).toInt)
      }
      val complex = nin != 1 || nout != 1
      hdr.write(idBytes.length | (if (complex) 0x10 else 0))
      idBytes.foreach(hdr.write)
      if (complex) { wNum(nin.toLong); wNum(nout.toLong) }
    }
    hdr.write(KHeader)
    hdr.write(KMainStreamsInfo)
    hdr.write(KPackInfo); wNum(0L); wNum(4L)
    hdr.write(KSize); packs.foreach(p => wNum(p.length.toLong))
    hdr.write(KEnd)
    hdr.write(KUnpackInfo)
    hdr.write(KFolder); wNum(1L); hdr.write(0) // one folder, inline
    shape match {
      case "packed" =>
        wNum(1L) // one coder: BCJ2(4 in, 1 out), inputs = packs 0..3
        wCoder(IdBcj2, 4, 1)
        // no bind pairs (totalOut-1 = 0); 4 packed inputs listed
        Seq(0, 1, 2, 3).foreach(k => wNum(k.toLong))
        hdr.write(KCodersUnpackSize); wNum(payload.length.toLong)
      case "copy" =>
        wNum(4L) // Copy(main) Copy(call) Copy(jump) BCJ2
        wCoder(IdCopy, 1, 1); wCoder(IdCopy, 1, 1); wCoder(IdCopy, 1, 1)
        wCoder(IdBcj2, 4, 1)
        // bind pairs (inIndex, outIndex): BCJ2 ins 3,4,5 <- copy outs 0,1,2
        Seq((3, 0), (4, 1), (5, 2)).foreach { case (in, out) => wNum(in.toLong); wNum(out.toLong) }
        // packed in-indices: the three copy inputs + BCJ2's rc input
        Seq(0, 1, 2, 6).foreach(k => wNum(k.toLong))
        hdr.write(KCodersUnpackSize)
        Seq(main.length, call.length, jump.length, payload.length).foreach(n => wNum(n.toLong))
      case "two" =>
        wNum(2L) // Copy(main) BCJ2 — call/jump/rc packed raw
        wCoder(IdCopy, 1, 1)
        wCoder(IdBcj2, 4, 1)
        // ins: copy.in=0; bcj2 ins 1,2,3,4; bind bcj2.main(1) <- copy.out(0)
        Seq((1, 0)).foreach { case (in, out) => wNum(in.toLong); wNum(out.toLong) }
        // packs: main->copy.in(0), call(2), jump(3), rc(4)
        Seq(0, 2, 3, 4).foreach(k => wNum(k.toLong))
        hdr.write(KCodersUnpackSize)
        Seq(main.length, payload.length).foreach(n => wNum(n.toLong))
      case "first" =>
        wNum(4L) // BCJ2 Copy(main) Copy(call) Copy(jump)
        wCoder(IdBcj2, 4, 1)
        wCoder(IdCopy, 1, 1); wCoder(IdCopy, 1, 1); wCoder(IdCopy, 1, 1)
        // BCJ2 global ins 0..3; copies ins 4,5,6; outs: bcj2=0, copies 1,2,3
        Seq((0, 1), (1, 2), (2, 3)).foreach { case (in, out) => wNum(in.toLong); wNum(out.toLong) }
        // packs: main->copy0.in(4), call->copy1.in(5), jump->copy2.in(6), rc->bcj2.in3
        Seq(4, 5, 6, 3).foreach(k => wNum(k.toLong))
        hdr.write(KCodersUnpackSize)
        Seq(payload.length, main.length, call.length, jump.length).foreach(n => wNum(n.toLong))
      case other => fail(s"7z: bcj2 builder shape $other")
    }
    hdr.write(KEnd)
    if (entries.nonEmpty) {
      hdr.write(KSubStreamsInfo)
      hdr.write(KNumUnpackStream); wNum(entries.length.toLong)
      if (entries.length > 1) {
        hdr.write(KSize)
        entries.init.foreach { case (_, b) => wNum(b.length.toLong) }
      }
      hdr.write(KCrc); hdr.write(1) // all defined
      entries.foreach { case (_, b) => writeLe32(hdr, crc32(b, 0, b.length)) }
      hdr.write(KEnd)
    }
    hdr.write(KEnd) // end MainStreamsInfo
    hdr.write(KFilesInfo); wNum(entries.length.toLong)
    val nameBytes = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0) // inline
      entries.foreach { case (n, _) =>
        o.write(n.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)); o.write(0); o.write(0)
      }
      o.toByteArray
    }
    hdr.write(KName); wNum(nameBytes.length.toLong); hdr.write(nameBytes)
    hdr.write(KEnd) // end FilesInfo
    hdr.write(KEnd) // end header
    val h = hdr.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    out.write(0); out.write(4) // version
    val packedLen = packs.map(_.length.toLong).sum
    val tail = new Array[Byte](20)
    setLe64(tail, 0, packedLen) // next header offset (right after pack data)
    setLe64(tail, 8, h.length.toLong)
    val hCrc = crc32(h, 0, h.length)
    setLe32(tail, 16, hCrc.toInt)
    writeLe32(out, crc32(tail, 0, 20))
    out.write(tail)
    packs.foreach(out.write)
    out.write(h)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // q_7z — oracle-checked cycle
  // ------------------------------------------------------------------

  /** Per (event_type, id DIV 4096 bucket — SF-invariant task size):
    * the bucket's documents become entries of a SOLID archive cycling
    * three coders (copy, bzip2, LZMA2) plus the BCJ2 4-stream folder
    * in all three built shapes through the builders, then OUR
    * reader runs end to end — signature walk, header parse, folder
    * decode, substream split, per-substream CRC — byte-equal per
    * entry. Counts/char sums have closed forms the oracle states.
    * Real-producer conformance is SevenZipSpec's bsdtar gate. */
  def sevenZipQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val sorted = ids.sorted
      val files = sorted.map(id => s"doc_$id.json" -> s"""{"id":$id,"w":"w${id % 107}"}""".getBytes(utf8))
      var chars = 0L
      // the copy lane covers the whole bucket (it feeds the oracle's
      // closed forms); the compressed lanes are require-only and run
      // on a 64-entry prefix — the codecs' own data-scale gates are
      // q_bz2/q_xz, this lane exercises the 7z container composition
      Seq("copy", "bzip2", "lzma2").zipWithIndex.foreach { case (codec, i) =>
        val lane = if (i == 0) files else files.take(64)
        val image = buildSolidArchive(lane, codec)
        val got = unpackAll(image)
        require(got.length == lane.length, s"7z: $codec entry count drift")
        got.zip(lane).foreach { case ((gn, gb), (wn, wb)) =>
          require(gn == wn && java.util.Arrays.equals(gb, wb), s"7z: $codec payload drift for $gn")
          if (i == 0) chars += gb.length
        }
      }
      // BCJ2 lane (require-only, 64-entry prefix): the 4-stream x86
      // branch coder; folder shape cycles per bucket so all three
      // (libarchive-validated "two", copy-bound, direct-packed) stay
      // exercised across the run at one archive per bucket —
      // Bcj2Spec runs the full corpus x all shapes every test run
      locally {
        val shape = Seq("two", "copy", "packed")((sorted.headOption.getOrElse(0L) % 3L).toInt)
        val lane = files.take(64)
        val got = unpackAll(buildBcj2Archive(lane, shape))
        require(got.length == lane.length, s"7z: bcj2/$shape entry count drift")
        got.zip(lane).foreach { case ((gn, gb), (wn, wb)) =>
          require(gn == wn && java.util.Arrays.equals(gb, wb), s"7z: bcj2/$shape payload drift for $gn")
        }
      }
      Seq(sorted.length.toLong, chars)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .transform(d => graft.operators.Spread.wide(d)) // conf-width, not a local-core literal
      .select($"event_type", cycle($"ids").as("a"))
      .groupBy($"event_type")
      .agg(sum($"a".getItem(0)).as("n_entries"), sum($"a".getItem(1)).as("entry_chars"))
      .orderBy($"event_type")
  }

  // ------------------------------------------------------------------
  // Spark faces (the Zip split-scan shape)
  // ------------------------------------------------------------------

  /** Entry catalog: the driver reads only the header extent. */
  def entries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (a, _) = open(spark, path)
    spark.sparkContext
      .parallelize(a.entries.map(e => (e.name, e.hasStream, e.isDir, e.size, e.folderIdx, e.subIdx)), 1)
      .toDF("name", "has_stream", "is_dir", "size", "folder_idx", "sub_idx")
  }

  private def open(spark: SparkSession, path: String): (Archive, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(hp).getLen
    val in = fs.open(hp)
    try {
      val ranged: (Long, Int) => Array[Byte] = { (off, n) =>
        val a = new Array[Byte](n); in.readFully(off, a); a
      }
      (parseArchive(ranged, len), len)
    } finally in.close()
  }

  /** (name, bytes) of every streamed entry, one task per FOLDER (the
    * format's independent decode unit): each task ranged-reads exactly
    * its folder's pack extent. Solid archives are one folder — the
    * archive SET is then the parallelism unit, as with single-frame
    * lz4/xz shards. */
  def fetch(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val (a, _) = open(spark, path)
    val byFolder = a.entries.filter(_.hasStream).groupBy(_.folderIdx).toSeq.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(a)
    spark.sparkContext
      .parallelize(byFolder.map(_._1), math.max(1, byFolder.length))
      .flatMap { fi =>
        val arc = bc.value
        val fs1 = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
        val in = fs1.open(new org.apache.hadoop.fs.Path(path))
        try {
          val (s, _) = arc.folderPackExtent(fi)
          var off = s
          val packs = arc.folders(fi).packedIndices.indices.map { i =>
            val sz = arc.packSizes(arc.folderPackFirst(fi) + i)
            if (sz > Int.MaxValue - 8) fail("7z: pack stream exceeds a task buffer (>2 GiB)")
            val buf = new Array[Byte](sz.toInt)
            in.readFully(off, buf)
            off += sz
            buf
          }
          val out = decodeFolder(arc.folders(fi), packs)
          arc.entries.filter(e => e.hasStream && e.folderIdx == fi).sortBy(_.subIdx).map { en =>
            if (en.subOffset < 0 || en.size < 0 || en.subOffset + en.size > out.length)
              fail(s"7z: substream overruns folder output: ${en.name}")
            val payload = java.util.Arrays.copyOfRange(out, en.subOffset.toInt, (en.subOffset + en.size).toInt)
            en.crc.foreach(want => if (crc32(payload, 0, payload.length) != want) fail(s"7z: substream CRC mismatch: ${en.name}"))
            (en.name, payload)
          }
        } finally in.close()
      }
      .toDF("name", "bytes")
  }
}
