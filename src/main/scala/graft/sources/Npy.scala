package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** NumPy array files — `.npy` (one tensor) and `.npz` (a zip of
  * `.npy` members) — the ML ecosystem's embedding/feature interchange
  * shape (faiss index inputs, sklearn dumps, numpy.save/savez).
  *
  * `.npy` layout (public spec, numpy/lib/format.py): magic
  * `\x93NUMPY`, version, header length (u16 for v1, u32 for v2/v3),
  * then a Python-dict-literal header naming `descr` (dtype string),
  * `fortran_order` and `shape`, padded so data starts 64-aligned,
  * then raw elements. Supported descrs: bool, i1..i8, u1..u4 (u8 has
  * no lossless JVM carrier and refuses), f2/f4/f8, fixed `S`/`U`
  * strings — both byte orders, both memory orders (Fortran reads
  * through an index transpose), versions 1/2/3. Object arrays
  * (pickle) refuse loudly — they are code, not data.
  *
  * `.npz` composes the in-tree [[Zip]] central-directory walk (the
  * format IS a zip), so huge archives keep ZIP's ranged split-scan
  * shape: name the member, fetch exactly its extent, decode.
  *
  * Conformance: NpySpec pins committed REAL numpy 1.26 fixtures
  * (tools/gen_npy_fixtures.py — dtype × order × version × npz
  * matrix, values recomputed from formulas) and round-trips our
  * writer's output under numpy at capture time.
  *
  * Untrusted-bytes contract: malformed input raises [[NpyError]]. */
object Npy {

  final class NpyError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new NpyError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: NpyError => throw e
      case e @ (_: IndexOutOfBoundsException | _: NegativeArraySizeException |
          _: NumberFormatException | _: ArithmeticException | _: IllegalArgumentException) =>
        fail(s"npy: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})")
    }

  final case class Header(descr: String, fortran: Boolean, shape: Seq[Int])

  /** One decoded tensor: raw bytes + typed accessors. Logical element
    * index is C-order regardless of on-disk order (Fortran layouts go
    * through the stride transpose in [[physical]]). */
  final case class NpyArray(header: Header, raw: Array[Byte], dataOff: Int) {
    val n: Int = header.shape.product
    private val little = !header.descr.startsWith(">")
    private val kind: Char = header.descr.dropWhile(c => c == '<' || c == '>' || c == '|' || c == '=').head
    private val width: Int = {
      val w = header.descr.dropWhile(!_.isDigit)
      val base = if (w.isEmpty) 1 else w.toInt
      if (kind == 'U') base * 4 else base
    }
    req(dataOff >= 0 && raw.length - dataOff >= n.toLong * width,
      s"npy: data region ${raw.length - dataOff} < ${n.toLong * width}")

    /** physical element index for logical C-order index i. */
    private def physical(i: Int): Int =
      if (!header.fortran || header.shape.length < 2) i
      else {
        val dims = header.shape
        // C-order multi-index (last dimension fastest)
        val idx = new Array[Int](dims.length)
        var rem = i
        var d = dims.length - 1
        while (d >= 0) { idx(d) = rem % dims(d); rem /= dims(d); d -= 1 }
        // Fortran linear offset (first dimension fastest)
        var f = 0
        var mult = 1
        d = 0
        while (d < dims.length) { f += idx(d) * mult; mult *= dims(d); d += 1 }
        f
      }

    @inline private def base(i: Int): Int = dataOff + physical(i) * width

    private def bits(i: Int, w: Int): Long = {
      val p = base(i)
      w match {
        case 1 => raw(p) & 0xffL
        case 2 => if (little) Bytes.le16(raw, p) else Bytes.be16(raw, p)
        case 4 => if (little) Bytes.le32u(raw, p) else Bytes.be32u(raw, p)
        case _ => if (little) Bytes.le64(raw, p) else Bytes.be64(raw, p)
      }
    }

    def longAt(i: Int): Long = kind match {
      case 'i' =>
        val v = bits(i, width)
        width match { case 1 => v.toByte.toLong; case 2 => v.toShort.toLong; case 4 => v.toInt.toLong; case _ => v }
      case 'u' =>
        req(width <= 4, "npy: uint64 has no lossless JVM carrier")
        bits(i, width)
      case 'b' => if (raw(base(i)) != 0) 1L else 0L
      case k => fail(s"npy: longAt on kind '$k'")
    }

    def doubleAt(i: Int): Double = kind match {
      case 'f' =>
        width match {
          case 2 => graft.multimodal.Rad.halfToFloat(bits(i, 2).toInt).toDouble
          case 4 => java.lang.Float.intBitsToFloat(bits(i, 4).toInt).toDouble
          case 8 => java.lang.Double.longBitsToDouble(bits(i, 8))
          case w => fail(s"npy: f$w")
        }
      case 'i' | 'u' | 'b' => longAt(i).toDouble
      case k => fail(s"npy: doubleAt on kind '$k'")
    }

    def boolAt(i: Int): Boolean = { req(kind == 'b', s"npy: boolAt on kind '$kind'"); raw(base(i)) != 0 }

    /** Fixed-width strings: 'S' = latin bytes (NUL-trimmed), 'U' =
      * UCS-4 codepoints (NUL-trimmed). */
    def stringAt(i: Int): String = kind match {
      case 'S' =>
        var end = base(i) + width
        while (end > base(i) && raw(end - 1) == 0) end -= 1
        new String(raw, base(i), end - base(i), java.nio.charset.StandardCharsets.ISO_8859_1)
      case 'U' =>
        val sb = new java.lang.StringBuilder
        var j = 0
        var done = false
        while (j < width / 4 && !done) {
          val p = base(i) + 4 * j
          val cp = if (little) Bytes.le32(raw, p) else Bytes.be32(raw, p)
          if (cp == 0) done = true
          else { req(Character.isValidCodePoint(cp), s"npy: invalid codepoint $cp"); sb.appendCodePoint(cp) }
          j += 1
        }
        sb.toString
      case k => fail(s"npy: stringAt on kind '$k'")
    }

    def floats: Array[Float] = Array.tabulate(n)(i => doubleAt(i).toFloat)
    def doubles: Array[Double] = Array.tabulate(n)(i => doubleAt(i))
    def longs: Array[Long] = Array.tabulate(n)(i => longAt(i))
  }



  private val Magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  /** Parse the header; returns (header, dataOffset). */
  def parseHeader(b: Array[Byte]): (Header, Int) = guarded("header") {
    req(b.length >= 10, "npy: too short")
    req(b.take(6).sameElements(Magic), "npy: bad magic")
    val major = b(6) & 0xff
    req(major >= 1 && major <= 3, s"npy: version $major")
    val (hLen, hOff) =
      if (major == 1) ((b(8) & 0xff) | ((b(9) & 0xff) << 8), 10)
      else {
        req(b.length >= 12, "npy: truncated v2 length")
        val l = (b(8) & 0xff) | ((b(9) & 0xff) << 8) | ((b(10) & 0xff) << 16) | ((b(11) & 0xff) << 24)
        (l, 12)
      }
    req(hLen >= 0 && hOff + hLen <= b.length, s"npy: header length $hLen out of range")
    val text = new String(b, hOff, hLen, java.nio.charset.StandardCharsets.UTF_8)
    (parseDictLiteral(text), hOff + hLen)
  }

  /** The header is a PYTHON dict literal, not JSON: single quotes,
    * True/False, a tuple for shape. Parse just that grammar. */
  private[sources] def parseDictLiteral(text: String): Header = {
    var at = 0
    def ws(): Unit = while (at < text.length && text(at).isWhitespace) at += 1
    def expect(c: Char): Unit = { ws(); req(at < text.length && text(at) == c, s"npy header: expected '$c' at $at"); at += 1 }
    def quoted(): String = {
      ws()
      req(at < text.length && (text(at) == '\'' || text(at) == '"'), s"npy header: expected quote at $at")
      val q = text(at); at += 1
      val start = at
      while (at < text.length && text(at) != q) at += 1
      req(at < text.length, "npy header: unterminated string")
      val s = text.substring(start, at); at += 1
      s
    }
    def int(): Int = {
      ws()
      val start = at
      while (at < text.length && text(at).isDigit) at += 1
      req(at > start, s"npy header: expected int at $start")
      val v = text.substring(start, at).toLong
      req(v <= Int.MaxValue, s"npy header: dimension $v too large")
      v.toInt
    }
    expect('{')
    var descr: String = null
    var fortran: java.lang.Boolean = null
    var shape: Seq[Int] = null
    var done = false
    while (!done) {
      ws()
      if (at < text.length && text(at) == '}') { at += 1; done = true }
      else {
        val key = quoted()
        expect(':')
        key match {
          case "descr" => descr = quoted()
          case "fortran_order" =>
            ws()
            if (text.startsWith("True", at)) { fortran = true; at += 4 }
            else if (text.startsWith("False", at)) { fortran = false; at += 5 }
            else fail(s"npy header: bad fortran_order at $at")
          case "shape" =>
            expect('(')
            val dims = scala.collection.mutable.ArrayBuffer.empty[Int]
            ws()
            if (at < text.length && text(at) == ')') at += 1
            else {
              var more = true
              while (more) {
                dims += int()
                ws()
                if (at < text.length && text(at) == ',') { at += 1; ws() }
                if (at < text.length && text(at) == ')') { at += 1; more = false }
                else req(at < text.length && (text(at).isDigit), s"npy header: bad shape at $at")
              }
            }
            shape = dims.toSeq
          case k => fail(s"npy header: unknown key '$k'")
        }
        ws()
        if (at < text.length && text(at) == ',') at += 1
      }
    }
    req(descr != null && fortran != null && shape != null, "npy header: missing required keys")
    req(!descr.contains("O"), "npy: object arrays are pickled code, refusing")
    // multiplyExact: a crafted header with many huge dims would wrap a plain
    // Long product past the Int.MaxValue check (guarded() maps the throw to NpyError)
    val prod = shape.foldLeft(1L)((a, d) => { req(d >= 0, "npy: negative dim"); Math.multiplyExact(a, math.max(1L, d.toLong)) })
    req(prod <= Int.MaxValue, s"npy: $prod elements")
    Header(descr, fortran, shape)
  }

  def decode(b: Array[Byte]): NpyArray = guarded("npy") {
    val (h, off) = parseHeader(b)
    val k = h.descr.dropWhile(c => c == '<' || c == '>' || c == '|' || c == '=').headOption.getOrElse('?')
    req("biufSU".indexOf(k.toInt) >= 0, s"npy: unsupported descr '${h.descr}'")
    NpyArray(h, b, off)
  }

  // ----------------------------------------------------------------- writer

  private def headerBytes(descr: String, fortran: Boolean, shape: Seq[Int]): Array[Byte] = {
    val dims = shape.map(_.toString).mkString(", ") + (if (shape.length == 1) "," else "")
    val dict = s"{'descr': '$descr', 'fortran_order': ${if (fortran) "True" else "False"}, 'shape': ($dims), }"
    val prefix = 10 // magic + version + u16 len
    val total0 = prefix + dict.length + 1
    val pad = (64 - (total0 % 64)) % 64
    val hLen = dict.length + pad + 1
    req(hLen < 65536, "npy writer: header too large for v1")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 6)
    out.write(1); out.write(0)
    out.write(hLen & 0xff); out.write(hLen >>> 8)
    out.write(dict.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var i = 0
    while (i < pad) { out.write(' '); i += 1 }
    out.write('\n')
    out.toByteArray
  }

  def fromLongs(values: Array[Long], shape: Seq[Int]): Array[Byte] = {
    req(values.length == shape.product, "npy writer: shape/product drift")
    val out = new java.io.ByteArrayOutputStream()
    out.write(headerBytes("<i8", fortran = false, shape))
    values.foreach { v =>
      var j = 0
      while (j < 8) { out.write(((v >>> (8 * j)) & 0xff).toInt); j += 1 }
    }
    out.toByteArray
  }

  def fromFloats(values: Array[Float], shape: Seq[Int]): Array[Byte] = {
    req(values.length == shape.product, "npy writer: shape/product drift")
    val out = new java.io.ByteArrayOutputStream()
    out.write(headerBytes("<f4", fortran = false, shape))
    values.foreach { v =>
      val b = java.lang.Float.floatToIntBits(v)
      var j = 0
      while (j < 4) { out.write((b >>> (8 * j)) & 0xff); j += 1 }
    }
    out.toByteArray
  }

  def fromDoubles(values: Array[Double], shape: Seq[Int]): Array[Byte] = {
    req(values.length == shape.product, "npy writer: shape/product drift")
    val out = new java.io.ByteArrayOutputStream()
    out.write(headerBytes("<f8", fortran = false, shape))
    values.foreach { v =>
      val b = java.lang.Double.doubleToLongBits(v)
      var j = 0
      while (j < 8) { out.write(((b >>> (8 * j)) & 0xff).toInt); j += 1 }
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------- npz

  /** Decode every member of an in-memory `.npz` through the in-tree
    * ZIP walk (EOCD -> central directory -> per-entry extent).
    * Container-layer failures surface as [[NpyError]] per this file's
    * contract (the ZipError cause is named in the message). */
  def npzEntries(bytes: Array[Byte]): Map[String, NpyArray] = guarded("npz") {
    try npzEntriesImpl(bytes)
    catch { case e: Zip.ZipError => fail(s"npz container: ${e.getMessage}") }
  }

  private def npzEntriesImpl(bytes: Array[Byte]): Map[String, NpyArray] = {
    val ranged: (Long, Int) => Array[Byte] =
      (off, n) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n)
    val (cdOff, cdSize, count) = Zip.centralDirectoryExtent(ranged, bytes.length.toLong)
    val entries = Zip.parseCentralDirectory(
      java.util.Arrays.copyOfRange(bytes, cdOff.toInt, (cdOff + cdSize).toInt), count)
    entries.map { e =>
      val buf = java.util.Arrays.copyOfRange(
        bytes, e.localHeaderOffset.toInt, e.localHeaderOffset.toInt + Zip.fetchLen(e, bytes.length.toLong))
      val name = e.name.stripSuffix(".npy")
      name -> decode(Zip.decodeEntry(buf, e))
    }.toMap
  }

  // ------------------------------------------------------------ oracle lane

  /** q_npz: per (event_type, shard) bucket, ids become a `.npz`
    * archive (JDK ZipOutputStream = the independent container
    * producer, members written by OUR npy writer: int64 ids, float32
    * (n,4) features), read back end to end by OUR Zip walk + npy
    * decode (requires verify each id and feature), aggregated in
    * closed form. numpy-producer conformance: NpySpec fixtures. */
  def npzQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val n = sorted.length
      val feats = new Array[Float](n * 4)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < 4) { feats(i * 4 + j) = (sorted(i) % 1000 + j).toFloat; j += 1 }
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bos)
      def put(name: String, data: Array[Byte]): Unit = {
        val ze = new java.util.zip.ZipEntry(name)
        ze.setTime(0L)
        zo.putNextEntry(ze)
        zo.write(data)
        zo.closeEntry()
      }
      put("ids.npy", fromLongs(sorted, Seq(n)))
      put("feats.npy", fromFloats(feats, Seq(n, 4)))
      zo.close()
      val arrays = npzEntries(bos.toByteArray)
      val idsBack = arrays.getOrElse("ids", fail("npz lane: missing ids member"))
      val featsBack = arrays.getOrElse("feats", fail("npz lane: missing feats member"))
      require(idsBack.header.shape == Seq(n) && featsBack.header.shape == Seq(n, 4), "npz lane: shape drift")
      var featSum = 0L
      i = 0
      while (i < n) {
        require(idsBack.longAt(i) == sorted(i), s"npz lane: id drift at $i")
        var j = 0
        while (j < 4) {
          val f = featsBack.doubleAt(i * 4 + j)
          require(f == (sorted(i) % 1000 + j).toDouble, s"npz lane: feature drift at ($i,$j)")
          featSum += f.toLong
          j += 1
        }
        i += 1
      }
      Seq(n.toLong, featSum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_vectors"),
        sum($"c".getItem(1)).cast("long").as("feat_sum"))
      .orderBy($"event_type")
  }
}
