package graft.raster

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{putLe16, putLe32}

/** Cloud-Optimized GeoTIFF writer — pure JVM, no GDAL.
  *
  * Closes the last derivative-artifact codec alongside `Png` (raster
  * tiles), `geo/Mvt` (vector tiles) and `Multimodal.thumbnails`: a
  * single-band 8-bit TILED GeoTIFF with the COG layout — the full IFD
  * chain (main image + reduced-resolution overviews) at the head of
  * the file, tile payloads after, smallest overview's data first — so
  * an HTTP range reader renders low zooms from the file head without
  * touching full-res tiles (ref `cog.cpp` delegates this layout to
  * GDAL's COG driver; here the format itself is written).
  *
  * Scope bounds (same contract as Png): uncompressed, single band,
  * 8-bit, nearest-neighbour overviews — the deterministic subset both
  * a spec and an oracle can pin down. The spec (`CogSpec`) round-trips
  * the bytes through the JDK's own TIFF ImageReader and a manual IFD
  * parse; the relational face feeding it (per-tile padded pixel
  * planes) is DuckDB-oracled (q_cog).
  */
object Cog {

  /** Geographic referencing: pixel (0,0) anchored at (originX,
    * originY), square pixels, EPSG code (geographic by default,
    * `projected = true` for a projected CRS). */
  final case class GeoRef(
      originX: Double,
      originY: Double,
      pixelSize: Double,
      epsg: Int,
      projected: Boolean = false
  )

  private final case class Level(w: Int, h: Int, px: Array[Byte])

  private final case class Entry(tag: Int, typ: Int, count: Int, inline: Long = 0L, ext: Array[Byte] = null)

  private val TShort = 3
  private val TLong = 4
  private val TDouble = 12

  /** Encode `pixels` (row-major, width×height, one byte per sample)
    * as a tiled COG. Overviews halve (nearest, top-left sample) until
    * the level fits one tile. `compression` 1 = none, 8 = DEFLATE
    * (zlib per tile — what real COGs ship; the JDK Inflater/ImageIO
    * read it back). */
  def encode(
      width: Int,
      height: Int,
      pixels: Array[Byte],
      tileSize: Int = 256,
      geo: Option[GeoRef] = None,
      compression: Int = 1
  ): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height, "pixels must be width*height")
    require(tileSize > 0 && tileSize % 16 == 0, "TIFF tile dims must be multiples of 16")
    require(compression == 1 || compression == 8, s"unsupported TIFF compression $compression")
    // classic TIFF carries 32-bit offsets and this writer assembles in
    // one array — bound the PADDED artifact: Σ over pyramid levels of
    // gridX·gridY·tileSize², which is what actually lands in the file
    // (a raw w·h bound misses tile padding — a 1×500M strip is tiny by
    // area but explodes to gy·tileSize² padded bytes). A raster past
    // this wants BigTIFF, out of scope with the other large-codec
    // variants.
    val paddedBytes = {
      val tb = tileSize.toLong * tileSize
      var lw = width; var lh = height; var total = 0L; var more = true
      while (more) {
        total += ((lw + tileSize - 1L) / tileSize) * ((lh + tileSize - 1L) / tileSize) * tb
        if (math.max(lw, lh) <= tileSize) more = false
        else { lw = math.max(1, (lw + 1) / 2); lh = math.max(1, (lh + 1) / 2) }
      }
      total
    }
    require(
      paddedBytes * 2 < Int.MaxValue,
      s"raster too large for a single classic-TIFF COG (padded pyramid ${paddedBytes}B): ${width}x$height @tile=$tileSize"
    )

    // level pyramid: full res first, then nearest-sampled halvings
    val levels = ArrayBuffer(Level(width, height, pixels))
    while (math.max(levels.last.w, levels.last.h) > tileSize) {
      val p = levels.last
      val w2 = math.max(1, (p.w + 1) / 2)
      val h2 = math.max(1, (p.h + 1) / 2)
      val out = new Array[Byte](w2 * h2)
      var y = 0
      while (y < h2) {
        var x = 0
        while (x < w2) { out(y * w2 + x) = p.px(math.min(2 * y, p.h - 1) * p.w + math.min(2 * x, p.w - 1)); x += 1 }
        y += 1
      }
      levels += Level(w2, h2, out)
    }

    def tileGrid(l: Level): (Int, Int) = ((l.w + tileSize - 1) / tileSize, (l.h + tileSize - 1) / tileSize)
    val tileBytes = tileSize * tileSize

    // materialize every tile's STORED bytes up front (deflate makes
    // sizes variable, so the layout pass needs them)
    def rawTile(l: Level, tx: Int, ty: Int): Array[Byte] = {
      val tile = new Array[Byte](tileBytes)
      val x0 = tx * tileSize; val y0 = ty * tileSize
      var y = 0
      while (y < tileSize && y0 + y < l.h) {
        val n = math.min(tileSize, l.w - x0)
        if (n > 0) System.arraycopy(l.px, (y0 + y) * l.w + x0, tile, y * tileSize, n)
        y += 1
      }
      tile
    }
    def stored(tile: Array[Byte]): Array[Byte] =
      if (compression == 1) tile
      else {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
        d.setInput(tile); d.finish()
        val buf = new Array[Byte](tileBytes + 64)
        var n = 0
        while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
        d.end()
        java.util.Arrays.copyOf(buf, n)
      }
    val storedTiles: IndexedSeq[IndexedSeq[Array[Byte]]] = levels.indices.map { li =>
      val l = levels(li)
      val (gx, gy) = tileGrid(l)
      (0 until gx * gy).map(t => stored(rawTile(l, t % gx, t / gx)))
    }

    // tile DATA order: smallest overview first (COG head-of-file
    // renderability), main level last; per level row-major
    val dataOrder: Seq[Int] = levels.indices.reverse

    // ---- layout pass: sizes and offsets -------------------------------
    def geoExt(g: GeoRef): Seq[Entry] = {
      val scale = doubleBytes(Seq(g.pixelSize, g.pixelSize, 0.0))
      val tiepoint = doubleBytes(Seq(0.0, 0.0, 0.0, g.originX, g.originY, 0.0))
      val modelType = if (g.projected) 1 else 2
      val epsgKey = if (g.projected) 3072 else 2048
      val keys = Seq(1, 1, 0, 3, 1024, 0, 1, modelType, 1025, 0, 1, 1, epsgKey, 0, 1, g.epsg)
      val keyBytes = { val b = new ArrayBuffer[Byte](keys.length * 2); keys.foreach(k => putLe16(b, k)); b.toArray }
      Seq(
        Entry(33550, TDouble, 3, ext = scale),
        Entry(33922, TDouble, 6, ext = tiepoint),
        Entry(34735, TShort, keys.length, ext = keyBytes)
      )
    }

    def entriesFor(li: Int, tileOffsets: Seq[Long]): Seq[Entry] = {
      val l = levels(li)
      val (gx, gy) = tileGrid(l)
      val n = gx * gy
      val counts = storedTiles(li).map(_.length.toLong)
      val offsetsEntry =
        if (n == 1) Entry(324, TLong, 1, inline = tileOffsets.head)
        else Entry(324, TLong, n, ext = longBytes(tileOffsets))
      val countsEntry =
        if (n == 1) Entry(325, TLong, 1, inline = counts.head)
        else Entry(325, TLong, n, ext = longBytes(counts))
      val base = Seq(
        Entry(254, TLong, 1, inline = if (li == 0) 0L else 1L), // reduced-resolution flag
        Entry(256, TLong, 1, inline = l.w.toLong),
        Entry(257, TLong, 1, inline = l.h.toLong),
        Entry(258, TShort, 1, inline = 8L),
        Entry(259, TShort, 1, inline = compression.toLong), // 1 = none, 8 = DEFLATE
        Entry(262, TShort, 1, inline = 1L), // BlackIsZero
        Entry(277, TShort, 1, inline = 1L),
        Entry(322, TShort, 1, inline = tileSize.toLong),
        Entry(323, TShort, 1, inline = tileSize.toLong),
        offsetsEntry,
        countsEntry,
        Entry(339, TShort, 1, inline = 1L) // unsigned integer samples
      )
      val withGeo = if (li == 0) base ++ geo.map(geoExt).getOrElse(Nil) else base
      withGeo.sortBy(_.tag) // TIFF requires ascending tag order
    }

    // entry counts are layout-independent: compute IFD/external sizes
    // from a dry run with dummy offsets
    val dummy = levels.indices.map(li => entriesFor(li, Seq.fill(tileGrid(levels(li))._1 * tileGrid(levels(li))._2)(0L)))
    val ifdSizes = dummy.map(e => 2 + 12 * e.length + 4)
    val extSizes = dummy.map(_.collect { case e if e.ext != null => e.ext.length + (e.ext.length & 1) }.sum)
    val ifdStarts = dummy.indices.scanLeft(8L)((pos, i) => pos + ifdSizes(i) + extSizes(i))
    val tileDataStart = ifdStarts.last
    // per-level tile data offsets in DATA order (variable tile sizes)
    val levelDataSize = levels.indices.map(li => storedTiles(li).map(_.length.toLong).sum)
    val levelDataStart = {
      val m = new Array[Long](levels.length)
      var pos = tileDataStart
      dataOrder.foreach { li => m(li) = pos; pos += levelDataSize(li) }
      m
    }

    // ---- write pass ----------------------------------------------------
    val out = new ArrayBuffer[Byte]((tileDataStart + levelDataSize.sum).toInt)
    putLe16(out, 0x4949); putLe16(out, 42); putLe32(out, ifdStarts(0)) // II, magic, IFD0
    levels.indices.foreach { li =>
      val offsets = storedTiles(li).scanLeft(levelDataStart(li))((p, t) => p + t.length).dropRight(1)
      val entries = entriesFor(li, offsets)
      var extPos = ifdStarts(li) + ifdSizes(li)
      putLe16(out, entries.length)
      entries.foreach { e =>
        putLe16(out, e.tag); putLe16(out, e.typ); putLe32(out, e.count.toLong)
        if (e.ext == null) inlineValue(e, out)
        else { putLe32(out, extPos); extPos += e.ext.length + (e.ext.length & 1) }
      }
      putLe32(out, if (li + 1 < levels.length) ifdStarts(li + 1) else 0L) // next IFD
      entries.foreach { e =>
        if (e.ext != null) { out ++= e.ext; if ((e.ext.length & 1) == 1) out += 0 }
      }
    }
    dataOrder.foreach(li => storedTiles(li).foreach(out ++= _))
    out.toArray
  }

  private def inlineValue(e: Entry, out: ArrayBuffer[Byte]): Unit = e.typ match {
    case TShort => putLe16(out, e.inline.toInt); putLe16(out, 0)
    case TLong  => putLe32(out, e.inline)
    case t      => throw new IllegalArgumentException(s"inline type $t unsupported")
  }

  private def doubleBytes(ds: Seq[Double]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(ds.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ds.foreach(b.putDouble)
    b.array()
  }

  private def longBytes(vs: Seq[Long]): Array[Byte] = {
    val b = new ArrayBuffer[Byte](vs.length * 4)
    vs.foreach(putLe32(b, _))
    b.toArray
  }

  /** One tile of one pyramid level: its byte range in the file plus
    * its pixel placement — the plan row a windowed read selects. */
  final case class TileRef(level: Int, tx: Int, ty: Int, offset: Long, size: Int)

  /** One pyramid level's read plan: dims, tile/strip grid,
    * compression, predictor and per-block byte ranges. Strip-organized
    * TIFFs (the common non-COG layout) surface as full-width tiles of
    * RowsPerStrip height, so every consumer reads both layouts. */
  final case class LevelPlan(
      w: Int,
      h: Int,
      tileW: Int,
      tileH: Int,
      compression: Int,
      predictor: Int,
      tiles: Seq[TileRef]
  )

  /** Per-level tile plan from the IFD chain ALONE (the COG
    * head-of-file contract: IFDs precede pixel data, so planning
    * needs only a small head range, never the tiles). Reads tiled
    * AND stripped layouts; single-sample 8-bit only (the raster
    * model this library computes on). */
  def tilePlan(head: Array[Byte]): Seq[LevelPlan] = {
    parseIfds(head).zipWithIndex.map { case (ifd, li) =>
      val w = ifd(256).head.toInt
      val h = ifd(257).head.toInt
      require(ifd.get(277).forall(_.head == 1L), "tiff: multi-sample rasters unsupported (single-band 8-bit model)")
      require(ifd.get(258).forall(_.head == 8L), "tiff: only 8-bit samples supported")
      val comp = ifd.get(259).map(_.head.toInt).getOrElse(1) match {
        case 32946 => 8 // legacy "Deflate" code: same zlib stream as 8
        case c => c
      }
      require(comp == 1 || comp == 5 || comp == 8, s"tiff: unsupported compression $comp")
      val pred = ifd.get(317).map(_.head.toInt).getOrElse(1)
      if (ifd.contains(322)) {
        val tw = ifd(322).head.toInt
        val th = ifd(323).head.toInt
        val gx = (w + tw - 1) / tw
        val offs = ifd(324)
        val sizes = ifd(325)
        val refs = offs.indices.map(i => TileRef(li, i % gx, i / gx, offs(i), sizes(i).toInt))
        LevelPlan(w, h, tw, th, comp, pred, refs)
      } else {
        // strip layout: full-width "tiles" of RowsPerStrip height
        val rps = math.min(h.toLong, ifd.get(278).map(_.head).getOrElse(h.toLong)).toInt
        val offs = ifd(273)
        val sizes = ifd(279)
        val refs = offs.indices.map(i => TileRef(li, 0, i, offs(i), sizes(i).toInt))
        LevelPlan(w, h, w, rps, comp, pred, refs)
      }
    }
  }

  /** TIFF-variant LZW decode (MSB-first codes, 9→12 bits with EARLY
    * code-width change, ClearCode 256 / EOI 257) — T.4/TIFF6 §13. */
  private def lzwDecode(b: Array[Byte], off: Int, len: Int, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var outAt = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val first = new Array[Byte](4096)
    val seqLen = new Array[Int](4096)
    var i = 0
    while (i < 256) { prefix(i) = -1; suffix(i) = i.toByte; first(i) = i.toByte; seqLen(i) = 1; i += 1 }
    var nextCode = 258
    var width = 9
    var bitPos = 0L
    val totalBits = len.toLong * 8
    def read(): Int = {
      if (bitPos + width > totalBits) return 257
      var v = 0
      var k = 0
      while (k < width) {
        val at = off + ((bitPos + k) >> 3).toInt
        v = (v << 1) | ((b(at) >> (7 - ((bitPos + k) & 7).toInt)) & 1)
        k += 1
      }
      bitPos += width
      v
    }
    def emit(code: Int): Unit = {
      val l = seqLen(code)
      var c = code
      var at = outAt + l - 1
      while (c >= 0) { // the chain is exactly l links, rooted at prefix −1
        if (at >= 0 && at < outLen) out(at) = suffix(c)
        c = prefix(c)
        at -= 1
      }
      outAt += l
    }
    var prev = -1
    var done = false
    while (!done && outAt < outLen) {
      val code = read()
      if (code == 257) done = true
      else if (code == 256) { nextCode = 258; width = 9; prev = -1 }
      else {
        if (prev >= 0 && nextCode < 4096) {
          val f = if (code < nextCode) first(code) else first(prev)
          prefix(nextCode) = prev
          suffix(nextCode) = f
          first(nextCode) = first(prev)
          seqLen(nextCode) = seqLen(prev) + 1
          nextCode += 1
        }
        if (code >= nextCode) done = true // corrupt stream: stop
        else { emit(code); prev = code }
        if (nextCode == (1 << width) - 1 && width < 12) width += 1 // TIFF early change
      }
    }
    out
  }

  /** Un-store one tile/strip: decompress (none / LZW / DEFLATE) then
    * undo the horizontal-differencing predictor if declared. */
  private def unstore(
      b: Array[Byte],
      off: Int,
      len: Int,
      compression: Int,
      predictor: Int,
      rowWidth: Int,
      rows: Int
  ): Array[Byte] = {
    require(
      off >= 0 && len >= 0 && off.toLong + len <= b.length,
      s"tiff: tile byte range [$off, ${off.toLong + len}) outside the ${b.length}-byte buffer (corrupt offsets)"
    )
    val outLen = rowWidth * rows
    val out = compression match {
      case 1 => java.util.Arrays.copyOf(java.util.Arrays.copyOfRange(b, off, off + len), outLen)
      case 5 => lzwDecode(b, off, len, outLen)
      case _ =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(b, off, len)
        val o = new Array[Byte](outLen)
        var at = 0
        var stuck = false
        try {
          while (!inf.finished() && at < outLen && !stuck) {
            val n = inf.inflate(o, at, outLen - at)
            if (n == 0 && inf.needsInput()) stuck = true // truncated stream: stop, don't spin
            at += n
          }
        } catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"tiff: corrupt DEFLATE tile (${e.getMessage})")
        } finally inf.end()
        o
    }
    if (predictor == 2) {
      var r = 0
      while (r < rows) {
        var x = 1
        while (x < rowWidth) {
          out(r * rowWidth + x) = (out(r * rowWidth + x) + out(r * rowWidth + x - 1)).toByte
          x += 1
        }
        r += 1
      }
    }
    out
  }

  /** ◆ Windowed pixel read — the `raster_region.cpp` READ semantic on
    * the COG this library writes: the driver plans from the IFD head
    * range, executors range-read ONLY the tiles intersecting the
    * window (the GET-Range shape that makes a COG cloud-optimized;
    * a small window over a huge raster reads kilobytes). Returns
    * (x, y, value) in level coordinates, clipped to the window and
    * the level bounds (tile padding never leaks out). */
  def pixelsTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      level: Int = 0,
      window: Option[(Int, Int, Int, Int)] = None // [x0, x1) × [y0, y1)
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val head = graft.sources.Laz.readRange(path, 0L, 1 << 16)
    val plan = tilePlan(head)
    require(level >= 0 && level < plan.size, s"cog: no pyramid level $level (have ${plan.size})")
    val LevelPlan(w, h, tw, th, comp, pred, refs) = plan(level)
    val (x0, y0, x1, y1) = window.getOrElse((0, 0, w, h))
    val hit = refs.filter(t => t.tx * tw < x1 && (t.tx + 1) * tw > x0 && t.ty * th < y1 && (t.ty + 1) * th > y0)
    val schema = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("value", IntegerType, nullable = false)
    ))
    val rdd = spark.sparkContext
      .parallelize(hit, math.max(1, math.min(hit.size, 64)))
      .flatMap { t =>
        val rows = math.min(th, h - t.ty * th) // strips: the last one is short
        val stored = graft.sources.Laz.readRange(path, t.offset, t.size)
        val bytes = unstore(stored, 0, stored.length, comp, pred, tw, rows)
        for {
          py <- 0 until rows
          y = t.ty * th + py
          if y >= y0 && y < math.min(y1, h)
          px <- 0 until tw
          x = t.tx * tw + px
          if x >= x0 && x < math.min(x1, w)
        } yield org.apache.spark.sql.Row(x, y, bytes(py * tw + px) & 0xFF)
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Serial in-memory decode of one level (test/driver face). */
  def decodeLevel(bytes: Array[Byte], level: Int): (Int, Int, Array[Int]) = {
    val plan = tilePlan(bytes)
    require(level >= 0 && level < plan.size, s"cog: no pyramid level $level")
    val LevelPlan(w, h, tw, th, comp, pred, refs) = plan(level)
    val out = new Array[Int](w * h)
    refs.foreach { t =>
      val rows = math.min(th, h - t.ty * th)
      val tile = unstore(bytes, t.offset.toInt, t.size, comp, pred, tw, rows)
      for (py <- 0 until rows; px <- 0 until tw) {
        val x = t.tx * tw + px
        val y = t.ty * th + py
        if (x < w && y < h) out(y * w + x) = tile(py * tw + px) & 0xFF
      }
    }
    (w, h, out)
  }

  /** Minimal IFD walk: (tag → value(s)) per IFD. Both byte orders —
    * this writer emits II, the JDK's TIFF plugin (and many external
    * files) MM. */
  def parseIfds(bytes: Array[Byte]): Seq[Map[Int, Seq[Long]]] = {
    require(bytes.length >= 8, "not a TIFF")
    val order =
      if (bytes(0) == 'I' && bytes(1) == 'I') java.nio.ByteOrder.LITTLE_ENDIAN
      else if (bytes(0) == 'M' && bytes(1) == 'M') java.nio.ByteOrder.BIG_ENDIAN
      else throw new IllegalArgumentException("not a TIFF (no II/MM byte-order mark)")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(order)
    val magic = bb.getShort(2).toInt
    try magic match {
      case 42 => parseClassic(bb)
      case 43 => // BigTIFF: u16 offset size (8), u16 pad (0), u64 first IFD
        require(bb.getShort(4) == 8 && bb.getShort(6) == 0, "bigtiff: unsupported offset layout")
        parseBig(bb)
      case m => throw new IllegalArgumentException(s"not a TIFF (bad magic $m)")
    } catch {
      case e: IndexOutOfBoundsException => corruptChain(e.getMessage)
    }
  }

  private def corruptChain(detail: String): Nothing =
    throw new IllegalArgumentException(s"tiff: truncated or corrupt IFD chain ($detail)")

  /** An IFD chain that revisits an offset would loop forever. */
  private def visit(seen: scala.collection.mutable.Set[Long], pos: Long): Unit =
    if (!seen.add(pos)) corruptChain(s"IFD at offset $pos revisited")

  private val TLong8 = 16 // BigTIFF 64-bit unsigned

  private def typeWidth(typ: Int): Int =
    typ match { case TShort => 2; case TLong => 4; case TDouble => 8; case TLong8 => 8; case _ => 1 }

  private def readVal(bb: java.nio.ByteBuffer, typ: Int, at: Int, k: Int): Long = typ match {
    case TShort => (bb.getShort(at + 2 * k) & 0xffffL)
    case TLong => bb.getInt(at + 4 * k).toLong & 0xffffffffL
    case TDouble => bb.getDouble(at + 8 * k).toLong // spec reads integral geo doubles
    case TLong8 => bb.getLong(at + 8 * k)
    case _ => 0L
  }

  private def parseClassic(bb: java.nio.ByteBuffer): Seq[Map[Int, Seq[Long]]] = {
    val ifds = new ArrayBuffer[Map[Int, Seq[Long]]]()
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var pos = bb.getInt(4).toLong & 0xffffffffL
    while (pos != 0) {
      visit(seen, pos)
      val n = bb.getShort(pos.toInt) & 0xffff
      val entries = (0 until n).map { i =>
        val e = pos.toInt + 2 + 12 * i
        val tag = bb.getShort(e) & 0xffff
        val typ = bb.getShort(e + 2) & 0xffff
        val count = bb.getInt(e + 4)
        val vals =
          if (count * typeWidth(typ) <= 4) (0 until count).map(readVal(bb, typ, e + 8, _))
          else { val off = bb.getInt(e + 8); (0 until count).map(readVal(bb, typ, off, _)) }
        tag -> vals
      }
      ifds += entries.toMap
      pos = bb.getInt(pos.toInt + 2 + 12 * n).toLong & 0xffffffffL
    }
    ifds.toSeq
  }

  private def parseBig(bb: java.nio.ByteBuffer): Seq[Map[Int, Seq[Long]]] = {
    val ifds = new ArrayBuffer[Map[Int, Seq[Long]]]()
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var pos = bb.getLong(8)
    while (pos != 0) {
      visit(seen, pos)
      val n = bb.getLong(pos.toInt).toInt // entry count is u64; sane files are small
      val entries = (0 until n).map { i =>
        val e = pos.toInt + 8 + 20 * i
        val tag = bb.getShort(e) & 0xffff
        val typ = bb.getShort(e + 2) & 0xffff
        val count = bb.getLong(e + 4).toInt
        val vals =
          if (count.toLong * typeWidth(typ) <= 8) (0 until count).map(readVal(bb, typ, e + 12, _))
          else { val off = bb.getLong(e + 12).toInt; (0 until count).map(readVal(bb, typ, off, _)) }
        tag -> vals
      }
      ifds += entries.toMap
      pos = bb.getLong(pos.toInt + 8 + 20 * n)
    }
    ifds.toSeq
  }
}
