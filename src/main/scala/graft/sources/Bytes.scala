package graft.sources

import java.io.OutputStream

import scala.collection.mutable.ArrayBuffer

/** Byte layout in one place: fixed-width reads at an offset of an
  * `Array[Byte]` in either byte order, the matching appenders, stream
  * writers and in-place stores for the encoders, and the CRCs the
  * codecs share. Every read is a plain shift expression in a small
  * method (no `ByteBuffer` per read), so the JIT inlines it into the
  * hot decode loops. Reads check no bounds beyond the array's own.
  *
  * Naming: `le`/`be` give the byte order; 16-bit reads are unsigned
  * `Int`s; `le32`/`be32` return the raw 32 bits as a signed `Int` and
  * `le32u`/`be32u` the unsigned value as a `Long`.
  */
object Bytes {

  // ---------------------------------------------------------------- reads

  @inline def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  @inline def le24(b: Array[Byte], i: Int): Int = le16(b, i) | ((b(i + 2) & 0xff) << 16)
  @inline def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | (b(i + 3) << 24)
  @inline def le32u(b: Array[Byte], i: Int): Long = le32(b, i) & 0xffffffffL
  @inline def le64(b: Array[Byte], i: Int): Long = le32u(b, i) | (le32(b, i + 4).toLong << 32)
  @inline def leF32(b: Array[Byte], i: Int): Float = java.lang.Float.intBitsToFloat(le32(b, i))
  @inline def leF64(b: Array[Byte], i: Int): Double = java.lang.Double.longBitsToDouble(le64(b, i))

  @inline def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  @inline def be32(b: Array[Byte], i: Int): Int =
    (b(i) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  @inline def be32u(b: Array[Byte], i: Int): Long = be32(b, i) & 0xffffffffL
  @inline def be64(b: Array[Byte], i: Int): Long = (be32(b, i).toLong << 32) | be32u(b, i + 4)
  @inline def beF64(b: Array[Byte], i: Int): Double = java.lang.Double.longBitsToDouble(be64(b, i))

  /** Reads in the order a TIFF header names (`little` = "II"). */
  @inline def u16(b: Array[Byte], i: Int, little: Boolean): Int = if (little) le16(b, i) else be16(b, i)
  @inline def u32(b: Array[Byte], i: Int, little: Boolean): Long = if (little) le32u(b, i) else be32u(b, i)
  @inline def f64(b: Array[Byte], i: Int, little: Boolean): Double = if (little) leF64(b, i) else beF64(b, i)

  // ------------------------------------------------------------ appenders

  def putLe16(out: ArrayBuffer[Byte], v: Int): Unit = { out += v.toByte; out += (v >> 8).toByte }
  def putLe32(out: ArrayBuffer[Byte], v: Long): Unit = { putLe16(out, v.toInt); putLe16(out, (v >> 16).toInt) }
  def putLe64(out: ArrayBuffer[Byte], v: Long): Unit = { putLe32(out, v); putLe32(out, v >> 32) }
  def putLeF64(out: ArrayBuffer[Byte], v: Double): Unit = putLe64(out, java.lang.Double.doubleToLongBits(v))
  def putBe16(out: ArrayBuffer[Byte], v: Int): Unit = { out += (v >> 8).toByte; out += v.toByte }
  def putBe32(out: ArrayBuffer[Byte], v: Long): Unit = { putBe16(out, (v >> 16).toInt); putBe16(out, v.toInt) }
  def put16(out: ArrayBuffer[Byte], v: Int, little: Boolean): Unit = if (little) putLe16(out, v) else putBe16(out, v)
  def put32(out: ArrayBuffer[Byte], v: Long, little: Boolean): Unit = if (little) putLe32(out, v) else putBe32(out, v)

  // ------------------------------------------------------- stream writers

  def writeLe16(out: OutputStream, v: Int): Unit = { out.write(v); out.write(v >> 8) }
  def writeLe32(out: OutputStream, v: Long): Unit = { writeLe16(out, v.toInt); writeLe16(out, (v >> 16).toInt) }
  def writeBe32(out: OutputStream, v: Int): Unit = { out.write(v >> 24); out.write(v >> 16); out.write(v >> 8); out.write(v) }

  // ------------------------------------------------------ in-place stores

  def setLe16(b: Array[Byte], i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
  def setLe32(b: Array[Byte], i: Int, v: Int): Unit = { setLe16(b, i, v); setLe16(b, i + 2, v >> 16) }
  def setLe64(b: Array[Byte], i: Int, v: Long): Unit = { setLe32(b, i, v.toInt); setLe32(b, i + 4, (v >> 32).toInt) }
  def setBe16(b: Array[Byte], i: Int, v: Int): Unit = { b(i) = (v >> 8).toByte; b(i + 1) = v.toByte }
  def setBe32(b: Array[Byte], i: Int, v: Int): Unit = { setBe16(b, i, v >> 16); setBe16(b, i + 2, v) }

  // ------------------------------------------------------------ checksums

  /** CRC-32 (zlib, ISO-HDLC) of b[off, off + len). */
  def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }

  /** CRC-32C (Castagnoli, RFC 3720) of b[off, off + len). */
  def crc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C
    c.update(b, off, len)
    c.getValue.toInt
  }

  /** CRC-32C rotated and offset as Snappy framing and TFRecord store
    * it: `((c >>> 15) | (c << 17)) + 0xa282ead8`. */
  def maskedCrc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = crc32c(b, off, len)
    ((c >>> 15) | (c << 17)) + 0xa282ead8
  }

  // -------------------------------------------------------- JPEG segments

  /** Walk a JPEG's marker segments from SOI and return the index of the
    * first length-carrying segment's 0xFF for which `hit(marker, at)`
    * holds; its big-endian length (which counts itself) sits at
    * `at + 2`. Standalone markers (SOI, RST0-7) are stepped over. The
    * walk ends with -1 at SOS or EOI, on a lost sync, a length below 2,
    * or the end of the buffer; -1 too when `b` opens without SOI. */
  def jpegSegment(b: Array[Byte])(hit: (Int, Int) => Boolean): Int = {
    if (b == null || b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return -1
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xff) != 0xff) return -1
      val marker = b(i + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) i += 2
      else {
        if (marker == 0xd9 || marker == 0xda) return -1
        val len = be16(b, i + 2)
        if (len < 2) return -1
        if (hit(marker, i)) return i
        i += 2 + len
      }
    }
    -1
  }
}

/** A classic (32-bit offset) TIFF structure in b[off, end), as EXIF
  * APP1 blocks and GeoTIFF files carry it: the II/MM order flag, reads
  * that return 0 past `end`, and bounded IFD entry lists. Offsets in
  * the structure count from `off`. Reads before `off` are not guarded:
  * a negative offset throws, and the callers catch it. BigTIFF and IFD
  * chains stay with `graft.raster.Cog`. */
final class Tiff private (b: Array[Byte], off: Int, end: Int, val little: Boolean) {
  import Tiff.Entry

  def u16(i: Int): Int = if (i + 2 > end) 0 else Bytes.u16(b, i, little)
  def u32(i: Int): Long = if (i + 4 > end) 0L else Bytes.u32(b, i, little)
  def f64(i: Int): Double = if (i + 8 > end) 0.0 else Bytes.f64(b, i, little)

  /** IFD0's offset (relative to `off`). */
  def ifd0: Long = u32(off + 4)

  /** Up to `cap` entries of the IFD at relative offset `ifdOff`; an
    * entry that would run past `end` is left out. */
  def entries(ifdOff: Long, cap: Int): IndexedSeq[Entry] = {
    val base = off + ifdOff.toInt
    if (ifdOff <= 0 || base + 2 > end) return IndexedSeq.empty
    (0 until math.min(u16(base), cap)).flatMap { k =>
      val e = base + 2 + k * 12
      if (e + 12 > end) None else Some(Entry(u16(e), u16(e + 2), u32(e + 4), e + 8))
    }
  }

  /** The next-IFD offset stored after the IFD at `ifdOff`; 0 past `end`. */
  def next(ifdOff: Long): Long = {
    val base = off + ifdOff.toInt
    u32(base + 2 + u16(base) * 12)
  }

  /** Absolute index of an entry's value: inline when it fits in the
    * 4-byte field, else at the offset stored there. */
  def valueAt(e: Entry): Int = if (e.size <= 4) e.at else off + u32(e.at).toInt

  /** The entry's first value as SHORT or LONG, read inline. */
  def scalar(e: Entry): Long = if (e.tpe == 3) u16(e.at).toLong else u32(e.at)
}

object Tiff {

  /** One IFD entry; `at` is the absolute index of its 4-byte value field. */
  final case class Entry(id: Int, tpe: Int, count: Long, at: Int) {
    def size: Long = typeSize(tpe).toLong * count
  }

  /** Bytes per value of the 12 TIFF 6.0 field types; 1 for unknown types. */
  def typeSize(tpe: Int): Int = tpe match {
    case 3 | 8 => 2
    case 4 | 9 | 11 => 4
    case 5 | 10 | 12 => 8
    case _ => 1
  }

  /** The structure in b[off, end) when it opens with II or MM and holds
    * at least the 8-byte header. */
  def open(b: Array[Byte], off: Int, end: Int): Option[Tiff] =
    if (off + 8 > end) None
    else if (b(off) == 'I' && b(off + 1) == 'I') Some(new Tiff(b, off, end, little = true))
    else if (b(off) == 'M' && b(off + 1) == 'M') Some(new Tiff(b, off, end, little = false))
    else None
}
