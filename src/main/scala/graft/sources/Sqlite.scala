package graft.sources

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{be16, be32u, setBe16, setBe32}

/** Pure-JVM SQLite file format — READ and WRITE — no SQLite library.
  *
  * The read half generalizes the b-tree walk that [[Gpkg]] introduced
  * (table b-trees, varint record headers, serial types, overflow
  * chains) with the pieces a database face needs: `user_version`,
  * the full `sqlite_master` catalog (tables, indexes, triggers), and
  * index b-tree walks (page types 0x02/0x0A with the index-page
  * overflow threshold).
  *
  * The write half emits a complete well-formed database file: table
  * b-trees (multi-level, rowid-keyed), index b-trees (sorted entries,
  * interior divider promotion), overflow chains per the spec's
  * min/max-local formulas, `sqlite_master` rooted at page 1, and the
  * 100-byte header with `user_version` / `application_id`. Conformance
  * is proven two ways in SqliteSpec: files written here round-trip
  * through this reader, and a REAL sqlite3-generated fixture (test
  * resource) reads back row-identical; dev-side, files written here
  * open clean under `PRAGMA integrity_check` in a stock sqlite3.
  *
  * This closes the SQLite half of the reference's registry/database
  * boundary (`src/library/database.cpp:36-204` — schema DDL +
  * user_version migration ladder); the `.ddb` face itself lives in
  * [[Ddb]].
  *
  * Scale shape: one database file is one artifact — an estate of .ddb
  * files reads/writes one file per task (the per-artifact kernel every
  * other codec here uses); nothing in this object touches Spark.
  */
object Sqlite {

  final case class Column(name: String, declared: String, isIpk: Boolean)
  final case class Table(name: String, rootPage: Int, columns: Seq[Column])
  /** One `sqlite_master` row: type is table/index/trigger/view. */
  final case class Master(typ: String, name: String, tblName: String, rootPage: Int, sql: String)

  // =====================================================================
  // Shared primitives
  // =====================================================================

  /** SQLite varint: 1–9 bytes big-endian 7-bit groups, 9th byte carries
    * a full 8 bits. Returns (value, bytesConsumed). */
  def varint(b: Array[Byte], i: Int): (Long, Int) = {
    require(i >= 0 && i < b.length, "sqlite: varint offset out of range (corrupt page)")
    var v = 0L
    var k = 0
    while (k < 8) {
      require(i + k < b.length, "sqlite: varint runs past the file (corrupt page)")
      val x = b(i + k) & 0xff
      if ((x & 0x80) == 0) return ((v << 7) | x, k + 1)
      v = (v << 7) | (x & 0x7f)
      k += 1
    }
    require(i + 8 < b.length, "sqlite: varint runs past the file (corrupt page)")
    (((v << 8) | (b(i + 8) & 0xffL)), 9)
  }

  def varintBytes(v: Long): Array[Byte] = {
    if (v >= 0 && v < 0x80) return Array(v.toByte)
    if ((v >>> 56) != 0) { // needs all 9 bytes (8 groups of 7 + full low byte)
      val out = new Array[Byte](9)
      var x = v >>> 8
      var i = 7
      out(8) = v.toByte
      while (i >= 0) { out(i) = ((x & 0x7f) | 0x80).toByte; x >>>= 7; i -= 1 }
      return out
    }
    val groups = new ArrayBuffer[Byte](5)
    var x = v
    while (x != 0) { groups += (x & 0x7f).toByte; x >>>= 7 }
    val out = groups.reverse.toArray
    var i = 0
    while (i < out.length - 1) { out(i) = (out(i) | 0x80.toByte).toByte; i += 1 }
    out
  }

  /** Decode one record (header varints → serial types → values).
    * Values: null / Long / Double / String / Array[Byte]. */
  def record(rec: Array[Byte]): Seq[Any] = {
    require(rec.nonEmpty, "sqlite: empty record")
    val (hlen, n0) = varint(rec, 0)
    require(hlen >= n0 && hlen <= rec.length, s"sqlite: record header length $hlen out of range (corrupt record)")
    val types = new ArrayBuffer[Long]()
    var i = n0
    while (i < hlen) { val (t, n) = varint(rec, i); types += t; i += n }
    var at = hlen.toInt
    types.toSeq.map { t =>
      def intN(n: Int): Long = {
        require(at + n <= rec.length, "sqlite: truncated integer value (corrupt record)")
        var v = if ((rec(at) & 0x80) != 0) -1L else 0L
        var k = 0
        while (k < n) { v = (v << 8) | (rec(at + k) & 0xffL); k += 1 }
        at += n
        v
      }
      t match {
        case 0 => null
        case 1 => intN(1)
        case 2 => intN(2)
        case 3 => intN(3)
        case 4 => intN(4)
        case 5 => intN(6)
        case 6 => intN(8)
        case 7 => java.lang.Double.longBitsToDouble(intN(8))
        case 8 => 0L
        case 9 => 1L
        case n if n >= 13 && n % 2 == 1 =>
          val len = ((n - 13) / 2).toInt
          require(len >= 0 && at + len <= rec.length, "sqlite: truncated text value (corrupt record)")
          val s = new String(rec, at, len, "UTF-8"); at += len; s
        case n if n >= 12 =>
          val len = ((n - 12) / 2).toInt
          require(len >= 0 && at + len <= rec.length, "sqlite: truncated blob value (corrupt record)")
          val b = java.util.Arrays.copyOfRange(rec, at, at + len); at += len; b
        case n =>
          throw new IllegalArgumentException(s"sqlite: invalid serial type $n (corrupt record)")
      }
    }
  }

  /** Encode one record. Accepted values: null / Long / Int / Double /
    * String / Array[Byte] / Boolean. Integers take the minimal signed
    * width; 0 and 1 use the one-byte serial types 8/9 (schema format 4,
    * which the header declares). */
  def encodeRecord(values: Seq[Any]): Array[Byte] = {
    val bodies = new ArrayBuffer[Array[Byte]](values.length)
    val serials = values.map {
      case null => bodies += Array.emptyByteArray; 0L
      case b: Boolean => bodies += Array.emptyByteArray; if (b) 9L else 8L
      case i: Int => encodeInt(i.toLong, bodies)
      case v: Long => encodeInt(v, bodies)
      case d: Double =>
        val bits = java.lang.Double.doubleToLongBits(d)
        val b = new Array[Byte](8)
        var k = 0
        while (k < 8) { b(k) = (bits >>> (56 - 8 * k)).toByte; k += 1 }
        bodies += b; 7L
      case s: String =>
        val b = s.getBytes("UTF-8"); bodies += b; 13L + 2L * b.length
      case a: Array[Byte] => bodies += a; 12L + 2L * a.length
      case other => throw new IllegalArgumentException(s"unsupported SQLite value: ${other.getClass}")
    }
    val serialBytes = serials.map(varintBytes)
    // Header length varint is self-inclusive; sizes <128 are the norm,
    // but iterate once in case the header itself crosses the boundary.
    var hlen = serialBytes.map(_.length).sum + 1
    if (varintBytes(hlen.toLong).length > 1) hlen = serialBytes.map(_.length).sum + varintBytes((hlen + 1).toLong).length
    val out = new ArrayBuffer[Byte](hlen + bodies.map(_.length).sum)
    out ++= varintBytes(hlen.toLong)
    serialBytes.foreach(out ++= _)
    bodies.foreach(out ++= _)
    out.toArray
  }

  private def encodeInt(v: Long, bodies: ArrayBuffer[Array[Byte]]): Long = {
    if (v == 0L) { bodies += Array.emptyByteArray; return 8L }
    if (v == 1L) { bodies += Array.emptyByteArray; return 9L }
    val n =
      if (v >= -128 && v < 128) 1
      else if (v >= -32768 && v < 32768) 2
      else if (v >= -8388608 && v < 8388608) 3
      else if (v >= -2147483648L && v < 2147483648L) 4
      else if (v >= -140737488355328L && v < 140737488355328L) 6
      else 8
    val b = new Array[Byte](n)
    var k = 0
    while (k < n) { b(k) = (v >>> (8 * (n - 1 - k))).toByte; k += 1 }
    bodies += b
    n match { case 1 => 1L; case 2 => 2L; case 3 => 3L; case 4 => 4L; case 6 => 5L; case 8 => 6L }
  }

  // =====================================================================
  // Reader
  // =====================================================================

  final class Db(val bytes: Array[Byte]) {
    require(bytes.length > 100 && new String(bytes, 0, 15, "US-ASCII") == "SQLite format 3", "not a SQLite db")
    val pageSize: Int = { val p = be16(bytes, 16); if (p == 1) 65536 else p }
    val reserved: Int = bytes(20) & 0xff
    val usable: Int = pageSize - reserved
    def userVersion: Int = be32u(bytes, 60).toInt
    def applicationId: Int = be32u(bytes, 68).toInt
    def pageStart(p: Int): Int = {
      require(p >= 1 && (p.toLong - 1) * pageSize < bytes.length, s"sqlite: page $p out of range (corrupt pointer)")
      (p - 1) * pageSize
    }

    /** Full cell payload, following the overflow chain if spilled.
      * The local threshold differs between table-leaf and index pages. */
    def payload(at: Int, total: Long, index: Boolean): (Array[Byte], Int) = {
      require(total >= 0 && total <= bytes.length.toLong, s"sqlite: payload length $total out of range (corrupt cell)")
      val maxLocal = if (index) (usable - 12) * 64 / 255 - 23 else usable - 35
      if (total <= maxLocal) {
        require(at >= 0 && at + total.toInt <= bytes.length, "sqlite: cell payload out of range (corrupt cell)")
        return (java.util.Arrays.copyOfRange(bytes, at, at + total.toInt), total.toInt)
      }
      val minLocal = (usable - 12) * 32 / 255 - 23
      val k = minLocal + ((total - minLocal) % (usable - 4)).toInt
      val local = if (k <= maxLocal) k else minLocal
      require(at >= 0 && at + local + 4 <= bytes.length, "sqlite: spilled cell out of range (corrupt cell)")
      val out = new ArrayBuffer[Byte](total.toInt)
      out ++= java.util.Arrays.copyOfRange(bytes, at, at + local)
      var page = be32u(bytes, at + local)
      var hops = 0
      while (page != 0 && out.length < total) {
        require(hops < bytes.length / (usable - 4) + 2, "sqlite: overflow chain cycle (corrupt database)")
        val ps = pageStart(page.toInt)
        val take = math.min(usable - 4, total.toInt - out.length)
        require(ps + 4 + take <= bytes.length, "sqlite: overflow page out of range (corrupt database)")
        out ++= java.util.Arrays.copyOfRange(bytes, ps + 4, ps + 4 + take)
        page = be32u(bytes, ps)
        hops += 1
      }
      (out.toArray, local + 4)
    }

    /** Walk a table b-tree rooted at `page`, invoking f(rowid, record). */
    def scan(page: Int)(f: (Long, Array[Byte]) => Unit): Unit = scan(page, 0)(f)

    private def scan(page: Int, depth: Int)(f: (Long, Array[Byte]) => Unit): Unit = {
      require(depth < 64, "sqlite: b-tree recursion too deep (corrupt page cycle)")
      val ps = pageStart(page)
      val hdr = if (page == 1) ps + 100 else ps
      val ptype = bytes(hdr) & 0xff
      val nCells = be16(bytes, hdr + 3)
      ptype match {
        case 0x0d => // leaf table
          var c = 0
          while (c < nCells) {
            var at = ps + be16(bytes, hdr + 8 + 2 * c)
            val (plen, n1) = varint(bytes, at); at += n1
            val (rowid, n2) = varint(bytes, at); at += n2
            val (rec, _) = payload(at, plen, index = false)
            f(rowid, rec)
            c += 1
          }
        case 0x05 => // interior table
          var c = 0
          while (c < nCells) {
            val at = ps + be16(bytes, hdr + 12 + 2 * c)
            require(at + 4 <= bytes.length, "sqlite: interior cell out of range (corrupt page)")
            scan(be32u(bytes, at).toInt, depth + 1)(f)
            c += 1
          }
          scan(be32u(bytes, hdr + 8).toInt, depth + 1)(f)
        case t => throw new IllegalArgumentException(s"unexpected table b-tree page type 0x${t.toHexString}")
      }
    }

    /** Walk an index b-tree in key order, invoking f(keyRecord).
      * Interior divider entries ARE index entries (SQLite stores each
      * key exactly once), so the in-order walk interleaves them. */
    def scanIndex(page: Int)(f: Array[Byte] => Unit): Unit = scanIndex(page, 0)(f)

    private def scanIndex(page: Int, depth: Int)(f: Array[Byte] => Unit): Unit = {
      require(depth < 64, "sqlite: index b-tree recursion too deep (corrupt page cycle)")
      val ps = pageStart(page)
      val hdr = if (page == 1) ps + 100 else ps
      val ptype = bytes(hdr) & 0xff
      val nCells = be16(bytes, hdr + 3)
      ptype match {
        case 0x0a => // leaf index
          var c = 0
          while (c < nCells) {
            var at = ps + be16(bytes, hdr + 8 + 2 * c)
            val (plen, n1) = varint(bytes, at); at += n1
            val (rec, _) = payload(at, plen, index = true)
            f(rec)
            c += 1
          }
        case 0x02 => // interior index
          var c = 0
          while (c < nCells) {
            var at = ps + be16(bytes, hdr + 12 + 2 * c)
            val child = be32u(bytes, at).toInt; at += 4
            scanIndex(child, depth + 1)(f)
            val (plen, n1) = varint(bytes, at); at += n1
            val (rec, _) = payload(at, plen, index = true)
            f(rec)
            c += 1
          }
          scanIndex(be32u(bytes, hdr + 8).toInt, depth + 1)(f)
        case t => throw new IllegalArgumentException(s"unexpected index b-tree page type 0x${t.toHexString}")
      }
    }
  }

  /** Crude-but-sufficient DDL column extraction: top-level
    * comma-separated items inside the outer parens; items starting with
    * a constraint keyword are dropped. */
  def ddlColumns(sql: String): Seq[Column] = {
    require(sql != null && sql.indexOf('(') >= 0 && sql.lastIndexOf(')') > sql.indexOf('('),
      "sqlite: DDL has no column list (corrupt schema row)")
    val inner = sql.substring(sql.indexOf('(') + 1, sql.lastIndexOf(')'))
    val items = new ArrayBuffer[String]()
    var depth = 0; var start = 0
    inner.zipWithIndex.foreach {
      case ('(', _) => depth += 1
      case (')', _) => depth -= 1
      case (',', i) if depth == 0 => items += inner.substring(start, i); start = i + 1
      case _ => ()
    }
    items += inner.substring(start)
    val constraintKw = Set("PRIMARY", "UNIQUE", "FOREIGN", "CHECK", "CONSTRAINT")
    items.toSeq
      .map(_.trim)
      .filter(it => it.nonEmpty && !constraintKw.contains(it.split("\\s+").head.toUpperCase))
      .map { it =>
        val parts = it.split("\\s+")
        val name = parts.head.stripPrefix("\"").stripSuffix("\"")
        val declared = if (parts.length > 1) parts(1).toUpperCase else ""
        val isIpk = it.toUpperCase.contains("INTEGER PRIMARY KEY")
        Column(name, declared, isIpk)
      }
  }

  /** All sqlite_master rows (tables, indexes, triggers). */
  def master(bytes: Array[Byte]): Seq[Master] = {
    val db = new Db(bytes)
    val out = new ArrayBuffer[Master]()
    db.scan(1) { (_, rec) =>
      record(rec) match {
        case Seq(t: String, name: String, tbl: String, root, sql) =>
          out += Master(t, name, tbl, Option(root).map(_.asInstanceOf[Long].toInt).getOrElse(0),
            Option(sql).map(_.asInstanceOf[String]).orNull)
        case _ => ()
      }
    }
    out.toSeq
  }

  def tables(bytes: Array[Byte]): Map[String, Table] =
    master(bytes).collect { case Master("table", name, _, root, sql) =>
      name -> Table(name, root, ddlColumns(sql))
    }.toMap

  def userVersion(bytes: Array[Byte]): Int = new Db(bytes).userVersion

  /** Scan one table into raw rows (IPK columns materialize the rowid —
    * SQLite stores them as NULL in the record). Missing trailing
    * columns (rows written before an ALTER ADD COLUMN) read as null. */
  def readTable(bytes: Array[Byte], table: String): (Table, Seq[Seq[Any]]) =
    try {
      val t = tables(bytes).getOrElse(table, throw new NoSuchElementException(s"table $table"))
      val db = new Db(bytes)
      val rows = new ArrayBuffer[Seq[Any]]()
      db.scan(t.rootPage) { (rowid, rec) =>
        val vals = record(rec)
        rows += t.columns.zipWithIndex.map { case (c, i) =>
          val v = if (i < vals.length) vals(i) else null
          if (c.isIpk && v == null) rowid else v
        }
      }
      (t, rows.toSeq)
    } catch {
      // backstop for corrupt containers: page pointers and cell offsets
      // are validated at the hot sites, but a flipped byte can route any
      // index anywhere — surface it as the named refusal, never an AIOOBE
      case _: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("sqlite: corrupt database (offset out of range)")
      case _: NegativeArraySizeException =>
        throw new IllegalArgumentException("sqlite: corrupt database (negative size field)")
    }

  /** Same scan with rowids exposed (for index verification). */
  def readTableWithRowids(bytes: Array[Byte], table: String): Seq[(Long, Seq[Any])] = {
    val t = tables(bytes).getOrElse(table, throw new NoSuchElementException(s"table $table"))
    val db = new Db(bytes)
    val rows = new ArrayBuffer[(Long, Seq[Any])]()
    db.scan(t.rootPage) { (rowid, rec) => rows += ((rowid, record(rec))) }
    rows.toSeq
  }

  /** All entries of an index b-tree, in stored (key) order. */
  def readIndex(bytes: Array[Byte], indexName: String): Seq[Seq[Any]] = {
    val m = master(bytes).find(r => r.typ == "index" && r.name == indexName)
      .getOrElse(throw new NoSuchElementException(s"index $indexName"))
    val db = new Db(bytes)
    val rows = new ArrayBuffer[Seq[Any]]()
    db.scanIndex(m.rootPage)(rec => rows += record(rec))
    rows.toSeq
  }

  // =====================================================================
  // Writer
  // =====================================================================

  /** One table to write. `rows` are column values in DDL order; an
    * INTEGER PRIMARY KEY column (rowid alias) supplies the rowid and is
    * stored as NULL in the record, per the format. Without an IPK,
    * rowids are sequential from 1. `withAutoIndex` emits the
    * `sqlite_autoindex_<t>_1` b-tree a (non-IPK) PRIMARY KEY column
    * would have (sql = NULL in sqlite_master, like SQLite itself). */
  final case class TableSpec(
      name: String,
      ddl: String,
      rows: Seq[Seq[Any]],
      withAutoIndex: Option[Seq[Int]] = None
  )

  /** A named CREATE INDEX over key column positions of `table`. */
  final case class IndexSpec(name: String, table: String, ddl: String, keyCols: Seq[Int])

  final case class TriggerSpec(name: String, table: String, ddl: String)

  /** BINARY-collation comparator over record key tuples: NULL < numeric
    * (by value, Long/Double comparable) < text (UTF-8 memcmp) < blob. */
  def compareKeys(a: Seq[Any], b: Seq[Any]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = compareValue(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }

  private def rank(v: Any): Int = v match {
    case null => 0
    case _: Long | _: Int | _: Double | _: Boolean => 1
    case _: String => 2
    case _: Array[Byte] => 3
  }

  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case d: Double => d
    case b: Boolean => if (b) 1.0 else 0.0
  }

  private def memcmp(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  private def compareValue(x: Any, y: Any): Int = {
    val rc = java.lang.Integer.compare(rank(x), rank(y))
    if (rc != 0) return rc
    rank(x) match {
      case 0 => 0
      case 1 =>
        (x, y) match {
          case (a: Long, b: Long) => java.lang.Long.compare(a, b)
          case _ => java.lang.Double.compare(num(x), num(y))
        }
      case 2 => memcmp(x.asInstanceOf[String].getBytes("UTF-8"), y.asInstanceOf[String].getBytes("UTF-8"))
      case 3 => memcmp(x.asInstanceOf[Array[Byte]], y.asInstanceOf[Array[Byte]])
    }
  }

  private val PageSize = 4096
  private val Usable = PageSize // reserved = 0

  /** Page store with virtual ids; virtual 0 is reserved for page 1
    * (sqlite_master root), others map to physical pages 2, 3, … in
    * allocation order. Child/overflow pointers are written directly —
    * virtual id v lives at physical page v + 1. */
  private final class Store {
    val pages = new ArrayBuffer[Array[Byte]]()
    pages += null // virtual 0 = page 1
    def alloc(bytes: Array[Byte]): Int = { pages += bytes; pages.length } // returns PHYSICAL page number
    def setPage1(bytes: Array[Byte]): Unit = pages(0) = bytes
  }

  private def maxLocal(index: Boolean): Int = if (index) (Usable - 12) * 64 / 255 - 23 else Usable - 35
  private def minLocal: Int = (Usable - 12) * 32 / 255 - 23

  /** Split a payload per the spec's spill formula; allocates the
    * overflow chain and returns localBytes ++ u32(firstOverflowPage)
    * (or the payload unchanged if it fits). */
  /** Length the cell body will occupy in-page after [[spill]] — local
    * prefix + 4-byte overflow pointer when spilled — WITHOUT
    * allocating overflow pages. Lets the index builder size pages
    * first and spill only cells that are actually placed (a divider
    * promoted off a leaf must not leave an orphaned overflow chain). */
  private def spilledLen(payloadLen: Int, index: Boolean): Int = {
    val x = maxLocal(index)
    if (payloadLen <= x) payloadLen
    else {
      val m = minLocal
      val k = m + (payloadLen - m) % (Usable - 4)
      (if (k <= x) k else m) + 4
    }
  }

  private def spill(st: Store, payload: Array[Byte], index: Boolean): Array[Byte] = {
    val x = maxLocal(index)
    if (payload.length <= x) return payload
    val m = minLocal
    val k = m + (payload.length - m) % (Usable - 4)
    val local = if (k <= x) k else m
    val chunks = payload.drop(local).grouped(Usable - 4).toArray
    // Allocate in order, then fix next-pointers (next page number is
    // known only after the next allocation).
    val nums = chunks.map { c =>
      val pg = new Array[Byte](PageSize)
      System.arraycopy(c, 0, pg, 4, c.length)
      st.alloc(pg)
    }
    var i = 0
    while (i < nums.length - 1) { setBe32(st.pages(nums(i) - 1), 0, nums(i + 1)); i += 1 }
    java.util.Arrays.copyOf(payload, local) ++ { val b = new Array[Byte](4); setBe32(b, 0, nums(0)); b }
  }

  /** Assemble one b-tree page from finished cell blobs. `base` is 100
    * on page 1. Returns the full page image. */
  private def makePage(ptype: Int, cells: Seq[Array[Byte]], rightmost: Int, base: Int): Array[Byte] = {
    val hdrLen = if (ptype == 0x0d || ptype == 0x0a) 8 else 12
    val pg = new Array[Byte](PageSize)
    pg(base) = ptype.toByte
    setBe16(pg, base + 3, cells.length)
    if (hdrLen == 12) setBe32(pg, base + 8, rightmost)
    var off = Usable
    val ptrs = new Array[Int](cells.length)
    var i = cells.length - 1
    while (i >= 0) {
      off -= cells(i).length
      System.arraycopy(cells(i), 0, pg, off, cells(i).length)
      ptrs(i) = off
      i -= 1
    }
    setBe16(pg, base + 5, if (off == 65536) 0 else off)
    i = 0
    while (i < cells.length) { setBe16(pg, base + hdrLen + 2 * i, ptrs(i)); i += 1 }
    require(base + hdrLen + 2 * cells.length <= off, s"page overfull: ${cells.length} cells")
    pg
  }

  private def pageFits(nCells: Int, cellBytes: Int, hdrLen: Int, base: Int): Boolean =
    base + hdrLen + 2 * nCells + cellBytes <= Usable

  /** Greedy size-based grouping: split `items` so each group satisfies
    * `pageFits` (every group keeps ≥ minPer items so interior pages get
    * ≥ 1 cell + rightmost). Pure — no allocation side effects. */
  private def packGroups[A](items: Seq[A], size: A => Int, hdrLen: Int, base: Int, minGroups: Int): Seq[Seq[A]] = {
    val groups = new ArrayBuffer[ArrayBuffer[A]]()
    var cur = new ArrayBuffer[A]()
    var curBytes = 0
    items.foreach { it =>
      if (cur.nonEmpty && !pageFits(cur.length + 1, curBytes + size(it), hdrLen, base)) {
        groups += cur; cur = new ArrayBuffer[A](); curBytes = 0
      }
      cur += it; curBytes += size(it)
    }
    groups += cur
    // If a forced minimum group count isn't met (root must not sit on
    // page 1 as a leaf), split the largest group.
    while (groups.length < minGroups && groups.exists(_.length > 1)) {
      val g = groups.maxBy(_.length)
      val i = groups.indexOf(g)
      val (a, b) = g.splitAt(g.length / 2)
      groups(i) = a
      groups.insert(i + 1, b)
    }
    groups.map(_.toSeq).toSeq
  }

  /** Build a table b-tree from (rowid, record) pairs (must be in rowid
    * order). Returns the root's physical page (or builds the root onto
    * page 1 and returns 1). */
  private def buildTableTree(st: Store, rows: Seq[(Long, Array[Byte])], rootOnPage1: Boolean): Int = {
    val cells: Seq[(Long, Array[Byte])] = rows.map { case (rowid, rec) =>
      (rowid, varintBytes(rec.length.toLong) ++ varintBytes(rowid) ++ spill(st, rec, index = false))
    }
    val base1 = if (rootOnPage1) 100 else 0
    if (pageFits(cells.length, cells.map(_._2.length).sum, 8, base1)) {
      val pg = makePage(0x0d, cells.map(_._2), 0, base1)
      if (rootOnPage1) { st.setPage1(pg); return 1 }
      return st.alloc(pg)
    }
    // Pack leaves (≥2 so a page-1 root is an interior, never a moved leaf).
    var level: Seq[(Long, Int)] = packGroups[(Long, Array[Byte])](
      cells, _._2.length, 8, 0, minGroups = if (rootOnPage1) 2 else 1
    ).map { g => (g.last._1, st.alloc(makePage(0x0d, g.map(_._2), 0, 0))) }
    // Interior levels, bottom-up; the final single page goes on page 1
    // when requested.
    while (level.length > 1) {
      val cellSize = (c: (Long, Int)) => 4 + varintBytes(c._1).length
      // Pack with page-1 capacity when the root will live there — the
      // top group must fit behind the 100-byte header; being 100 bytes
      // conservative on the other interior pages costs nothing.
      val groups = packGroups(level, cellSize, 12, base1, 1)
      val isTop = groups.length == 1
      level = groups.map { g =>
        val body = g.init.map { case (key, child) =>
          val b = new Array[Byte](4); setBe32(b, 0, child); b ++ varintBytes(key)
        }
        val rm = g.last
        if (isTop && rootOnPage1) { st.setPage1(makePage(0x05, body, rm._2, 100)); (rm._1, 1) }
        else (rm._1, st.alloc(makePage(0x05, body, rm._2, 0)))
      }
    }
    if (rootOnPage1 && level.head._2 != 1) {
      // Corner: a single master row too big for the page-1 leaf — root
      // page 1 becomes an interior holding only the rightmost pointer.
      st.setPage1(makePage(0x05, Seq.empty, level.head._2, 100))
      return 1
    }
    level.head._2
  }

  /** Build an index b-tree from key records (must be pre-sorted by
    * [[compareKeys]] on their decoded values). Interior dividers are
    * real entries promoted between leaves, as SQLite stores them. */
  private def buildIndexTree(st: Store, entries: Seq[Array[Byte]]): Int = {
    if (entries.isEmpty) return st.alloc(makePage(0x0a, Seq.empty, 0, 0))
    // Spill LAZILY, at placement: an entry promoted to an interior
    // divider never becomes a leaf cell, and pre-spilling it would
    // orphan its overflow chain ('page never used' in integrity_check).
    def cellOf(rec: Array[Byte]): Array[Byte] =
      varintBytes(rec.length.toLong) ++ spill(st, rec, index = true)
    def cellLenOf(rec: Array[Byte]): Int =
      varintBytes(rec.length.toLong).length + spilledLen(rec.length, index = true)
    if (pageFits(entries.length, entries.map(cellLenOf).sum, 8, 0))
      return st.alloc(makePage(0x0a, entries.map(cellOf), 0, 0))
    // PLAN leaf membership and dividers first (cell sizing is pure),
    // then spill+allocate each page in order — a promoted divider never
    // spills as a leaf cell (no orphaned overflow chain), and the plan
    // step can restructure around the final entry cleanly: when the
    // entry that overflows a leaf is the LAST one, promoting it would
    // leave no leaf to its right, so the closing leaf's own last entry
    // is demoted to divider and the final entry becomes a 1-cell leaf
    // (every leaf keeps >= 1 cell and leaves == dividers + 1 always).
    val leafGroups = Vector.newBuilder[Vector[Array[Byte]]]
    var dividers = Vector.empty[Array[Byte]] // entry records between leaf i and i+1
    var cur = Vector.empty[Array[Byte]]
    var curBytes = 0
    var i = 0
    while (i < entries.length) {
      val rec = entries(i)
      val cellLen = cellLenOf(rec)
      if (cur.nonEmpty && !pageFits(cur.length + 1, curBytes + cellLen, 8, 0)) {
        if (i == entries.length - 1) {
          require(cur.length >= 2, "index leaf too small to demote a divider")
          leafGroups += cur.init
          dividers :+= cur.last
          cur = Vector(rec); curBytes = cellLen
        } else {
          leafGroups += cur
          dividers :+= rec // this entry moves up a level
          cur = Vector.empty; curBytes = 0
        }
      } else {
        cur :+= rec; curBytes += cellLen
      }
      i += 1
    }
    if (cur.nonEmpty) leafGroups += cur
    var level = leafGroups.result().map(g => st.alloc(makePage(0x0a, g.map(cellOf), 0, 0)))
    var divs = dividers
    // interior levels: same plan-then-alloc shape. Children C(0..n-1)
    // carry dividers D(0..n-2); a page holding children a..b has cells
    // (ptr C(k), D(k)) for k in a..b-1 and rightmost C(b); D(b) is
    // promoted between pages. Closing on the LAST divider would leave a
    // cell-less final page, so the close point backs up one child.
    while (level.length > 1) {
      def cellLenOfDiv(rec: Array[Byte]): Int =
        4 + varintBytes(rec.length.toLong).length + spilledLen(rec.length, index = true)
      val groups = Vector.newBuilder[(Vector[Int], Vector[Array[Byte]], Int)] // (children sans rightmost, cells' divs, rightmost)
      val nextDivs = Vector.newBuilder[Array[Byte]]
      var gStart = 0 // first child of the open group
      var gBytes = 0
      var j = 0 // divider index == left-child index of the candidate cell
      while (j < divs.length) {
        val placed = j - gStart // cells already in the open group
        if (placed >= 2 && !pageFits(placed + 1, gBytes + cellLenOfDiv(divs(j)), 12, 0)) {
          if (j == divs.length - 1) {
            // last divider: back the close up one child so the final
            // page keeps >= 1 cell (children j..n-1 with cell D(j))
            groups += ((Vector.range(gStart, j - 1), divs.slice(gStart, j - 1).toVector, j - 1))
            nextDivs += divs(j - 1)
            gStart = j; gBytes = cellLenOfDiv(divs(j))
            j += 1
          } else {
            groups += ((Vector.range(gStart, j), divs.slice(gStart, j).toVector, j))
            nextDivs += divs(j)
            gStart = j + 1; gBytes = 0
            j += 1
          }
        } else {
          gBytes += cellLenOfDiv(divs(j))
          j += 1
        }
      }
      groups += ((Vector.range(gStart, divs.length), divs.slice(gStart, divs.length).toVector, divs.length))
      val lv = level
      level = groups.result().map { case (children, cellDivs, rightmost) =>
        val cells = children.zip(cellDivs).map { case (c, rec) =>
          { val b = new Array[Byte](4); setBe32(b, 0, lv(c)); b } ++
            varintBytes(rec.length.toLong) ++ spill(st, rec, index = true)
        }
        st.alloc(makePage(0x02, cells, lv(rightmost), 0))
      }
      divs = nextDivs.result()
    }
    level.head
  }

  /** Write a complete database. Tables/indexes/triggers appear in
    * sqlite_master in the given order (tables first, then each table's
    * auto-index, then explicit indexes, then triggers — the order
    * SQLite's own DDL execution would produce). */
  def build(
      tableSpecs: Seq[TableSpec],
      indexSpecs: Seq[IndexSpec] = Seq.empty,
      triggerSpecs: Seq[TriggerSpec] = Seq.empty,
      userVersion: Int = 0,
      applicationId: Int = 0
  ): Array[Byte] = {
    val st = new Store
    val masterRows = new ArrayBuffer[Seq[Any]]()

    tableSpecs.foreach { t =>
      val cols = ddlColumns(t.ddl)
      require(cols.nonEmpty, s"table ${t.name}: no columns parsed from DDL")
      val ipk = cols.indexWhere(_.isIpk)
      val withRowids: Seq[(Long, Seq[Any])] = t.rows.zipWithIndex.map { case (r, i) =>
        require(r.length == cols.length, s"table ${t.name} row $i: ${r.length} values for ${cols.length} columns")
        val rowid = if (ipk >= 0) {
          r(ipk) match {
            case l: Long => l
            case n: Int => n.toLong
            case other => throw new IllegalArgumentException(s"table ${t.name}: IPK value must be integral, got $other")
          }
        } else (i + 1).toLong
        val stored = if (ipk >= 0) r.updated(ipk, null) else r
        (rowid, stored)
      }
      val sorted = withRowids.sortBy(_._1)
      require(sorted.map(_._1).distinct.length == sorted.length, s"table ${t.name}: duplicate rowids")
      val root = buildTableTree(st, sorted.map { case (id, vals) => (id, encodeRecord(vals)) }, rootOnPage1 = false)
      masterRows += Seq[Any]("table", t.name, t.name, root.toLong, t.ddl)
      t.withAutoIndex.foreach { keyCols =>
        val entries = sorted
          .map { case (rowid, vals) => keyCols.map(vals(_)) :+ (rowid: Any) }
          .sortWith(compareKeys(_, _) < 0)
          .map(encodeRecord)
        val root = buildIndexTree(st, entries)
        masterRows += Seq[Any]("index", s"sqlite_autoindex_${t.name}_1", t.name, root.toLong, null)
      }
    }

    val tableData: Map[String, Seq[(Long, Seq[Any])]] = tableSpecs.map { t =>
      val cols = ddlColumns(t.ddl)
      val ipk = cols.indexWhere(_.isIpk)
      t.name -> t.rows.zipWithIndex.map { case (r, i) =>
        val rowid = if (ipk >= 0) r(ipk).asInstanceOf[Number].longValue else (i + 1).toLong
        (rowid, r)
      }
    }.toMap

    indexSpecs.foreach { ix =>
      val data = tableData.getOrElse(ix.table, throw new NoSuchElementException(s"index ${ix.name}: table ${ix.table}"))
      val entries = data
        .map { case (rowid, vals) => ix.keyCols.map(vals(_)) :+ (rowid: Any) }
        .sortWith(compareKeys(_, _) < 0)
        .map(encodeRecord)
      val root = buildIndexTree(st, entries)
      masterRows += Seq[Any]("index", ix.name, ix.table, root.toLong, ix.ddl)
    }

    triggerSpecs.foreach { tr =>
      masterRows += Seq[Any]("trigger", tr.name, tr.table, 0L, tr.ddl)
    }

    // sqlite_master rooted at page 1
    buildTableTree(
      st,
      masterRows.zipWithIndex.map { case (r, i) => ((i + 1).toLong, encodeRecord(r)) }.toSeq,
      rootOnPage1 = true
    )
    require(st.pages(0) != null, "internal: page 1 not written")

    val nPages = st.pages.length
    val out = new Array[Byte](nPages * PageSize)
    var i = 0
    while (i < nPages) {
      System.arraycopy(st.pages(i), 0, out, i * PageSize, PageSize)
      i += 1
    }
    // 100-byte header over page 1's reserved gap
    System.arraycopy("SQLite format 3".getBytes("US-ASCII"), 0, out, 0, 15)
    out(15) = 0
    setBe16(out, 16, PageSize)
    out(18) = 1; out(19) = 1 // legacy journal read/write versions
    out(20) = 0 // reserved per page
    out(21) = 64; out(22) = 32; out(23) = 32
    setBe32(out, 24, 1) // file change counter
    setBe32(out, 28, nPages)
    setBe32(out, 40, 1) // schema cookie
    setBe32(out, 44, 4) // schema format 4 (serial types 8/9 in use)
    setBe32(out, 56, 1) // text encoding: UTF-8
    setBe32(out, 60, userVersion)
    setBe32(out, 68, applicationId)
    setBe32(out, 92, 1) // version-valid-for = change counter
    setBe32(out, 96, 3040001) // "written by" library version number
    out
  }
}
