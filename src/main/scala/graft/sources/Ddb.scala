package graft.sources

import scala.collection.mutable.ArrayBuffer

import graft.sources.Bytes.{le32, leF64, putLe32, putLeF64}

/** The `.ddb` index database face — the reference's on-disk registry is
  * a SQLite file with an `entries` / `passwords` / `entries_meta`
  * schema plus a `user_version`-keyed migration ladder
  * (`src/library/database.cpp:36-204`, `ddb_export.h:17`
  * DDB_SCHEMA_VERSION = 1). Built on the pure-JVM [[Sqlite]]
  * writer/reader, so a dataset index round-trips to a real SQLite
  * database file with the reference's schema: tables, the TEXT-PK
  * auto-indexes, `ix_entries_type` / `ix_entries_hash` /
  * `ix_entries_meta_path_key` / `ix_entries_meta_key`, the
  * entries_meta autouuid trigger text, and spatialite-format POINTZ /
  * POLYGONZ geometry blobs for `point_geom` / `polygon_geom`.
  *
  * [[ensureSchemaConsistency]] mirrors the reference ladder: newer
  * version → named error; current → no-op; legacy v0 → create missing
  * tables, rename `entries.meta` → `entries.properties`
  * (0.9.11→0.9.12), port `attributes.public` → dataset-level
  * `visibility` meta and drop the table (1.0.7→1.0.8), stamp the
  * current version.
  *
  * Scale shape: one dataset = one .ddb artifact; an estate reads and
  * writes one file per task (see q_ddb — the SQLite cycle runs inside
  * the executor task, like the LAZ/COPC codecs).
  */
/** q_ddb's per-dataset aggregate of decoded entries (field names are
  * the output columns). */
final case class DdbCycleAgg(
    n_entries: Long,
    size_sum: Long,
    type_sum: Long,
    path_min: String,
    path_max: String,
    hash_distinct: Long,
    lon_sum: Long,
    lat_sum: Long
)

object Ddb {

  /** ddb_export.h:17 */
  val SchemaVersion = 1

  final case class Entry(
      path: String,
      hash: String,
      typ: Long,
      properties: String,
      mtime: Long,
      size: Long,
      depth: Long,
      pointGeom: Option[(Double, Double, Double)] = None,
      polygonGeom: Option[Seq[(Double, Double, Double)]] = None
  )

  final case class Meta(id: String, path: String, key: String, data: String, mtime: Long)

  // --- DDL (database.cpp:36-91; geometry columns appear in the table
  // --- as spatialite's AddGeometryColumn leaves them) -----------------

  val entriesDdl: String =
    """CREATE TABLE entries (
      |    path TEXT PRIMARY KEY,
      |    hash TEXT,
      |    type INTEGER,
      |    properties TEXT,
      |    mtime INTEGER,
      |    size  INTEGER,
      |    depth INTEGER,
      |    point_geom POINTZ,
      |    polygon_geom POLYGONZ
      |)""".stripMargin

  /** Pre-0.9.12 layout: `meta` column in place of `properties`. */
  val entriesDdlLegacy: String = entriesDdl.replace("properties TEXT", "meta TEXT")

  val passwordsDdl: String =
    """CREATE TABLE passwords (
      |    salt TEXT,
      |    hash TEXT
      |)""".stripMargin

  val entriesMetaDdl: String =
    """CREATE TABLE entries_meta (
      |    id TEXT PRIMARY KEY,
      |    path TEXT NOT NULL,
      |    key TEXT NOT NULL,
      |    data TEXT NOT NULL,
      |    mtime INTEGER NOT NULL
      |)""".stripMargin

  /** 1.0.7-era table ported away by the v0 migration. */
  val attributesDdl: String =
    """CREATE TABLE attributes (
      |    name TEXT PRIMARY KEY,
      |    ivalue INTEGER
      |)""".stripMargin

  val autouuidTriggerDdl: String =
    """CREATE TRIGGER tg_entries_meta_autouuid
      |AFTER INSERT ON entries_meta
      |FOR EACH ROW
      |WHEN (NEW.id IS NULL)
      |BEGIN
      |   UPDATE entries_meta SET id = (select lower(hex( randomblob(4)) || '-' || hex( randomblob(2))
      |             || '-' || '4' || substr( hex( randomblob(2)), 2) || '-'
      |             || substr('AB89', 1 + (abs(random()) % 4) , 1)  ||
      |             substr(hex(randomblob(2)), 2) || '-' || hex(randomblob(6))) ) WHERE rowid = NEW.rowid;
      |END""".stripMargin

  // --- spatialite BLOB-Geometry (the format GeomFromText stores) ------

  /** POINT Z (class 1001), SRID 4326, little-endian, MBR + 0x7C marker,
    * 0xFE terminator — the spatialite blob layout. */
  def pointZBlob(x: Double, y: Double, z: Double, srid: Int = 4326): Array[Byte] = {
    val out = new ArrayBuffer[Byte](60)
    out += 0x00; out += 0x01
    putLe32(out, srid)
    putLeF64(out, x); putLeF64(out, y); putLeF64(out, x); putLeF64(out, y)
    out += 0x7c
    putLe32(out, 1001)
    putLeF64(out, x); putLeF64(out, y); putLeF64(out, z)
    out += 0xfe.toByte
    out.toArray
  }

  /** POLYGON Z (class 1003), single exterior ring. */
  def polygonZBlob(ring: Seq[(Double, Double, Double)], srid: Int = 4326): Array[Byte] = {
    require(ring.nonEmpty, "polygonZBlob: empty ring")
    val out = new ArrayBuffer[Byte](64 + 24 * ring.length)
    out += 0x00; out += 0x01
    putLe32(out, srid)
    putLeF64(out, ring.map(_._1).min); putLeF64(out, ring.map(_._2).min)
    putLeF64(out, ring.map(_._1).max); putLeF64(out, ring.map(_._2).max)
    out += 0x7c
    putLe32(out, 1003)
    putLe32(out, 1) // one ring
    putLe32(out, ring.length)
    ring.foreach { case (x, y, z) => putLeF64(out, x); putLeF64(out, y); putLeF64(out, z) }
    out += 0xfe.toByte
    out.toArray
  }

  def parsePointZ(blob: Array[Byte]): Option[(Double, Double, Double)] = {
    if (blob == null || blob.length < 68 || blob(0) != 0x00 || blob(38) != 0x7c) return None
    if (le32(blob, 39) != 1001) return None
    Some((leF64(blob, 43), leF64(blob, 51), leF64(blob, 59)))
  }

  def parsePolygonZ(blob: Array[Byte]): Option[Seq[(Double, Double, Double)]] = {
    if (blob == null || blob.length < 52 || blob(0) != 0x00 || blob(38) != 0x7c) return None
    if (le32(blob, 39) != 1003) return None
    val nRings = le32(blob, 43)
    if (nRings < 1) return Some(Seq.empty)
    val n = le32(blob, 47)
    val pts = (0 until n).map { i => (leF64(blob, 51 + 24 * i), leF64(blob, 59 + 24 * i), leF64(blob, 67 + 24 * i)) }
    Some(pts)
  }

  // --- write ----------------------------------------------------------

  private def entriesSpec(ddl: String, entries: Seq[Entry]): Sqlite.TableSpec =
    Sqlite.TableSpec(
      "entries",
      ddl,
      entries.sortBy(_.path).map { e =>
        Seq[Any](
          e.path, e.hash, e.typ, e.properties, e.mtime, e.size, e.depth,
          e.pointGeom.map { case (x, y, z) => pointZBlob(x, y, z) }.orNull,
          e.polygonGeom.map(polygonZBlob(_)).orNull
        )
      },
      withAutoIndex = Some(Seq(0))
    )

  private def metaSpec(meta: Seq[Meta]): Sqlite.TableSpec =
    Sqlite.TableSpec(
      "entries_meta",
      entriesMetaDdl,
      meta.map(m => Seq[Any](m.id, m.path, m.key, m.data, m.mtime)),
      withAutoIndex = Some(Seq(0))
    )

  /** Write a current-version (v1) .ddb database. */
  def write(
      entries: Seq[Entry],
      meta: Seq[Meta] = Seq.empty,
      passwords: Seq[(String, String)] = Seq.empty
  ): Array[Byte] =
    Sqlite.build(
      Seq(
        entriesSpec(entriesDdl, entries),
        Sqlite.TableSpec("passwords", passwordsDdl, passwords.map(p => Seq[Any](p._1, p._2))),
        metaSpec(meta)
      ),
      indexSpecs = Seq(
        Sqlite.IndexSpec("ix_entries_type", "entries", "CREATE INDEX ix_entries_type ON entries (type)", Seq(2)),
        Sqlite.IndexSpec("ix_entries_hash", "entries", "CREATE INDEX ix_entries_hash ON entries (hash)", Seq(1)),
        Sqlite.IndexSpec(
          "ix_entries_meta_path_key", "entries_meta",
          "CREATE INDEX ix_entries_meta_path_key ON entries_meta (path, key)", Seq(1, 2)),
        Sqlite.IndexSpec(
          "ix_entries_meta_key", "entries_meta",
          "CREATE INDEX ix_entries_meta_key ON entries_meta (key)", Seq(2))
      ),
      triggerSpecs = Seq(Sqlite.TriggerSpec("tg_entries_meta_autouuid", "entries_meta", autouuidTriggerDdl)),
      userVersion = SchemaVersion
    )

  /** Write a pre-versioning (v0) database: `meta` column instead of
    * `properties`, an `attributes` table, and the redundant
    * single-column `ix_entries_meta_path` index the migration must
    * DROP in favor of the (path, key) composite
    * (`schema_migration_test.cpp` redundantPathIndexIsRemoved /
    * oldDatabaseWithPathIndexGetsMigrated) — the input
    * [[ensureSchemaConsistency]]'s legacy branch migrates. */
  def writeLegacyV0(
      entries: Seq[Entry],
      attributes: Seq[(String, Long)],
      meta: Seq[Meta] = Seq.empty
  ): Array[Byte] =
    Sqlite.build(
      Seq(
        entriesSpec(entriesDdlLegacy, entries),
        Sqlite.TableSpec("passwords", passwordsDdl, Seq.empty),
        metaSpec(meta),
        Sqlite.TableSpec("attributes", attributesDdl, attributes.map(a => Seq[Any](a._1, a._2)),
          withAutoIndex = Some(Seq(0)))
      ),
      indexSpecs = Seq(
        Sqlite.IndexSpec("ix_entries_meta_path", "entries_meta",
          "CREATE INDEX ix_entries_meta_path ON entries_meta (path)", Seq(1))
      ),
      userVersion = 0
    )

  // --- read -----------------------------------------------------------

  private def str(v: Any): String = v match {
    case null => null
    case s: String => s
    case other =>
      throw new IllegalArgumentException(s"ddb: expected TEXT value, got ${other.getClass.getSimpleName} (corrupt database)")
  }
  private def lng(v: Any): Long = v match {
    case null => 0L
    case l: Long => l
    case d: Double => d.toLong
    case other =>
      throw new IllegalArgumentException(s"ddb: expected INTEGER value, got ${other.getClass.getSimpleName} (corrupt database)")
  }

  def readEntries(bytes: Array[Byte]): Seq[Entry] = {
    val (t, rows) = Sqlite.readTable(bytes, "entries")
    val ci = t.columns.map(_.name).zipWithIndex.toMap
    val propCol = ci.getOrElse("properties", ci.getOrElse("meta", -1))
    rows.map { r =>
      Entry(
        str(r(ci("path"))),
        Option(r(ci("hash"))).map(str).orNull,
        lng(r(ci("type"))),
        if (propCol >= 0) Option(r(propCol)).map(str).orNull else null,
        lng(r(ci("mtime"))),
        lng(r(ci("size"))),
        lng(r(ci("depth"))),
        ci.get("point_geom").flatMap(i => r(i) match { case b: Array[Byte] => parsePointZ(b); case _ => None }),
        ci.get("polygon_geom").flatMap(i => r(i) match { case b: Array[Byte] => parsePolygonZ(b); case _ => None })
      )
    }
  }

  def readMeta(bytes: Array[Byte]): Seq[Meta] = {
    val (_, rows) = Sqlite.readTable(bytes, "entries_meta")
    rows.map(r => Meta(str(r(0)), str(r(1)), str(r(2)), str(r(3)), lng(r(4))))
  }

  def readPasswords(bytes: Array[Byte]): Seq[(String, String)] = {
    val (_, rows) = Sqlite.readTable(bytes, "passwords")
    rows.map(r => (str(r(0)), str(r(1))))
  }

  /** The autouuid trigger's uuid4 SHAPE, deterministically from a seed
    * (the sandbox analog of randomblob — same length/dashes/version
    * nibble so downstream parsers see a well-formed id). */
  def deterministicUuid(seed: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
    val h = md.map(b => f"${b & 0xff}%02x").mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-4${h.substring(13, 16)}-a${h.substring(17, 20)}-${h.substring(20, 32)}"
  }

  // --- Spark faces ----------------------------------------------------

  import org.apache.spark.sql.{DataFrame, Row, SparkSession}

  /** Oracle row: per-dataset index build → REAL SQLite .ddb bytes →
    * migration-ladder pass → read back (table scan AND the path
    * auto-index walk) → integer aggregates of the decoded rows. The
    * whole SQLite cycle runs inside the executor task (the
    * per-artifact kernel, like q_laz); the DuckDB oracle aggregates
    * the same deterministic values straight from `orders`, so a green
    * row proves the database file round-trip is lossless. */
  def ddbQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { rows: Seq[Row] =>
      val entries = rows.map { r =>
        val ok = r.getLong(0)
        val ck = r.getLong(1)
        Entry(
          path = f"orders/$ok%012d",
          hash = (ok % 1000).toString,
          typ = ck % 7,
          properties = s"""{"o":$ok}""",
          mtime = ok % 100000,
          size = (ok * 37) % 1000000,
          depth = 1L,
          pointGeom = Some(((ok % 360 - 180).toDouble, (ok % 170 - 85).toDouble, 0.0))
        )
      }
      val db = ensureSchemaConsistency(write(
        entries,
        meta = Seq(Meta(deterministicUuid("visibility"), "", "visibility", "1", 0L)),
        passwords = Seq(("s", "h"))
      ))
      val got = readEntries(db)
      require(got.length == entries.length, "ddb round-trip lost entries")
      val idx = Sqlite.readIndex(db, "sqlite_autoindex_entries_1")
      require(idx.length == got.length, "ddb path auto-index incomplete")
      require(
        idx.map(_.head.asInstanceOf[String]) == got.map(_.path),
        "ddb auto-index order disagrees with the (path-sorted) table scan"
      )
      DdbCycleAgg(
        got.length.toLong,
        got.map(_.size).sum,
        got.map(_.typ).sum,
        got.map(_.path).min,
        got.map(_.path).max,
        got.map(_.hash).distinct.length.toLong,
        got.flatMap(_.pointGeom).map(_._1.toLong).sum,
        got.flatMap(_.pointGeom).map(_._2.toLong).sum
      )
    }.asNondeterministic() // pins the kernel ABOVE the Spread exchange (see Spread)
    // Sub-sharded like the other codec cycles: (ds, o_orderkey DIV 4096)
    // keys make the per-task SQLite file SF-INVARIANT (~256 orders per
    // database at any scale — the bucket width is fixed, the bucket
    // count grows with the data) and the task count exceeds the core
    // count from sf0.01 up. Everything re-aggregates additively per ds;
    // hash_distinct is the per-bucket distinct count summed (the oracle
    // states the same two-level form).
    graft.operators.Spread.wide(
      graft.Tables
        .orders(s, dir)
        .groupBy(($"o_custkey" % 16).as("ds"), expr("o_orderkey DIV 4096").as("bkt"))
        .agg(collect_list(struct($"o_orderkey", $"o_custkey")).as("rows")))
      .select($"ds", cycle($"rows").as("a"))
      .groupBy($"ds")
      .agg(
        sum($"a.n_entries").as("n_entries"),
        sum($"a.size_sum").as("size_sum"),
        sum($"a.type_sum").as("type_sum"),
        min($"a.path_min").as("path_min"),
        max($"a.path_max").as("path_max"),
        sum($"a.hash_distinct").as("hash_distinct"),
        sum($"a.lon_sum").as("lon_sum"),
        sum($"a.lat_sum").as("lat_sum")
      )
      .orderBy($"ds")
  }

  // --- migration ladder (database.cpp:109-204) ------------------------

  /** Returns the (possibly rewritten) database bytes at the current
    * schema version. Mirrors `Database::ensureSchemaConsistency`. */
  def ensureSchemaConsistency(bytes: Array[Byte], nowMtime: Long = 0L): Array[Byte] = {
    val v = Sqlite.userVersion(bytes)
    if (v > SchemaVersion)
      throw new IllegalStateException(
        s"Database schema version $v is newer than supported version $SchemaVersion. " +
          "Please update the library to open this database.")
    if (v == SchemaVersion) return bytes

    // Legacy (v0): full check + migrations.
    val present = Sqlite.tables(bytes).keySet
    val entries = if (present.contains("entries")) readEntries(bytes) else Seq.empty
    val meta0 = if (present.contains("entries_meta")) readMeta(bytes) else Seq.empty
    val passwords = if (present.contains("passwords")) readPasswords(bytes) else Seq.empty

    // 1.0.7 → 1.0.8: port attributes.public=1 to dataset-level
    // visibility meta, then drop the table.
    val visibility: Seq[Meta] =
      if (present.contains("attributes")) {
        val (_, rows) = Sqlite.readTable(bytes, "attributes")
        rows.collectFirst { case Seq("public", v) if lng(v) == 1L => v } match {
          case Some(_) if !meta0.exists(m => m.path == "" && m.key == "visibility") =>
            Seq(Meta(deterministicUuid("visibility"), "", "visibility", "1", nowMtime))
          case _ => Seq.empty
        }
      } else Seq.empty

    // 0.9.11 → 0.9.12 (meta → properties) happens by re-writing with the
    // current DDL — readEntries already reads either column name.
    write(entries, meta0 ++ visibility, passwords)
  }
}
