package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{Index, Sync}
import graft.model.Schemas
import graft.sources.{Ddb, Ingest}
import graft.stac.Stac

/** A benchmark workload. `generate` builds the seeded inputs (benchmark
  * work, untimed); `prepare` is the program work a fresh session needs
  * before the first op (timed as set-up); `round` runs one round of
  * ops through the tracer and checks each op's output outside its
  * timed region, failing the op on a mismatch. */
trait Workload {
  def generate(): Unit
  def inputs: Seq[(String, String)]
  def prepare(spark: SparkSession): Unit
  def round(spark: SparkSession, t: Tracer, r: Int): Unit
  /** Round time at the reference speed (4 cores), which sizes a run. */
  def nominalRoundS: Double
  def extra: Seq[(String, String)] = Seq.empty
}

/** `ddb add` from a file tree, then a re-add after ~10% of the files got
  * a new mtime. */
final class IngestWorkload(work: Path, seed: Long, nFiles: Int, avgBytes: Int) extends Workload {
  private val treeDir = work.resolve("tree")
  private val idxAdd = work.resolve("index_add").toString
  private val idxReadd = work.resolve("index_readd").toString
  private var files: IndexedSeq[GenFile] = IndexedSeq.empty
  private var digest = ""
  private var root = ""
  private val indexBytes = mutable.ArrayBuffer[(String, Double)]() // op id → bytes per entry
  private val changedBytes = mutable.ArrayBuffer[(String, Long)]() // re-add op id → bytes touched

  def generate(): Unit = {
    val (f, d) = TreeGen.write(treeDir, seed, nFiles, avgBytes)
    files = f
    digest = d
    root = treeDir.toRealPath().toString
  }

  def inputs: Seq[(String, String)] = Seq(
    "files" -> files.size.toString,
    "bytes" -> files.map(_.size).sum.toString,
    "digest" -> Json.str(digest)
  )

  def prepare(spark: SparkSession): Unit = ()
  def nominalRoundS: Double = 2.5

  private def toDdb(r: Row): Ddb.Entry = {
    def pt(p: Row) = (p.getDouble(0), p.getDouble(1), p.getDouble(2))
    Ddb.Entry(r.getString(0), r.getString(1), r.getInt(2).toLong, r.getString(3), r.getLong(4), r.getLong(5),
      r.getInt(6).toLong, Option(r.getStruct(7)).map(pt), Option(r.getSeq[Row](8)).map(_.map(pt)))
  }

  /** Index rows as (path → (hash, entryType, mtime)). */
  private def indexed(spark: SparkSession, dir: String): Seq[(String, (String, Int, Long))] =
    spark.read.parquet(dir).select("path", "hash", "entryType", "mtime").collect().toSeq
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getLong(3))))

  /** Check the index at `dir` against the tree; returns its rows by path. */
  private def checkIndex(spark: SparkSession, t: Tracer, dir: String): Map[String, (String, Int, Long)] = {
    val got = indexed(spark, dir)
    val byPath = got.toMap
    if (got.size != files.size || byPath.size != files.size)
      t.fail(s"index has ${got.size} rows / ${byPath.size} paths, expected ${files.size}")
    else
      files.find(f => !byPath.get(f.rel).contains((f.sha256, f.entryType, f.mtime))).foreach { f =>
        t.fail(s"${f.rel}: indexed ${byPath.get(f.rel)}, expected ${(f.sha256, f.entryType, f.mtime)}")
      }
    byPath
  }

  def round(spark: SparkSession, t: Tracer, r: Int): Unit = {
    val ddbFile = treeDir.resolve(".ddb").resolve("dbase.sqlite")
    val added = t.op("add") {
      val listed = t.span("sources.list")(Ingest.listFiles(spark, root))
      val entries = t.span("construct")(Ingest.toEntries(listed, root))
      t.span("sources.index_write")(Ingest.writeIndex(entries, idxAdd))
      val rows = t.span("ddb_collect") {
        spark.read.parquet(idxAdd)
          .select("path", "hash", "entryType", "properties", "mtime", "size", "depth", "pointGeom", "polygonGeom")
          .collect()
      }
      val bytes = t.span("sources.ddb_write")(Ddb.write(rows.toSeq.map(toDdb)))
      Files.createDirectories(ddbFile.getParent)
      Files.write(ddbFile, bytes)
      bytes
    }(_ => files.size.toLong)
    val before = added match {
      case None => return // the add failed; there is nothing to re-add
      case Some(bytes) =>
        val id = t.ops.last.id
        val rows = checkIndex(spark, t, idxAdd)
        val ddbPaths = Ddb.readEntries(bytes).map(_.path).sorted
        if (ddbPaths != files.map(_.rel)) t.fail(s"ddb round trip kept ${ddbPaths.size} of ${files.size} paths")
        indexBytes += id -> (Util.dataBytes(Path.of(idxAdd)) + bytes.length).toDouble / files.size
        rows
    }

    val touched = TreeGen.touch(treeDir, files, seed, r)
    val readded = t.op("readd") {
      val listed = t.span("sources.list")(Ingest.listFiles(spark, root))
      val index = spark.read.parquet(idxAdd).drop("topdir")
      val merged = t.span("construct") {
        val changed = Ingest.changedFiles(listed, index).select("abs_path", "mtime", "size", "content")
        Ingest.upsert(index, Ingest.toEntries(changed, root))
      }
      t.span("operators.upsert")(Ingest.writeIndex(merged, idxReadd))
    }(_ => files.size.toLong)
    readded.foreach { _ =>
      changedBytes += t.ops.last.id -> files.filter(f => touched(f.rel)).map(_.size).sum
      val after = checkIndex(spark, t, idxReadd)
      val moved = after.collect { case (p, (_, _, m)) if !before.get(p).exists(_._3 == m) => p }.toSet
      if (moved != touched) t.fail(s"re-add moved ${moved.size} mtimes, ${touched.size} files were touched")
    }
  }

  override def extra: Seq[(String, String)] = Seq(
    "index_bytes_per_entry" -> Json.obj(indexBytes.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
    "changed_bytes" -> Json.obj(changedBytes.map { case (k, v) => k -> v.toString }.toSeq: _*)
  )
}

/** Read requests against a warm session over a written index. */
final class CatalogWorkload(work: Path, seed: Long, nFiles: Int) extends Workload {
  private val dirs = Seq("index", "mutated", "meta", "mutated_meta").map(d => d -> work.resolve(d).toString).toMap
  private var cat: Catalog = _
  private var entries, meta, mutated, mutatedMeta: DataFrame = _
  private val hasMeta = mutable.HashSet[String]()

  def generate(): Unit = {
    cat = IndexGen.generate(seed, nFiles, 0.1)
    hasMeta ++= cat.meta.map(_.path)
  }

  def inputs: Seq[(String, String)] = Seq(
    "entries" -> cat.entries.size.toString,
    "meta_rows" -> cat.meta.size.toString,
    "mutated_entries" -> cat.mutated.size.toString,
    "digest" -> Json.str(cat.digest)
  )

  def prepare(spark: SparkSession): Unit = {
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) = spark.createDataFrame(rows.asJava, schema)
    Ingest.writeIndex(df(cat.entries.map(_.row), Schemas.entries), dirs("index"))
    Ingest.writeIndex(df(cat.mutated.map(_.row), Schemas.entries), dirs("mutated"))
    df(cat.meta.map(_.row), Schemas.meta).write.mode("overwrite").parquet(dirs("meta"))
    df(cat.mutatedMeta.map(_.row), Schemas.meta).write.mode("overwrite").parquet(dirs("mutated_meta"))
    entries = spark.read.parquet(dirs("index"))
    meta = spark.read.parquet(dirs("meta"))
    mutated = spark.read.parquet(dirs("mutated"))
    mutatedMeta = spark.read.parquet(dirs("mutated_meta"))
  }

  def nominalRoundS: Double = 2.5

  private def siteOf(df: DataFrame, site: String): DataFrame =
    df.filter(col("path") === site || col("path").startsWith(site + "/"))

  private def paths(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.getAs[String]("path"))

  private def expect[T](t: Tracer, what: String, got: T, want: T): Unit =
    if (got != want) t.fail(s"$what: got ${got.toString.take(200)}, expected ${want.toString.take(200)}")

  def round(spark: SparkSession, t: Tracer, r: Int): Unit = {
    val rng = new SplittableRandom(seed * 104729L + r)
    val kinds = mutable.ArrayBuffer("search", "list", "get_entry", "stac", "delta", "status", "stamp")
    // seeded shuffle, so request order varies between rounds
    for (i <- kinds.indices.reverse) { val j = rng.nextInt(i + 1); val k = kinds(i); kinds(i) = kinds(j); kinds(j) = k }
    val (site, lon0, lat0) = cat.sites(rng.nextInt(cat.sites.size))
    val mission = f"$site/mission_${rng.nextInt(IndexGen.Missions)}%02d"
    kinds.foreach {
      case "search" =>
        val pattern = rng.nextInt(3) match {
          case 0 => s"$mission/*"
          case 1 => s"$site/*.laz"
          case _ => s"$mission/*.jpg"
        }
        val m = IndexGen.globMatches(pattern)
        t.op("search") {
          val df = t.span("construct")(Index.search(entries, meta, pattern))
          t.span("action")(df.collect())
        }(_.length).foreach { rows =>
          val want = cat.entries.filter(e => m(e.path))
          expect(t, s"search $pattern paths", IndexGen.checksum(paths(rows)), IndexGen.checksum(want.map(_.path)))
          expect(t, s"search $pattern with meta", rows.count(r => !r.isNullAt(r.fieldIndex("meta"))),
            want.count(e => hasMeta(e.path)))
        }
      case "list" =>
        val depth = mission.count(_ == '/') + 1
        t.op("list") {
          val df = t.span("construct")(Index.list(entries, meta, Seq(mission)))
          t.span("action")(df.collect())
        }(_.length).foreach { rows =>
          val want = cat.entries
            .filter(e => e.path == mission || (e.path.startsWith(mission + "/") && e.depth <= depth))
            .sortBy(e => (e.entryType, e.path)).map(_.path)
          expect(t, s"list $mission", IndexGen.checksum(paths(rows)), IndexGen.checksum(want))
        }
      case "get_entry" =>
        val e = cat.entries(rng.nextInt(cat.entries.size))
        t.op("get_entry") {
          val df = t.span("construct")(Index.getEntry(entries, e.path))
          t.span("action")(df.collect())
        }(_.length).foreach { rows =>
          expect(t, s"get_entry ${e.path}", rows.toSeq.map(r => (r.getAs[String]("path"), r.getAs[String]("hash"))),
            Seq((e.path, e.hash)))
        }
      case "stac" =>
        val half = 0.05 + rng.nextDouble() * 0.4
        val (w, s, ea, n) = (lon0 - half, lat0 - half, lon0 + half, lat0 + half)
        val start = 1600000000L + rng.nextLong(70000000L)
        val end = start + 5000000L + rng.nextLong(20000000L)
        val limit = 10 + rng.nextInt(40)
        val offset = rng.nextInt(120)
        t.op("stac") {
          val (page, matched) = t.span("construct")(
            Stac.itemCollection(entries, Some((w, s, ea, n)), Some(start), Some(end), limit, offset))
          (t.span("action")(page.collect()), matched)
        }(_._1.length).foreach { case (rows, matched) =>
          val want = cat.entries.filter(e =>
            e.hasGeom && e.maxx >= w && e.minx <= ea && e.maxy >= s && e.miny <= n &&
              e.instant >= start && e.instant <= end)
          expect(t, "stac numberMatched", matched, want.size.toLong)
          expect(t, "stac page", paths(rows), want.slice(offset, offset + limit).map(_.path))
        }
      case "delta" =>
        t.op("delta") {
          val d = t.span("construct")(Sync.delta(siteOf(mutated, site), siteOf(mutatedMeta, site),
            siteOf(entries, site), siteOf(meta, site)))
          t.span("action")((d.adds.collect(), d.removes.collect(), d.metaAdds.collect(), d.metaRemoves.collect()))
        }(d => (d._1.length + d._2.length + d._3.length + d._4.length).toLong).foreach {
          case (adds, removes, metaAdds, metaRemoves) =>
            val src = cat.mutated.filter(e => IndexGen.inSite(e.path, site))
            val dst = cat.entries.filter(e => IndexGen.inSite(e.path, site))
            val dstKeys = dst.map(e => (e.path, e.hash)).toSet
            val srcKinds = src.map(e => (e.path, e.isDir)).toSet
            val srcIds = cat.mutatedMeta.filter(m => IndexGen.inSite(m.path, site)).map(_.id).toSet
            val dstIds = cat.meta.filter(m => IndexGen.inSite(m.path, site)).map(_.id).toSet
            expect(t, "delta adds", adds.map(r => (r.getString(0), r.getString(1))).toSet,
              src.map(e => (e.path, e.hash)).filterNot(dstKeys).toSet)
            expect(t, "delta removes", paths(removes),
              dst.filterNot(e => srcKinds((e.path, e.isDir))).map(_.path).sorted.reverse)
            expect(t, "delta meta adds", metaAdds.map(_.getString(0)).toSet, srcIds -- dstIds)
            expect(t, "delta meta removes", metaRemoves.map(_.getString(0)).toSet, dstIds -- srcIds)
        }
      case "status" =>
        t.op("status") {
          val df = t.span("construct")(Sync.status(siteOf(entries, site), siteOf(mutated, site).select("path", "mtime", "hash")))
          t.span("action")(df.collect())
        }(_.length).foreach { rows =>
          val idx = cat.entries.filter(e => IndexGen.inSite(e.path, site)).map(e => e.path -> e).toMap
          val fs = cat.mutated.filter(e => IndexGen.inSite(e.path, site)).map(e => e.path -> e).toMap
          val want = (idx.keySet ++ fs.keySet).toSeq.sorted.map { p =>
            val st = (idx.get(p), fs.get(p)) match {
              case (None, _) => "not_indexed"
              case (_, None) => "deleted"
              case (Some(i), Some(f)) if i.mtime == f.mtime || i.hash == f.hash => "not_modified"
              case _ => "modified"
            }
            s"$p $st"
          }
          expect(t, "status", IndexGen.checksum(rows.toSeq.map(r => s"${r.getString(0)} ${r.getString(1)}").sorted),
            IndexGen.checksum(want))
        }
      case "stamp" =>
        t.op("stamp")(t.span("action")(Sync.stampChecksum(siteOf(entries, site), siteOf(meta, site))))(_ => 1L)
          .foreach { got =>
            expect(t, s"stamp $site", got, IndexGen.stamp(cat.entries.filter(e => IndexGen.inSite(e.path, site)),
              cat.meta.filter(m => IndexGen.inSite(m.path, site))))
          }
    }
  }
}

/** Heavy `SparkEntry` lanes under `graft.Bench`'s cold per-lane
  * discipline: every lane releases its staged and cached blocks. */
final class AnalyticsWorkload(work: Path, seed: Long, lanes: Seq[(String, String)], nEvents: Int, nDocs: Int)
    extends Workload {
  private val tables = work.resolve("tables").toString
  val results: Path = work.resolve("lane_results")
  private var events, docs: Seq[Row] = Seq.empty
  private var digest = ""
  private val laneRows = mutable.LinkedHashMap[String, Long]()

  def generate(): Unit = {
    val (e, d, dg) = TableGen.rows(seed, nEvents, nDocs)
    events = e
    docs = d
    digest = dg
  }

  def inputs: Seq[(String, String)] = Seq(
    "events" -> events.size.toString,
    "documents" -> docs.size.toString,
    "tables" -> Json.str(tables),
    "results" -> Json.str(results.toString),
    "digest" -> Json.str(digest)
  )

  def prepare(spark: SparkSession): Unit = TableGen.write(spark, tables, events, docs)
  def nominalRoundS: Double = 35.0

  private def release(spark: SparkSession): Unit = {
    graft.operators.Staged.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One pass: every lane once. The action persists the lane's result
    * as parquet (as `graft.Verify` does), so the oracle check reads
    * exactly what the timed pass produced. */
  def round(spark: SparkSession, t: Tracer, r: Int): Unit =
    lanes.foreach { case (lane, _) =>
      val dest = results.resolve(lane).toString
      t.op(lane) {
        try {
          val df = t.span("construct")(graft.SparkEntry.queries(lane)(spark, tables))
          t.span("action")(df.write.mode("overwrite").parquet(dest))
        } finally t.span("release")(release(spark))
      }(_ => laneRows.getOrElse(lane, 0L)).foreach(_ => laneRows(lane) = spark.read.parquet(dest).count())
    }

  /** The DuckDB oracle SQL of every lane, for `run.py`'s check. */
  def writeOracleSql(): Unit =
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.obj(lanes.map { case (l, _) => l -> Json.str(graft.SparkEntry.oracleSql(l)) }: _*))

  override def extra: Seq[(String, String)] = Seq(
    "lanes" -> Json.obj(lanes.map { case (l, m) => l -> Json.str(m) }: _*),
    "lane_rows" -> Json.obj(laneRows.toSeq.map { case (l, n) => l -> n.toString }: _*)
  )
}

/** One long-lived `ddb` session: each round adds and re-adds the file
  * tree, then serves the catalog requests. One JVM pays the start-up
  * cost for both paths. */
final class DatasetWorkload(ingest: IngestWorkload, catalog: CatalogWorkload) extends Workload {
  def generate(): Unit = { ingest.generate(); catalog.generate() }
  def inputs: Seq[(String, String)] =
    ingest.inputs.map { case (k, v) => s"tree_$k" -> v } ++ catalog.inputs.map { case (k, v) => s"index_$k" -> v }
  def prepare(spark: SparkSession): Unit = { ingest.prepare(spark); catalog.prepare(spark) }
  def nominalRoundS: Double = ingest.nominalRoundS + catalog.nominalRoundS
  def round(spark: SparkSession, t: Tracer, r: Int): Unit = { ingest.round(spark, t, r); catalog.round(spark, t, r) }
  override def extra: Seq[(String, String)] = ingest.extra ++ catalog.extra
}
