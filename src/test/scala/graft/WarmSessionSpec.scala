package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.StaticSQLConf

import graft.core.{Index, Sync}
import graft.model.{Entry, EntryType, MetaRow}
import graft.sources.Ingest

/** A warm `Sessions.local` session compiles each catalog plan shape
  * once: a request that differs from an earlier one only in its pattern
  * or site reuses the generated classes. The tests run on the session
  * config the benchmark's serving workload runs on, while `graft.Bench`
  * keeps Spark's default codegen cache for its cold-pass protocol. */
class WarmSessionSpec extends SparkSuite {
  import spark.implicits._

  test("the live test session carries every entry of Sessions.conf; the lane config differs only in the codegen cache") {
    val conf = Sessions.conf(8)
    conf.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(conf("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(conf("spark.sql.codegen.cache.maxEntries") === Sessions.CodegenCacheEntries.toString)
    assert(conf("spark.sql.shuffle.partitions") === "8")
    assert(Sessions.conf(2)("spark.sql.shuffle.partitions") === "4")
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.ui.enabled") === "false")
    // Bench, Verify and tools.TimeLanes: the same map with Spark's own cache size
    assert(Sessions.SparkDefaultCodegenCache.toString ===
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValueString)
    assert(Sessions.conf(8, Sessions.SparkDefaultCodegenCache) ===
      conf.updated("spark.sql.codegen.cache.maxEntries", StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValueString))
  }

  private def entry(path: String, tpe: Int, hash: String = ""): Entry =
    Entry(path, if (tpe == EntryType.Directory) "" else if (hash.nonEmpty) hash else "h" + path.hashCode, tpe, "{}",
      1700000000L, 10, path.count(_ == '/'), None, None)

  private def catalog(rehash: String => Boolean): Seq[Entry] =
    for {
      s <- 0 until 3
      m <- 0 until 2
      site = f"site_$s%02d"
      mission = f"$site/mission_$m%02d"
      e <- Seq(entry(site, EntryType.Directory), entry(mission, EntryType.Directory)) ++
        (0 until 4).flatMap { i =>
          Seq(f"$mission/f$i%04d.jpg" -> EntryType.Image, f"$mission/p$i%04d.laz" -> EntryType.PointCloud)
            .map { case (p, t) => entry(p, t, if (rehash(p)) "rehashed" else "") }
        }
    } yield e

  /** Written and read back as parquet, like a served index: a local
    * relation would be evaluated on the Spark driver without codegen. */
  private lazy val (entries, mutated, meta, mutatedMeta) = {
    val dir = Files.createTempDirectory("warm-session")
    def index(name: String, rows: Seq[Entry]): DataFrame = {
      val dest = dir.resolve(name).toString
      Ingest.writeIndex(rows.distinct.toDF(), dest)
      spark.read.parquet(dest)
    }
    def metaTable(name: String, rows: Seq[MetaRow]): DataFrame = {
      val dest = dir.resolve(name).toString
      rows.toDF().write.parquet(dest)
      spark.read.parquet(dest)
    }
    val base = catalog(_ => false)
    val metaRows = base.filter(_.path.endsWith("0.jpg")).map(e => MetaRow("id" + e.path, e.path, "tags", "[]", 1L))
    (index("entries", base), index("mutated", catalog(_.endsWith("1.laz"))), metaTable("meta", metaRows),
      metaTable("mutated_meta", metaRows.drop(1)))
  }

  private def siteOf(df: DataFrame, site: String): DataFrame =
    df.filter(col("path") === site || col("path").startsWith(site + "/"))

  private def requests(site: String, mission: String): Unit = {
    Seq(s"$mission/*", s"$site/*.laz", s"$mission/*.jpg").foreach(p => Index.search(entries, meta, p).collect())
    Index.list(entries, meta, Seq(mission)).collect()
    val d = Sync.delta(siteOf(mutated, site), siteOf(mutatedMeta, site), siteOf(entries, site), siteOf(meta, site))
    Seq(d.adds, d.removes, d.metaAdds, d.metaRemoves).foreach(_.collect())
  }

  test("a second search, list and delta with another pattern or site adds no codegen compiles") {
    requests("site_00", "site_00/mission_00")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    requests("site_01", "site_01/mission_01")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L)
    // the requests return what they should, so the classes are not reused vacuously
    assert(Index.search(entries, meta, "site_02/mission_01/*.jpg").count() === 4)
    assert(Index.list(entries, meta, Seq("site_02/mission_01")).count() === 9)
    assert(Sync.deltaAdds(siteOf(mutated, "site_02"), siteOf(entries, "site_02")).count() === 2)
  }
}
