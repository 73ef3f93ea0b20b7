package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** The one local SparkSession factory: tests, serving, the bench, the
  * oracle dump and the dev tools all run on [[conf]], so the plans the
  * specs audit are the plans every surface executes. */
object Sessions {

  /** Entries in Spark's generated-class cache (`CodeGenerator.cache`).
    * That cache is static and JVM-wide: it is sized once, from the conf
    * of the first session that generates code, and later sessions in
    * the same JVM share it whatever they set. Spark's default of 100
    * is smaller than one warm serving round: a `dataset` benchmark
    * round (add, re-add and seven catalog requests) needs ~103 distinct
    * classes, so each class is evicted before its next use and every
    * request recompiles. Measured working sets, as compile counts under
    * the default cache (eviction recompiles included, so upper bounds):
    * ~110 per `dataset` round, 612 per `analytics` pass of 12 heavy
    * lanes, 18,316 for the whole spec suite in one JVM. The value holds
    * the largest of these five times over, so a long-lived session
    * serving several catalogs stays warm too. Cached classes stay
    * loaded, so a JVM's memory grows with its distinct plan shapes. */
  val CodegenCacheEntries: Int = 100000

  /** Spark's own cache size, kept by the lane surfaces (`Bench`,
    * `Verify`, `tools.TimeLanes`): their cold per-lane protocol
    * measures each lane's compiles too. */
  val SparkDefaultCodegenCache: Int = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValue.get

  def conf(cpus: Int, codegenCacheEntries: Int = CodegenCacheEntries): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> "graft",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.shuffle.partitions" -> math.max(cpus, 4).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Iterative jobs (suffix-array build, graph fixpoints) leave each
    // round's SHUFFLE files on disk until the ContextCleaner sees the
    // old RDD graph garbage-collected — and a big heap may not GC for
    // the whole job, so scratch grows as rounds × per-round shuffle
    // instead of ~2 rounds' worth. The default periodicGC interval
    // (30 min) is longer than most jobs; 5 min keeps scratch bounded
    // at scale and costs ~nothing at test SFs. (Found by the r16 sf10
    // probe: the suffix build filled 78 GB of disk with 12 rounds of
    // retained shuffles before the cleaner ever fired.)
    "spark.cleaner.periodicGC.interval" -> "5min",
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> codegenCacheEntries.toString
  )

  def local(
      cpus: Int = Runtime.getRuntime.availableProcessors(),
      codegenCacheEntries: Int = CodegenCacheEntries
  ): SparkSession = {
    val s = SparkSession.builder().config(conf(cpus, codegenCacheEntries)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
