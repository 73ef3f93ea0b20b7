package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Scale notes: each accessor is a plain parquet scan — Catalyst pushes
  * filters/projections into the scan (check `PushedFilters`/`ReadSchema`
  * in `.explain("formatted")`). At cluster scale the same code reads a
  * partitioned table; nothing here assumes local mode.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** `events.ts` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * which Spark reads as TIMESTAMP_NTZ. The stored wall-times are UTC
    * instants, and every session here runs with the UTC session
    * timezone, so the NTZ→TIMESTAMP cast below is an exact identity on
    * the underlying microseconds. A schema guard fails loudly (one
    * named error instead of 20 scattered analysis exceptions) if the
    * testdata layout ever changes again. */
  def events(s: SparkSession, d: String): DataFrame =
    eventsNtz(s, d).withColumn(
      "ts",
      org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType)
    )

  /** Events with `ts` as the raw epoch-MICROSECONDS long — the exact
    * integer domain every window/session/interval operator computes in
    * (and the same domain DuckDB's `epoch_us(ts)` sees). Derived via
    * `unix_micros`, so a range predicate on this column does NOT push
    * into the parquet scan; operators that range-filter the timeline
    * should filter [[eventsNtz]]'s raw `ts` column against timestamp
    * literals first (scan-pushable) and derive the long afterwards. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    eventsNtz(s, d)
      .withColumn("ts", unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)))
  }

  /** Events exactly as stored: `ts` is the raw TIMESTAMP_NTZ column.
    * Range filters belong HERE (plain column vs. foldable timestamp
    * literal → pushed into the scan, pruning row groups via min/max
    * stats). */
  def eventsNtz(s: SparkSession, d: String): DataFrame = {
    require(
      s.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft.Tables.events*: session timezone must be UTC (NTZ wall-times are UTC instants)"
    )
    val df = load(s, d, "events")
    val tsType = df.schema("ts").dataType
    require(
      tsType == org.apache.spark.sql.types.TimestampNTZType ||
        tsType == org.apache.spark.sql.types.TimestampType,
      s"graft.Tables.events*: events.ts expected TIMESTAMP(_NTZ) micros, got $tsType — " +
        "the driver testdata layout changed; re-base the loader contract (see Tables.scala)"
    )
    df
  }
  /** Same loader-contract guard the events table carries (the r9
    * lesson: driver-regenerated parquet with a changed layout should
    * fail as ONE named error here, not as dozens of scattered
    * per-query analysis exceptions). */
  private def requireCols(df: DataFrame, table: String, cols: (String, String)*): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType.typeName.takeWhile(_ != '(')).toMap
    cols.foreach { case (n, t) =>
      require(
        have.get(n).exists(_.startsWith(t)),
        s"graft.Tables.$table: expected column $n:$t*, schema has ${df.schema.simpleString} — " +
          "the driver testdata layout changed; re-base the loader contract (see Tables.scala)"
      )
    }
    df
  }

  def documents(s: SparkSession, d: String): DataFrame =
    requireCols(
      load(s, d, "documents"),
      "documents",
      "doc_id" -> "long",
      "source" -> "string",
      "lang" -> "string",
      "text" -> "string"
    )
  def embeddings(s: SparkSession, d: String): DataFrame =
    requireCols(load(s, d, "embeddings"), "embeddings", "vec_id" -> "long", "embedding" -> "array")

  /** Documents rebalanced across the session's shuffle parallelism.
    * The test files are single-row-group parquet, so the scan is ONE
    * task — any per-row-heavy pipeline (md5 sketches, regex token
    * work) would run serially without this. At cluster scale the scan
    * has many splits and this round-robin exchange is ~free relative
    * to the downstream hash work; it is the same safeguard you'd keep
    * against pathologically skewed split sizes. */
  def documentsWide(s: SparkSession, d: String): DataFrame =
    documents(s, d).repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
}

/** Shared local SparkSession factory used by tests and mains. */
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

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Iterative jobs (suffix-array build, graph fixpoints) leave each
      // round's SHUFFLE files on disk until the ContextCleaner sees the
      // old RDD graph garbage-collected — and a big heap may not GC for
      // the whole job, so scratch grows as rounds × per-round shuffle
      // instead of ~2 rounds' worth. The default periodicGC interval
      // (30 min) is longer than most jobs; 5 min keeps scratch bounded
      // at scale and costs ~nothing at test SFs. (Found by the r16 sf10
      // probe: the suffix build filled 78 GB of disk with 12 rounds of
      // retained shuffles before the cleaner ever fired.)
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
