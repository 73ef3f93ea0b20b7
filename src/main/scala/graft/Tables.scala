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
