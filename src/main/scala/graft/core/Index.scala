package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{EntryType, Schemas}

/** The entries index and its query surface — the Spark re-expression of
  * `src/library/dbops.cpp` (list/search/getEntry) and
  * `database.cpp` (schema).
  *
  * Storage: a parquet (or any Spark-table) dataset with the
  * `Schemas.entries` layout. Scale design (SURVEY §4.3):
  *  - written `partitionBy("topdir")`-style path-prefix partitioning so
  *    folder queries (`path LIKE 'folder/%'`) prune partitions — the
  *    replacement for the reference's `path` PK B-tree;
  *  - envelope min/max as top-level doubles so parquet row-group stats
  *    prune bbox queries — the replacement for the SpatiaLite MBR
  *    index.
  */
object Index {

  /** User-pattern sanitizer — ref `dbops.cpp:760-771`
    * (`sanitize_query_param`): escape LIKE metachars with `/`, then
    * `*` → `%`. */
  def sanitizeQueryParam(q: String): String =
    q.replace("/", "//").replace("%", "/%").replace("_", "/_").replace("*", "%")

  /** LIKE with `/` escape — Column form of the reference's
    * `LIKE ? ESCAPE '/'`.
    *
    * `Like` compiles its regex into the generated class, so every new
    * pattern costs a Janino compile, and Spark's `LikeSimplification`
    * skips any pattern that contains the escape char (every sanitized
    * path pattern does). Patterns without a `_` wildcard are lowered
    * here to string predicates whose literals the generated code
    * references rather than inlines, so one class serves every pattern
    * of the same shape; parquet can also push `StartsWith`. With
    * literal segments `a`, `m`, `b`:
    *  - `a` → `c = a`;
    *  - `a%b` → `StartsWith(a) && EndsWith(b)`, plus a length guard only
    *    when `a` and `b` can overlap in a short string;
    *  - `a%m%b` → `StartsWith(a) && EndsWith(b) && Contains(m)` when no
    *    occurrence of `m` can overlap `a` or `b`, so any occurrence lies
    *    between them.
    * Everything else (a `_` wildcard, more `%`s, overlapping segments,
    * a malformed escape) stays a `like`. All forms are null on a null
    * input, as `like` is. */
  def likeEscaped(c: Column, pattern: String): Column = {
    def affix(a: String, b: String): Column =
      Seq(a -> c.startsWith(a), b -> c.endsWith(b)).collect { case (s, p) if s.nonEmpty => p }
        .reduceOption(_ && _).getOrElse(c.startsWith(""))
    likeSegments(pattern) match {
      case Some(Seq(exact)) => c === exact
      case Some(Seq(a, b)) if overlap(a, b) =>
        affix(a, b) && length(c) >= a.codePointCount(0, a.length) + b.codePointCount(0, b.length)
      case Some(Seq(a, b)) => affix(a, b)
      case Some(Seq(a, m, b)) if !a.contains(m) && !overlap(a, m) && !b.contains(m) && !overlap(m, b) =>
        affix(a, b) && c.contains(m)
      case _ => like(c, lit(pattern), lit("/"))
    }
  }

  /** The literal segments of a `/`-escaped LIKE pattern around its
    * unescaped `%`s (runs of `%` count as one), or None when the
    * pattern has a `_` wildcard or an escape `like` would reject. */
  private def likeSegments(pattern: String): Option[Seq[String]] = {
    val segs = Seq.newBuilder[String]
    val cur = new StringBuilder
    var lastWasWild = false
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '/' if i + 1 < pattern.length && "/%_".indexOf(pattern.charAt(i + 1)) >= 0 =>
          cur.append(pattern.charAt(i + 1)); lastWasWild = false; i += 2
        case '/' | '_' => return None
        case '%' =>
          if (!lastWasWild) { segs += cur.toString; cur.clear() }
          lastWasWild = true; i += 1
        case ch => cur.append(ch); lastWasWild = false; i += 1
      }
    }
    Some((segs += cur.toString).result())
  }

  /** True when some non-empty suffix of `a` is a prefix of `b`: an
    * occurrence of `b` can then start inside a leading `a`. */
  private def overlap(a: String, b: String): Boolean =
    (1 to math.min(a.length, b.length)).exists(k => a.endsWith(b.take(k)))

  /** Path match predicate — ref `getMatchingEntries`
    * (`dbops.cpp:916-987`): sanitized pattern, folder rows also match
    * everything beneath them when `expandFolders`. */
  def pathMatches(pattern: String, expandFolders: Boolean = true): Column = {
    val pat = sanitizeQueryParam(pattern)
    val self = likeEscaped(col("path"), pat)
    // folder expansion appends escaped-'/' + wildcard: 'folder' also
    // matches 'folder/%' (ref appends `//%`, dbops.cpp:916-987)
    if (expandFolders && !endsInPercent(pat)) self || likeEscaped(col("path"), pat + "//%")
    else self
  }

  /** A pattern ending in an unescaped `%` already matches every path
    * beneath its matches, so its folder expansion adds nothing. */
  private def endsInPercent(pat: String): Boolean =
    likeSegments(pat).exists(s => s.size > 1 && s.last.isEmpty)

  /** Depth from path — ref `dbops.cpp` (`depth` = number of '/'). */
  def depthOf(path: Column): Column =
    size(split(path, "/")) - 1

  /** Entry lookup — ref `dbops.cpp:1324-1338`. */
  def getEntry(entries: DataFrame, path: String): DataFrame =
    entries.filter(col("path") === path).limit(1)

  def pathExists(entries: DataFrame, path: String): Boolean =
    !getEntry(entries, path).isEmpty

  /** The reference's one big query (`dbops.cpp:941-964`): path filter +
    * optional depth cap + left join to per-path aggregated meta JSON. */
  def matchingEntries(
      entries: DataFrame,
      meta: DataFrame,
      pattern: String,
      maxDepth: Option[Int] = None
  ): DataFrame = {
    val filtered = maxDepth.foldLeft(entries.filter(pathMatches(pattern)))((df, d) =>
      df.filter(col("depth") <= d - 1)
    )
    filtered.join(Meta.perPathJson(meta), Seq("path"), "left_outer")
  }

  /** `ddb list` — dedup + type-then-path ordering
    * (`dbops.cpp:531-567`). */
  def list(
      entries: DataFrame,
      meta: DataFrame,
      patterns: Seq[String],
      recursive: Boolean = false,
      maxDepth: Option[Int] = None
  ): DataFrame = {
    val parts = patterns.map { p =>
      val pat = sanitizeQueryParam(p)
      val self = likeEscaped(col("path"), pat)
      val children = likeEscaped(col("path"), pat + "//%")
      // non-recursive folder listing shows direct children only (ls
      // semantics, ddb_test.cpp matrix); recursive shows all
      val patDepth = p.count(_ == '/') + 1
      val pred =
        if (endsInPercent(pat)) self
        else if (recursive) self || children
        else self || (children && col("depth") <= patDepth)
      entries.filter(pred)
    }
    val unioned = parts.reduce(_ unionByName _).dropDuplicates("path")
    val depthCapped = maxDepth.foldLeft(unioned)((df, d) => df.filter(col("depth") <= d - 1))
    depthCapped
      .join(Meta.perPathJson(meta), Seq("path"), "left_outer")
      .orderBy(col("entryType"), col("path"))
  }

  /** `ddb search` — wildcard search ordered by path
    * (`dbops.cpp:601-627`). */
  def search(entries: DataFrame, meta: DataFrame, pattern: String): DataFrame =
    matchingEntries(entries, meta, pattern).orderBy("path")

  /** Folder-consistency repair — derive parent dirs missing from the
    * index (`dbops.cpp:1284-1314`): explode path prefixes, anti-join
    * against existing directory rows. */
  def missingFolders(entries: DataFrame): DataFrame = {
    val parents = entries
      .select(explode(expr(
        // all proper prefixes of path at '/' boundaries
        "transform(sequence(1, size(split(path, '/')) - 1), i -> array_join(slice(split(path, '/'), 1, i), '/'))"
      )).as("path"))
      .filter(col("path") =!= "")
      .distinct()
    val dirs = entries.filter(col("entryType") === EntryType.Directory).select("path")
    parents.join(dirs, Seq("path"), "left_anti")
  }

  /** STAC-ish spatial bbox filter over the envelope columns — ref
    * `stac.cpp:629-636` (`MbrIntersects`). Plain column predicates so
    * parquet min/max stats prune row groups. */
  def bboxIntersects(w: Double, s: Double, e: Double, n: Double): Column =
    col("minx").isNotNull &&
      !(col("maxx") < w || col("minx") > e || col("maxy") < s || col("miny") > n)

  /** Temporal instant: captureTime ms if present and > 0 else mtime s —
    * ref `stac.cpp:643-651`. */
  def temporalInstant: Column = {
    val ct = get_json_object(col("properties"), "$.captureTime").cast("double")
    when(ct.isNotNull && ct > 0, (ct / 1000.0).cast("long")).otherwise(col("mtime"))
  }

  /** Paging in the STAC shape (`stac.cpp:666-680`): ORDER BY path
    * LIMIT/OFFSET. Spark plans `orderBy.offset.limit` as a
    * TakeOrderedAndProject (per-partition heap + driver merge of
    * offset+limit rows) — no global sort and no single-task window,
    * so the page stays distributed at any index size. */
  def page(df: DataFrame, limit: Int, offset: Int): DataFrame =
    df.orderBy("path").offset(offset).limit(limit)

  /** Nested-dataset scan — ref `entry.cpp:961-980`: roll a child index
    * up into ONE entry row of the parent (type=DroneDB, size=SUM(size),
    * properties = child summary JSON, envelope = child extent). */
  def nestedDatasetEntry(childEntries: DataFrame, path: String, mtime: Long): DataFrame = {
    datasetSummary(childEntries).select(
      lit(path).as("path"),
      lit("").as("hash"),
      lit(graft.model.EntryType.DroneDB).as("entryType"),
      to_json(struct(col("entryCount"), col("totalSize"), col("minTime"), col("maxTime"))).as("properties"),
      lit(mtime).as("mtime"),
      coalesce(col("totalSize"), lit(0L)).as("size"),
      lit(path.count(_ == '/')).as("depth"),
      lit(null).cast(graft.model.Schemas.pointGeom).as("pointGeom"),
      lit(null).cast(org.apache.spark.sql.types.ArrayType(graft.model.Schemas.pointGeom, false)).as("polygonGeom"),
      col("minx"), col("miny"), col("maxx"), col("maxy")
    )
  }

  /** Dataset-level rollup — ref `entry.cpp:961-980` (nested dataset =
    * SUM(size)) + `database.cpp:370-389` (spatial extent aggregate:
    * union-of-envelopes ≡ min/max fold). */
  def datasetSummary(entriesIn: DataFrame): DataFrame = {
    // tolerate inputs without materialized envelope columns
    val entries = Seq("minx", "miny", "maxx", "maxy").foldLeft(entriesIn)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("double"))
    )
    entries.agg(
      count(lit(1)).as("entryCount"),
      sum("size").as("totalSize"),
      min("minx").as("minx"),
      min("miny").as("miny"),
      max("maxx").as("maxx"),
      max("maxy").as("maxy"),
      min(temporalInstant).as("minTime"),
      max(temporalInstant).as("maxTime")
    )
  }
}
