package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Index
import graft.model.EntryType

/** Ingest — the `ddb add` pipeline (SURVEY §3.1) re-expressed as one
  * Spark job: list files → anti-join current index on (path, mtime) →
  * hash+extract only new/modified rows → upsert.
  *
  * Scale design: `binaryFile` scans parallelize across executors; the
  * mtime-before-hash short-circuit (`dbops.cpp:441-472`) becomes a
  * join on the content-free listing, so unchanged files are never
  * read ([[changedFiles]]); the upsert is
  * union + row_number dedup (newest wins), one shuffle on path.
  */
object Ingest {

  /** Recursive dir scan — ref `getPathList` (`dbops.cpp:200-275`):
    * walk tree, skip `.ddb`. Metadata-only listing (no content read). */
  def listFiles(s: SparkSession, root: String): DataFrame =
    fileRows(
      s.read
        .format("binaryFile")
        .option("pathGlobFilter", "*")
        .option("recursiveFileLookup", "true")
        .load(root)
    )

  /** `binaryFile` rows in the listing shape; `content` is read only if
    * a consumer keeps the column. */
  private def fileRows(binary: DataFrame): DataFrame =
    binary
      .filter(!col("path").contains("/.ddb/"))
      .select(
        regexp_replace(col("path"), "^file:", "").as("abs_path"),
        (unix_timestamp(col("modificationTime"))).as("mtime"),
        col("length").as("size"),
        col("content")
      )

  /** Glob semantics — ref `dbops.cpp:321-439`: `*?[]` via Hadoop glob
    * in load(); `**` replicated with an rlike filter. */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' if i + 1 < glob.length && glob.charAt(i + 1) == '*' =>
          // `**/` spans ZERO or more directories (so `**/*.jpg`
          // matches a top-level a.jpg — glob_test RecursiveDoubleStar);
          // a bare `**` greedily crosses separators
          if (i + 2 < glob.length && glob.charAt(i + 2) == '/') { sb.append("(.*/)?"); i += 2 }
          else { sb.append(".*"); i += 1 }
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case '[' => sb.append('[')
        case ']' => sb.append(']')
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append("$").toString
  }

  /** CLI-side glob expansion — the `expandGlobPatterns` contract
    * (glob_test.cpp:78-186): literal files pass through (missing
    * literal throws), bare directories walk recursively, patterns
    * match with [[globToRegex]] semantics, `.ddb` entries are always
    * skipped, results deduplicate across patterns and come back
    * absolute; an empty pattern throws and zero total matches throw.
    * This is the driver-side utility twin of the distributed
    * [[listFiles]]+rlike face (same regex, same .ddb rule). */
  def expandGlobPatterns(root: String, patterns: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rootPath = java.nio.file.Paths.get(root).toAbsolutePath.normalize
    def isDdb(p: java.nio.file.Path): Boolean =
      rootPath.relativize(p).iterator().asScala.exists(_.toString == ".ddb")
    def walk(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.toList.filter(p => java.nio.file.Files.isRegularFile(p) && !isDdb(p))
      finally s.close()
    }
    val out = scala.collection.mutable.LinkedHashSet[String]()
    // one tree walk shared by every wildcard pattern (was one walk per
    // pattern); literal entries resolve directly and also honor the
    // always-skip-.ddb contract
    lazy val allFiles = walk(rootPath)
    patterns.foreach { pat =>
      require(pat != null && pat.nonEmpty, "empty glob pattern")
      val hasMeta = pat.exists("*?[".contains(_))
      if (!hasMeta) {
        val p = rootPath.resolve(pat).normalize
        if (java.nio.file.Files.isRegularFile(p)) { if (!isDdb(p)) out += p.toString }
        else if (java.nio.file.Files.isDirectory(p)) walk(p).foreach(out += _.toString)
        else throw new java.io.FileNotFoundException(s"no such file or directory: $pat")
      } else {
        val re = globToRegex(pat).r
        allFiles.foreach { p =>
          val rel = rootPath.relativize(p).toString.replace('\\', '/')
          if (re.matches(rel)) out += p.toString
        }
      }
    }
    if (out.isEmpty) throw new java.io.FileNotFoundException(s"no files matched: ${patterns.mkString(", ")}")
    out.toSeq
  }

  /** Entry assembly from a file listing rooted at `root`: relative
    * path, depth, content-sniffed type + properties + geotag
    * (`Extractors.withExtraction` — the `parseEntry` role,
    * `entry.cpp:34-489`), sha256 (built-in, codegen'd). */
  def toEntries(files: DataFrame, root: String): DataFrame = {
    val rel = regexp_replace(col("abs_path"), "^" + java.util.regex.Pattern.quote(root) + "/?", "")
    Extractors
      .withExtraction(
        files.select(
          rel.as("path"),
          lower(sha2(col("content"), 256)).as("hash"),
          col("mtime"),
          col("size"),
          col("content")
        ),
        col("path"),
        col("content")
      )
      .drop("content")
      .withColumn("depth", Index.depthOf(col("path")))
  }

  /** Incremental add: the files that need hashing and parsing, in the
    * [[listFiles]] shape — ref `dbops.cpp:441-472`, where an unchanged
    * mtime short-circuits before any content is read.
    *
    * `files` is a [[listFiles]] listing (absolute paths) and `index` an
    * entries index (paths relative to the dataset root). A file matches
    * an entry when its path is the entry path or ends with `/` + the
    * entry path; the match is an equi-join on the file name with that
    * suffix check as residual, and when several entries match (`b/c.jpg`
    * and `a/b/c.jpg` both match `…/a/b/c.jpg`) the longest wins. A file
    * is changed when it has no match or its mtime differs. The root is
    * not known here, so a new file whose path still ends in some
    * indexed path (a new `x/b/c.jpg` beside an indexed `b/c.jpg`, with
    * no `x/b/c.jpg` entry) counts as that entry.
    *
    * The join runs on the listing without `content` and its result is
    * collected: the changed files are then read with Spark's own
    * `binaryFile` reader over exactly that file list (no glob
    * expansion, so `[`, `*` or `?` in a name are literal). Unchanged
    * files are never read, and the reads of changed ones show in the
    * scan's task input metrics. The Spark driver holds the changed file list,
    * as Spark's file index already holds the whole listing. */
  def changedFiles(files: DataFrame, index: DataFrame): DataFrame = {
    def fileName(c: Column) = substring_index(c, "/", -1)
    val idx = index.select(col("path").as("idx_path"), col("mtime").as("idx_mtime"))
    val listed = files.select("abs_path", "mtime", "size")
    val matched = listed.join(
      idx,
      fileName(col("abs_path")) === fileName(col("idx_path")) &&
        (col("abs_path") === col("idx_path") || col("abs_path").endsWith(concat(lit("/"), col("idx_path")))),
      "left_outer"
    )
    val changed = matched
      .groupBy("abs_path", "mtime", "size")
      .agg(max_by(col("idx_mtime"), length(col("idx_path"))).as("idx_mtime"))
      .filter(col("idx_mtime").isNull || col("idx_mtime") =!= col("mtime"))
      .select("abs_path", "size", "mtime")
      .collect()
    val statuses = changed.toSeq.map { r =>
      val p = r.getString(0) // local paths lost their `file:` in listFiles
      new FileStatus(r.getLong(1), false, 1, r.getLong(1), r.getLong(2) * 1000L,
        if (p.startsWith("/")) new Path("file", null, p) else new Path(p))
    }
    val relation = HadoopFsRelation(new KnownFiles(statuses), new StructType(), BinaryFileFormat.schema, None,
      new BinaryFileFormat, Map.empty)(files.sparkSession)
    fileRows(files.sparkSession.baseRelationToDataFrame(relation))
  }

  /** A file index over a known file list: no listing, no globbing. */
  private final class KnownFiles(files: Seq[FileStatus]) extends FileIndex {
    def rootPaths: Seq[Path] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }

  /** Rescan — ref `dbops.cpp:1034-1140`: re-parse indexed entries
    * (optionally restricted to some types) from current file bytes and
    * upsert the fresh rows over the index. Paths not on disk anymore
    * are left untouched (delete is `Sync.status` + removeEntries'
    * job). */
  def rescan(index: DataFrame, root: String, typeFilter: Option[Seq[Int]] = None)(
      implicit s: org.apache.spark.sql.SparkSession
  ): DataFrame = {
    val scoped = typeFilter.foldLeft(index)((df, ts) => df.filter(col("entryType").isin(ts.map(Integer.valueOf): _*)))
    val fresh = toEntries(listFiles(s, root), root)
      .join(scoped.select("path"), Seq("path"), "left_semi")
    upsert(index, fresh)
  }

  /** Upsert: union new entries over current index, newest-mtime wins
    * per path, incoming wins mtime ties (a re-parse at the same mtime
    * must still refresh the row) — the MERGE shape on an immutable
    * store (SURVEY §7.4.6). */
  def upsert(index: DataFrame, incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("path").orderBy(col("mtime").desc, col("__src").desc)
    index
      .withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)), allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Index write layout: path-prefix partitioning so folder queries
    * prune (SURVEY §4.3.2) — partition column = top-level dir. */
  def writeIndex(entries: DataFrame, dest: String): Unit =
    entries
      .withColumn("topdir", when(col("depth") > 0, split(col("path"), "/").getItem(0)).otherwise(lit("")))
      .repartition(col("topdir"))
      .write
      .mode("overwrite")
      .partitionBy("topdir")
      .parquet(dest)
}
