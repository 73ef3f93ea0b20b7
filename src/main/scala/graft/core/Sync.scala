package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stamps, deltas and incremental sync — the git-like layer
  * (`src/library/delta.cpp`, `database.cpp:288-331`,
  * `src/library/status.cpp`).
  */
object Sync {

  /** Stamp checksum — ref `database.cpp:288-331`: an *ordered* SHA256
    * fold over (path, hash) pairs in path order, then meta ids in id
    * order. Order-sensitive, so never a commutative aggregate (SURVEY
    * §7.4.1): sort distributed, then *stream* the digest inputs to the
    * driver one partition at a time via `toLocalIterator` — a global
    * sort range-partitions the data, so partition-by-partition
    * iteration preserves global order and driver memory stays bounded
    * by one partition even at a 100M-file index. Entries and meta ids
    * go through ONE sort as a tagged union — `(0, path, hash)` rows
    * before `(1, id, null)` rows — so a stamp pays one sort pipeline,
    * not two, and folds the same bytes in the same order.
    */
  def stampChecksum(entries: DataFrame, meta: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    val md = MessageDigest.getInstance("SHA-256")
    entries
      .select(lit(0).as("tag"), col("path").as("key"), col("hash").as("value"))
      .unionByName(meta.select(lit(1).as("tag"), col("id").as("key"), lit(null).cast("string").as("value")))
      .orderBy("tag", "key")
      .toLocalIterator()
      .asScala
      .foreach { r =>
        md.update(r.getString(1).getBytes("UTF-8"))
        if (r.getInt(0) == 0) md.update(r.getString(2).getBytes("UTF-8"))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Stamp document: checksum + sorted entries + sorted meta ids. */
  def stamp(entries: DataFrame, meta: DataFrame): (String, DataFrame, DataFrame) =
    (stampChecksum(entries, meta),
      entries.select("path", "hash").orderBy("path"),
      meta.select("id").orderBy("id"))

  private def isDir(hashCol: org.apache.spark.sql.Column) = hashCol === ""

  /** Delta adds — ref `delta.cpp:131-149`: source entries with no dest
    * row sharing (path, hash). Left-anti join on the composite key. */
  def deltaAdds(source: DataFrame, dest: DataFrame): DataFrame =
    source
      .select("path", "hash")
      .join(dest.select("path", "hash"), Seq("path", "hash"), "left_anti")

  /** Delta removes — ref `delta.cpp:151-162`: dest entries with no
    * source row with same path & directory-ness, ordered deepest-first
    * so children delete before parents (`delta.cpp:165-169`). */
  def deltaRemoves(source: DataFrame, dest: DataFrame): DataFrame = {
    val s = source.select(col("path"), isDir(col("hash")).as("is_dir"))
    dest
      .select(col("path"), col("hash"), isDir(col("hash")).as("is_dir"))
      .join(s, Seq("path", "is_dir"), "left_anti")
      .select("path", "hash")
      .orderBy(col("path").desc)
  }

  /** Meta-id set differences — ref `delta.cpp:177-197`. */
  def metaAdds(source: DataFrame, dest: DataFrame): DataFrame =
    source.select("id").except(dest.select("id"))

  def metaRemoves(source: DataFrame, dest: DataFrame): DataFrame =
    dest.select("id").except(source.select("id"))

  final case class Delta(adds: DataFrame, removes: DataFrame, metaAdds: DataFrame, metaRemoves: DataFrame)

  def delta(sourceEntries: DataFrame, sourceMeta: DataFrame, destEntries: DataFrame, destMeta: DataFrame): Delta =
    Delta(
      deltaAdds(sourceEntries, destEntries),
      deltaRemoves(sourceEntries, destEntries),
      metaAdds(sourceMeta, destMeta),
      metaRemoves(sourceMeta, destMeta)
    )

  /** Merge strategies for applyDelta — ref `registry.cpp:358-508`. */
  sealed trait MergeStrategy
  case object DontMerge extends MergeStrategy
  case object KeepOurs extends MergeStrategy
  case object KeepTheirs extends MergeStrategy

  /** Conflict detection + resolution: full-outer join of incoming adds
    * against local rows on path; a conflict is a path present on both
    * sides with different hashes. */
  def applyDelta(local: DataFrame, adds: DataFrame, removes: DataFrame, strategy: MergeStrategy): DataFrame = {
    val incoming = adds.select(col("path").as("path"), col("hash").as("in_hash"))
    val joined = local
      .select(col("path"), col("hash").as("local_hash"))
      .join(incoming, Seq("path"), "full_outer")
    val conflicts = joined.filter(
      col("local_hash").isNotNull && col("in_hash").isNotNull && col("local_hash") =!= col("in_hash")
    )
    strategy match {
      case DontMerge =>
        if (!conflicts.isEmpty)
          throw new IllegalStateException(
            "merge conflict on: " + conflicts.select("path").limit(10).collect().map(_.getString(0)).mkString(", ")
          )
      case _ => ()
    }
    val resolvedHash = strategy match {
      case KeepOurs => coalesce(col("local_hash"), col("in_hash"))
      case _ => coalesce(col("in_hash"), col("local_hash"))
    }
    joined
      .select(col("path"), resolvedHash.as("hash"))
      .join(removes.select(col("path")), Seq("path"), "left_anti")
  }

  /** File-status shapes — ref §2.9 (`checkUpdate`, `statusIndex`,
    * `syncIndex`): full-outer join of the index against a filesystem
    * listing; the `when` cascade classifies each path. `fs` needs
    * (path, mtime, hash?) columns; hashing is short-circuited by the
    * mtime compare, mirroring `dbops.cpp:441-472` — the expensive hash
    * is only consulted when mtime differs.
    */
  def status(index: DataFrame, fs: DataFrame): DataFrame = {
    val i = index.select(col("path"), col("mtime").as("idx_mtime"), col("hash").as("idx_hash"))
    val f = fs.select(col("path"), col("mtime").as("fs_mtime"), col("hash").as("fs_hash"))
    i.join(f, Seq("path"), "full_outer")
      .withColumn(
        "status",
        when(col("idx_mtime").isNull, "not_indexed") // fs-only (status.cpp:16-77)
          .when(col("fs_mtime").isNull, "deleted")
          .when(col("fs_mtime") === col("idx_mtime"), "not_modified") // mtime short-circuit
          .when(col("fs_hash").isNotNull && col("fs_hash") === col("idx_hash"), "not_modified")
          .otherwise("modified")
      )
      .select("path", "status")
  }
}
