package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the oracle SQL of the lanes this run ran), for
  * the DuckDB-oracle compare (`tools/check.py`). An optional third
  * argument `q1,q2,…` dumps only those lanes, and the compare then
  * checks just them. A lane that throws leaves no result directory;
  * after every output is written, the run exits with status 1 naming
  * the failed lanes.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...] */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = args.lift(2).fold(SparkEntry.queries.keys.toSeq)(_.split(",").toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown lanes: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus, Sessions.SparkDefaultCodegenCache)
    new java.io.File(outDir).mkdirs()
    val failed = names.filterNot { name =>
      try {
        Lanes.released(spark) {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // no result directory: the compare counts the lane as missing
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
        false
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ran = names.toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => ran(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} lane(s) failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
